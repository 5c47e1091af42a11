package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset

package object ops {

  /** All rows of `ds`, in `collect()` order, iff it has at most `cap`
    * rows; else None. One `runJob` over `ds.rdd`: a task returns its rows
    * only if it holds at most ⌈(cap + 1) / P⌉ of them, else just its
    * count, so the driver holds at most about cap + P rows, above the cap
    * too (tasks each returning `take(cap + 1)` would pull P × (cap + 1)).
    * When the total fits but a skewed partition sent only its count, a
    * second `runJob` on the same RDD reads just those partitions, reusing
    * the upstream shuffle output.
    */
  def collectAtMost[T](ds: Dataset[T], cap: Long): Option[Array[T]] = {
    require(cap >= 0L, s"cap $cap")
    implicit val ct: scala.reflect.ClassTag[T] = ds.encoder.clsTag
    val rdd = ds.rdd
    val sc = rdd.sparkContext
    // ⌈(cap + 1) / P⌉ without overflowing at cap = Long.MaxValue.
    val share = cap / math.max(rdd.getNumPartitions, 1) + 1
    val parts = sc.runJob(rdd, (it: Iterator[T]) => {
      val buf = ArrayBuffer.empty[T]
      var n = 0L
      it.foreach { row => n += 1; if (n <= share) buf += row }
      (n, if (n <= share) buf.toArray else null)
    })
    if (parts.iterator.map(_._1).sum > cap) return None
    val skewed = parts.indices.filter(parts(_)._2 == null)
    if (skewed.nonEmpty)
      sc.runJob(rdd, (it: Iterator[T]) => it.toArray, skewed).zip(skewed)
        .foreach { case (rows, i) => parts(i) = (parts(i)._1, rows) }
    Some(parts.flatMap(_._2))
  }
}
