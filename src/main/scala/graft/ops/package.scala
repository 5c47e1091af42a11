package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution

package object ops {

  /** All rows of `df`, in `collect()` order, iff it has at most `cap`
    * rows; else None. A frame that plans to a local relation (built on
    * the driver from local rows) hands its rows over without a job.
    * Otherwise one `runJob` over the plan's rows: a task returns its rows
    * only if it holds at most ⌈(cap + 1) / P⌉ of them, else just its
    * count, so the driver holds at most about cap + P rows, above the cap
    * too (tasks each returning `take(cap + 1)` would pull P × (cap + 1)).
    * When the total fits but a skewed partition sent only its count, a
    * second `runJob` on the same RDD reads just those partitions, reusing
    * the upstream shuffle output. Rows are converted on the driver
    * ([[toRows]]), so a bounded read compiles no deserializer.
    */
  def collectAtMost(df: DataFrame, cap: Long): Option[Array[Row]] = {
    require(cap >= 0L, s"cap $cap")
    localRows(df) match {
      case Some(rows) => if (rows.length > cap) None else Some(rows)
      case None => asAction(df, "collectAtMost") { rdd =>
        val sc = rdd.sparkContext
        // ⌈(cap + 1) / P⌉ without overflowing at cap = Long.MaxValue.
        val share = cap / math.max(rdd.getNumPartitions, 1) + 1
        val parts = sc.runJob(rdd, new RowsUpTo(share))
        if (parts.iterator.map(_._1).sum > cap) None
        else {
          val skewed = parts.indices.filter(parts(_)._2 == null)
          if (skewed.nonEmpty)
            sc.runJob(rdd, new RowsUpTo(Long.MaxValue), skewed).zip(skewed)
              .foreach { case (p, i) => parts(i) = p }
          Some(toRows(df, parts.flatMap(_._2)))
        }
      }
    }
  }

  /** Runs `body` over `df`'s rows as one SQL execution, the way Dataset
    * actions run. Besides the SQL listener events, that runs the jobs'
    * tasks in the session's artifact context: executors key Spark's
    * generated-code cache by the task's class loader, and a job
    * submitted outside an execution gets another loader, so every
    * class its tasks generate is compiled a second time. */
  private[graft] def asAction[T](df: DataFrame, name: String)(
      body: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd))
  }

  /** `df.count()` in one job over the plan's rows, reading no column.
    * `Dataset.count` plans an aggregate whose exchange runs as a second
    * job under adaptive execution, and compiles both aggregate stages.
    * On a persisted frame it materializes the whole cache all the same. */
  def countRows(df: DataFrame): Long =
    asAction(df.select(), "count")(rdd => rdd.sparkContext
      .runJob(rdd, new RowsUpTo(0L)).iterator.map(_._1).sum)

  /** A task's row count, with its rows (copied) if it holds at most
    * `share` of them, else null. A named class, not a lambda: Spark's
    * closure cleaner re-reads a lambda's enclosing class files with ASM
    * on every job, and passes a named serializable class by unread. */
  private final class RowsUpTo(share: Long)
      extends ((TaskContext, Iterator[InternalRow]) =>
        (Long, Array[InternalRow])) with Serializable {
    def apply(ctx: TaskContext, it: Iterator[InternalRow])
        : (Long, Array[InternalRow]) = {
      val buf = ArrayBuffer.empty[InternalRow]
      var n = 0L
      it.foreach { row => n += 1; if (n <= share) buf += row.copy() }
      (n, if (n <= share) buf.toArray else null)
    }
  }

  /** `df.collect()` as external rows converted on the driver
    * ([[toRows]]): the same plan and jobs as `collect` (none for a local
    * frame), without the generated deserializer `collect` compiles. An
    * unbounded [[collectAtMost]] reads the same rows, but the learner's
    * reads then took one job more. */
  def collectRows(df: DataFrame): Array[Row] = localRows(df).getOrElse {
    val qe = df.queryExecution
    toRows(df, SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect()))
  }

  /** The rows of a frame whose optimized plan is a local relation: one
    * built on the driver from local rows, with any projection over it
    * folded in by the optimizer's interpreted evaluation. A persisted
    * frame plans to its cache instead, and is read by a job. */
  private def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some(toRows(df, l.data.toArray))
      case _ => None
    }

  /** Catalyst rows of `df`'s schema as external rows, through Spark's
    * interpreted converters: no class is generated and compiled for a
    * driver-side read, which Spark's per-JVM code cache would have to
    * hold. */
  private def toRows(df: DataFrame, rows: Array[InternalRow]): Array[Row] = {
    val convert = CatalystTypeConverters.createToScalaConverter(df.schema)
    rows.map(convert(_).asInstanceOf[Row])
  }
}
