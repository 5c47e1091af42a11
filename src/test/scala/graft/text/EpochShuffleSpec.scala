package graft.text

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q71 `epochShuffle`: bijective dense positions, replay determinism,
  * salt independence, equality with the window-ranked twin, null
  * handling, and the no-window plan shape.
  */
class EpochShuffleSpec extends SparkSpec {

  test("epochShuffle is a deterministic bijection onto 1..N; a new " +
      "salt is a new permutation; null ids are excluded") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val n = docs.count()
    def posOf(salt: String): Seq[(Long, Long)] =
      CorpusOps.epochShuffle(docs, "doc_id", salt)
        .select(col("doc_id"), col("shuffle_pos"))
        .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    val e1 = posOf("epoch-1")
    assert(e1.map(_._2).sorted == (1L to n).toSeq,
      "positions must be exactly 1..N")
    assert(posOf("epoch-1") == e1, "same salt must replay identically")
    val e2 = posOf("epoch-2")
    assert(e2.map(_._2).sorted == (1L to n).toSeq)
    assert(e2 != e1, "a new salt must give a new permutation")
    // Null ids carry no identity: excluded, everything else ranked.
    val withNull = Seq[(Option[Long], String)](
      (Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("doc_id", "text")
    val nn = CorpusOps.epochShuffle(withNull, "doc_id", "s")
      .select(col("doc_id"), col("shuffle_pos"))
      .as[(Long, Long)].collect().toSeq
    assert(nn.map(_._1).toSet == Set(1L, 2L) &&
      nn.map(_._2).sorted == Seq(1L, 2L), nn.toString)
    intercept[IllegalArgumentException] {
      CorpusOps.epochShuffle(withNull.withColumn("_h", lit(1)),
        "doc_id", "s")
    }
    ()
  }

  test("epochShuffle equals the row_number-window twin on the " +
      "fixture") {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val salted = concat(lit("ez:"), col("doc_id").cast("string"))
    val twin = docs.where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        conv(substring(md5(salted), 1, 15), 16, 10).cast("long").as("hk"))
      .withColumn("shuffle_pos", row_number()
        .over(Window.orderBy(col("hk"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("shuffle_pos"))
      .as[(Long, Long)].collect().toSeq.sorted
    val ours = CorpusOps.epochShuffle(docs, "doc_id", "ez")
      .select(col("doc_id"), col("shuffle_pos"))
      .as[(Long, Long)].collect().toSeq.sorted
    assert(ours == twin)
  }

  test("epochShuffle plan: no single-task window anywhere") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val out = CorpusOps.epochShuffle(docs, "doc_id", "pz")
    out.queryExecution.toRdd.count()
    assert(!planNodes(out.queryExecution.executedPlan)
        .exists(_.isInstanceOf[WindowExec]),
      out.queryExecution.executedPlan.toString)
  }
}
