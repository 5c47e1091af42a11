package graft.text

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q69 `buildVocab` / `encodeTokens`: hand-computed vocabulary with
  * count ties and OOV, and on the fixture both lookup paths and the plan
  * shapes (broadcast lookup, text never shuffled, TakeOrdered top-V).
  */
class VocabEncodeSpec extends SparkSpec {

  import org.apache.spark.sql.DataFrame

  /** Hand corpus: token counts a:3, b:3, c:3 (two of c's occurrences
    * come from the null-ID row — vocabulary counting is id-blind),
    * d:1, "":1 (the empty doc is ONE empty token, the family grain).
    */
  private def handCorpus: DataFrame = {
    import spark.implicits._
    Seq[(Option[Long], String)](
      (Some(1L), "b a a c"),
      (Some(2L), "a b b d"),
      (Some(3L), ""),
      (Some(4L), null),
      (None, "c c")).toDF("doc_id", "text")
  }

  test("buildVocab assigns ids in (count DESC, token ASC) order with " +
      "ties broken deterministically; encodeTokens maps OOV to unkId, " +
      "counts the empty-doc token, and excludes null id/text rows") {
    import spark.implicits._
    val docs = handCorpus
    val vocab = CorpusOps.buildVocab(docs, "text", 3)
    val v = vocab.orderBy("token_id")
      .as[(String, Int, Long)].collect().toSeq
    // a, b, c all count 3 — the ASC tie-break orders them; d and ""
    // (count 1 each) fall outside vocabSize = 3.
    assert(v == Seq(("a", 0, 3L), ("b", 1, 3L), ("c", 2, 3L)),
      v.toString)
    val enc = CorpusOps.encodeTokens(docs, vocab, "doc_id", "text",
        unkId = 3)
      .orderBy("doc_id")
      .select(col("doc_id"),
        array_join(col("token_ids").cast("array<string>"), ",")
          .as("ids"),
        col("n_tokens"), col("n_unk"))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(enc == Seq(
      (1L, "1,0,0,2", 4L, 0L),
      (2L, "0,1,1,3", 4L, 1L),
      (3L, "3", 1L, 1L)), // empty text = ONE empty token, OOV here
      enc.toString)
    // n_unk counts the lookup MISS, not `tid == unkId`: a caller who
    // breaks the "unkId is an id no real token holds" convention
    // (unkId = 0 collides with token 'a' here) still gets the exact
    // OOV rate — only token_ids becomes ambiguous.
    val collide = CorpusOps.encodeTokens(docs, vocab, "doc_id", "text",
        unkId = 0)
      .orderBy("doc_id")
      .select(col("doc_id"),
        array_join(col("token_ids").cast("array<string>"), ",")
          .as("ids"),
        col("n_tokens"), col("n_unk"))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(collide == Seq(
      (1L, "1,0,0,2", 4L, 0L),
      (2L, "0,1,1,0", 4L, 1L),
      (3L, "0", 1L, 1L)), collide.toString)
    intercept[IllegalArgumentException] {
      CorpusOps.buildVocab(docs, "text", 0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.encodeTokens(docs, vocab, "doc_id", "text", unkId = -1)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.encodeTokens(docs.withColumn("_tid", lit(1)), vocab,
        "doc_id", "text", unkId = 3)
    }
    ()
  }

  test("plans: one broadcast lookup, text never shuffled, TakeOrdered " +
      "top-V") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val vocab = CorpusOps.buildVocab(docs, "text", 16)
    assert(vocab.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
      vocab.queryExecution.executedPlan.toString)

    val enc = CorpusOps.encodeTokens(docs, vocab, "doc_id", "text",
      unkId = 16)
    enc.queryExecution.toRdd.count()
    // The fixture must exercise both the lookup hit and the OOV path.
    val counts = enc.agg(sum("n_unk"), sum("n_tokens")).head()
    val (unk, tot) = (counts.getLong(0), counts.getLong(1))
    assert(unk > 0 && unk < tot,
      s"fixture should exercise BOTH vocab hits and OOV: $unk/$tot")
    val plan = enc.queryExecution.executedPlan
    val ps = plan.toString
    assert(!ps.contains("CartesianProduct") &&
      !ps.contains("BroadcastNestedLoop") && !ps.contains("ScalaUDF"),
      ps)
    val bhj = planNodes(plan)
      .collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 1, s"expected exactly one broadcast lookup:\n$ps")
    planNodes(plan).collect { case s: ShuffleExchangeExec => s }
      .foreach { s =>
        assert(!s.child.output.exists(c =>
          c.name == "text" || c.name == "_tok"),
          s"text/token strings are being SHUFFLED:\n$ps")
      }
  }
}
