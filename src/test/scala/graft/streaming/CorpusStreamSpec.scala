package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.CorpusOps

/** The corpus-curation operators on the streaming surface: the
  * stream-static decontamination twin matches the batch answer across
  * micro-batches (including a re-delivery), and the per-row ops run
  * UNCHANGED on a streaming frame — the payoff of keeping them pure
  * column programs.
  */
class CorpusStreamSpec extends SparkSpec {

  private val evalText = "the quick brown fox jumps over the lazy dog"

  test("decontaminateStream flags exactly the batch-contaminated docs, " +
      "once, across micro-batches and re-deliveries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evalDocs = Seq((0L, evalText)).toDF("doc_id", "text")
    val train = Seq(
      (1L, "quick brown fox jumps over a sleeping cat"), // shares one 5g
      (2L, "totally different words in this one here now"),
      (3L, evalText),                                    // exact overlap
      (4L, "nothing shared here either in any window")
    )
    val input = MemoryStream[(Long, String)]
    val out = CorpusOps.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), evalDocs, "doc_id", "text", 5)
    val q = out.writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      input.addData(train(0), train(1))
      q.processAllAvailable()
      input.addData(train(2), train(3))
      q.processAllAvailable()
      input.addData(train(0)) // re-delivery must not re-flag
      q.processAllAvailable()
      val flagged = spark.table("decon_out")
        .as[Long].collect().sorted.toSeq
      // Batch truth on the same corpus:
      val batch = CorpusOps.decontaminate(
          evalDocs.unionByName(train.toDF("doc_id", "text")),
          col("doc_id") === 0, "doc_id", "text", 5)
        .where(col("contaminated")).select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(flagged == batch, s"stream $flagged vs batch $batch")
      assert(flagged == Seq(1L, 3L))
    } finally q.stop()
  }

  test("decontaminateStream with a watermark suppresses re-deliveries " +
      "inside the delay, expires state past it, and emits event time") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(hhmm: String): Timestamp =
      Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    val evalDocs = Seq((0L, evalText)).toDF("doc_id", "text")
    val clean = "totally different words in this one here now"
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = CorpusOps.decontaminateStream(
      input.toDF().toDF("ts", "doc_id", "text"), evalDocs,
      "doc_id", "text", 5, watermark = Some(("ts", "10 minutes")))
    // (c) the emitted frame carries the event-time column.
    assert(out.schema.fieldNames.toSeq == Seq("doc_id", "ts"))
    val q = out.writeStream.format("memory").queryName("decon_wm_out")
      .outputMode("append").start()
    try {
      def flagged(): Seq[(Long, Timestamp)] =
        spark.table("decon_wm_out").as[(Long, Timestamp)]
          .collect().sortBy(_._2.getTime).toSeq
      input.addData((at("10:00"), 1L, evalText))
      q.processAllAvailable()
      assert(flagged() == Seq((1L, at("10:00"))))
      // (a) a re-delivery inside the 10-minute delay is suppressed by
      // the dedup state (a clean doc rides along, unflagged).
      input.addData((at("10:05"), 1L, evalText), (at("10:05"), 2L, clean))
      q.processAllAvailable()
      assert(flagged() == Seq((1L, at("10:00"))),
        "re-delivery inside the watermark delay was re-emitted")
      // Advance event time well past doc 1's expiry (10:00 + 10 min),
      // then run one more batch so the state commit evicts it.
      input.addData((at("12:00"), 3L, clean))
      q.processAllAvailable()
      input.addData((at("12:02"), 4L, clean))
      q.processAllAvailable()
      // (b) state for doc 1 is gone: a fresh delivery past the
      // watermark is a state miss and flags again — bounded state, not
      // forever-dedup, is the contract of the watermark mode.
      input.addData((at("12:03"), 1L, evalText))
      q.processAllAvailable()
      assert(flagged() == Seq((1L, at("10:00")), (1L, at("12:03"))),
        s"expired doc was not re-flagged: ${flagged()}")
      // ...and the progress metrics saw the eviction: the dedup
      // operator's state row count dropped to zero between the two
      // emissions (then back to one for the fresh entry).
      val stateCounts = q.recentProgress.toSeq
        .flatMap(_.stateOperators).map(_.numRowsTotal)
      assert(stateCounts.contains(0L),
        s"state never drained: $stateCounts")
      assert(stateCounts.last == 1L,
        s"final state should hold just the fresh entry: $stateCounts")
    } finally q.stop()
  }

  test("per-row curation ops run unchanged on a streaming frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = MemoryStream[(Long, Long, String)]
    val scrub = CorpusOps.piiScrub(
      events.toDF().toDF("event_id", "user_id", "props"),
      "event_id", "user_id", "props", "test-salt")
    val docs = MemoryStream[(Long, String)]
    val rep = CorpusOps.repetitionScore(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text", 3)
    val split = CorpusOps.splitAssign(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "s1")
    val chunks = CorpusOps.chunkTokens(
      docs.toDF().toDF("doc_id", "text"), "doc_id", "text",
      window = 3, stride = 2)
    val ndocs = MemoryStream[(Long, String)]
    val norm = CorpusOps.normalizeText(
      ndocs.toDF().toDF("doc_id", "text"), "text")
    val q1 = scrub.writeStream.format("memory").queryName("scrub_out")
      .outputMode("append").start()
    val q2 = rep.writeStream.format("memory").queryName("rep_out")
      .outputMode("append").start()
    val q3 = split.writeStream.format("memory").queryName("split_out")
      .outputMode("append").start()
    val q4 = chunks.writeStream.format("memory").queryName("chunk_out")
      .outputMode("append").start()
    val q5 = norm.writeStream.format("memory").queryName("norm_out")
      .outputMode("append").start()
    try {
      events.addData((1L, 42L, """{"k": 69}"""))
      docs.addData((1L, "x y z x y z x y"))
      ndocs.addData((2L, "e\u0301 nfc\u0007streams"))
      q1.processAllAvailable(); q2.processAllAvailable()
      q3.processAllAvailable(); q4.processAllAvailable()
      q5.processAllAvailable()
      val s = spark.table("scrub_out")
        .select("payload_scrubbed", "n_masked")
        .as[(String, Long)].head()
      assert(s == (("""{"k": #}""", 1L)))
      val r = spark.table("rep_out").select("rep_ratio").as[Double].head()
      assert(r == 0.5)
      // The streaming assignment must equal the batch one (pure salted
      // hash — nothing about the split depends on execution mode).
      val st = spark.table("split_out").select("doc_id", "split")
        .as[(Long, String)].head()
      val bt = CorpusOps.splitAssign(
          Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "s1")
        .select("doc_id", "split").as[(Long, String)].head()
      assert(st == bt)
      // Chunking is per-row + generate — the streamed chunks must be
      // the batch chunks ("x y z x y z x y": starts 0,2,4,6).
      val ch = spark.table("chunk_out")
        .select("chunk_id", "chunk_text", "n_tokens")
        .as[(Int, String, Long)].collect().toSet
      assert(ch == Set((0, "x y z", 3L), (1, "z x y", 3L),
        (2, "y z x", 3L), (3, "x y", 2L)))
      // normalizeText is the same pure column program on a stream:
      // NFC composes, the control byte is stripped.
      val nm = spark.table("norm_out").select("doc_id", "text")
        .as[(Long, String)].head()
      assert(nm == ((2L, "\u00e9 nfcstreams")), nm.toString)
    } finally { q1.stop(); q2.stop(); q3.stop(); q4.stop(); q5.stop() }
  }

  test("dedupAgainst confirm=false runs on a streaming batch and " +
      "matches the batch Bloom-only answer; confirm=true is refused") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val historical = (0 until 200)
      .map(i => (i.toLong, s"hist doc $i payload"))
      .toDF("doc_id", "text")
    val arrivals = Seq(
      (1000L, "hist doc 7 payload"),   // re-fetch: dropped
      (1001L, "genuinely new page a"),
      (1002L, "hist doc 150 payload"), // re-fetch: dropped
      (1003L, "genuinely new page b"))
    val input = MemoryStream[(Long, String)]
    val out = CorpusOps.dedupAgainst(
      input.toDF().toDF("doc_id", "text"), historical, "text",
      expectedItems = 200L, fpp = 0.01, confirm = false)
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(arrivals.take(2))
      q.processAllAvailable()
      input.addData(arrivals.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().toSet
      val batch = CorpusOps.dedupAgainst(
          arrivals.toDF("doc_id", "text"), historical, "text",
          expectedItems = 200L, fpp = 0.01, confirm = false)
        .select("doc_id").as[Long].collect().toSet
      assert(streamed == batch,
        s"streaming Bloom-only answer $streamed != batch $batch")
      assert(streamed == Set(1001L, 1003L))
    } finally q.stop()
    // The exact-confirm anti-join has no stream-static shape; the
    // operator must refuse it loudly rather than fail at start().
    intercept[IllegalArgumentException] {
      CorpusOps.dedupAgainst(
        input.toDF().toDF("doc_id", "text"), historical, "text",
        expectedItems = 200L, confirm = true)
    }
  }
}
