package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** MemoryStream-driven micro-batches through each IncrementalDedup
  * operator — the streaming surface runs end to end (source → transform
  * → sink), not just compiles.
  */
class IncrementalDedupSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  test("dedupStream drops exact duplicates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val out = IncrementalDedup.dedupStream(
      input.toDF().toDF("ts", "content"), "ts", Seq("content"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((ts(0), "alpha"), (ts(0), "alpha"), (ts(1), "beta"))
      q.processAllAvailable()
      // Duplicate arriving in a LATER batch is still dropped: the
      // dedup state outlives the micro-batch (within the watermark).
      input.addData((ts(0), "alpha"), (ts(2), "gamma"))
      q.processAllAvailable()
      val rows = spark.table("dedup_out").select("content")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(rows == Seq("alpha", "beta", "gamma"))
    } finally q.stop()
  }

  test("windowedCounts finalizes tumbling windows past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val out = IncrementalDedup.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"),
      watermark = "10 minutes", windowLen = "1 hour")
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      input.addData(
        (ts(0), "click", 1.0), (ts(5), "click", 2.0), (ts(7), "view", 5.0))
      q.processAllAvailable()
      // Advance event time far enough that the 10:00 window closes
      // (watermark = max event time - 10 min > 11:00).
      input.addData((Timestamp.valueOf("2026-01-01 12:00:00"), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("event_type"), col("n_events"), col("sum_value"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)),
        s"finalized windows were $rows")
    } finally q.stop()
  }

  test("file-source dedup over events.parquet matches the batch answer") {
    import org.apache.spark.sql.functions.{col, lit}
    // Real harness data through a real file source: events arrive in two
    // time-ordered file drops — the second includes redeliveries of
    // first-drop rows from inside the watermark (cross-batch state must
    // drop them) — and the streamed dedup must land exactly on the batch
    // dropDuplicates answer over everything that was ever written.
    val events = graft.Tables.load(spark, sf0001, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val tsSorted = events.select("ts").orderBy("ts").collect()
      .map(_.getTimestamp(0))
    val mid = tsSorted(tsSorted.length / 2)
    val b1 = events.where(col("ts") < lit(mid))
    val b2 = events.where(col("ts") >= lit(mid))
    val maxB1 = tsSorted.takeWhile(_.before(mid)).last
    // Redeliveries from b1's last 30 minutes: newer than (watermark =
    // max b1 ts - 1 hour) after the first drop, so only dedup state —
    // not the late-row filter — can drop them.
    val redelivered = b1.where(col("ts") >
      lit(new java.sql.Timestamp(maxB1.getTime - 30 * 60 * 1000)))
    val inBatchDupes = b1.where(col("event_id") % 5 === 0)
    val keys = Seq("user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
      .resolve("events").toString
    b1.unionByName(inBatchDupes).write.mode("append").parquet(dir)
    val out = IncrementalDedup.dedupParquetDir(
      spark, dir, events.schema, "ts", keys)
    val q = out.writeStream.format("memory").queryName("file_dedup_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      b2.unionByName(redelivered).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.table("file_dedup_out")
        .select("user_id", "event_type", "ts").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
        .toSeq
      assert(streamed.length == streamed.distinct.length,
        "streamed output still contains duplicates")
      // Batch answer: every duplicate is a byte-identical redelivery, so
      // dropDuplicates(keys :+ ts) over all written rows is exactly the
      // distinct key set of the source table.
      val batch = events.dropDuplicates(keys :+ "ts")
        .select("user_id", "event_type", "ts").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
        .toSeq
      assert(streamed.toSet == batch.toSet && streamed.length == batch.length,
        s"streamed ${streamed.length} rows != batch ${batch.length}")
    } finally q.stop()
  }

  test("assignEntities keeps first-seen entity id per block key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val input = MemoryStream[IncrementalDedup.Keyed]
    val out = IncrementalDedup.assignEntities(input.toDF())
    val q = out.writeStream.format("memory").queryName("ent_out")
      .outputMode("append").start()
    try {
      input.addData(
        IncrementalDedup.Keyed("smith", 5L),
        IncrementalDedup.Keyed("jones", 9L))
      q.processAllAvailable()
      // Later batch, same key: must inherit entity 5 from state, not
      // mint a new one.
      input.addData(
        IncrementalDedup.Keyed("smith", 7L),
        IncrementalDedup.Keyed("lee", 3L))
      q.processAllAvailable()
      val rows = spark.table("ent_out")
        .select("block_key", "id", "entity_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows == Set(
        ("smith", 5L, 5L), ("smith", 7L, 5L),
        ("jones", 9L, 9L), ("lee", 3L, 3L)),
        s"assignments were $rows")
    } finally q.stop()
  }

  test("minhashCandidateStream matches the batch q35 candidate set " +
      "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // Real document corpus, arriving in three chunks: the streamed
    // candidate set (distinct'd, as the batch path distincts its band
    // join) must equal TextDedup.minHashCandidates on the same rows.
    val docs = graft.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val out = IncrementalDedup.minhashCandidateStream(
      input.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("mh_cand_out")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("mh_cand_out")
        .select("a_id", "b_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.dedup.TextDedup.minHashCandidates(
          graft.Tables.load(spark, sf0001, "documents")
            .select(col("doc_id").cast("long").as("doc_id"), col("text")))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty, "batch candidate set unexpectedly empty")
      assert(streamed == batch,
        s"streamed ${streamed.size} pairs != batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(5)} " +
          s"extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("editCandidateStream + stream-static levenshtein verify " +
      "matches batch editDistancePairs on the q65 customer subset " +
      "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val names = graft.Tables.load(spark, sf0001, "customer")
      .where(col("c_custkey") % 20 === 0)
      .select(col("c_custkey").cast("long").as("id"), col("c_name").as("s"))
    val rows = names.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val out = IncrementalDedup.editCandidateStream(
      input.toDF().toDF("id", "s"), maxDist = 1)
    val q = out.writeStream.format("memory").queryName("ed_cand_out")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // Candidates are a superset; the SAME thresholded verify the
      // batch path runs (here as a static join back to the records)
      // must land exactly the batch answer.
      val cands = spark.table("ed_cand_out")
        .select("a_id", "b_id").distinct()
      val l = names.select(col("id").as("a_id"), col("s").as("s1"))
      val r = names.select(col("id").as("b_id"), col("s").as("s2"))
      val verified = cands.join(l, "a_id").join(r, "b_id")
        .where(levenshtein(col("s1"), col("s2"), 1) >= 0)
        .select("a_id", "b_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val batch = graft.similarity.EditJoin
        .editDistancePairs(names, "id", "s", maxDist = 1)
        .select("id1", "id2")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(batch.nonEmpty, "batch edit pair set unexpectedly empty")
      assert(verified == batch,
        s"streamed-verified ${verified.size} != batch ${batch.size}; " +
          s"missing=${(batch -- verified).take(5)} " +
          s"extra=${(verified -- batch).take(5)}")
    } finally q.stop()
  }

  test("simhashCandidateStream + stream-static bit_count verify " +
      "matches batch simHashCandidates on the documents corpus " +
      "across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val docsDf = graft.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val rows = docsDf.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val out = IncrementalDedup.simhashCandidateStream(
      input.toDF().toDF("doc_id", "text"), maxHamming = 3)
    val q = out.writeStream.format("memory").queryName("sh_cand_out")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      // Candidates are a superset; the SAME bit_count verify the batch
      // path runs (stream-static join against the fingerprint store)
      // must land exactly the batch answer.
      val fp = graft.dedup.TextDedup.simHash(docsDf)
      val cands = spark.table("sh_cand_out")
        .select("a_id", "b_id").distinct()
      val verified = cands
        .join(fp.select(col("doc_id").as("a_id"),
          col("simhash").as("ha")), "a_id")
        .join(fp.select(col("doc_id").as("b_id"),
          col("simhash").as("hb")), "b_id")
        .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
        .select("a_id", "b_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val batch = graft.dedup.TextDedup.simHashCandidates(fp, "doc_id",
          maxHamming = 3)
        .select("a_id", "b_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(batch.nonEmpty, "batch simhash pair set unexpectedly empty")
      assert(verified == batch,
        s"streamed-verified ${verified.size} != batch ${batch.size}; " +
          s"missing=${(batch -- verified).take(5)} " +
          s"extra=${(verified -- batch).take(5)}")
    } finally q.stop()
  }

  test("imageCandidateStream + stream-static bit_count verify matches " +
      "batch imageNearDups on synthesized group images across " +
      "micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val imgsDf = graft.multimodal.Multimodal.synthGroupImages(
      spark.range(50).toDF("doc_id"), "doc_id", w = 25, h = 14)
    val rows = imgsDf.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq
    val input = MemoryStream[(Long, Array[Byte])]
    val out = IncrementalDedup.imageCandidateStream(
      input.toDF().toDF("doc_id", "payload"), maxHamming = 2)
    val q = out.writeStream.format("memory").queryName("img_cand_out")
      .outputMode("append").start()
    try {
      rows.grouped(20).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val fp = graft.multimodal.Multimodal.imageDHashes(
        imgsDf, "payload", "doc_id")
      val verified = spark.table("img_cand_out")
        .select("a_id", "b_id").distinct()
        .join(fp.select(col("doc_id").as("a_id"),
          col("dhash").as("ha")), "a_id")
        .join(fp.select(col("doc_id").as("b_id"),
          col("dhash").as("hb")), "b_id")
        .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 2)
        .select("a_id", "b_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val batch = graft.multimodal.Multimodal.imageNearDups(
          imgsDf, "payload", "doc_id", maxHamming = 2)
        .select("a_id", "b_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(batch.nonEmpty, "batch image pair set unexpectedly empty")
      assert(verified == batch,
        s"streamed-verified ${verified.size} != batch ${batch.size}; " +
          s"missing=${(batch -- verified).take(5)} " +
          s"extra=${(verified -- batch).take(5)}")
    } finally q.stop()
  }

  test("boilerplateLineStream emits exactly the batch-flagged line " +
      "keys, each exactly once, across micro-batches and " +
      "redeliveries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // Random docs over a tiny line vocabulary so several lines cross
    // the threshold and several don't; token grain (the batch q66
    // shape). Seeded — the batch truth is computed on the same rows.
    val rnd = new scala.util.Random(97L)
    val vocab = Seq("nav", "foot", "body", "uniq", "mid", "rare", "x")
    val rows = (0L until 120L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(5))(
        vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val maxDocs = 30
    val batchFlagged = rows.toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("k"))
      .groupBy("k").agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") > maxDocs)
      .select("k").as[String].collect().toSet
    val input = MemoryStream[(Long, String)]
    val out = IncrementalDedup.boilerplateLineStream(
      input.toDF().toDF("doc_id", "text"), maxDocs, delimiter = " ")
    val q = out.writeStream.format("memory")
      .queryName("boiler_out").outputMode("append").start()
    try {
      rows.grouped(40).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      input.addData(rows.take(25)) // redelivery: no re-count, no re-emit
      q.processAllAvailable()
      val emitted = spark.table("boiler_out")
        .select("line_key", "n_docs")
        .as[(String, Long)].collect().toSeq
      assert(emitted.map(_._1).distinct.size == emitted.size,
        s"a key was emitted more than once: $emitted")
      assert(emitted.map(_._1).toSet == batchFlagged,
        s"stream flagged ${emitted.map(_._1).toSet} vs batch $batchFlagged")
      assert(emitted.forall(_._2 == maxDocs + 1L),
        s"n_docs must be the crossing count: $emitted")
    } finally q.stop()
    // Guards: bad threshold, non-integral id.
    intercept[IllegalArgumentException] {
      IncrementalDedup.boilerplateLineStream(
        input.toDF().toDF("doc_id", "text"), 0, delimiter = " ")
    }
    val strInput = MemoryStream[(String, String)]
    intercept[IllegalArgumentException] {
      IncrementalDedup.boilerplateLineStream(
        strInput.toDF().toDF("doc_id", "text"), 2)
    }
    ()
  }

  test("dedupedParquetSink lands each key exactly once across " +
      "redeliveries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_dedup_sink").toString + "/out"
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_dedup_sink_ck").toString
    val input = MemoryStream[(Long, String)]
    val q = IncrementalDedup.dedupedParquetSink(
      input.toDF().toDF("k", "payload"), outDir, ckDir, Seq("k"))
    try {
      input.addData((1L, "a"), (2L, "b"), (2L, "b2"))
      q.processAllAvailable()
      // Cross-batch redelivery of keys 1 and 2 plus a new key 3: only
      // key 3 may land.
      input.addData((1L, "a"), (2L, "b"), (3L, "c"))
      q.processAllAvailable()
      input.addData((3L, "c"), (1L, "a-again"))
      q.processAllAvailable()
      val landed = spark.read.parquet(outDir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(landed.map(_._1).sorted == Seq(1L, 2L, 3L),
        s"landed keys were ${landed.sortBy(_._1)}")
      // Within-batch duplicate of key 2 kept exactly one payload.
      assert(landed.count(_._1 == 2L) === 1)
    } finally q.stop()
  }

  test("dedupedParquetSink with partitionCols prunes the landed " +
      "read-back to the batch's partitions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_part_sink").toString + "/out"
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_part_sink_ck").toString
    val input = MemoryStream[(String, Long, String)]
    val stream = input.toDF().toDF("day", "k", "payload")
    val q = IncrementalDedup.dedupedParquetSink(stream, outDir, ckDir,
      keyCols = Seq("day", "k"), partitionCols = Seq("day"))
    try {
      input.addData(("d1", 1L, "a"), ("d1", 2L, "b"), ("d2", 3L, "c"))
      q.processAllAvailable()
      // Redeliveries of (d1,1) and (d2,3) plus new keys on both days:
      // exactly-once must hold through the partitioned layout.
      input.addData(("d1", 1L, "a"), ("d1", 4L, "d"),
        ("d2", 3L, "c"), ("d2", 5L, "e"))
      q.processAllAvailable()
      val landed = spark.read.schema(stream.schema).parquet(outDir)
        .select("day", "k").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(landed.length == landed.distinct.length,
        s"partitioned sink landed duplicate keys: ${landed.sorted}")
      assert(landed.toSet == Set(("d1", 1L), ("d1", 2L), ("d1", 4L),
        ("d2", 3L), ("d2", 5L)))
      // The pruning gate itself: a batch touching only day=d1 must
      // read back ONLY day=d1 files — the per-batch anti-join cost
      // tracks the batch's partitions, not the sink's lifetime.
      val fresh = Seq(("d1", 9L, "z")).toDF("day", "k", "payload")
      val pruned = IncrementalDedup.landedKeysFor(spark, stream.schema,
        outDir, Seq("day", "k"), Seq("day"), fresh)
      assert(pruned.isDefined)
      val files = pruned.get.select(input_file_name()).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty && files.forall(_.contains("day=d1")),
        s"read-back scanned beyond the batch's partitions: " +
          files.filterNot(_.contains("day=d1")).mkString(", "))
    } finally q.stop()
  }

  test("partitioned sink keeps exactly-once for NULL partition values " +
      "across redelivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_nullpart_sink").toString + "/out"
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_nullpart_sink_ck").toString
    val input = MemoryStream[(Option[String], Long, String)]
    val stream = input.toDF().toDF("day", "k", "payload")
    val q = IncrementalDedup.dedupedParquetSink(stream, outDir, ckDir,
      keyCols = Seq("day", "k"), partitionCols = Seq("day"))
    try {
      // A null partition value lands under the default partition; the
      // read-back predicate must be null-SAFE (`<=>`) — `=== null` is
      // NULL for every landed row, returning zero landed keys for the
      // partition and silently re-appending every replayed null-day
      // row.
      input.addData((None, 1L, "a"), (Some("d1"), 2L, "b"))
      q.processAllAvailable()
      input.addData((None, 1L, "a"), (None, 3L, "c"),
        (Some("d1"), 2L, "b"))
      q.processAllAvailable()
      val landed = spark.read.schema(stream.schema).parquet(outDir)
        .select("day", "k").collect()
        .map(r => (Option(r.getString(0)), r.getLong(1))).toSeq
      assert(landed.length == landed.distinct.length,
        s"null-partition replay landed duplicates: ${landed.sorted}")
      assert(landed.toSet ==
        Set((None, 1L), (None, 3L), (Some("d1"), 2L)))
    } finally q.stop()
  }

  test("e2e streaming dedup: file-source docs -> candidate stream -> " +
      "stream-static verify -> exactly-once sink matches batch q38") {
    implicit val s = spark
    // The three pieces composed as one pipeline: documents arrive as
    // parquet file drops, minhashCandidateStream emits band-collision
    // candidates incrementally, a stream-static join + Jaccard filter
    // runs the SAME verify as the batch path (shingleK=1, >= 0.9 —
    // q38's parameters; a doc's unigram shingles are its distinct
    // TextAnalysis tokens, TokenizerDifferentialSpec's equality, so
    // size(array_intersect)/(na+nb-inter) is exactly jaccardVerify's
    // set arithmetic), and the exactly-once sink lands each verified
    // edge once despite a redelivered file drop. Canonicalization is
    // the periodic batch CC over the landed edge set — asserted equal,
    // edge-for-edge and canonical-for-canonical, to batch q38 on the
    // same corpus.
    val docs = graft.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val sh = docs.select(col("doc_id"),
      array_distinct(graft.text.TextAnalysis.tokens(col("text"))).as("sh"))
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_e2e_src").resolve("docs").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_e2e_out").toString + "/edges"
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft_e2e_ck").toString
    val ids = docs.select("doc_id").orderBy("doc_id").collect()
      .map(_.getLong(0))
    val mid = ids(ids.length / 2)
    docs.where(col("doc_id") < mid).write.mode("append").parquet(srcDir)

    val cands = IncrementalDedup.minhashCandidateStream(
      spark.readStream.schema(docs.schema).parquet(srcDir))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val verified = cands
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sb")), "b_id")
      .where(inter / (size(col("sa")) + size(col("sb")) - inter) >= 0.9)
      .select("a_id", "b_id")
    val q = IncrementalDedup.dedupedParquetSink(
      verified, outDir, ckDir, Seq("a_id", "b_id"))
    try {
      q.processAllAvailable()
      // Second drop completes the corpus; third REDELIVERS the first
      // half (at-least-once source) — its re-emitted candidates must
      // not land twice.
      docs.where(col("doc_id") >= mid).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      docs.where(col("doc_id") < mid).write.mode("append").parquet(srcDir)
      q.processAllAvailable()

      val edgeSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b_id",
          org.apache.spark.sql.types.LongType)))
      val landed = spark.read.schema(edgeSchema).parquet(outDir)
      val landedEdges = landed.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(landedEdges.length == landedEdges.distinct.length,
        "sink landed a duplicate edge across redeliveries")
      val batchVerified = graft.dedup.TextDedup.jaccardVerify(docs,
          graft.dedup.TextDedup.minHashCandidates(docs),
          "text", "doc_id", shingleK = 1, minJaccard = 0.9)
        .select("a_id", "b_id")
      val batchEdges = batchVerified.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batchEdges.nonEmpty, "batch verified edge set empty")
      assert(landedEdges.toSet == batchEdges,
        s"streamed ${landedEdges.length} edges != batch " +
          s"${batchEdges.size}; missing=" +
          s"${(batchEdges -- landedEdges).take(5)} extra=" +
          s"${(landedEdges.toSet -- batchEdges).take(5)}")
      // Canonical assignment over the landed edges == batch q38.
      def canon(edges: org.apache.spark.sql.DataFrame) =
        graft.dedup.TextDedup.keepCanonical(edges, docs, "doc_id")
          .select("doc_id", "canonical_id", "is_canonical").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(canon(landed) == canon(batchVerified),
        "canonical assignment over streamed edges diverged from q38")
    } finally q.stop()
  }

  test("embeddingCandidateStream + stream-static verify matches batch " +
      "lshSimilarPairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // Same pinned (planes, tables, dim) on both paths; the stream emits
    // bucket-collision candidates, then a stream-static join against the
    // vector store + cosine_sim >= t runs the SAME exact verify the
    // batch path does — so the verified streamed set must equal the
    // batch lshSimilarPairs answer exactly.
    val np = 4; val nt = 8; val thr = 0.44
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val vecs = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val dim = vecs.head._2.length
    val input = MemoryStream[(Long, Array[Float])]
    val cands = IncrementalDedup.embeddingCandidateStream(
      input.toDF().toDF("vec_id", "embedding"), np, nt, dim)
    val verified = cands
      .join(emb.select(col("vec_id").as("a_id"),
        col("embedding").as("va")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"),
        col("embedding").as("vb")), "b_id")
      .where(graft.functions.GraftFunctions
        .cosineSim(col("va"), col("vb")) >= thr)
      .select("a_id", "b_id")
    val q = verified.writeStream.format("memory").queryName("emb_cand_out")
      .outputMode("append").start()
    try {
      vecs.grouped(math.max(1, vecs.length / 2 + 1)).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("emb_cand_out")
        .select("a_id", "b_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val batch = graft.ann.Knn.lshSimilarPairs(emb, thr,
          numPlanes = np, numTables = nt,
          knownCount = vecs.length.toLong, knownDim = dim)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.nonEmpty, "batch similar-pair set unexpectedly empty")
      assert(streamed == batch,
        s"streamed ${streamed.size} pairs != batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(5)} " +
          s"extra=${(streamed -- batch).take(5)}")
    } finally q.stop()
  }

  test("minhashCandidateStream caps per-bucket state: hot-bucket output " +
      "stays linear per arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // 40 byte-identical docs -> every band collides in one bucket. With
    // cap 10, the first 10 arrivals are retained; each of the 30
    // overflow arrivals pairs against exactly those 10 — per-arrival
    // work bounded by the cap, not by bucket population. Uncapped the
    // band join would emit C(40,2)=780 distinct pairs; capped output is
    // the 45 retained-retained pairs + 30x10 overflow-retained.
    val text = "alpha beta gamma delta epsilon zeta"
    val input = MemoryStream[(Long, String)]
    val out = IncrementalDedup.minhashCandidateStream(
      input.toDF().toDF("doc_id", "text"), maxBucketState = 10)
    val q = out.writeStream.format("memory").queryName("mh_cap_out")
      .outputMode("append").start()
    try {
      (0 until 40).grouped(20).foreach { chunk =>
        input.addData(chunk.map(i => (i.toLong, text)))
        q.processAllAvailable()
      }
      val pairs = spark.table("mh_cap_out")
        .select("a_id", "b_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        a <- 0 until 10; b <- (a + 1) until 40
      } yield (a.toLong, b.toLong)).toSet
      assert(pairs == expected,
        s"capped hot-bucket candidates: got ${pairs.size}, " +
          s"expected ${expected.size}")
    } finally q.stop()
  }

  test("candidate streams refuse non-integral ids at construction, " +
      "drop null ids, and emit identically with a state TTL set") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // String ids would null-cast per row and wedge the stream at the
    // first checkpointed batch — the refusal must come at construction.
    val strInput = MemoryStream[(String, String)]
    intercept[IllegalArgumentException] {
      IncrementalDedup.minhashCandidateStream(
        strInput.toDF().toDF("doc_id", "text"))
    }
    // A 0/negative cap retains no ids → zero pairs forever; refused
    // at construction like the id-type guard (same "caller typo reads
    // as no dups" class).
    val okInput = MemoryStream[(Long, String)]
    intercept[IllegalArgumentException] {
      IncrementalDedup.minhashCandidateStream(
        okInput.toDF().toDF("doc_id", "text"), maxBucketState = 0)
    }
    // A NULL id inside an integral column is dropped like null text
    // (matching the batch twins), not a query-killing encoder error;
    // the TTL-configured stream emits the same in-batch pairs (expiry
    // itself needs idle processing time a unit test cannot advance).
    // With a processing-time TTL the engine keeps scheduling no-data
    // batches to evaluate timeouts, so `processAllAvailable` never
    // reports caught-up (the scaladoc's documented caveat) — poll the
    // sink with a deadline instead.
    val text = "alpha beta gamma delta epsilon zeta"
    val input = MemoryStream[(Option[Long], String)]
    val out = IncrementalDedup.minhashCandidateStream(
      input.toDF().toDF("doc_id", "text"),
      stateTtl = Some("1 hour"))
    val q = out.writeStream.format("memory").queryName("mh_ttl_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .start()
    try {
      input.addData(Seq((Some(1L), text), (None, text), (Some(2L), text)))
      val want = Set((1L, 2L))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var pairs = Set.empty[(Long, Long)]
      while (pairs != want && System.nanoTime() < deadline) {
        Thread.sleep(200)
        pairs = spark.table("mh_ttl_out")
          .select("a_id", "b_id").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(pairs == want,
        s"null-id row must vanish, ids 1-2 must still pair: $pairs")
    } finally q.stop()
  }
}
