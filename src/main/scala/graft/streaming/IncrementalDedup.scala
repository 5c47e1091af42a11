package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (harness extension — the reference is
  * strictly batch, SURVEY.md §2.8; "streaming" there means server-side
  * cursors. This module is the incremental-dedup demo SURVEY.md §2.8
  * sketches: apply a static model/blocking incrementally).
  *
  * Three composable pieces:
  *  1. watermarked exact dedup (`dropDuplicates` within the watermark) —
  *     the streaming analog of the exact pre-merge (A1);
  *  2. windowed per-type aggregation (the streaming shape of
  *     q23_event_windows);
  *  3. stateful entity assignment via mapGroupsWithState: per blocking
  *     key, assign incoming records the first-seen entity id — the
  *     streaming analog of "attach canon_id".
  */
object IncrementalDedup {

  /** Exact-dedup a stream on a content key within a watermark window. */
  def dedupStream(events: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** File-source variant (SURVEY §2.8's events-table invitation): watch
    * a parquet directory as a stream — files appearing after the query
    * starts are discovered per micro-batch — and exact-dedup within the
    * watermark. Matches the batch `dropDuplicates(keyCols :+ tsCol)`
    * answer when arrivals respect the watermark: redelivered rows inside
    * it are dropped by state, rows older than it are dropped as late —
    * either way they are rows the batch distinct would also collapse.
    * `schema` is required: streaming sources don't infer.
    */
  def dedupParquetDir(
      spark: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      tsCol: String,
      keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    dedupStream(spark.readStream.schema(schema).parquet(dir),
      tsCol, keyCols, watermark)

  /** Idempotent keyed parquet sink via `foreachBatch`: each micro-batch
    * is de-duplicated within itself, anti-joined against the keys already
    * landed in `outDir`, and only then appended — so redeliveries across
    * batches (at-least-once sources, query restarts replaying a batch)
    * never produce duplicate keys in storage. This is the SINK half of
    * the exactly-once-per-key ingestion contract: `dedupStream` bounds
    * dedup state by the watermark, this bounds the storage by the key.
    *
    * The anti-join reads back only `keyCols` from the landed data —
    * column pruning at the parquet scan keeps the per-batch cost
    * proportional to the KEY WIDTH of what's landed, not the payload
    * width. That cost still grows with TOTAL landed history unless the
    * read-back can prune: pass `partitionCols` (a SUBSET of `keyCols`,
    * e.g. an arrival date) and the sink writes `partitionBy` those
    * columns and filters the landed read-back to just the partitions the
    * batch touches — per-batch cost then tracks the batch's own
    * partitions, not the lifetime of the sink. The subset requirement is
    * the correctness argument: equal keys imply equal partition values,
    * so a pruned read-back can never miss a landed duplicate.
    *
    * Returns the started query; callers own `awaitTermination`/`stop`.
    */
  def dedupedParquetSink(
      stream: DataFrame,
      outDir: String,
      checkpointDir: String,
      keyCols: Seq[String],
      partitionCols: Seq[String] = Seq.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Fail at start(), not mid-stream: with no key columns the landed
    // anti-join's `reduce` over an empty predicate list would throw on
    // the SECOND batch (the first finds nothing landed and writes).
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(partitionCols.forall(keyCols.contains),
      "partitionCols must be a subset of keyCols — equal keys must imply " +
        "equal partition values, or the pruned read-back could miss a " +
        "landed duplicate")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val fresh = batch.dropDuplicates(keyCols)
        // Under partition pruning the batch feeds TWO actions (the
        // partition-values collect, then the anti-join + write): persist
        // it for the body's scope or the source micro-batch and the
        // dropDuplicates shuffle re-execute per action.
        if (partitionCols.nonEmpty)
          fresh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val toWrite =
            landedKeysFor(spark, batch.schema, outDir, keyCols,
                partitionCols, fresh) match {
              case None => fresh
              case Some(landedKeys) =>
                // Null-SAFE anti-join: a usingColumns join never matches
                // a null key value (null == null is NULL), so a landed
                // row with a null in any key column would be re-appended
                // on every replay. dropDuplicates treats nulls as equal;
                // the landed comparison must agree.
                fresh.join(landedKeys,
                  keyCols.map(c => fresh(c) <=> landedKeys(c))
                    .reduce(_ && _),
                  "left_anti")
            }
          val w = toWrite.write.mode("append")
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
           else w).parquet(outDir)
        } finally {
          if (partitionCols.nonEmpty) fresh.unpersist(false)
          ()
        }
      }
      .start()
  }

  /** The sink's landed-keys read-back: None when nothing has landed yet
    * (or the batch is empty under partition pruning — nothing to
    * anti-join either way), otherwise the landed keys, pruned to the
    * partitions `fresh` touches when `partitionCols` is set.
    * Package-visible so IncrementalDedupSpec can gate the pruning on the
    * returned frame's actual scan.
    */
  private[graft] def landedKeysFor(
      spark: SparkSession,
      batchSchema: org.apache.spark.sql.types.StructType,
      outDir: String,
      keyCols: Seq[String],
      partitionCols: Seq[String],
      fresh: DataFrame): Option[DataFrame] = {
    // Probe through the Hadoop FileSystem of whatever scheme outDir
    // carries (hdfs://, s3a://, file:) — a java.io.File probe sees only
    // the driver's local disk, so on any remote store it would report
    // "nothing landed" forever, silently skip the anti-join, and break
    // the exactly-once contract on replay.
    val path = new org.apache.hadoop.fs.Path(outDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path) || fs.listStatus(path).isEmpty) None
    else {
      // Explicit schema (the stream's own): no inference — and an empty
      // first batch's schema-only output can't fail the read-back.
      // Partition columns come back from directory names, cast to the
      // schema's declared types.
      val landed = spark.read.schema(batchSchema).parquet(outDir)
        .select(keyCols.map(col): _*)
      if (partitionCols.isEmpty) Some(landed)
      else {
        // Literal partition predicate from the batch's own distinct
        // partition values: the collect is bounded by the partitions
        // one micro-batch touches (e.g. 1–2 arrival dates), and the
        // scan needs LITERALS to prune partitions at planning time — a
        // semi-join against `fresh` would read every partition first.
        val parts = fresh.select(partitionCols.map(col): _*)
          .distinct().collect()
        if (parts.isEmpty) None
        // Null-SAFE equality: a null partition value lands under the
        // default partition, and `=== lit(null)` is NULL for every
        // landed row — the read-back would return zero landed keys for
        // that partition and a replayed batch would append duplicates.
        else Some(landed.where(parts.map { r =>
          partitionCols.zipWithIndex.map { case (c, i) =>
            col(c) <=> lit(r.get(i)) }.reduce(_ && _)
        }.reduce(_ || _)))
      }
    }
  }

  /** Tumbling-window counts per event_type with a watermark — the
    * streaming twin of the batch q23_event_windows query.
    */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
      watermark: String = "30 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum("value").as("sum_value"))

  final case class Keyed(block_key: String, id: Long)
  final case class Assigned(block_key: String, id: Long, entity_id: Long)

  final case class CandidatePair(a_id: Long, b_id: Long)

  /** Streaming MinHash-LSH near-dup candidates — the incremental analog
    * of the batch `TextDedup.minHashCandidates` (q35), at q35's
    * parameters (`TextDedup.ShingleK`, `NumHashes`, `Bands`): as
    * documents arrive, signature + band them with the SAME fused UDF and band
    * expression (`TextDedup.bandBuckets`, one shared definition), then
    * key state by `(band, bucket)` and emit each new document's id
    * paired with every id already seen in that bucket (plus same-batch
    * arrivals). A pair is emitted when its LATER document arrives, so
    * each (band-)collision emits exactly once; collisions in several
    * bands duplicate a pair exactly as the batch path does before its
    * `distinct()` — downstream verification dedups either way.
    *
    * Per-bucket state is CAPPED at `maxBucketState` ids (the streaming
    * twin of blocking's `max_block_size`): a pathological bucket — every
    * boilerplate-identical document hashes to one key — would otherwise
    * grow state and per-arrival output without bound. Arrivals into a
    * full bucket still pair against the retained ids but are NOT added
    * to state, so per-arrival work stays ≤ cap and overflow-to-overflow
    * candidates are knowingly dropped (bounded recall, loud in scaladoc,
    * gated in IncrementalDedupSpec) — the same trade the batch blocker
    * makes by dropping over-cap blocks.
    */
  def minhashCandidateStream(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxBucketState: Int = 1000, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    requireIntegralId(docs, idCol)
    import graft.dedup.TextDedup.{Bands, NumHashes, ShingleK}
    val sigs = graft.dedup.TextDedup.minHashSignature(
      docs, textCol, idCol, ShingleK, NumHashes)
    pairStream(
      graft.dedup.TextDedup.bandBuckets(sigs, idCol, NumHashes, Bands)
        .select(concat_ws("|", col("band"), col("bucket")).as("bucket_key"),
          col(idCol).cast("long").as("doc_id"))
        .where(col("doc_id").isNotNull),
      maxBucketState, stateTtl)
  }

  /** Streaming embedding near-dup candidates — the hyperplane-bucket
    * analog of `minhashCandidateStream` and the incremental analog of
    * the batch `Knn.lshSimilarPairs` bucket lists (q52's scale path):
    * arriving vectors are signatured by the SAME fused plane UDF
    * (`Knn.tableSignatures`, one shared definition), then paired against
    * per-(table, signature) keyed state under the same bucket cap.
    * Parameters are PINNED (`numPlanes`/`numTables`/`dim`): deriving
    * them needs a corpus pre-scan a stream does not have. The stream
    * emits CANDIDATES; exact-cosine verification composes downstream as
    * a stream-static join against the vector store + `cosine_sim ≥ t`
    * filter — the same verify the batch path runs, demonstrated in
    * IncrementalDedupSpec.
    */
  def embeddingCandidateStream(
      vectors: DataFrame, numPlanes: Int, numTables: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketState: Int = 1000, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    requireIntegralId(vectors, idCol)
    pairStream(
      graft.ann.Knn.tableSignatures(
          vectors, idCol, vecCol, numPlanes, numTables, dim)
        .select(concat_ws("|", col("table"), col("sig")).as("bucket_key"),
          col("id").cast("long").as("doc_id"))
        .where(col("doc_id").isNotNull),
      maxBucketState, stateTtl)
  }

  /** Streaming edit-distance candidates — the deletion-neighborhood
    * analog of [[minhashCandidateStream]] and the incremental twin of
    * the batch [[graft.similarity.EditJoin.editDistancePairs]]
    * variant lists (q65): arriving records explode into their
    * ≤`maxDist`-deletion variants through the SAME codegen'd
    * `delete_neighborhood` expression (one shared definition, same
    * codepoint alphabet, same loud length guard), then pair against
    * per-variant-hash keyed state under the same bucket cap. The
    * pigeonhole guarantee carries over unchanged: two records within
    * distance `maxDist` share a variant, so their pair is emitted when
    * the later one arrives (state permitting). Emits CANDIDATES; the
    * exact thresholded-`levenshtein` verify composes downstream as a
    * stream-static join against the record store — the same verify the
    * batch path runs, demonstrated in IncrementalDedupSpec.
    */
  def editCandidateStream(
      records: DataFrame, maxDist: Int,
      idCol: String = "id", strCol: String = "s",
      maxFieldLen: Int = 128,
      maxBucketState: Int = 1000, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    requireIntegralId(records, idCol)
    require(maxDist >= 0 &&
        maxDist <= graft.functions.DeleteNeighborhood.MaxK,
      s"maxDist $maxDist not in [0, " +
        s"${graft.functions.DeleteNeighborhood.MaxK}]")
    pairStream(
      records.where(col(strCol).isNotNull)
        .select(col(idCol).cast("long").as("doc_id"),
          explode(graft.functions.GraftFunctions.deleteNeighborhood(
            col(strCol), maxDist, maxFieldLen)).as("_graft_ed_v"))
        .select(xxhash64(col("_graft_ed_v")).cast("string")
          .as("bucket_key"), col("doc_id"))
        .where(col("doc_id").isNotNull),
      maxBucketState, stateTtl)
  }

  /** Streaming Hamming-banded near-dup candidates over 60-bit
    * fingerprints — the pigeonhole analog of [[minhashCandidateStream]]
    * and the incremental twin of the batch
    * [[graft.dedup.TextDedup.simHashCandidates]] chunk join (q37, and
    * q75's image path — ANY 60-bit fingerprint stream works): arriving
    * fingerprints are cut into the SAME `maxHamming + 1` pigeonhole
    * chunks as the batch operator (identical bounds arithmetic, so two
    * fingerprints within `maxHamming` differing bits share a chunk
    * key), then paired against per-(chunk, ckey) keyed state under the
    * same bucket cap. Emits CANDIDATES; the exact
    * `bit_count(xor) <= maxHamming` verify composes downstream as a
    * stream-static join against the fingerprint store — the same
    * verify the batch path runs, demonstrated in IncrementalDedupSpec.
    * `fps` carries `(idCol, fpCol LONG)` — produce it with
    * `TextDedup.simHash` (text) or `Multimodal.imageDHashes` (images),
    * both stateless per-row programs that run on a streaming frame
    * unchanged (see [[simhashCandidateStream]] /
    * [[imageCandidateStream]]).
    */
  def fingerprintCandidateStream(
      fps: DataFrame, maxHamming: Int,
      idCol: String = "doc_id", fpCol: String = "simhash",
      maxBucketState: Int = 1000, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    requireIntegralId(fps, idCol)
    // The chunk arithmetic shifts in the LONG domain; an IntegerType
    // fingerprint would shift mod 32 (shift-by-45 = shift-by-13) and
    // silently compute WRONG chunk keys — same "silently wrong at
    // runtime" class requireIntegralId guards on the id.
    require(fps.schema(fpCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"fingerprint column $fpCol must be LONG (60-bit hash), got " +
        fps.schema(fpCol).dataType)
    pairStream(
      fps.where(col(fpCol).isNotNull)
        .select(col(idCol).cast("long").as("doc_id"),
          posexplode(graft.dedup.TextDedup.hammingChunkKeys(
            col(fpCol), maxHamming)).as(Seq("_chunk", "_ckey")))
        .select(concat_ws("|", col("_chunk"), col("_ckey"))
          .as("bucket_key"), col("doc_id"))
        .where(col("doc_id").isNotNull),
      maxBucketState, stateTtl)
  }

  /** [[fingerprintCandidateStream]] over streaming TEXT: arriving docs
    * are fingerprinted by the SAME fused SimHash as batch q37
    * (`TextDedup.simHash` — stateless, streaming-safe unchanged), then
    * Hamming-banded against keyed state.
    */
  def simhashCandidateStream(
      docs: DataFrame, maxHamming: Int,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucketState: Int = 1000, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    requireIntegralId(docs, idCol)
    fingerprintCandidateStream(
      graft.dedup.TextDedup.simHash(docs, textCol, idCol),
      maxHamming, idCol, "simhash", maxBucketState, stateTtl)
  }

  /** [[fingerprintCandidateStream]] over streaming IMAGES: arriving
    * payloads are hashed by the SAME integer-space dHash expression as
    * batch q75 (`Multimodal.imageDHashes` — stateless, undecodable
    * payloads drop), then Hamming-banded against keyed state.
    */
  def imageCandidateStream(
      imgs: DataFrame, maxHamming: Int,
      idCol: String = "doc_id", binCol: String = "payload",
      maxBucketState: Int = 1000, stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    requireIntegralId(imgs, idCol)
    fingerprintCandidateStream(
      graft.multimodal.Multimodal.imageDHashes(imgs, binCol, idCol),
      maxHamming, idCol, "dhash", maxBucketState, stateTtl)
  }

  final case class BoilerLine(line_key: String, n_docs: Long)

  /** Streaming boilerplate-line detection — the incremental twin of
    * [[graft.text.CorpusOps.dropBoilerplateLines]]'s DETECTION stage
    * (q66): as documents arrive, each line key accumulates the set of
    * DISTINCT doc ids carrying it, and the key is emitted exactly ONCE,
    * the moment that set first exceeds `maxDocs` — the boilerplate feed
    * a downstream rewriter (or the batch operator's rewrite stage, via
    * a stream-static join) subscribes to.
    *
    * State is bounded PER KEY by construction: an unflagged key retains
    * at most `maxDocs + 1` doc ids (a capped distinct-set, which also
    * absorbs at-least-once redeliveries — a replayed doc cannot
    * double-count), and a FLAGGED key collapses to an empty marker, so
    * hot boilerplate lines — exactly the keys with unbounded doc
    * arrivals — carry O(1) state forever after. The number of KEYS
    * grows with the corpus' distinct lines, the same unbounded axis as
    * the candidate streams' buckets: pass `stateTtl` for long-running
    * feeds (same processing-time-timeout semantics and trigger caveat
    * as [[minhashCandidateStream]] — an expiry drops a key's counts and
    * a later arrival restarts from zero, trading recall across the gap
    * for bounded state).
    *
    * `n_docs` in the emission is always exactly `maxDocs + 1` (the
    * accumulator stops at the crossing, so even a burst batch cannot
    * overshoot it) — the EMITTED KEY SET equals the batch detection's
    * flagged set for any batch partitioning of the input (gated in
    * IncrementalDedupSpec with redeliveries), which is the operator's
    * contract; counts past the threshold stop accumulating by design.
    * Null-id/null-text docs are dropped exactly as the batch twin drops
    * them; `delimiter` matches
    * [[graft.text.CorpusOps.dropBoilerplateLines]].
    */
  def boilerplateLineStream(
      docs: DataFrame, maxDocs: Int,
      idCol: String = "doc_id", textCol: String = "text",
      delimiter: String = "\n",
      stateTtl: Option[String] = None)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    requireIntegralId(docs, idCol)
    require(maxDocs >= 1, s"maxDocs $maxDocs")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val delim = java.util.regex.Pattern.quote(delimiter)
    val keyed = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(explode(split(col(textCol), delim)).as("line_key"),
        col(idCol).cast("long").as("doc_id"))
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (key: String, rows: Iterator[(String, Long)],
            state: GroupState[(Boolean, Seq[Long])]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty[BoilerLine]
          } else {
            val (flagged, seen) =
              state.getOption.getOrElse((false, Seq.empty[Long]))
            if (flagged) {
              stateTtl.foreach(state.setTimeoutDuration)
              Iterator.empty[BoilerLine]
            } else {
              val set = scala.collection.mutable.HashSet
                .empty[Long] ++= seen
              val it = rows.map(_._2)
              // Stop accumulating the moment the threshold is crossed:
              // the distinct-set never holds more than maxDocs + 1 ids,
              // however hot the key.
              while (it.hasNext && set.size <= maxDocs) set += it.next()
              val out =
                if (set.size > maxDocs) {
                  state.update((true, Seq.empty))
                  Iterator.single(BoilerLine(key, set.size.toLong))
                } else {
                  state.update((false, set.toSeq.sorted))
                  Iterator.empty[BoilerLine]
                }
              stateTtl.foreach(state.setTimeoutDuration)
              out
            }
          }
        })
      .toDF()
  }

  /** The candidate streams carry ids through Long-typed keyed state, so
    * the id column must be integral — checked at CONSTRUCTION: a string
    * id would cast to null per row, and a null inside the stream's
    * non-nullable tuple encoder kills the query on every checkpoint
    * replay (a permanently wedged stream, vs. this loud immediate
    * error). NULL ids (possible even in an integral column) are
    * filtered before the stateful stage instead — dropped like null
    * text, matching the batch twins' tolerance, not a crash.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType}
    val t = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"candidate-stream id column $idCol must be integral, got $t " +
        "(pair state is Long; a non-integral id would null-cast and " +
        "wedge the stream at runtime)")
  }

  /** Shared bucket-keyed candidate emission: each arriving id pairs with
    * every id already retained for its bucket key (plus earlier
    * same-batch arrivals), state capped at `maxBucketState` (see
    * `minhashCandidateStream`'s scaladoc for the cap semantics).
    *
    * Memory per group invocation is O(cap + arrivals), NOT
    * O(cap · arrivals): the state update happens eagerly (the
    * Spark-documented-safe point, before the function returns) and the
    * pair fan-out is a LAZY iterator the sink drains — a 1M-doc
    * backfill micro-batch landing in one hot bucket streams its ~1e9
    * candidate pairs through the writer instead of materializing them
    * in one Seq on the executor.
    *
    * The per-bucket cap bounds each bucket but NOT the number of
    * bucket keys, which grows with the corpus; with the default
    * `stateTtl = None` a long-running stream's state store therefore
    * grows without bound (fine for bounded backfills — the batch-twin
    * equality gates run that way). Pass `stateTtl = Some("2 hours")`
    * for production feeds: buckets idle past the (processing-time) TTL
    * are dropped, and an arrival after expiry re-pairs from an empty
    * bucket — bounded state traded for recall across the gap, the same
    * knowing trade as the cap itself. TTL caveat: processing-time
    * timeouts make the engine schedule no-data batches to evaluate
    * expiry, so `processAllAvailable` never reports caught-up — run
    * TTL'd queries with a processing-time trigger and poll the sink
    * (tests included), exactly as a production feed would.
    */
  private def pairStream(keyed: DataFrame, maxBucketState: Int,
      stateTtl: Option[String])(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // A 0/negative cap never retains any id, so the stream would
    // silently emit zero candidate pairs forever — the same "caller
    // typo reads as no dups" class bandBuckets guards against.
    require(maxBucketState >= 1,
      s"maxBucketState must be >= 1, got $maxBucketState " +
        "(a non-positive cap retains no ids and emits no pairs)")
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    keyed.as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (_: String, rows: Iterator[(String, Long)],
            state: GroupState[Seq[Long]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty[CandidatePair]
          } else {
            val seen = state.getOption.getOrElse(Seq.empty).toArray
            val arrivals = rows.map(_._2).toArray.distinct.sorted
            // O(1) redelivery check alongside the state (an
            // at-least-once source replays ids; appending a replayed id
            // again would waste a capped state slot and duplicate its
            // pair emissions on every later arrival).
            val retainedSet = scala.collection.mutable.HashSet
              .empty[Long] ++= seen
            val adds = Array.newBuilder[Long]
            var nAdds = 0
            // visibleAdds(i) = how many same-batch additions precede
            // arrival i — its pairing pool is seen ++ those.
            val visibleAdds = new Array[Int](arrivals.length)
            arrivals.indices.foreach { i =>
              visibleAdds(i) = nAdds
              val id = arrivals(i)
              if (seen.length + nAdds < maxBucketState &&
                  retainedSet.add(id)) {
                adds += id; nAdds += 1
              }
            }
            val added = adds.result()
            if (added.nonEmpty)
              state.update((seen ++ added).toSeq)
            stateTtl.foreach(state.setTimeoutDuration)
            val pool = seen ++ added // in retention order
            arrivals.indices.iterator.flatMap { i =>
              val id = arrivals(i)
              pool.iterator.take(seen.length + visibleAdds(i))
                .filter(_ != id)
                .map(s => CandidatePair(math.min(s, id), math.max(s, id)))
            }
          }
        })
      .toDF()
  }

  /** Stateful incremental entity assignment: per block key, the first
    * record's id becomes the entity id for all subsequent records with
    * that key. `mapGroupsWithState`-based custom state (SURVEY.md §2.8's
    * KeyValueGroupedDataset path); state is one long per key.
    */
  def assignEntities(keyed: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    keyed.as[Keyed]
      .groupByKey(_.block_key)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[Keyed], state: GroupState[Long]) => {
          val sorted = rows.toSeq.sortBy(_.id)
          if (sorted.isEmpty) Iterator.empty
          else {
            val entity =
              if (state.exists) state.get
              else { val e = sorted.head.id; state.update(e); e }
            sorted.iterator.map(k => Assigned(key, k.id, entity))
          }
        })
      .toDF()
  }
}
