package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-curation operators for LLM training-data pipelines —
  * extensions beyond the reference surface (dssg/pgdedupe has no text
  * corpus layer; these follow the published curation recipes: C4-style
  * duplicate-span removal, Raffel et al. 2020; repetition filtering,
  * Rae et al. 2021 "Gopher" §A1.1; benchmark decontamination via
  * n-gram overlap, Brown et al. 2020 GPT-3 appendix C).
  *
  * Every operator here is a pure DataFrame program: word n-grams are
  * built inside whole-stage codegen (`transform`/`slice`/`array_join`
  * — no UDF), the corpus-wide steps are single equi-join/aggregate
  * shuffles on the n-gram key, and nothing unbounded is collected to
  * the driver (the two driver-side artifacts — [[packShards]]'s
  * per-partition sums and [[dedupAgainst]]'s Bloom bits — are
  * explicitly sized and documented at their definitions).
  *
  * 100 TB notes:
  *  - n-gram and line keys are the literal strings, so the DuckDB
  *    oracle replays every decision exactly.
  *  - [[decontaminate]] broadcasts the eval-set n-grams by default:
  *    eval suites are MBs while training corpora are TBs, so the
  *    contaminated-doc scan is one broadcast semi-join with no shuffle
  *    of the corpus (PlanSpec pins the eval-gram join as broadcast).
  *    If the eval side ever outgrows the broadcast threshold, pass
  *    `broadcastEval = false` for a shuffled join — same semantics,
  *    one extra shuffle (PlanSpec gates the fallback as non-broadcast
  *    and answer-equal to the default).
  *  - [[duplicateSpans]] is the one corpus×corpus step; it shuffles
  *    each span once (groupBy) and re-joins left-semi, both on the
  *    span key, so AQE's skew split handles hot boilerplate spans.
  */
object CorpusOps {

  /** Word `n`-grams of a tokenized document as space-joined strings,
    * entirely inside codegen. Documents shorter than `n` tokens yield
    * an empty array (NOT null — `sequence(1, len-n+1)` would count
    * DOWN for short docs, so the guard is load-bearing).
    */
  def ngrams(tokens: Column, n: Int): Column = {
    require(n >= 1, s"ngram size $n")
    when(size(tokens) >= n,
      transform(sequence(lit(1), size(tokens) - lit(n - 1)),
        i => array_join(slice(tokens, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  private def tokens(textCol: String): Column = split(col(textCol), " ")

  /** Benchmark decontamination (GPT-3 appendix C shape): flag every
    * training document that shares at least one word `n`-gram with the
    * held-out eval slice. Returns one row per TRAINING doc:
    * `(idCol, n_matched BIGINT, contaminated BOOLEAN)` where
    * `n_matched` counts distinct overlapping n-grams.
    *
    * `isEval` partitions `docs` into the eval slice (true) and the
    * training corpus (false); eval n-grams are deduped and, by
    * default, broadcast. `broadcastEval = false` drops the hint so the
    * match plans as a shuffle hash join — the overflow path for an
    * eval side too big to broadcast, a flag rather than a rewrite.
    */
  def decontaminate(
      docs: DataFrame, isEval: Column, idCol: String, textCol: String,
      n: Int, broadcastEval: Boolean = true): DataFrame = {
    // Tokenize ONCE per row behind a projection boundary (the
    // interpreted-HOF re-evaluation trap, see chunkTokens): ngrams'
    // lambda slices its tokens argument per ELEMENT, so an inlined
    // tokens(textCol) expression re-tokenized the text once per n-gram.
    // The multiply-referenced non-cheap alias keeps CollapseProject
    // from re-inlining it.
    val g = ngrams(col("_graft_toks"), n)
    val evalGrams = docs.where(isEval)
      .select(tokens(textCol).as("_graft_toks"))
      .select(explode(g).as("gram")).distinct()
    val train = docs.where(!isEval)
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    val matched = train
      .select(col(idCol), tokens(textCol).as("_graft_toks"))
      .select(col(idCol), explode(g).as("gram"))
      .join(evalSide, "gram")
      .groupBy(idCol).agg(countDistinct("gram").as("n_matched"))
    train.select(col(idCol)).join(matched, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)) > 0).as("contaminated"))
  }

  /** Gopher-style within-document repetition score: the fraction of
    * word `n`-grams that are repeats of an earlier n-gram in the same
    * document. Per-row only — zero shuffle. Returns
    * `(idCol, n_grams BIGINT, n_distinct BIGINT, rep_ratio DOUBLE)`;
    * docs with no n-grams score 0.0 (nothing repeats).
    */
  def repetitionScore(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // Tokenize once per row behind a projection boundary (see
    // decontaminate's note — per-element re-tokenization otherwise).
    docs.select(col(idCol), tokens(textCol).as("_graft_toks"))
      .select(col(idCol), ngrams(col("_graft_toks"), n).as("g"))
      .select(col(idCol),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .select(col(idCol), col("n_grams"), col("n_distinct"),
        when(col("n_grams") > 0,
          (col("n_grams") - col("n_distinct")).cast("double") /
            col("n_grams"))
          .otherwise(lit(0.0)).as("rep_ratio"))
  }

  /** C4-style duplicate-span detection: a word `n`-gram occurring in
    * `minDocs`+ DISTINCT documents is corpus boilerplate; per document
    * count its span occurrences and decide retention (`keep` = at most
    * half the spans are boilerplate — C4 drops the offending spans,
    * the retention decision here is the doc-grain version of the same
    * signal). Returns `(idCol, n_spans, n_dup_spans BIGINT,
    * keep BOOLEAN)`; span-less short docs keep trivially.
    */
  def duplicateSpans(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs $minDocs")
    // Tokenize once per row behind projection boundaries (see
    // decontaminate's note — per-element re-tokenization otherwise).
    val grams = docs
      .select(col(idCol), tokens(textCol).as("_graft_toks"))
      .select(col(idCol),
        explode(ngrams(col("_graft_toks"), n)).as("gram"))
    val dup = grams.groupBy("gram")
      .agg(countDistinct(idCol).as("nd"))
      .where(col("nd") >= minDocs).select("gram")
    val per = grams.join(dup, Seq("gram"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_dup_spans"))
    docs.select(col(idCol), tokens(textCol).as("_graft_toks"))
      .select(col(idCol),
        size(ngrams(col("_graft_toks"), n)).cast("long").as("n_spans"))
      .join(per, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("n_dup_spans"), lit(0L)) * 2 <= col("n_spans"))
          .as("keep"))
  }

  /** Line-level cross-document dedup (RefinedWeb-style, Penedo et al.
    * 2023 §3.3: lines duplicated across many documents are site
    * boilerplate — navigation, cookie banners, footers — and are
    * REMOVED from every document rather than dropping whole docs):
    * deletes every line whose exact text occurs in MORE THAN
    * `maxDocs` distinct documents, preserving the order and
    * multiplicity of the surviving lines. `delimiter` is a LITERAL
    * string (default `"\n"`), used both to split and to rejoin — so
    * any unit with a faithful delimiter works: newline lines,
    * sentences on `". "`, whitespace tokens (q66 exercises the token
    * grain, the only grain the newline-free fixture corpus has).
    * Extension beyond the reference surface (dssg/pgdedupe has no
    * corpus layer).
    *
    * 100 TB shape — the document TEXT is never shuffled:
    *  1. detection runs on a NARROW (id, lineKey) explode — one
    *     groupBy on the line key counting distinct docs (partial aggs
    *     shrink it map-side);
    *  2. each doc's OWN boilerplate keys come back as one small
    *     `collect_set` row per affected doc (bounded by the doc's own
    *     distinct boilerplate lines, never by corpus-wide counts) via
    *     a left-semi join of the narrow lines against the flagged
    *     keys — broadcast while the flagged set fits, else one
    *     8-byte-key shuffle;
    *  3. the rewrite is a PURE COLUMN program: re-split the text,
    *     `filter` out lines whose key lands in the doc's set,
    *     `concat_ws` back — order preserved by construction, no
    *     reassembly shuffle, no window, no UDF. The split runs once
    *     in the detection branch and once in the rewrite projection —
    *     two cheap CPU passes instead of persisting (or shuffling) a
    *     corpus-sized exploded frame. The text itself moves at most
    *     once: not at all while the per-doc sets broadcast (the
    *     fixture plan, gated), one equi-join shuffle of the intact
    *     docs when they outgrow the threshold — never as exploded
    *     lines, and never through an aggregate.
    *
    * Docs with a null id or null text pass through unchanged (a null
    * id cannot join its boilerplate set back; a null text has no
    * lines). A doc whose every line is boilerplate keeps an empty
    * string. Empty lines count like any other line — blank-line runs
    * shared by more than `maxDocs` docs ARE boilerplate by this
    * definition; pre-normalize upstream if blank-line formatting must
    * survive. Returns the caller's schema with `textCol` rewritten.
    */
  def dropBoilerplateLines(
      docs: DataFrame, idCol: String, textCol: String, maxDocs: Long,
      delimiter: String = "\n"): DataFrame = {
    require(maxDocs >= 1, s"maxDocs $maxDocs (every line occurs in at " +
      "least its own doc; 0 would drop every line)")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val lk = "_graft_bl_key"
    val bs = "_graft_bl_set"
    Seq(lk, bs).foreach { n =>
      require(!docs.columns.exists(_.equalsIgnoreCase(n)),
        s"docs already has a $n column")
    }
    // Pattern.quote: `delimiter` is a literal, never a regex — a regex
    // split could not rejoin faithfully.
    val delim = java.util.regex.Pattern.quote(delimiter)
    val lines = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), delim)).as(lk))
    val flagged = lines.groupBy(lk)
      .agg(countDistinct(col(idCol)).as("_nd"))
      .where(col("_nd") > maxDocs)
      .select(lk)
    val perDoc = lines.join(flagged, Seq(lk), "left_semi")
      .groupBy(idCol).agg(collect_set(col(lk)).as(bs))
    docs.join(perDoc, Seq(idCol), "left")
      .withColumn(textCol,
        when(col(textCol).isNull || col(bs).isNull, col(textCol))
          .otherwise(concat_ws(delimiter,
            filter(split(col(textCol), delim),
              l => !array_contains(col(bs), l)))))
      .drop(bs)
  }

  /** Streaming decontamination — the incremental twin of
    * [[decontaminate]]: the eval corpus is STATIC (benchmark suites
    * change by release, not by micro-batch) with its n-grams deduped
    * and broadcast, and arriving training documents are flagged by a
    * stream-static left-semi join. Emits each contaminated doc id
    * once (the quarantine feed); re-deliveries of a flagged doc are
    * suppressed by the dedup state. Without a watermark that state is
    * one entry per contaminated doc FOREVER — fine for a bounded
    * backfill, unbounded for a long-running feed. Pass
    * `watermark = Some((eventTimeCol, delay))` and the operator
    * watermarks arrivals and switches to
    * `dropDuplicatesWithinWatermark`, so state for a doc expires once
    * the watermark passes it — re-deliveries inside the delay are
    * still suppressed, and production callers get bounded state
    * without reimplementing the operator (the emitted frame then also
    * carries the event-time column, since the dedup state needs it).
    * The static side is re-evaluated each micro-batch (Spark's
    * stream-static join contract): persist `evalDocs` at the caller
    * when the eval corpus isn't a trivial scan.
    *
    * The per-row curation ops need no streaming twin at all:
    * [[repetitionScore]] and [[piiScrub]] are pure column programs
    * with no aggregation, so the SAME function body runs unchanged on
    * a streaming frame (gated in CorpusStreamSpec).
    */
  def decontaminateStream(
      train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, n: Int,
      watermark: Option[(String, String)] = None): DataFrame = {
    // Tokenize once per row behind projection boundaries (see
    // decontaminate's note — per-element re-tokenization otherwise).
    val evalGrams = evalDocs
      .select(tokens(textCol).as("_graft_toks"))
      .select(explode(ngrams(col("_graft_toks"), n)).as("gram"))
      .distinct()
    val arrivals = watermark.fold(train) { case (timeCol, delay) =>
      train.withWatermark(timeCol, delay)
    }
    val keep: Seq[Column] =
      col(idCol) +: watermark.map(w => col(w._1)).toSeq
    val flagged = arrivals
      .select(keep :+ tokens(textCol).as("_graft_toks"): _*)
      .select(keep :+ explode(ngrams(col("_graft_toks"), n)).as("gram"): _*)
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
    watermark match {
      case Some(_) =>
        flagged.dropDuplicatesWithinWatermark(idCol).select(keep: _*)
      case None =>
        flagged.dropDuplicates(idCol).select(col(idCol))
    }
  }

  /** Deterministic train/val/test assignment: a salted MD5 of the doc
    * key drives a 0–99 bucket, cut 80/10/10 (train below 80, val below
    * 90, test from 90).
    * Pure per-row codegen (zero shuffle), reproducible across runs,
    * machines, and engines — re-running the split on a grown corpus
    * never reassigns an existing document (the property that keeps
    * eval sets uncontaminated as the corpus accretes; changing the
    * salt is the ONLY way to reshuffle, and that is the point).
    * Returns `(idCol, bucket BIGINT, split STRING)`.
    */
  def splitAssign(docs: DataFrame, idCol: String, salt: String): DataFrame = {
    val bucket = hashKey(idCol, salt, 8) % 100
    docs.select(col(idCol), bucket.as("bucket"))
      .select(col(idCol), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
  }

  /** Contiguous token-budget shard packing (the sequence-packing layout
    * step of a training pipeline): documents in `idCol` order are
    * assigned to shards of ~`budget` total weight — shard id =
    * exclusive-prefix-sum(weight) / budget, so shards are contiguous
    * id ranges and every shard except possibly the last holds at
    * least `budget` weight once its last (boundary-straddling) doc
    * lands. Returns `(idCol, weight BIGINT, shard_id BIGINT)`.
    *
    * The prefix sum is SCALE-SAFE, not a global single-task window:
    * range-repartition + in-partition sort (distributed), one small
    * job for per-partition weight sums, a driver-side prefix over
    * those (bounded by the partition count), then a per-partition
    * running sum seeded with the broadcast offsets — the same
    * two-pass seam as `RelationalOps.denseIds`, and like it the
    * sorted RDD's shuffle files are reused by the second pass.
    */
  def packShards(
      docs: DataFrame, idCol: String, weight: Column,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget $budget")
    withRunningOffset(
        docs.select(col(idCol),
          coalesce(weight.cast("long"), lit(0L)).as("weight")),
        idCol, "weight")
      .select(col(idCol), col("weight"),
        expr(s"_cum div ${budget}L").as("shard_id"))
  }

  /** The scale-safe exclusive prefix sum shared by [[packShards]] and
    * [[packSequences]]: appends `_cum` = sum of `weightCol` over all
    * rows with a smaller `idCol` (the row's own weight excluded).
    * `rows` must already carry a non-null LONG `weightCol`; every
    * input column rides through — callers project first, so only what
    * the downstream op needs crosses the range shuffle.
    *
    * NOT a global single-task window: range-repartition + in-partition
    * sort (distributed), one small job for per-partition weight sums,
    * a driver-side prefix over those (bounded by the partition count),
    * then a per-partition running sum seeded with the broadcast
    * offsets — the `RelationalOps.denseIds` two-pass seam, with the
    * sorted RDD's shuffle files reused by the second pass.
    *
    * The second pass replays the SAME RDD and indexes `offsets` by
    * partition id: its correctness depends on the sorted RDD keeping
    * the partitioning (and contents) the sums were computed under.
    * That holds because `rdd` is one materialized lineage reused by
    * both jobs (the range shuffle's files are reused, not re-sampled)
    * — but verify it with guards that CAN fail (a bare
    * `partSums.length == getNumPartitions` check is tautological:
    * pass 1 emits exactly one sum per partition by construction).
    * Each pass-2 partition checks (a) its index is inside the pass-1
    * offset table and (b) after draining, its running sum landed
    * exactly on the next pass-1 offset — any lineage re-evaluation
    * that moved rows across partitions trips (b) instead of silently
    * mis-assigning everything after the drifted partition.
    */
  private def withRunningOffset(
      rows: DataFrame, idCol: String, weightCol: String): DataFrame = {
    val spark = rows.sparkSession
    val sorted = rows
      .repartitionByRange(col(idCol)).sortWithinPartitions(col(idCol))
    val wIdx = sorted.schema.fieldIndex(weightCol)
    val rdd = sorted.rdd
    val partSums = rdd
      .mapPartitionsWithIndex { (i, it) =>
        var s = 0L; it.foreach(s += _.getLong(wIdx)); Iterator((i, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = sorted.schema.add("_cum", LongType, nullable = false)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      val off = bc.value
      if (i + 1 >= off.length)
        throw new IllegalStateException(
          s"withRunningOffset partition drift: partition $i outside " +
            s"the ${off.length - 1} ranges summed in pass 1")
      var cum = off(i)
      it.map { r =>
        val before = cum
        cum += r.getLong(wIdx)
        Row.fromSeq(r.toSeq :+ before)
      } ++ {
        if (cum != off(i + 1))
          throw new IllegalStateException(
            s"withRunningOffset partition drift: partition $i weight " +
              s"${cum - off(i)} != pass-1 sum ${off(i + 1) - off(i)}")
        Iterator.empty
      }
    }
    spark.createDataFrame(out, schema)
  }

  /** Sequence packing — the step between curation and the trainer
    * that [[chunkTokens]] (split LONG docs) and [[packShards]]
    * (group docs into storage shards) bracket: short documents are
    * packed densely into FIXED-LENGTH training sequences of `seqLen`
    * whitespace tokens, each sequence carrying the doc-boundary
    * metadata an attention-mask-aware trainer needs (no attending
    * across document boundaries). Documents are laid out in `idCol`
    * order on a single global token tape; sequence `s` is tokens
    * `[s·seqLen, (s+1)·seqLen)` of that tape, so every sequence
    * except the last is EXACTLY `seqLen` tokens and a document
    * straddling a boundary is split across the adjacent sequences at
    * the token (GPT-style packing: nothing padded, nothing dropped —
    * the concatenation of all sequences is exactly the concatenation
    * of all documents).
    *
    * Scale shape: the global token offsets come from
    * [[withRunningOffset]] (the distributed two-pass prefix sum — no
    * single-task window), the piece explode is pure per-row column
    * work (a doc lands in `1 + ⌊(w−1)/seqLen⌋` sequences), and ONE
    * `groupBy(seq_id)` shuffle assembles the output — the text
    * crosses the wire exactly once, unavoidably, because the output
    * rows ARE new groupings of it. Ordering inside a sequence needs
    * no window: piece positions are disjoint by construction, so one
    * `sort_array(collect_list(struct(pos, …)))` orders members.
    *
    * `idCol` is the layout key and must be unique per doc (ties make
    * tape order — and thus every downstream sequence — undefined);
    * docs with a null id or null text are excluded (nothing to
    * train on). An empty text is ONE empty token, exactly as
    * [[chunkTokens]] counts it. Returns
    * `(seq_id BIGINT, text STRING, doc_ids ARRAY<idType>,
    * doc_starts ARRAY<BIGINT>, n_tokens BIGINT)` with `doc_starts(i)`
    * = the token position inside this sequence where `doc_ids(i)`'s
    * piece begins.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen >= 1, s"seqLen $seqLen")
    val L = seqLen.toLong
    val base = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .select(col(idCol), col("_toks"),
        size(col("_toks")).cast("long").as("_w"))
    val cw = withRunningOffset(base, idCol, "_w")
    val pieces = cw
      .select(col(idCol), col("_toks"), col("_cum"), col("_w"),
        explode(sequence(expr(s"_cum div ${L}L"),
          expr(s"(_cum + _w - 1) div ${L}L"))).as("seq_id"))
      .select(col("seq_id"),
        (greatest(col("_cum"), col("seq_id") * L) - col("seq_id") * L)
          .as("pos"),
        col(idCol).as("_doc"),
        slice(col("_toks"),
          (greatest(col("_cum"), col("seq_id") * L) - col("_cum") + 1)
            .cast("int"),
          (least((col("seq_id") + 1) * L, col("_cum") + col("_w")) -
            greatest(col("_cum"), col("seq_id") * L)).cast("int"))
          .as("_piece"))
    pieces.groupBy("seq_id")
      .agg(sort_array(collect_list(
        struct(col("pos"), col("_doc"), col("_piece")))).as("_ps"))
      .select(col("seq_id"),
        concat_ws(" ",
          flatten(transform(col("_ps"), p => p("_piece")))).as("text"),
        transform(col("_ps"), p => p("_doc")).as("doc_ids"),
        transform(col("_ps"), p => p("pos")).as("doc_starts"),
        aggregate(col("_ps"), lit(0L),
          (acc, p) => acc + size(p("_piece"))).as("n_tokens"))
  }

  /** Vocabulary build — the other half of trainer prep next to the
    * layout family: the top-`vocabSize` whitespace tokens of the
    * corpus by occurrence count, ids `0..V-1` assigned in
    * `(count DESC, token ASC)` order (the ASC tie-break makes the
    * vocabulary — and therefore every downstream encoding —
    * deterministic under equal counts). Returns
    * `(token STRING, token_id INT, n_occurrences BIGINT)`.
    *
    * Scale shape: the explode ships one token per occurrence but the
    * `groupBy(token)` partial-aggregates map-side, so the shuffle is
    * one `(token, count)` pair per distinct token per map task — the
    * corpus text itself never crosses the wire. The global top-V is
    * `orderBy.limit` = TakeOrderedAndProject (per-partition top-V
    * heaps, driver merge of ≤ V·numPartitions summary rows — no
    * global sort of the distinct-token frame). The id assignment is a
    * single-partition `row_number` window, bounded by `vocabSize`
    * (≤ ~10⁵·~20 B = megabytes), never by corpus size.
    *
    * Docs with null text contribute nothing; an empty text is ONE
    * empty token, exactly as [[chunkTokens]]/[[packSequences]] count
    * it (the `""` token then competes for a vocab slot like any
    * other).
    */
  def buildVocab(docs: DataFrame, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize $vocabSize")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("token"))
    docs
      .where(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(vocabSize)
      .withColumn("token_id", (row_number().over(w) - 1).cast("int"))
      .select(col("token"), col("token_id"), col("n_occurrences"))
  }

  /** Token-id encoding — maps each document's whitespace tokens to
    * [[buildVocab]] ids, out-of-vocabulary tokens to `unkId` (callers
    * conventionally pass `vocabSize`, the first id no real token
    * holds). Returns
    * `(idCol, token_ids ARRAY<INT>, n_tokens BIGINT, n_unk BIGINT)`
    * — the ints a trainer consumes plus the OOV-rate signal curation
    * dashboards watch.
    *
    * Scale shape: `vocab` is broadcast (it is ≤ vocabSize rows by
    * construction) so the per-token lookup is a map-side
    * BroadcastHashJoin — the exploded token stream never shuffles for
    * the join. The only exchange is the per-doc reassembly
    * `groupBy(idCol)`, and by then each row is `(id, pos INT,
    * tid INT)` — the TEXT never enters any shuffle (same discipline
    * as [[dropBoilerplateLines]]'s rewrite). In-doc order needs no
    * window: positions are disjoint, one
    * `sort_array(collect_list(struct))` orders them.
    *
    * Docs with a null id or null text are excluded (nothing to
    * encode); an empty text is ONE empty token (family grain).
    */
  def encodeTokens(docs: DataFrame, vocab: DataFrame, idCol: String,
      textCol: String, unkId: Int): DataFrame = {
    require(unkId >= 0, s"unkId $unkId")
    Seq("_pos", "_tok", "_tid", "_miss").foreach { n =>
      require(!docs.columns.exists(_.equalsIgnoreCase(n)),
        s"docs already has a $n column")
    }
    val exploded = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("_pos", "_tok")))
    exploded
      .join(broadcast(vocab.select(col("token").as("_tok"),
        col("token_id"))), Seq("_tok"), "left")
      // n_unk counts the JOIN MISS, not `_tid === unkId`: if a caller
      // breaks the "unkId is an id no real token holds" convention,
      // the OOV rate must still be exact (only token_ids becomes
      // ambiguous, and only for that caller).
      .select(col(idCol), col("_pos"),
        coalesce(col("token_id"), lit(unkId)).cast("int").as("_tid"),
        col("token_id").isNull.as("_miss"))
      .groupBy(idCol)
      .agg(
        sort_array(collect_list(struct(col("_pos"), col("_tid"))))
          .as("_ps"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("_miss"), 1L).otherwise(0L)).as("n_unk"))
      .select(col(idCol),
        transform(col("_ps"), p => p("_tid")).as("token_ids"),
        col("n_tokens"), col("n_unk"))
  }

  /** Top-`k` characteristic terms per document — TF-IDF-family
    * keyword extraction with a LINEAR idf: `score = tf / df` (term
    * frequency in the doc over corpus document frequency). Linear idf
    * is chosen over `tf·ln(N/df)` for cross-engine bit determinism:
    * the score is ONE correctly-rounded IEEE division of two exact
    * integers, identical in any engine, where `ln` is a libm call
    * with no cross-engine rounding contract (the log variant is a
    * one-expression swap if ranking fidelity to classic TF-IDF
    * matters more than oracle hashability). Ties break token-ASC, so
    * the extraction is a pure function of the corpus. Returns
    * `(idCol, term STRING, tf BIGINT, score DOUBLE, rank INT)` with
    * rank 1..k per doc, fewer when the doc has < k distinct terms.
    *
    * Scale shape: tf is a `groupBy(id, term)` over the narrow
    * exploded token stream (map-side partial agg), df a
    * `groupBy(term)` with exact distinct-doc counting, and the
    * tf⋈df lookup a shuffle equi-join on the term — the df side is
    * the corpus VOCABULARY, far too large to assume broadcastable at
    * crawl scale, so no broadcast hint (AQE may still choose one when
    * small). The top-k needs no window: a doc's distinct-term group
    * is bounded by the doc's own length, so one
    * `sort_array(collect_list(struct))` + `slice` per doc orders and
    * cuts it — the sort key struct leads with `-score` (ascending
    * struct sort = score descending, term-ASC tie-break). The text
    * never enters any shuffle; every exchanged row is
    * `(id, term, tf, df)`-narrow. Docs with a null id or null text
    * are excluded; an empty text is ONE empty token (family grain).
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k $k")
    Seq("_term", "_ns", "_top", "_i", "_t").foreach { n =>
      require(!docs.columns.exists(_.equalsIgnoreCase(n)),
        s"docs already has a $n column")
    }
    val tok = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), explode(split(col(textCol), " ")).as("_term"))
    val tf = tok.groupBy(col(idCol), col("_term"))
      .agg(count(lit(1)).as("tf"))
    // Document frequency FROM the tf aggregate, not a second pass over
    // the exploded corpus: tf has exactly one row per (doc, term) with
    // non-null ids, so count(*) per term IS countDistinct(doc). The two
    // old aggregations grouped the token rows by different keys, so
    // their exchanges could not be reused and the corpus was scanned +
    // exploded twice; this shape shares one corpus pass (tf's exchange
    // is reused for both consumers) and aggregates vocabulary-sized
    // rows instead of corpus token rows.
    val dfreq = tf.groupBy(col("_term"))
      .agg(count(lit(1)).as("_df"))
    tf.join(dfreq, "_term")
      .select(col(idCol), col("_term"), col("tf"),
        (col("tf").cast("double") / col("_df")).as("score"))
      .groupBy(col(idCol))
      .agg(slice(sort_array(collect_list(struct(
        (-col("score")).as("_ns"), col("_term"), col("tf"),
        col("score")))), 1, k).as("_top"))
      .select(col(idCol), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col(idCol), col("_t._term").as("term"), col("_t.tf"),
        col("_t.score"), (col("_i") + 1).cast("int").as("rank"))
  }

  /** Deterministic epoch shuffle — the training-order permutation
    * between curation and the trainer: every doc gets a dense 1-based
    * `shuffle_pos` equal to its rank in `(saltedHash(id), id)` order.
    * A new `salt` is a new epoch's independent permutation; the same
    * salt reproduces the identical order on any cluster, any
    * partitioning, any day — which is what makes training runs
    * replayable and loss curves comparable. The id tie-break makes
    * the rank well-defined even under hash collisions, provided
    * `idCol` is unique per doc (same contract as [[packSequences]]);
    * docs with a null id are excluded (no identity, no position).
    *
    * Scale shape: the rank is NOT a global `row_number` window (one
    * task holding the corpus) — [[graft.ops.RelationalOps.denseIds]]
    * range-repartitions on the hash, sorts within partitions, and
    * assigns global offsets via `zipWithIndex` with O(#partitions)
    * driver work; the hash is uniform by construction, so the range
    * partitions are balanced no matter how skewed the ids. The hash is
    * [[hashKey]]'s salted md5, which replays in any engine.
    */
  def epochShuffle(docs: DataFrame, idCol: String,
      salt: String): DataFrame = {
    require(!docs.columns.exists(_.equalsIgnoreCase("_h")),
      "docs already has a _h column")
    val withH = docs
      .where(col(idCol).isNotNull)
      .withColumn("_h", hashKey(idCol, salt, hexLen = 15))
    graft.ops.RelationalOps
      .denseIds(withH, Seq(col("_h"), col(idCol)), "shuffle_pos")
      .drop("_h")
  }

  /** Corpus-self-trained bigram-LM quality score — the LM-filter
    * stage of a curation pipeline (CCNet/KenLM-style: score each doc
    * by how well a language model trained on the corpus itself
    * predicts it; outliers in either direction are candidates for
    * dropping). The model is the MLE bigram table of the corpus
    * (`p(w2|w1) = c(w1 w2) / c(w1 ·)`, prefix-marginal denominator)
    * and the score is the MEAN per-bigram probability over the doc's
    * `n−1` bigrams. The mean is linear, not log-perplexity, by
    * design: each probability is one correctly-rounded IEEE division
    * and multiply, quantized to 1e−9 (`round`, half-up — identical
    * for positives in any engine) and summed EXACTLY in integer
    * space ([[graft.queries.QueryDef.exactSum]]'s pattern), then one
    * final exact-integer division — so the DOUBLE score hashes
    * identically across engines, where a `ln` per bigram would be a
    * libm call with no cross-engine rounding contract (the
    * log-perplexity variant is the same program with `ln` swapped in
    * before quantization, if within-engine use doesn't need oracle
    * hashability).
    *
    * Scale shape: the bigram explode is narrow `(id, w1, w2)` rows;
    * the model is two map-side-partial aggregations (`c2` over
    * bigrams, `c1` as the prefix marginal — computed FROM `c2`, so
    * the second agg runs on the already-collapsed bigram vocabulary);
    * scoring is two shuffle equi-joins on the bigram/prefix keys (the
    * bigram vocabulary at crawl scale is far too large to broadcast)
    * and one `groupBy(id)` of `(id, q LONG)` rows. The document text
    * never enters any exchange. Docs with a null id or null text are
    * excluded; docs with fewer than 2 tokens (including the empty
    * text = one empty token) emit `n_bigrams = 0` with a NULL score —
    * unscoreable, the caller decides. Returns
    * `(idCol, n_bigrams BIGINT, lm_score DOUBLE)`.
    */
  def bigramLmScore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    Seq("_t", "_i", "_w1", "_w2", "_n2", "_n1", "_q").foreach { n =>
      require(!docs.columns.exists(_.equalsIgnoreCase(n)),
        s"docs already has a $n column")
    }
    val base = docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("_t"))
    // sequence(1, 0) would be DESCENDING [1, 0], not empty — guard
    // short docs explicitly (same trap packSequences' family avoids).
    val bg = base
      .select(col(idCol), col("_t"),
        explode(when(size(col("_t")) >= 2,
          sequence(lit(1), size(col("_t")) - 1))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col(idCol),
        element_at(col("_t"), col("_i")).as("_w1"),
        element_at(col("_t"), col("_i") + 1).as("_w2"))
    val c2 = bg.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).as("_n2"))
    val c1 = c2.groupBy(col("_w1")).agg(sum(col("_n2")).as("_n1"))
    val perDoc = bg
      .join(c2, Seq("_w1", "_w2"))
      .join(c1, Seq("_w1"))
      .select(col(idCol),
        round(col("_n2").cast("double") / col("_n1") * 1e9, 0)
          .cast("long").as("_q"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_q")).as("_sq"))
    base.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("_sq").cast("double") /
          (col("n_bigrams") * lit(1000000000L)).cast("double"))
          .as("lm_score"))
  }

  /** Salted uniform hash of the doc key in `[0, 16^hexLen)`, shared by
    * the deterministic sampling family ([[splitAssign]] /
    * [[stratifiedSample]] / [[domainCap]] / [[mixtureExpand]] /
    * [[epochShuffle]]): the first `hexLen` hex chars of the salted MD5
    * as a non-negative long. Identical arithmetic is stated in each
    * oracle's SQL, so engines agree bit-for-bit; the salt is the only
    * reshuffle lever.
    */
  private def hashKey(idCol: String, salt: String, hexLen: Int): Column = {
    // hexLen = 16 would overflow the long conv (signed, possibly
    // negative — silently breaking every downstream threshold and
    // modulus); enforce the documented bound instead of assuming it.
    require(hexLen >= 1 && hexLen <= 15, s"hexLen $hexLen not in [1,15]")
    val salted = concat(lit(salt + ":"), col(idCol).cast("string"))
    conv(substring(md5(salted), 1, hexLen), 16, 10).cast("long")
  }

  /** Deterministic per-stratum Bernoulli sampling (corpus mixture
    * control: "keep 30% of en, 100% of zh"): a doc is sampled iff its
    * 32-bit salted hash falls under `floor(rate · 2³²)` for its
    * stratum. The comparison is INTEGER — both sides compute the exact
    * same threshold literal, so there is no float-boundary flake. Pure
    * per-row codegen, zero shuffle; accretion-safe and reproducible for
    * the same reasons as [[splitAssign]] (and composable with it —
    * different salts give independent decisions). Unknown strata use
    * `defaultRate`. Returns `(idCol, stratumCol, sampled BOOLEAN)` for
    * every doc — the flag, not the filtered subset, so callers can
    * audit per-stratum realized rates before dropping rows.
    */
  def stratifiedSample(
      docs: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double,
      salt: String): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r =>
      r >= 0.0 && r <= 1.0), s"rates must be in [0,1]: $rates")
    def thr(r: Double): Long = (r * 4294967296.0).toLong
    val threshold = rates.toSeq.sortBy(_._1)
      .foldRight(lit(thr(defaultRate))) { case ((s, r), acc) =>
        when(col(stratumCol) === s, lit(thr(r))).otherwise(acc)
      }
    docs.select(col(idCol), col(stratumCol),
      (hashKey(idCol, salt, 8) < threshold).as("sampled"))
  }

  /** Per-domain quota cap: keep at most `cap` documents per domain,
    * chosen deterministically (smallest salted hash; ties break by doc
    * id for integral ids, by the id's salted surrogate hash otherwise —
    * deterministic either way).
    * This is the anti-over-representation pass of a crawl pipeline —
    * and the poster child for group skew: one domain can be 10% of a
    * 100 TB crawl. The window idiom (`row_number() ... <= cap`, the
    * oracle's phrasing) must move EVERY row of the hot domain into one
    * task before ranking; this runs [[graft.functions.BoundedMinByN]]
    * instead, whose map-side partial aggregation bounds the shuffle at
    * `cap` rows per domain per map partition and memory at O(cap) per
    * group — the plan survives any skew profile (FunctionsSpec gates
    * partial+final ObjectHashAggregate around exactly one
    * hash-partitioning Exchange). Returns
    * `(domainCol, idCol)`, one row per kept doc, idCol keeping its
    * input type.
    *
    * Integral doc ids ride through the aggregate as the heap payload
    * directly. Any other id type (string keys are first-class
    * everywhere else in this family) is carried as a salted-xxhash64
    * surrogate and the winners are joined back to restore the original
    * column — the join's build side is the OUTPUT (≤ cap·domains
    * rows), far below the corpus, so AQE broadcasts it. A same-domain
    * surrogate collision (two ids sharing a 64-bit hash) could return
    * one extra doc for that domain; at p ≈ cap²/2⁶⁵ per domain that is
    * negligible against the operator's statistical purpose.
    *
    * Null DOMAINS form a capped group like any other (both paths,
    * null-safely). Null IDS are dropped — by both paths identically: a
    * doc without an id has no deterministic hash to rank by
    * ([[graft.functions.BoundedMinByN]] skips null keys/payloads, and
    * the string path's surrogate of a null id is null). Gated in
    * CorpusOpsSpec.
    */
  def domainCap(
      docs: DataFrame, idCol: String, domainCol: String, cap: Int,
      salt: String): DataFrame = {
    require(cap > 0, s"cap $cap")
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    val idType = docs.schema(idCol).dataType
    val k = hashKey(idCol, salt, 15).as("_k")
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        docs
          .select(col(domainCol), k, col(idCol).cast("long").as("_id"))
          .groupBy(col(domainCol))
          .agg(graft.functions.GraftFunctions
            .boundedMinByN(col("_k"), col("_id"), cap).as("_ids"))
          .select(col(domainCol), explode(col("_ids")).as("_id"))
          .select(col(domainCol), col("_id").cast(idType).as(idCol))
      case _ =>
        // The surrogate must be NULL for a null id: xxhash64 alone
        // would hash a null input to its SEED (it is nullable=false),
        // leaving a non-null sid that could collide with a winner at
        // ~2⁻⁶⁴ — the guard makes the documented "null id ⇒ null
        // surrogate ⇒ can never join back" invariant structural.
        val keyed = docs.select(col(domainCol), col(idCol), k,
          when(col(idCol).isNotNull,
            xxhash64(concat(lit(salt + "#sid:"),
              col(idCol).cast("string")))).as("_sid"))
        val kept = keyed
          .groupBy(col(domainCol))
          .agg(graft.functions.GraftFunctions
            .boundedMinByN(col("_k"), col("_sid"), cap).as("_sids"))
          .select(col(domainCol).as("_dom"), explode(col("_sids")).as("_ksid"))
        // Null-SAFE domain equality: groupBy keeps a null-domain GROUP
        // (so the integral path caps-and-keeps missing domains), and the
        // join-back must match it — a plain equi-join would never match
        // null = null and silently drop every null-domain doc, the exact
        // silent-loss failure mode this operator exists to avoid.
        keyed.join(kept,
            keyed(domainCol) <=> kept("_dom") &&
              keyed("_sid") === kept("_ksid"), "left_semi")
          .select(col(domainCol), col(idCol))
    }
  }

  /** Deterministic mixture expansion (epoch weighting: "see en 2.3×
    * per epoch"): each doc is emitted `floor(w)` times plus one more
    * iff its salted hash lands under the fractional part — so realized
    * multiplicity is exact per doc, has the right expectation per
    * stratum, and never changes for a doc as the corpus grows. Weights
    * below 1 subsample (w = 0.3 ⇒ 30% of docs appear once), the
    * degenerate case being [[stratifiedSample]] as emit-count. The
    * `when` guard keeps `sequence()` from counting DOWN for zero-copy
    * docs (same footgun as [[ngrams]]). Pure per-row codegen + explode:
    * zero shuffle. Returns one row per COPY:
    * `(idCol, stratumCol, copy INT)`, copy = 1..multiplicity.
    */
  def mixtureExpand(
      docs: DataFrame, idCol: String, stratumCol: String,
      weights: Map[String, Double], defaultWeight: Double,
      salt: String): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(w =>
      w >= 0.0 && w <= 100.0), s"weights must be in [0,100]: $weights")
    def whole(w: Double): Int = math.floor(w).toInt
    def fracThr(w: Double): Long =
      ((w - math.floor(w)) * 4294967296.0).toLong
    val sorted = weights.toSeq.sortBy(_._1)
    val base = sorted.foldRight(lit(whole(defaultWeight))) {
      case ((s, w), acc) =>
        when(col(stratumCol) === s, lit(whole(w))).otherwise(acc)
    }
    val thr = sorted.foldRight(lit(fracThr(defaultWeight))) {
      case ((s, w), acc) =>
        when(col(stratumCol) === s, lit(fracThr(w))).otherwise(acc)
    }
    val copies = (base +
      (hashKey(idCol, salt, 8) < thr).cast("int")).as("_copies")
    docs.select(col(idCol), col(stratumCol), copies)
      .select(col(idCol), col(stratumCol),
        explode(when(col("_copies") >= 1,
            sequence(lit(1), col("_copies")))
          .otherwise(array().cast("array<int>"))).as("copy"))
  }

  /** PII hygiene for event/log payloads: deterministic pseudonymization
    * of the user key (salted MD5 — same user maps to the same token
    * across runs and tables, so joins still work downstream) plus a
    * numeric-identifier scrub of the free-form payload, with an audit
    * count of how many runs were masked. Pure per-row codegen — the
    * exact shape a 100 TB scrub pass needs (no shuffle at all).
    */
  def piiScrub(
      events: DataFrame, idCol: String, userCol: String,
      payloadCol: String, salt: String): DataFrame = {
    val payload = coalesce(col(payloadCol), lit(""))
    events.select(col(idCol),
      md5(concat(lit(salt + ":"), col(userCol).cast("string")))
        .as("user_pseudo"),
      regexp_replace(payload, "[0-9]+", "#").as("payload_scrubbed"),
      size(regexp_extract_all(payload, lit("[0-9]+"), lit(0)))
        .cast("long").as("n_masked"))
  }

  /** Text normalization — the canonical pre-hash cleanup pass every
    * exact-match stage depends on: the same user-visible string
    * arrives composed (`é`) or decomposed (`e` + U+0301) depending on
    * source, and until canonicalized the two hash, join, block, and
    * dedup as DIFFERENT texts (content-hash dedup q13/q62,
    * boilerplate lines q66, decontamination q53, blocking keys — all
    * exact-match on the bytes). Two steps, each a pure column
    * expression:
    *
    *  1. Unicode NFC via the codegen'd
    *     [[graft.functions.NfcNormalize]] expression (Spark has no
    *     built-in normalizer; ASCII and already-normalized rows
    *     return the input untouched — zero allocation on the
    *     overwhelmingly common row);
    *  2. control-character strip (opt-out `stripControls = false`):
    *     C0 controls except `\t` `\n` `\r`, plus DEL — the bytes
    *     crawler output and broken decoders leave behind, which
    *     corrupt delimiters and sinks downstream (the CSV fidelity
    *     sentinel is a lone U+0000 precisely because real fields
    *     never legitimately contain one).
    *
    * Pure per-row program: ZERO shuffle, streaming-safe unchanged
    * (same class as [[repetitionScore]]/[[piiScrub]]). Null text
    * passes through null. Returns the caller's schema with `textCol`
    * rewritten. NFC runs FIRST (control chars are normalization-inert,
    * so the order cannot change the answer; pinned anyway so the
    * oracle states the identical composition).
    */
  def normalizeText(docs: DataFrame, textCol: String,
      stripControls: Boolean = true): DataFrame = {
    val nfc = graft.functions.GraftFunctions.nfcNormalize(col(textCol))
    val cleaned =
      if (stripControls)
        regexp_replace(nfc, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
      else nfc
    docs.withColumn(textCol, cleaned)
  }

  /** Fixed-window token chunking with stride (the context-window
    * packing step between curation and sharding: every pretraining
    * pipeline cuts documents into model-window-sized sequences, with
    * overlap so no span is only ever seen split across a boundary).
    * Chunk `i` covers tokens `[i·stride, i·stride + window)`; starts
    * run `0, stride, 2·stride, …` while they fall inside the
    * document, so every token lands in at least one chunk and the
    * final chunk may be short — `n_tokens` is emitted per chunk so a
    * caller can drop tails below a minimum. `stride = window` is
    * non-overlapping; `stride < window` overlaps by `window - stride`
    * tokens.
    *
    * Pure per-row codegen (`transform`/`slice`/`array_join` over one
    * `sequence` of starts) + one `posexplode` — ZERO shuffle, and
    * therefore streaming-safe unchanged, same class as
    * [[repetitionScore]]/[[piiScrub]] (gated in CorpusStreamSpec).
    * Null-text docs emit no chunks (nothing to train on). A doc's
    * token count is `size(split(text, ' '))`, so an empty text is ONE
    * empty token and yields one empty chunk — identical in DuckDB's
    * `string_split`, which is what keeps the oracle exact. Returns
    * `(idCol, chunk_id INT, chunk_text STRING, n_tokens BIGINT)` with
    * `chunk_id` dense from 0 in document order.
    */
  def chunkTokens(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window $window")
    require(stride >= 1 && stride <= window,
      s"stride $stride not in [1, window=$window]")
    // Tokenize ONCE per row behind a projection boundary: the chunk
    // expression references the token array 2 + 2·chunks times per row
    // (sequence bound, slice + least per element), and with the split
    // inlined each reference re-split the text — the interpreted-HOF
    // re-evaluation trap (a CodegenFallback HOF evaluates a subtree
    // inlined into its lambda once per element). Because the
    // alias is non-cheap and multiply-referenced, CollapseProject keeps
    // the boundary, so `_graft_toks` materializes once per row
    // (verified in the q63 plan: split appears in its own Project).
    val toks = col("_graft_toks")
    val n = size(toks)
    // Integer `/` is DOUBLE division in Spark SQL; the cast truncates
    // toward zero, which equals floor here because n >= 1 (split never
    // returns an empty array for non-null text).
    val lastStart = ((n - lit(1)) / lit(stride)).cast("int")
    val chunks = transform(sequence(lit(0), lastStart), i =>
      struct(
        array_join(slice(toks, i * lit(stride) + 1, lit(window)), " ")
          .as("chunk_text"),
        least(lit(window), n - i * lit(stride)).cast("long")
          .as("n_tokens")))
    docs.where(col(textCol).isNotNull)
      .select(col(idCol), split(col(textCol), " ").as("_graft_toks"))
      .select(col(idCol), posexplode(chunks))
      .select(col(idCol), col("pos").cast("int").as("chunk_id"),
        col("col.chunk_text"), col("col.n_tokens"))
  }

  /** Saturation check for the Bloom prefilters of [[dedupAgainst]] (its
    * driver-built filter is one shard, bucket 0) and
    * [[dedupAgainstPartitioned]] (one per bucket); pure, so the spec can
    * pin the threshold without capturing stderr. Some(warning) when any
    * shard's realized fpp — `expectedFpp()` computed from the built
    * filter's bit density — exceeds 2× the request (far past sizing
    * noise): `sizing` (the option and its value) undersized the actual
    * history and the prefilter is degrading toward pass-through; `fix`
    * says which options to raise. Over several shards the warning names
    * the WORST bucket and counts the shards past the threshold: an
    * undersized build rarely saturates just one shard, and the count
    * says whether the sizing or the hash spread is at fault.
    */
  private[text] def saturationWarning(op: String,
      realized: Seq[(Long, Double)], requestedFpp: Double,
      sizing: String, fix: String): Option[String] = {
    val over = realized.filter(_._2 > requestedFpp * 2.0)
    if (over.isEmpty) None
    else {
      val (worstBucket, worstFpp) = over.maxBy(_._2)
      val where =
        if (realized.size == 1) "Bloom saturated —"
        else s"${over.size} of ${realized.size} Bloom shards saturated " +
          s"— worst bucket $worstBucket"
      Some(f"WARN $op: $where realized fpp $worstFpp%.4f vs requested " +
        f"$requestedFpp%.4f; $sizing undersizes the history (prefilter " +
        s"degrades toward pass-through; $fix)")
    }
  }

  /** Upper bound on [[dedupAgainst]]'s Bloom build partitions, and so
    * on the full-size partial filters `treeAggregate` ships. */
  private val MaxBloomBuildTasks = 64

  /** Incremental exact dedup of a new batch against the historical
    * corpus — the accretion step of a production training-data
    * pipeline: every crawl round re-fetches mostly already-ingested
    * pages, and they must be dropped before any downstream pass pays
    * for them. Keeps every `incoming` row whose `textCol` does NOT
    * occur in `historical`. Semantically that is a plain left-anti
    * join on the text; the 100 TB problem with stating it that way is
    * that the anti-join shuffles the ENTIRE batch against the ENTIRE
    * history every round. This runs the standard Bloom-prefilter
    * shape instead:
    *
    *  1. one pass over `historical` builds a Bloom filter of
    *     `xxhash64(textCol)` (a distributed `treeAggregate`; the
    *     driver holds the merged bits — `expectedItems`/`fpp` size
    *     them, ~1.2 GB per 10⁹ docs at 1% — and broadcasts them
    *     ONCE). The hash projection is `coalesce`d to at most 64
    *     partitions first (`MaxBloomBuildTasks`): `treeAggregate`
    *     ships one FULL-SIZE partial filter per input partition, so an
    *     unbounded build over a 2,400-task history scan would shuffle
    *     `numMapTasks × filterBytes` — hundreds of GB of partials for
    *     a filter the driver merges down to one. Coalesce is a narrow
    *     dependency (no shuffle of the rows), so bounding the build
    *     caps partial traffic at `64 × filterBytes` at the price of
    *     wider build tasks; the 8-byte hash projection keeps even a
    *     10⁹-row build task cheap;
    *  2. Bloom-NEGATIVE incoming rows are DEFINITELY new (Bloom
    *     filters have no false negatives): they bypass the join
    *     entirely as a pure map-side filter — zero shuffle for
    *     `1 - dup_rate - fpp` of the batch;
    *  3. only Bloom-POSITIVE rows (the true re-fetches plus ~`fpp` of
    *     the new) enter the exact left-anti confirm that strips the
    *     false positives, so the incoming side of the anti-join
    *     shuffle is `dup_rate + fpp` of the batch instead of 1.0. At
    *     cluster scale point `historical` at a text-bucketed index
    *     written with [[graft.Tables.sinkBucketed]] and the history
    *     side of the confirm ships zero Exchange too (the shuffle was
    *     paid once at ingest).
    *
    * The output is EXACTLY the anti-join's (answer parity is gated in
    * CorpusOpsSpec and RandomizedDifferentialSpec; the
    * one-anti-join-under-a-union plan shape in PlanSpec).
    *
    * `confirm = false` skips step 3 — the zero-join, zero-shuffle
    * Bloom-only mode (the CCNet/Dolma trade), and the only mode a
    * STREAMING `incoming` can run (enforced by `require`; the
    * filter-only plan is trivially streaming-safe, gated in
    * CorpusStreamSpec): ~`fpp` of genuinely-new rows are falsely
    * dropped, no duplicate ever survives. The filter is built once at
    * plan time from the historical snapshot; re-point the stream at a
    * refreshed filter between batch windows to pick up newer history.
    *
    * Null `textCol` rows are always kept — no content to match, and
    * SQL equality semantics agree (the oracle's `NOT EXISTS … h.text
    * = i.text` never matches a null). Duplicates WITHIN `incoming`
    * all survive together: within-batch dedup is
    * [[graft.ops.RelationalOps.exactDedup]]'s job, and fusing the two
    * would turn this op's map-side bypass into a shuffle. Returns
    * `incoming`'s surviving rows with their original schema.
    *
    * COST model: confirm mode's union has two branches (bypass,
    * confirm) that each contain the full `incoming` subtree, so the
    * batch is SCANNED twice — the deliberate trade for keeping
    * `1 - dup_rate - fpp` of it out of the anti-join SHUFFLE (a
    * columnar re-scan is cheap; a shuffle of the batch is not, and a
    * single-pass left-anti with the Bloom test in the join condition
    * would shuffle every row, since an anti-join cannot push a
    * left-only conjunct down). Persist `incoming` first if its scan
    * is genuinely expensive (e.g. a decoded/decompressed view).
    *
    * SIZING the Bloom: the merged bits live on the DRIVER and ship to
    * every executor — ~1.2 bytes per historical doc at 1% fpp, so
    * ~12 GB at 10¹⁰ docs is the practical ceiling (raise `fpp` to
    * trade bits for confirm-join traffic). An undersized
    * `expectedItems` saturates the filter and quietly degrades the
    * prefilter toward pass-through, so the build WARNS when the
    * realized `expectedFpp()` exceeds 2× the request.
    *
    * BEYOND the driver ceiling — [[dedupAgainstPartitioned]]: keep
    * the map-side bypass at ANY history size by sharding the filter
    * on the SAME key the bucketed history index already uses,
    * `xxhash64(text) pmod nBuckets`. Build pass: [[bloomShards]] —
    * repartition the 8-byte hash projection on the bucket id and
    * build exactly ONE filter per bucket inside its partition (no
    * partial-filter merge), landing a tiny side table
    * `(bucket_id, bloom binary)` of
    * `historyCount × 1.2 B / nBuckets` bytes per row, refreshed with
    * the history accretion batch. Probe pass: tag each incoming row
    * with `bucket_id = pmod(xxhash64(text), nBuckets)`, join the side
    * table on `bucket_id` — broadcast while the whole filter set fits
    * executor memory, else a shuffled equi-join in which each batch
    * row carries 8 bytes and meets exactly its one filter shard — and
    * test membership against the row's own shard; Bloom-negative rows
    * bypass the confirm anti-join exactly as today. No shard is ever
    * larger than `historyCount / nBuckets` entries, the driver never
    * holds any filter during the build, and the probe join's key is
    * the bucketed index's own key, so the confirm join that follows
    * stays Exchange-free on the history side.
    */
  def dedupAgainst(
      incoming: DataFrame, historical: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01,
      confirm: Boolean = true): DataFrame = {
    require(expectedItems > 0, s"expectedItems $expectedItems")
    require(fpp > 0.0 && fpp < 1.0, s"fpp $fpp not in (0,1)")
    require(!historical.isStreaming,
      "historical must be a batch snapshot (the Bloom side is built " +
        "by an action at plan time)")
    require(!incoming.isStreaming || !confirm,
      "streaming dedupAgainst is Bloom-only: pass confirm = false")
    // This operator PRESERVES the caller's schema (unlike the
    // select()-projecting ops above), so its two internal names — the
    // staged hash column and the renamed history join key — must not
    // collide with real caller columns: the hash column would be
    // silently replaced-then-dropped, the join key would surface as a
    // confusing ambiguity error deep in the plan. Spark resolves
    // column names case-INsensitively by default, so the guard must
    // too — and it runs BEFORE the Bloom build, so a colliding caller
    // fails free instead of after a full history scan.
    val bh = "_graft_dedup_bh"
    val ht = "_graft_dedup_ht"
    Seq(bh, ht).foreach { n =>
      require(!incoming.columns.exists(_.equalsIgnoreCase(n)),
        s"incoming already has a $n column")
    }
    // Bounded-partials build (see the scaladoc's step 1): coalesce the
    // narrow hash projection so treeAggregate's per-partition partial
    // filters number at most MaxBloomBuildTasks, whatever the history
    // scan's task count. A no-op (and plan-free) when the scan already
    // has fewer partitions.
    val bloom = historical
      .where(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("_h"))
      .coalesce(MaxBloomBuildTasks)
      .stat.bloomFilter("_h", expectedItems, fpp)
    // No silent caps: an `expectedItems` far below the real history
    // count saturates the filter, the prefilter degrades toward
    // pass-through, and the confirm join quietly shuffles most of the
    // batch. expectedFpp() is computed from the realized bit density,
    // so it surfaces exactly that saturation — warn loudly (2× the
    // request is far past sizing noise) instead of degrading quietly.
    saturationWarning("dedupAgainst", Seq(0L -> bloom.expectedFpp()), fpp,
      s"expectedItems $expectedItems", "raise expectedItems")
      .foreach(Console.err.println)
    // Codegen'd membership test (graft.functions.BloomMightContain) —
    // replaced the last hot-path Scala UDF: the filter bits ride the
    // per-stage task binary (broadcast once per stage, the same wire
    // cost as the Broadcast variable the UDF closed over) and the test
    // stays inside the whole-stage-codegen span of the prefilter scan.
    val bloomBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = (h: Column) =>
      graft.functions.GraftFunctions.bloomMightContain(bloomBytes, h)
    val hashed = incoming.withColumn(bh, xxhash64(col(textCol)))
    val definitelyNew = hashed
      .where(col(textCol).isNull || !mightContain(col(bh)))
      .drop(bh)
    if (!confirm) definitelyNew
    else {
      val suspects = hashed
        .where(col(textCol).isNotNull && mightContain(col(bh)))
        .drop(bh)
      // The right side carries ONLY the renamed text key, so the join
      // key is unambiguous even when incoming and historical share
      // lineage (the q62 re-crawl demo splits one table).
      definitelyNew.unionByName(suspects.join(
        historical.select(col(textCol).as(ht)),
        col(textCol) === col(ht), "left_anti"))
    }
  }

  /** The sharded-Bloom BUILD: one filter per live history bucket,
    * with NO partial-filter merge anywhere in the plan.
    *
    * Why not `groupBy(bucket).agg(bloomUdaf)`? That plans a
    * partial/final ObjectHashAggregate, and the PARTIAL side emits one
    * full-size filter per live bucket per map task into the Exchange —
    * shuffle volume ∝ `numMapTasks × filterBytes`, invisible at 32
    * fixture partitions and catastrophic at the history sizes the
    * sharded mode exists for (a 10⁸-doc history ≈ 2,400 scan tasks ×
    * 120 MB filter ≈ 290 GB of partials for ~300 GB of input; at 10⁹
    * docs the partials are ~10× the input). Instead: project the
    * 8-byte hash, `repartition(nBuckets, bucket)` — the shuffle
    * carries 16 bytes × rows, three orders of magnitude less — and
    * build each bucket's ONE filter inside its partition in a single
    * pass. Hash partitioning co-locates every row of a bucket in
    * exactly one partition, so exactly one `(bucket, filter)` row per
    * live bucket reaches the probe join (a bucket emitting twice would
    * duplicate probe rows — gated by the ShardedBloomSpec equality
    * suite and the shuffle-bytes gate). A partition may hold several
    * buckets (hash partitioning of nBuckets keys into nBuckets
    * partitions is not a bijection); the per-partition map holds just
    * those buckets' filters — ≤ a few × `expectedItemsPerBucket ×
    * 1.2 B` — not the whole filter set.
    */
  private[text] def bloomShards(historical: DataFrame, textCol: String,
      nBuckets: Int, expectedItemsPerBucket: Long, fpp: Double,
      bucketColName: String, filterColName: String): DataFrame = {
    val session = historical.sparkSession
    import session.implicits._
    historical
      .where(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("_h"))
      .select(pmod(col("_h"), lit(nBuckets.toLong)).as("_1"),
        col("_h").as("_2"))
      .repartition(nBuckets, col("_1"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val filters = scala.collection.mutable.LongMap
          .empty[org.apache.spark.util.sketch.BloomFilter]
        it.foreach { case (b, h) =>
          filters.getOrElseUpdate(b,
            org.apache.spark.util.sketch.BloomFilter
              .create(expectedItemsPerBucket, fpp)).putLong(h)
        }
        filters.iterator.map { case (b, bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (b, bos.toByteArray)
        }
      }
      .toDF(bucketColName, filterColName)
  }

  /** [[dedupAgainst]] past the driver-Bloom ceiling: the sharded design
    * the driver-merged mode's scaladoc records, IMPLEMENTED. The filter
    * is built per history BUCKET — `pmod(xxhash64(text), nBuckets)`,
    * the bucketed history index's own key — by [[bloomShards]]:
    * repartition the 8-byte hash projection on the bucket id, then
    * build exactly ONE filter per bucket inside its partition, with NO
    * partial-filter merge (see [[bloomShards]] for why a
    * `groupBy(bucket).agg(udaf)` build is a scale-killer), landing a
    * `(bucket, filter)` side frame of
    * `nBuckets × ~1.2 B × expectedItemsPerBucket` total; the DRIVER
    * never merges the filters, so history size stops being bounded by
    * driver memory. Each incoming row is tagged with its bucket id and
    * meets exactly its own shard through an equi-join — broadcast while
    * the side frame fits the threshold, else one shuffle of the batch
    * by an 8-byte key — and the membership test is the codegen'd
    * [[graft.functions.ShardedBloomMightContain]] with an
    * executor-local cache of deserialized shards. Bloom-NEGATIVE rows
    * (including rows whose bucket holds no history at all — the probe
    * join finds no bucket row and the null coalesces to "definitely
    * new") bypass the confirm anti-join exactly as in the driver-Bloom
    * mode; the confirm is the same exact left-anti, Exchange-free on
    * the history side against the bucketed index.
    *
    * Same semantics as [[dedupAgainst]] in every mode: null-text rows
    * always survive, within-batch duplicates all survive together,
    * `confirm = false` is the Bloom-only CCNet trade (~fpp of new rows
    * falsely dropped, never a surviving duplicate, and the only mode a
    * streaming `incoming` could run — though the stream-static probe
    * join makes the batch [[dedupAgainst]] the better streaming choice
    * today, so streaming input is refused here).
    *
    * Sizing: `expectedItemsPerBucket` ≈ historyCount / nBuckets. Same
    * no-silent-caps contract as the driver mode, always on: the build is
    * materialized at call time (one job), one typed pass computes each
    * shard's realized `expectedFpp()` on the executors and brings only
    * `(bucket, fpp)` doubles to the driver, and shards past 2× the
    * request are counted in a warning that names the worst bucket.
    * Undersized shards degrade toward pass-through; `confirm = true`
    * stays exact. The build is cached for that check only: kept, it
    * would save the returned plan's rebuild but leak one CacheManager
    * entry per call, so every call pays the build twice.
    */
  def dedupAgainstPartitioned(
      incoming: DataFrame, historical: DataFrame, textCol: String,
      nBuckets: Int, expectedItemsPerBucket: Long, fpp: Double = 0.01,
      confirm: Boolean = true): DataFrame = {
    require(nBuckets >= 1, s"nBuckets $nBuckets")
    require(expectedItemsPerBucket > 0,
      s"expectedItemsPerBucket $expectedItemsPerBucket")
    require(fpp > 0.0 && fpp < 1.0, s"fpp $fpp not in (0,1)")
    require(!historical.isStreaming && !incoming.isStreaming,
      "dedupAgainstPartitioned is a batch operator (use dedupAgainst " +
        "confirm=false for streaming input)")
    val bh = "_graft_dedup_bh"
    val bb = "_graft_dedup_bucket"
    val sb = "_graft_dedup_sbucket"
    val sf = "_graft_dedup_sbloom"
    val ht = "_graft_dedup_ht"
    Seq(bh, bb, sb, sf, ht).foreach { n =>
      require(!incoming.columns.exists(_.equalsIgnoreCase(n)),
        s"incoming already has a $n column")
    }
    def antiJoin(left: DataFrame): DataFrame = left.join(
      historical.select(col(textCol).as(ht)),
      col(textCol) === col(ht), "left_anti")
    val shards = bloomShards(historical, textCol, nBuckets,
      expectedItemsPerBucket, fpp, sb, sf)
    // Saturation check: the build is cached for this pass only (see
    // the scaladoc for why it is not kept for the returned plan).
    shards.persist()
    val checkStart = System.nanoTime()
    try {
      val session = historical.sparkSession
      import session.implicits._
      // Typed map, not a UDF: expectedFpp() needs the deserialized
      // filter, which stays on the executor that holds the shard —
      // only (bucket, fpp) pairs come back.
      val realized = shards.select(col(sb), col(sf))
        .as[(Long, Array[Byte])]
        .map { case (b, bytes) =>
          (b, org.apache.spark.util.sketch.BloomFilter
            .readFrom(bytes).expectedFpp())
        }
        .collect().toSeq
      saturationWarning("dedupAgainstPartitioned", realized, fpp,
        s"expectedItemsPerBucket $expectedItemsPerBucket",
        "raise expectedItemsPerBucket or nBuckets")
        .foreach(Console.err.println)
    } finally {
      shards.unpersist(blocking = false)
      Console.err.println(f"INFO dedupAgainstPartitioned: shard fpp " +
        f"check took ${(System.nanoTime() - checkStart) / 1e9}%.2f s " +
        "(one extra history scan)")
    }
    val hashed = incoming
      .withColumn(bh, xxhash64(col(textCol)))
      .withColumn(bb, pmod(col(bh), lit(nBuckets.toLong)))
    val probed = hashed.join(shards, col(bb) === col(sb), "left_outer")
    // Null hash (null text) and null filter (empty bucket) both
    // coalesce to false: definitely new.
    val might = coalesce(
      graft.functions.GraftFunctions.shardedBloomMightContain(
        col(bb), col(sf), col(bh)),
      lit(false))
    val aux = Seq(bh, bb, sb, sf)
    val definitelyNew = probed.where(!might).drop(aux: _*)
    if (!confirm) definitelyNew
    else {
      val suspects = probed.where(might).drop(aux: _*)
      definitelyNew.unionByName(antiJoin(suspects))
    }
  }
}
