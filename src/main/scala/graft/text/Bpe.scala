package graft.text

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Subword BPE tokenization (Sennrich et al. 2016) — the trainer-prep
  * operator q69's whitespace vocabulary stops short of: learn a merge
  * table from the corpus, then encode documents into subword pieces.
  * Harness extension (the reference has no tokenizer surface).
  *
  * '''Grain.''' Words are whitespace tokens; symbols start as the
  * word's codepoints (`split(w, "")` — an empty word is ONE empty
  * symbol, the corpus family's empty-token grain) and merges never
  * cross a word boundary. One merge step is one LEFT-TO-RIGHT greedy
  * pass: adjacent pair `(l, r)` collapses to `l+r`, and the collapsed
  * symbol immediately becomes the left operand at the next position
  * (`a a a a` → `aa aa` under `(a, a)`), the classic semantics —
  * stated identically by [[graft.functions.BpeEncode]] (compiled
  * per-row encode), [[mergePassCol]] (the higher-order-function column
  * twin the learner's rewrite uses), and the DuckDB oracle's
  * `list_reduce` chain (q73/q74); BpeSpec pins them bit-equal.
  *
  * '''Scale shape.''' Learning runs on the DISTINCT-WORD table — one
  * `(word, count)` aggregation of the corpus (map-side partial, the
  * only pass that ever sees the text), after which every iteration
  * touches vocabulary-sized data only: one narrow
  * `(pair, weighted count)` partial aggregation + a 1-row
  * TakeOrdered collect for the argmax (count DESC, pair ASC — the
  * deterministic q69/q70 tie-break), and one per-row symbol rewrite.
  * The evolving word table is `localCheckpoint`ed each iteration so
  * the plan stays ONE rewrite deep instead of K (on a multi-tenant
  * cluster prefer `spark.sparkContext.setCheckpointDir` + reliable
  * checkpoints every ~20 iterations; the table is vocabulary-sized
  * either way, megabytes at web scale). Words reduced to one symbol
  * can never merge again and are pruned as they appear. The driver
  * holds K merge rows and a 1-row argmax per iteration — never the
  * corpus, never the vocabulary.
  *
  * Encoding is pure per-row compute: the merge table compiles into a
  * single codegen'd expression ([[graft.functions.BpeEncode]]) — zero
  * shuffle, zero join, streaming-safe unchanged, and the document text
  * never enters any exchange (plan-gated in BpeSpec).
  */
object Bpe {

  /** One learned merge: rank is 1-based application order. */
  final case class Merge(rank: Int, l: String, r: String, pairCount: Long)

  /** One left-to-right greedy merge pass of `(l, r)` over a symbol
    * array, as a pure column program (higher-order `aggregate` — no
    * UDF): the learner's rewrite and the spec-level twin of
    * [[graft.functions.BpeEncode]]'s compiled pass.
    */
  def mergePassCol(syms: Column, l: Column, r: Column): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(syms, array().cast("array<string>"),
        (acc, x) => when(size(acc) > 0 &&
            element_at(acc, -1) === l && x === r,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(element_at(acc, -1), x))))
          .otherwise(concat(acc, array(x)))))

  /** Learn `numMerges` BPE merges from the corpus. Stops early when no
    * remaining adjacent pair reaches `minPairCount` (total occurrences
    * across the corpus, weighted by word frequency). Deterministic: the
    * argmax tie-break is (count DESC, l ASC, r ASC) under UTF-8 binary
    * string order (Spark's string ordering).
    *
    * '''Two kernels, one answer (bit-equality gated in BpeSpec).'''
    * The corpus-sized `(word, count)` aggregation always runs
    * distributed. The merge LOOP is latency-bound, not data-bound —
    * every iteration touches vocabulary-sized data only, and the
    * distributed loop pays two driver-coordinated Spark jobs per merge
    * (argmax + checkpoint materialization): at a production 32k-merge
    * table that is ~64k sequential job launches over a megabytes-sized
    * table, hours of scheduling latency for seconds of compute. So when
    * the multi-symbol word table fits under `driverVocabCap` rows
    * (one bounded read, [[graft.ops.collectAtMost]]), the loop runs
    * in-process on the driver with incremental pair-count maintenance.
    * Driver memory budget ≈ the word strings + one int per symbol
    * position in the pair→words index — roughly 100 bytes per position;
    * the 2M-row default caps that well under a gigabyte. Over the cap it
    * falls back LOUDLY (log + PhaseLog note) to the distributed loop,
    * which releases each iteration's superseded localCheckpoint blocks
    * EXPLICITLY (GC-timed release lets blocks pile up in a long-lived
    * JVM).
    */
  def learnBpe(docs: DataFrame, textCol: String, numMerges: Int,
      minPairCount: Long = 2L,
      driverVocabCap: Long = 2000000L,
      noteLabel: String = "learn"): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges $numMerges")
    require(minPairCount >= 1L, s"minPairCount $minPairCount")
    // The corpus-sized pass: distinct words + counts, materialized as
    // ONE eager localCheckpoint so BOTH kernels pay exactly one pass
    // over the text. Single-symbol words can never merge — pruned here
    // (length() counts codepoints, the symbol grain) and per rewrite.
    val wordCounts = docs
      .where(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_n"))
      .where(length(col("_w")) >= 2)
      .localCheckpoint()
    // Keyed per call site (the cc_kernel discipline): q73/q74/q76 all
    // learn in one bench run, and a shared key would surface only the
    // last writer's kernel choice in the notes.
    def note(v: String): Unit =
      graft.pipeline.PhaseLog.note(s"bpe_learn_kernel.$noteLabel", v)
    if (driverVocabCap > 0) {
      graft.ops.collectAtMost(wordCounts, driverVocabCap) match {
        case Some(vocab) =>
          note(s"driver-local (${vocab.length} words, cap $driverVocabCap)")
          releaseLocalCheckpoint(wordCounts)
          return learnDriver(vocab.map(r => (r.getString(0), r.getLong(1))),
            numMerges, minPairCount)
        case None =>
      }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"learnBpe: > $driverVocabCap multi-symbol words — falling " +
          "back to the distributed merge loop (2 jobs per merge); " +
          "raise driverVocabCap if the driver has the memory")
      note(s"distributed (over cap $driverVocabCap)")
    }
    // Lazy projection over the checkpointed word table — the first
    // iteration re-splits from the (vocabulary-sized) checkpoint; the
    // first rewrite's own localCheckpoint then supersedes it and
    // releaseLocalCheckpoint(words) below frees the word-table blocks
    // through the projection's plan.
    var words = wordCounts
      .select(split(col("_w"), "").as("_syms"), col("_n"))
    val out = ArrayBuffer.empty[Merge]
    var k = 1
    var done = false
    while (k <= numMerges && !done) {
      val best = words
        .select(explode(transform(
          sequence(lit(1), size(col("_syms")) - 1),
          i => struct(element_at(col("_syms"), i).as("_l"),
            element_at(col("_syms"), i + 1).as("_r")))).as("_p"),
          col("_n"))
        .groupBy(col("_p._l").as("_l"), col("_p._r").as("_r"))
        .agg(sum(col("_n")).as("_t"))
        .orderBy(col("_t").desc, col("_l"), col("_r"))
        .limit(1)
        .collect()
      if (best.isEmpty || best(0).getLong(2) < minPairCount) done = true
      else {
        val (l, r) = (best(0).getString(0), best(0).getString(1))
        out += Merge(k, l, r, best(0).getLong(2))
        // The new checkpoint is materialized eagerly by localCheckpoint
        // itself; the superseded iteration's blocks are then released
        // EXPLICITLY (ContextCleaner-on-GC alone lets blocks accumulate
        // when block creation outruns GC — a 32k-iteration loop can
        // outrun it; measured precedent in blocking/Predicates.scala's
        // r17 scaladoc). The live set is ~one vocabulary-sized table.
        val next = words
          .select(mergePassCol(col("_syms"), lit(l), lit(r)).as("_syms"),
            col("_n"))
          .where(size(col("_syms")) >= 2)
          .localCheckpoint()
        releaseLocalCheckpoint(words)
        words = next
        k += 1
      }
    }
    releaseLocalCheckpoint(words)
    out.toSeq
  }

  /** Unpersist the checkpointed RDD blocks behind a
    * `localCheckpoint()`ed frame (Dataset.unpersist only touches
    * CacheManager entries, not RDD-level storage). No-op for frames
    * that are not local checkpoints.
    */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  /** UTF-8 binary string comparison — Spark's string ordering (the
    * distributed argmax's `orderBy(_l, _r)`), which DIFFERS from Java's
    * UTF-16 `String.compareTo` for supplementary codepoints (e.g.
    * U+FFFF sorts BELOW U+10000 in UTF-8 bytes but above it in UTF-16
    * code units) — the driver loop must tie-break identically.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** In-process merge loop over the collected `(word, count)` table —
    * bit-identical to the distributed loop (gated in BpeSpec): same
    * symbol grain ([[graft.functions.BpeEncode.splitCodepoints]], the
    * compiled encode's), same greedy pass
    * ([[graft.functions.BpeEncode.mergePass]]), same
    * (count DESC, l ASC, r ASC) argmax under UTF-8 binary order.
    *
    * Incremental bookkeeping (the classic Sennrich learn_bpe shape):
    * a TreeSet argmax over live pair counts plus a pair → word-indices
    * index, so each merge revisits only the words that CONTAIN the
    * pair instead of rescanning the vocabulary. The index is
    * append-only and may carry stale/duplicate entries; a visit whose
    * greedy pass changes nothing (mergePass returns the input array
    * reference) applies a zero delta, so staleness costs a no-op, not
    * correctness.
    */
  private def learnDriver(rows: Array[(String, Long)], numMerges: Int,
      minPairCount: Long): Seq[Merge] = {
    import scala.collection.mutable
    val nW = rows.length
    val syms = new Array[Array[String]](nW)
    val cnt = new Array[Long](nW)
    var i = 0
    while (i < nW) {
      syms(i) = graft.functions.BpeEncode.splitCodepoints(rows(i)._1)
      cnt(i) = rows(i)._2
      i += 1
    }
    // Argmax order: count DESC, then (l, r) ASC in UTF-8 bytes.
    implicit val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String),
            b: (Long, String, String)): Int = {
          if (a._1 != b._1) java.lang.Long.compare(b._1, a._1)
          else {
            val c = utf8Compare(a._2, b._2)
            if (c != 0) c else utf8Compare(a._3, b._3)
          }
        }
      }
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String),
      mutable.ArrayBuffer[Int]]
    val tree = mutable.TreeSet.empty[(Long, String, String)]
    def bump(p: (String, String), delta: Long, word: Int): Unit = {
      if (delta == 0L) return
      val c0 = pairCount.getOrElse(p, 0L)
      if (c0 > 0L) tree.remove((c0, p._1, p._2))
      val c1 = c0 + delta
      if (c1 > 0L) {
        pairCount(p) = c1
        tree.add((c1, p._1, p._2))
        if (delta > 0L && word >= 0)
          pairWords.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int]) +=
            word
      } else pairCount.remove(p)
      ()
    }
    /** Adjacent-pair occurrence multiset of one symbol array. */
    def occs(s: Array[String]): mutable.HashMap[(String, String), Int] = {
      val m = mutable.HashMap.empty[(String, String), Int]
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        m.update(p, m.getOrElse(p, 0) + 1)
        j += 1
      }
      m
    }
    i = 0
    while (i < nW) {
      val w = i
      occs(syms(i)).foreach { case (p, o) => bump(p, o.toLong * cnt(w), w) }
      i += 1
    }
    val out = ArrayBuffer.empty[Merge]
    var k = 1
    var done = false
    while (k <= numMerges && !done) {
      if (tree.isEmpty || tree.head._1 < minPairCount) done = true
      else {
        val (c, l, r) = tree.head
        out += Merge(k, l, r, c)
        val lr = l + r
        val affected = pairWords.getOrElse((l, r),
          mutable.ArrayBuffer.empty[Int])
        pairWords.remove((l, r))
        affected.foreach { w =>
          val before = syms(w)
          val after = graft.functions.BpeEncode.mergePass(before, l, r, lr)
          if (!(after eq before)) {
            val ob = occs(before)
            val oa = occs(after)
            (ob.keySet ++ oa.keySet).foreach { p =>
              bump(p,
                (oa.getOrElse(p, 0) - ob.getOrElse(p, 0)).toLong * cnt(w),
                w)
            }
            syms(w) = after
          }
        }
        k += 1
      }
    }
    out.toSeq
  }

  /** The learned merge table as a (driver-local, K-row) DataFrame,
    * q73's output: `(merge_rank INT, lhs, rhs, pair_count BIGINT)` in
    * application order.
    */
  def mergesToDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.l, m.r, m.pairCount))
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Encode documents into BPE pieces with a fixed merge table:
    * `(idCol, pieces ARRAY<STRING>, n_pieces BIGINT)`. Pieces are the
    * per-word symbol arrays flattened in word order (merges never
    * cross word boundaries). Pure per-row compute — the merge table
    * compiles into one codegen'd expression per word, zero shuffle,
    * streaming-safe unchanged. Docs with a null id or null text are
    * excluded; an empty text is one empty word → one empty piece (the
    * family grain).
    */
  def encodeBpe(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String, textCol: String): DataFrame = {
    require(merges.nonEmpty, "empty merge table — encode is split(text)")
    docs
      .where(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol),
        flatten(transform(split(col(textCol), " "),
          w => graft.functions.GraftFunctions.bpeEncode(w, merges)))
          .as("pieces"))
      .select(col(idCol), col("pieces"),
        size(col("pieces")).cast("long").as("n_pieces"))
  }
}
