package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-scale deduplication operators for training-data pipelines
  * (harness extension beyond the reference's person-dedup surface; the
  * reference's exact pre-merge at pgdedupe/run.py:91-99 is the pattern all
  * of these generalize).
  *
  * The corpus-wide steps are pure column expressions, bucket lists and
  * equi-joins (scale by shuffle); the per-document signature
  * computations (shingle sets, MinHash, SimHash) are fused primitive-loop
  * UDFs — each op's scaladoc records why that beats the expression form
  * it replaced.
  *
  * Persist lifecycle: `jaccardVerify` and `simHashCandidates` each cache
  * an internal frontier that their plan reads twice (the shingle sets,
  * the fingerprints); `minHashCandidates` reads its signatures once, into
  * the bucket lists of the `RelationalOps` kernel, and caches none. A
  * frontier is materialized, consumed, and UNPERSISTED before the
  * function returns — no internal block outlives the call. What the
  * caller of any of the three receives is the (small) result frame,
  * persisted MEMORY_AND_DISK so downstream actions don't recompute the
  * whole pipeline; call `.unpersist()` on it when done (one handle
  * releases everything). A caller that returns a PROJECTION of a sealed
  * result seals that projection in turn ([[sealResult]] with the sealed
  * frames as its frontiers): unpersisting a projection frees nothing,
  * so its own caller's release would leak the frames under it.
  */
object TextDedup {

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** The tokenizer of every fused UDF in this file — as Strings here,
    * as UTF-8 byte slices in [[Tokens]] — with the same output as the
    * codegen'd `TextAnalysis.tokens` (trim on `^\s+|\s+$`, split on
    * `\s+`): batch/streaming/oracle parity of the whole signature family
    * hangs on that equality.
    *
    * It is a char scan, not the regexes: the tokens are the maximal runs
    * of characters outside Java's default `\s` (`[ \t\n\x0B\f\r]`),
    * cut with `substring`. That IS what the regexes give, since the trim
    * strips the leading and trailing `\s` runs and the split then cuts
    * at every inner one — with one exception: without MULTILINE, `$` also
    * matches before a final U+0085, U+2028 or U+2029, three line
    * terminators that are not `\s`, so `"a <U+0085>"` trims to the one
    * token `"a<U+0085>"`. A text holding any of the three takes the
    * regexes ([[regexTokens]]); every other text takes the scan, which
    * costs one pass and the token strings where the regexes cost a
    * matcher, a trimmed copy and a split.
    */
  private[dedup] def tokenize(t: String): Array[String] = {
    val toks = new java.util.ArrayList[String]
    var start = -1 // the current token's first char, -1 between tokens
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (isRegexOnlyTerminator(c)) return regexTokens(t)
      if (isWs(c)) {
        if (start >= 0) { toks.add(t.substring(start, i)); start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) toks.add(t.substring(start))
    toks.toArray(new Array[String](toks.size))
  }

  /** Whether `t` has at least `k` [[tokenize]] tokens: the same scan,
    * stopping at the k-th token start. Stopping early is exact even when
    * a regex-only terminator follows: the regexes differ from the scan
    * only by merging a FINAL terminator into the token before it, so k
    * tokens that start before any terminator stay k tokens.
    */
  private def hasAtLeastTokens(t: String, k: Int): Boolean = {
    var n = 0
    var inToken = false
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      if (isRegexOnlyTerminator(c)) return regexTokens(t).length >= k
      if (isWs(c)) inToken = false
      else if (!inToken) {
        inToken = true
        n += 1
        if (n >= k) return true
      }
      i += 1
    }
    n >= k
  }

  /** Input-side precondition column: non-null `text` with at least `k`
    * tokens — `coalesce(size(TextAnalysis.tokens(text)) >= k, false)`
    * without the regex trim and split. Named, so a plan shows it apart
    * from the signature UDF it guards.
    */
  private[dedup] def atLeastTokens(text: Column, k: Int): Column =
    udf((t: String) => t != null && hasAtLeastTokens(t, k))
      .withName("atLeastTokens")(text)

  /** Java's default `\s`: space, or a char in `\t`..`\r`. */
  private def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  private def isRegexOnlyTerminator(c: Char): Boolean =
    c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** The regex tokenizer, kept for texts with a regex-only terminator.
    * Patterns are compiled once per JVM (object fields), not once per
    * row as `String.replaceAll`/`split` would.
    */
  private val TrimRe = java.util.regex.Pattern.compile("^\\s+|\\s+$")
  private val WsRe = java.util.regex.Pattern.compile("\\s+")
  private def regexTokens(t: String): Array[String] = {
    val trimmed = TrimRe.matcher(t).replaceAll("")
    if (trimmed.isEmpty) Array.empty else WsRe.split(trimmed)
  }

  /** Per-thread MD5 instance: MessageDigest is neither thread-safe nor
    * serializable, and `getInstance` per ROW is a provider lookup in
    * the hottest loops this file has. ThreadLocal on the object gives
    * each executor task thread one reusable instance (digest() resets
    * it) with no serialization crossing.
    */
  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** A text's [[tokenize]] tokens as UTF-8 bytes, for the byte kernels of
    * [[minHashSignature]] and [[jaccardVerify]]: the text is encoded once
    * and its tokens are compacted in place, one `' '` apart, so shingle
    * `i` of `k` tokens is the slice `bytes(start(i) until shingleEnd(i, k))`
    * — byte for byte the UTF-8 of the tokens joined by `' '`. Scanning
    * bytes for the ASCII `\s` gives the same tokens as scanning chars:
    * those bytes never occur inside a multi-byte UTF-8 sequence, and a
    * surrogate pair never straddles a separator. A text
    * holding a regex-only terminator is first re-joined from
    * [[regexTokens]] (whose tokens hold no ASCII `\s`), so the scan cuts
    * it there. One instance per task thread ([[TokensLocal]]); `load`
    * reuses its arrays.
    */
  private final class Tokens {
    var bytes: Array[Byte] = Array.emptyByteArray
    var len = 0 // compacted length of `bytes`
    var n = 0 // token count
    private var starts = new Array[Int](64)
    val digest = new Array[Byte](16)
    private var order = new Array[Int](64)
    private var tmp = new Array[Int](64)

    def load(t: String): this.type = {
      val src =
        if (t.indexOf('\u0085') >= 0 || t.indexOf('\u2028') >= 0 ||
            t.indexOf('\u2029') >= 0) regexTokens(t).mkString(" ")
        else t
      bytes = src.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      n = 0
      len = 0
      var inToken = false
      var i = 0
      while (i < bytes.length) {
        val c = bytes(i)
        if (c == ' ' || (c >= '\t' && c <= '\r')) inToken = false
        else {
          if (!inToken) {
            inToken = true
            if (n > 0) { bytes(len) = ' '; len += 1 }
            if (n == starts.length)
              starts = java.util.Arrays.copyOf(starts, 2 * n)
            starts(n) = len
            n += 1
          }
          bytes(len) = c
          len += 1
        }
        i += 1
      }
      this
    }

    def start(i: Int): Int = starts(i)
    def end(i: Int): Int = if (i + 1 < n) starts(i + 1) - 1 else len
    /** The end of the shingle of `k` tokens that starts at token `i`. */
    def shingleEnd(i: Int, k: Int): Int = end(i + k - 1)

    /** The distinct shingles of `k` tokens, sorted unsigned-
      * lexicographically and joined by `'\n'` (which no token holds);
      * empty for fewer than `k` tokens.
      */
    def shingleSet(k: Int): Array[Byte] = {
      val m = n - k + 1
      if (m <= 0) return Array.emptyByteArray
      if (order.length < m) {
        order = new Array[Int](m)
        tmp = new Array[Int](m)
      }
      var i = 0
      while (i < m) { order(i) = i; i += 1 }
      sortShingles(k, 0, m)
      // Keep the first of each run of equal shingles, and size the output.
      var u = 0
      var size = -1 // u shingles take u - 1 separators
      i = 0
      while (i < m) {
        val s = order(i)
        if (u == 0 || compare(order(u - 1), s, k) != 0) {
          order(u) = s
          u += 1
          size += shingleEnd(s, k) - start(s) + 1
        }
        i += 1
      }
      val out = new Array[Byte](size)
      var o = 0
      i = 0
      while (i < u) {
        if (i > 0) { out(o) = '\n'; o += 1 }
        val s = order(i)
        val l = shingleEnd(s, k) - start(s)
        System.arraycopy(bytes, start(s), out, o, l)
        o += l
        i += 1
      }
      out
    }

    private def compare(a: Int, b: Int, k: Int): Int =
      java.util.Arrays.compareUnsigned(bytes, start(a), shingleEnd(a, k),
        bytes, start(b), shingleEnd(b, k))

    /** Merge sort of `order(lo until hi)` by shingle bytes. */
    private def sortShingles(k: Int, lo: Int, hi: Int): Unit =
      if (hi - lo > 1) {
        val mid = (lo + hi) >>> 1
        sortShingles(k, lo, mid)
        sortShingles(k, mid, hi)
        System.arraycopy(order, lo, tmp, lo, hi - lo)
        var i = lo
        var j = mid
        var o = lo
        while (o < hi) {
          if (j >= hi || (i < mid && compare(tmp(i), tmp(j), k) <= 0)) {
            order(o) = tmp(i); i += 1
          } else { order(o) = tmp(j); j += 1 }
          o += 1
        }
      }
  }

  private val TokensLocal = new ThreadLocal[Tokens] {
    override def initialValue(): Tokens = new Tokens
  }

  /** [[Tokens.shingleSet]] of `t` (null → empty): the per-document side
    * of [[jaccardVerify]].
    */
  private[dedup] def shingleSet(t: String, k: Int): Array[Byte] =
    if (t == null) Array.emptyByteArray
    else TokensLocal.get().load(t).shingleSet(k)

  /** |A∩B| / max(|A∪B|, 1) of two [[shingleSet]]s, by one merge over
    * the two sorted byte strings: the set sizes are their shingle
    * counts, and |A∪B| = |A| + |B| − |A∩B|. |A∪B| is 0 only for two
    * empty sets (short texts CAN be candidates — identical two-token
    * docs share a SimHash), where |A∩B| is 0 too, so that pair scores 0.
    */
  private[dedup] def jaccard(a: Array[Byte], b: Array[Byte]): Double = {
    def next(x: Array[Byte], from: Int): Int = {
      var e = from
      while (e < x.length && x(e) != '\n') e += 1
      e
    }
    var na, nb, inter = 0
    var i, j = 0
    var ea = next(a, 0)
    var eb = next(b, 0)
    while (i < a.length && j < b.length) {
      val c = java.util.Arrays.compareUnsigned(a, i, ea, b, j, eb)
      if (c == 0) inter += 1
      if (c <= 0) { na += 1; i = ea + 1; ea = next(a, i) }
      if (c >= 0) { nb += 1; j = eb + 1; eb = next(b, j) }
    }
    while (i < a.length) { na += 1; i = ea + 1; ea = next(a, i) }
    while (j < b.length) { nb += 1; j = eb + 1; eb = next(b, j) }
    inter.toDouble / math.max(na + nb - inter, 1)
  }

  /** Materialize `result` (persisted) while `frontiers` are still cached,
    * then release the frontiers. The returned frame is the ONLY block
    * left pinned, and it is the caller's handle.
    */
  private[graft] def sealResult(result: DataFrame,
      frontiers: DataFrame*): DataFrame = {
    val out = result.persist(Disk)
    // Materialize now, while the frontiers are cached: one job, where
    // `Dataset.count` runs its final aggregate as a second one.
    graft.ops.countRows(out)
    frontiers.foreach(_.unpersist(false))
    out
  }

  /** Exact dedup by content hash (md5 over the text column): keeps the
    * minimum doc_id per identical text. One hash-aggregation shuffle;
    * at 100 TB hash first so the shuffle carries 32-byte digests, not
    * document bodies.
    */
  def exactByHash(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // Null IDS are dropped (module policy — domainCap, the candidate
    // streams, and CC do the same): min/collect_list would skip them
    // while count counted them, yielding groups whose dup_count
    // disagrees with member_ids, or an all-null group with a NULL
    // canonical_id as a downstream merge key.
    val src = docs.where(col(idCol).isNotNull)
      .select(md5(col(textCol)).as("content_hash"), col(idCol))
    // null text is NOT "identical text": md5(null) is null and groupBy
    // treats null as an ordinary key, so every null-text document
    // collapsed into ONE bogus duplicate cluster — at scale, dedup
    // would then drop all but one of millions of empty documents. Null
    // texts pass through as singletons instead.
    val hashed = src.where(col("content_hash").isNotNull)
      .groupBy("content_hash")
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("dup_count"),
        sort_array(collect_list(idCol)).as("member_ids"))
    val nulls = src.where(col("content_hash").isNull)
      .select(col("content_hash"), col(idCol).as("canonical_id"),
        lit(1L).as("dup_count"), array(col(idCol)).as("member_ids"))
    hashed.unionByName(nulls)
  }

  /** MinHash modulus and affine mixing constants: ONE md5 per shingle
    * yields a 60-bit base hash `u`; the k "permutations" are
    * h_i(u) = (a_i·u + b_i) mod M with M = 2³¹−1 (so a·u+b stays inside
    * a signed 64-bit long) and a_i/b_i derived from md5 of a fixed seed
    * string — deterministic across engines and runs, no RNG state.
    * Replaces the earlier min-over-md5(shingle ++ "#i") family, which
    * paid k md5 evaluations per exploded shingle row (the md5 dominates;
    * measured 2.8× slower at sf0.1 with k = 12).
    */
  val MinHashMod: Long = 2147483647L

  /** The MinHash-LSH parameters of q35/q36/q38, their oracles and the
    * streaming candidate op: 3-word shingles, 12 hash functions,
    * 4 bands × 3 rows. [[minHashCandidates]] defaults to them. */
  val ShingleK = 3
  val NumHashes = 12
  val Bands = 4

  def mixA(i: Int): Long = hashConst(s"minhash-a-$i", MinHashMod - 1) + 1
  def mixB(i: Int): Long = hashConst(s"minhash-b-$i", MinHashMod)

  private def hashConst(seed: String, mod: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(seed.getBytes("UTF-8"))
      .take(7).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) % mod
  }

  /** First 60 bits of md5(s): numerically identical to the SQL
    * `conv(substring(md5(s), 1, 15), 16, 10)` — 15 hex chars are the
    * first 7.5 digest bytes, i.e. the big-endian first-8-byte word
    * shifted right 4.
    */
  private def md5Hash60(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    hash60(md.digest(s.getBytes("UTF-8")))
  }

  private def hash60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** One text's MinHash signature (null below `k` tokens): each shingle
    * is md5'd straight from the [[Tokens]] bytes into a reused digest
    * buffer, with no String, set or digest array per shingle. Shingles
    * are not de-duplicated first: a min over a multiset is the min over
    * its set.
    */
  private[dedup] def signature(t: String, k: Int, as: Array[Long],
      bs: Array[Long]): Array[Long] = {
    if (t == null) return null
    val tk = TokensLocal.get().load(t)
    if (tk.n < k) return null
    val md = Md5Local.get()
    md.reset()
    val mins = Array.fill(as.length)(Long.MaxValue)
    var i = 0
    while (i <= tk.n - k) {
      val s = tk.start(i)
      md.update(tk.bytes, s, tk.shingleEnd(i, k) - s)
      md.digest(tk.digest, 0, 16)
      val u = hash60(tk.digest) % MinHashMod
      var h = 0
      while (h < as.length) {
        val v = (u * as(h) + bs(h)) % MinHashMod
        if (v < mins(h)) mins(h) = v
        h += 1
      }
      i += 1
    }
    mins
  }

  /** MinHash signatures via the affine family above. Returns
    * (idCol, sig: array<long> of k mins); docs with no shingles (null
    * text or fewer than k tokens) are absent, as they were when the
    * exploded form dropped their empty shingle arrays.
    *
    * Shape: ONE primitive-loop UDF per row ([[signature]]) — tokenize,
    * md5 each shingle, fold the k affine mins in place. The
    * signature is a pure per-document function, so the previous
    * explode + groupBy(id).agg(min...) paid a row-blowup plus an
    * aggregation shuffle for what a per-row loop computes with neither
    * (the same transformation that took shingling 8.8 s → 0.3 s); the
    * earlier all-expression `array_min(transform(...))` form was worse
    * still — interpreted HOFs re-evaluate the shingle subtree per hash,
    * measured 50× slower at sf0.1. Values are bit-identical to both:
    * the same tokens (the [[tokenize]] tokens, as [[Tokens]] bytes), same
    * 60-bit md5 prefix, same (a·u+b) mod M fold.
    *
    * The fewer-than-k drop is [[atLeastTokens]], a scan that stops at
    * the k-th token, in place of `size(TextAnalysis.tokens(text)) >= k`,
    * which split every document by regex before the UDF tokenized it
    * again.
    */
  def minHashSignature(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val as = (0 until numHashes).map(mixA).toArray
    val bs = (0 until numHashes).map(mixB).toArray
    val f = udf((t: String) => signature(t, shingleK, as, bs))
    // Null-drop via the cheap INPUT-side precondition (null text / fewer
    // than k tokens), not `isNotNull` on the UDF output: Catalyst pushes
    // an output-side filter below the projection by substituting the
    // alias, evaluating the UDF twice per row (seen in the optimized
    // plan: `Filter isnotnull(UDF(text))` under `Project [UDF(text)]`).
    // Null IDS are dropped too (module policy — exactByHash, domainCap,
    // the candidate streams, and CC all do the same): they can emit no
    // candidate pair anyway (NULL < NULL is NULL), and any exploded/
    // groupBy restatement of this op — the oracle phrasing — would
    // merge every null-id doc's shingles into ONE bogus signature,
    // since groupBy treats null as an ordinary key.
    docs
      .where(col(idCol).isNotNull && atLeastTokens(col(textCol), shingleK))
      .select(col(idCol), f(col(textCol)).as("sig"))
  }

  /** `(idCol, band, bucket)` rows for a signature frame: each band's
    * slice of the signature md5'd into a bucket key. Shared by the batch
    * candidate join below and the streaming candidate op
    * (`IncrementalDedup.minhashCandidateStream`) — one definition, so
    * the two paths bucket identically by construction.
    */
  def bandBuckets(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    // Ordered so bands = 0 hits the intended message, not a bare
    // ArithmeticException from the division below it.
    require(bands >= 1, s"bands $bands")
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    sigs.select(col(idCol),
      posexplode(array((0 until bands).map { b =>
        md5(concat_ws("|",
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
            .cast("array<string>")))
      }: _*)).as(Seq("band", "bucket")))
  }

  /** MinHash-LSH candidate pairs: band the signature (bands × rowsPerBand
    * = numHashes), list the ids of each (band, bucket) that holds two or
    * more, emit every ordered id pair of a list once — the
    * [[graft.ops.RelationalOps.bucketLists]] → `listPairs` kernel: one
    * shuffle for the lists, one distinct for the pairs, no join, no
    * cached frontier. The classic shingle→minhash→band→bucket pipeline;
    * the bucket aggregate is on a high-cardinality key, so it scales
    * linearly with data. A bucket's whole fan-out — C(n, 2) pairs for n
    * docs in it — lands in the one task that holds its list.
    */
  def minHashCandidates(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", shingleK: Int = ShingleK,
      numHashes: Int = NumHashes, bands: Int = Bands): DataFrame = {
    // Widened at the SOURCE (batch op only — a stream has no scan-
    // partitioning problem): the shingle+md5 signature UDF is the
    // expensive per-row pass, and a narrow fixture scan would run it
    // single-task; no-op at scale.
    val sigs = minHashSignature(graft.ops.Parallelism.widen(docs),
      textCol, idCol, shingleK, numHashes)
    // Most buckets hold one doc. A window count drops them before
    // collect_list, whose per-bucket buffers cost more task CPU than the
    // window's sort when every bucket reaches them; the lists' aggregate
    // then reuses the window's partitioning, so both share one shuffle.
    val sized = bandBuckets(sigs, idCol, numHashes, bands).select(col("*"),
      count(lit(1)).over(Window.partitionBy("band", "bucket")).as("n"))
    val buckets = graft.ops.RelationalOps.bucketLists(
      sized.where(col("n") > 1), Seq("band", "bucket"), idCol)
    sealResult(graft.ops.RelationalOps.listPairs(buckets)
      .select(col("l_id").as("a_id"), col("r_id").as("b_id")))
  }

  /** n-gram Jaccard similarity for candidate pairs over the two docs'
    * shingle sets: each referenced doc is shingled once into its
    * [[shingleSet]] (distinct shingles, sorted, one `binary`), and each
    * pair's |A∩B| is one merge of the two ([[jaccard]]); |A∪B| =
    * |A|+|B|−|A∩B|. Those are the counts the oracle's shingle-level
    * join + group-by (DedupQueries) gives, without a shuffle at token
    * grain, and the quotient is the same double.
    */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleK: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    // Only docs REFERENCED by a candidate pair matter: the semi-join
    // bounds the shingling (and the cache below) by the candidate set,
    // not the corpus — verifying a few thousand LSH pairs over a
    // billion-doc corpus must not re-shingle the corpus.
    val refIds = candidates.select(col("a_id").as(idCol))
      .unionByName(candidates.select(col("b_id").as(idCol)))
      .distinct()
    // Persisted: read once per pair side; released by sealResult. Null
    // text shingles to the empty set.
    val set = udf((t: String) => shingleSet(t, shingleK))
    val sh = docs.join(refIds, Seq(idCol), "left_semi")
      .select(col(idCol), set(col(textCol)).as("sh"))
      .persist(Disk)
    val jac = udf((a: Array[Byte], b: Array[Byte]) => jaccard(a, b))
    sealResult(
      candidates
        .join(sh.select(col(idCol).as("a_id"), col("sh").as("sa")), "a_id")
        .join(sh.select(col(idCol).as("b_id"), col("sh").as("sb")), "b_id")
        .select(col("a_id"), col("b_id"),
          jac(col("sa"), col("sb")).as("jaccard"))
        // A typed filter stays above the projection: a Column filter is
        // pushed into the join condition with the kernel inlined,
        // computed there and again in the projection.
        .filter((r: Row) => r.getDouble(2) >= minJaccard),
      sh)
  }

  /** 60-bit SimHash over whitespace tokens: per distinct token take the
    * first 15 hex chars of md5 as a 60-bit integer (15, not 16, so the
    * value fits a signed long without sign games); the fingerprint's
    * bit j is the sign of Σ_tokens (bit_j ? +1 : −1).
    *
    * Fused into ONE primitive-loop UDF per row: the fingerprint is a
    * pure per-document function, so the previous shape — explode
    * distinct tokens, md5 each, 21 packed-lane aggregate sums per doc —
    * paid a token row-blowup plus a partial-agg shuffle for what a
    * per-row loop computes with neither (same transformation as the
    * shingle fusion, 8.8 s → 0.3 s). Values are bit-identical: the
    * tokens of TextAnalysis.tokens (the [[tokenize]] scan, with its regex
    * fallback), same 60-bit md5 prefix, bit j set iff 2·ones_j > n over
    * n distinct tokens. Docs with null/empty text are absent, as the
    * exploded form dropped them; the drop is the scan-based
    * [[atLeastTokens]] with k = 1, not a regex split of every document.
    */
  def simHash(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val f = udf { (t: String) =>
      if (t == null) null.asInstanceOf[java.lang.Long]
      else {
        val toks = tokenize(t)
        if (toks.isEmpty) null.asInstanceOf[java.lang.Long]
        else {
          val md = Md5Local.get()
          val seen = new java.util.HashSet[String]
          val ones = new Array[Int](60)
          var n = 0
          var i = 0
          while (i < toks.length) {
            if (seen.add(toks(i))) {
              n += 1
              val h = md5Hash60(md, toks(i))
              var j = 0
              while (j < 60) {
                ones(j) += ((h >>> j) & 1L).toInt
                j += 1
              }
            }
            i += 1
          }
          var fp = 0L
          var j = 0
          while (j < 60) {
            if (2 * ones(j) > n) fp |= 1L << j
            j += 1
          }
          java.lang.Long.valueOf(fp)
        }
      }
    }
    // Input-side precondition instead of isNotNull on the UDF output —
    // same alias-substitution double-eval as minHashSignature (see note
    // there). Null/whitespace-only text is exactly the empty-token case;
    // null ids drop for the same reasons as minHashSignature (module
    // policy + the exploded bit-vote restatement would merge them).
    docs
      .where(col(idCol).isNotNull && atLeastTokens(col(textCol), 1))
      .select(col(idCol), f(col(textCol)).as("simhash"))
  }

  /** The 60-bit fingerprint's pigeonhole chunk keys as an ARRAY column
    * — the ONE definition of the banding arithmetic, shared by the
    * batch chunk join below and the streaming
    * [[graft.streaming.IncrementalDedup.fingerprintCandidateStream]]
    * (posexplode on either side yields (chunk, ckey) rows). Bounds are
    * `c·60/chunks` with `chunks = maxHamming + 1`: any two
    * fingerprints within `maxHamming` differing bits agree exactly on
    * at least one chunk. That guarantee needs at least one chunk to
    * be WIDER than zero differing bits per pigeonhole slot, i.e.
    * `maxHamming < 60` — at 60+ every chunk is one bit and a pair
    * differing everywhere shares nothing, so the bound is enforced
    * loudly (a 60-bit hash can't band a ≥ 60 radius; that query is
    * "all pairs", not a band join).
    */
  private[graft] def hammingChunkKeys(fp: Column,
      maxHamming: Int): Column = {
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming $maxHamming not in [0, 60): the pigeonhole " +
        "guarantee needs chunks wider than the per-chunk difference " +
        "budget; hamming >= 60 over 60 bits means ALL pairs")
    val bits = 60
    val chunks = maxHamming + 1
    val bounds = (0 to chunks).map(c => c * bits / chunks)
    array((0 until chunks).map { c =>
      val lo = bounds(c)
      val mask = (1L << (bounds(c + 1) - lo)) - 1L
      shiftright(fp, lo).bitwiseAND(mask)
    }: _*)
  }

  /** SimHash near-dup candidates within Hamming distance `maxHamming`.
    * Bucketing is the standard pigeonhole trick: split the 60-bit
    * fingerprint into `maxHamming + 1` chunks — any pair within
    * `maxHamming` differing bits must agree exactly on at least one
    * chunk, so candidate generation is a chunk-value equi-join with
    * guaranteed recall. More chunks (higher maxHamming) means narrower
    * chunk keys and so more candidate collisions — the usual
    * recall/cost trade, made explicit instead of silently capped.
    * It stays on this self-join, not the `RelationalOps` bucket → pairs
    * kernel: at q37's and q75's sizes the kernel's lists cost more task
    * CPU than the broadcast join's probe.
    */
  def simHashCandidates(fingerprints: DataFrame, idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    // maxHamming bounds checked BEFORE the persist below (a negative
    // value would silently read as "no dups"; >= 60 would silently DROP
    // qualifying pairs). hammingChunkKeys re-checks as the shared
    // guard, but ITS require used to fire after fingerprints.persist
    // had already registered a CacheManager entry that sealResult then
    // never released — a cache leak on the error path.
    require(maxHamming >= 0 && maxHamming < 60,
      s"maxHamming $maxHamming not in [0, 60)")
    // Persisted: the chunk self-join consumes this twice — otherwise the
    // fingerprint scan runs twice. Released by sealResult before return —
    // but ONLY if this call created the cache: Dataset.persist returns
    // the same object, so unpersisting a frame the CALLER had already
    // cached would silently drop their cache block and recompute the
    // full simHash pipeline on their next action.
    val callerCached = fingerprints.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val fp = if (callerCached) fingerprints else fingerprints.persist(Disk)
    // The full fingerprint RIDES THROUGH the chunk join (8 fixed bytes
    // per side) instead of being re-attached by two extra join shuffles
    // afterwards — the opposite call from the embedding LSH path, whose
    // wide vectors must NOT travel through the bucket join. ha/hb are
    // functions of the ids, so distinct over (a_id, b_id, ha, hb) has
    // the cardinality of (a_id, b_id). Widened (graft.ops.Parallelism):
    // on a narrow fixture scan the chunk self-join otherwise runs its
    // probe + distinct partial aggregation as ONE task; at scale widen
    // is a no-op and the join's own exchanges (with AQE skew split —
    // the documented hot-chunk story) are untouched.
    val banded = graft.ops.Parallelism.widen(
      fp.select(col(idCol), col("simhash"),
        posexplode(hammingChunkKeys(col("simhash"), maxHamming))
          .as(Seq("chunk", "ckey"))))
    val l = banded.select(col("chunk"), col("ckey"),
      col(idCol).as("a_id"), col("simhash").as("ha"))
    val r = banded.select(col("chunk"), col("ckey"),
      col(idCol).as("b_id"), col("simhash").as("hb"))
    sealResult(
      l.join(r, Seq("chunk", "ckey"))
        .where(col("a_id") < col("b_id"))
        .select("a_id", "b_id", "ha", "hb").distinct()
        .withColumn("hamming",
          bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
        .where(col("hamming") <= maxHamming)
        .select("a_id", "b_id", "hamming"),
      (if (callerCached) Seq.empty else Seq(fp)): _*)
  }

  /** Canonicalize a near-dup pair set into a per-document keep
    * decision: connected components over `pairs` (a_id, b_id — from ANY
    * candidate generator: MinHash bands, SimHash chunks, embedding LSH
    * verify), then every document in `all` gets
    * `canonical_id` = its component minimum (its own id when unpaired,
    * via the left-outer + coalesce) and
    * `is_canonical` = whether it IS that minimum — the row a dedup
    * pass keeps.
    */
  def keepCanonical(pairs: DataFrame, all: DataFrame,
      idCol: String): DataFrame = {
    val comps = graft.cluster.ConnectedComponents.auto(pairs, "a_id", "b_id",
      label = "neardup-canonical")
    all.join(comps.withColumnRenamed("id", idCol), Seq(idCol), "left_outer")
      .withColumn("canonical_id",
        coalesce(col("component"), col(idCol)))
      .drop("component")
      .withColumn("is_canonical", col("canonical_id") === col(idCol))
  }
}
