package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.TextDedup
import graft.ops.RelationalOps

/** Dedupe-dataflow operators (SURVEY.md §2.6) demonstrated on the
  * `documents` table: blocking (D5), singleton elimination (A2), pair
  * generation (D6/J8), scoring (D7), plus the MinHash/SimHash/Jaccard
  * near-dup family (harness extension). Oracles mirror each dataflow in
  * portable SQL; operators whose semantics aren't SQL-expressible
  * (SimHash bit packing) declare no oracle (driver records rows-only).
  */
object DedupQueries {

  /** Doc-frequency cap for token blocking on the documents table: tokens
    * present in [2, 120] docs block; ubiquitous tokens would create
    * quadratic blocks (SURVEY §4 skew note). At sf0.01 this admits the
    * rare-token tail (df histogram: 25 .. 402 over 500 docs).
    */
  val MaxDf = 120L

  /** MinHash-LSH parameters shared by q35/q36/q38 and their oracles
    * (`TextDedup`'s, one definition). */
  val ShingleK = TextDedup.ShingleK
  val NumHashes = TextDedup.NumHashes
  val Bands = TextDedup.Bands

  /** SQL for the affine MinHash mix h_i(u) = (a_i·u + b_i) mod M —
    * constants inlined from TextDedup so the Spark program and the
    * oracle share one definition. */
  private def mixSql(i: Int): String =
    s"min((u * ${TextDedup.mixA(i)} + ${TextDedup.mixB(i)}) % " +
      s"${TextDedup.MinHashMod}) AS h$i"

  /** 60-bit base hash from one md5, as the engine computes it
    * (conv(substring(md5(s),1,15),16,10) % M). */
  private val baseHashSql =
    s"CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % " +
      s"${TextDedup.MinHashMod}"

  /** DuckDB CTE chain `toks, sh, sig, banded, cand` mirroring
    * TextDedup.minHashSignature → minHashCandidates (shingles of
    * `ShingleK` tokens, distinct per doc) with the parameters above —
    * generated so the Spark program and the oracle can never drift.
    */
  private def minhashCtes: String = {
    val rpb = NumHashes / Bands
    val hashes = (0 until NumHashes).map(mixSql).mkString(", ")
    val shingleExpr = (0 until ShingleK)
      .map(j => s"t[i+$j]").mkString(" || ' ' || ")
    val bandSelects = (0 until Bands).map { b =>
      val parts = (b * rpb until (b + 1) * rpb)
        .map(i => s"CAST(h$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bucket FROM sig"
    }.mkString(" UNION ALL ")
    s"""toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        FROM documents),
      sh AS (
        SELECT doc_id, $baseHashSql AS u FROM (
          SELECT doc_id, unnest(list_distinct(list_transform(
            range(1, len(t) - ${ShingleK - 2}),
            i -> $shingleExpr))) AS s
          FROM toks WHERE len(t) >= $ShingleK)),
      sig AS (SELECT doc_id, $hashes FROM sh GROUP BY doc_id),
      banded AS ($bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b USING (band, bucket)
        WHERE a.doc_id < b.doc_id)"""
  }

  /** CTE chain extending `minhashCtes` with unigram-Jaccard verification
    * at `minJaccard`, ending in `verified(a_id, b_id, jaccard)` — shared
    * by q36 (threshold 0.5) and q38 (threshold 0.9) so the verification
    * dataflow is written once on the oracle side too.
    */
  private def jaccardVerifiedCtes(minJaccard: Double): String =
    s"""$minhashCtes,
      utoks AS (SELECT doc_id, unnest(list_distinct(t)) AS tok
        FROM toks),
      sizes AS (SELECT doc_id, count(*) AS n FROM utoks GROUP BY doc_id),
      inter AS (
        SELECT c.a_id, c.b_id, count(*) AS i
        FROM cand c
        JOIN utoks ta ON ta.doc_id = c.a_id
        JOIN utoks tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
        GROUP BY c.a_id, c.b_id),
      verified AS (
        SELECT c.a_id, c.b_id,
          CAST(coalesce(i.i, 0) AS DOUBLE) /
            CAST(sa.n + sb.n - coalesce(i.i, 0) AS DOUBLE) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
        JOIN sizes sa ON sa.doc_id = c.a_id
        JOIN sizes sb ON sb.doc_id = c.b_id
        WHERE CAST(coalesce(i.i, 0) AS DOUBLE) /
          CAST(sa.n + sb.n - coalesce(i.i, 0) AS DOUBLE) >= $minJaccard)"""

  /** q37's oracle: the SimHash bit-vote fingerprint, pigeonhole chunk
    * join, and Hamming filter in DuckDB bit arithmetic — chunk bounds
    * and the 2·ones > n vote rule generated from the same constants as
    * TextDedup.simHash / simHashCandidates.
    */
  private def simhashOracleSql(maxHamming: Int): String = {
    val bits = 60
    val chunks = math.min(maxHamming + 1, bits)
    val bounds = (0 to chunks).map(c => c * bits / chunks)
    val ones = (0 until bits)
      .map(j => s"sum((h >> $j) & 1) AS o$j").mkString(", ")
    val fpExpr = (0 until bits).map(j =>
      s"(CASE WHEN 2*o$j > n THEN CAST(1 AS BIGINT) << $j ELSE 0 END)")
      .mkString(" + ")
    val bandSelects = (0 until chunks).map { c =>
      val lo = bounds(c)
      val mask = (1L << (bounds(c + 1) - lo)) - 1L
      s"SELECT doc_id, $c AS chunk, (simhash >> $lo) & $mask AS ckey FROM fp"
    }.mkString(" UNION ALL ")
    s"""WITH utoks AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents) WHERE tok <> ''),
      hashed AS (
        SELECT doc_id,
          CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM utoks),
      agg AS (
        SELECT doc_id, count(*) AS n, $ones FROM hashed GROUP BY doc_id),
      fp AS (SELECT doc_id, $fpExpr AS simhash FROM agg),
      banded AS ($bandSelects),
      cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b USING (chunk, ckey)
        WHERE a.doc_id < b.doc_id)
      SELECT c.a_id, c.b_id,
        CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
      FROM cand c
      JOIN fp fa ON fa.doc_id = c.a_id
      JOIN fp fb ON fb.doc_id = c.b_id
      WHERE bit_count(xor(fa.simhash, fb.simhash)) <= $maxHamming"""
  }

  private val keyedSql =
    """keyed AS (
        SELECT DISTINCT 'token:text:' || tok AS block_key, doc_id AS _unique_id
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok <> '')"""

  private val admissibleSql =
    """adm AS (
        SELECT block_key FROM keyed
        GROUP BY block_key HAVING count(*) >= 2 AND count(*) <= 120)"""

  val defs: Seq[QueryDef] = Seq(

    // D5 — predicate blocking with a df cap (ref pgdedupe/run.py:217-231;
    // the cap plays the role of dedupe's canopy bound, SURVEY §4).
    QueryDef(
      "q30_blocking_map",
      (s, dir) => graft.blocking.Blocker.tokenBlockingWithDfCap(
        Tables.load(s, dir, "documents")
          .withColumnRenamed("doc_id", "_unique_id"),
        "text", MaxDf),
      Some(s"""WITH $keyedSql, $admissibleSql
        SELECT k.block_key, k._unique_id
        FROM keyed k JOIN adm USING (block_key)""")),

    // A2/P8 — singleton-block elimination + dense block ids
    // (ref run.py:265-275), via RelationalOps.pluralKeys.
    QueryDef(
      "q31_plural_keys",
      (s, dir) => RelationalOps.pluralKeys(
        graft.blocking.Blocker.tokenBlockingWithDfCap(
          Tables.load(s, dir, "documents")
            .withColumnRenamed("doc_id", "_unique_id"),
          "text", Long.MaxValue),
        MaxDf),
      Some(s"""WITH $keyedSql
        SELECT block_key,
          row_number() OVER (ORDER BY block_key) AS block_id
        FROM (SELECT block_key FROM keyed
              GROUP BY block_key HAVING count(*) > 1 AND count(*) <= 120)""")),

    // D6/J8 — within-block ordered pairs, globally distinct
    // (ref run.py:293-319 + SURVEY §4's distinct-pairs idiom).
    QueryDef(
      "q32_candidate_pairs",
      (s, dir) => {
        val bm = graft.blocking.Blocker.tokenBlockingWithDfCap(
          Tables.load(s, dir, "documents")
            .withColumnRenamed("doc_id", "_unique_id"),
          "text", MaxDf)
        RelationalOps.distinctPairs(RelationalOps.kolbBlocks(bm, MaxDf))
      },
      Some(s"""WITH $keyedSql, $admissibleSql
        SELECT DISTINCT a._unique_id AS l_id, b._unique_id AS r_id
        FROM keyed a JOIN adm USING (block_key)
        JOIN keyed b USING (block_key)
        WHERE a._unique_id < b._unique_id""")),

    // D7 — sigmoid scoring + threshold over a numeric distance feature
    // (ref run.py:362-379; weights inlined in the plan, graft.model).
    QueryDef(
      "q33_score_threshold",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .withColumnRenamed("doc_id", "_unique_id")
        val bm = graft.blocking.Blocker.tokenBlockingWithDfCap(
          docs, "text", MaxDf)
        val pairs =
          RelationalOps.distinctPairs(RelationalOps.kolbBlocks(bm, MaxDf))
        val meta = docs.select(col("_unique_id"), col("n_chars"))
        val withF = pairs
          .join(meta.select(col("_unique_id").as("l_id"),
            col("n_chars").as("l_n")), "l_id")
          .join(meta.select(col("_unique_id").as("r_id"),
            col("n_chars").as("r_n")), "r_id")
        val dist = abs(col("l_n") - col("r_n")).cast("double") /
          greatest(col("l_n"), col("r_n"), lit(1L)).cast("double")
        withF
          .withColumn("score",
            round(lit(1.0) / (lit(1.0) + exp(-(lit(3.0) - lit(8.0) * dist))),
              6))
          .where(col("score") >= 0.5)
          .select("l_id", "r_id", "score")
      },
      Some(s"""WITH $keyedSql, $admissibleSql,
        pairs AS (
          SELECT DISTINCT a._unique_id AS l_id, b._unique_id AS r_id
          FROM keyed a JOIN adm USING (block_key)
          JOIN keyed b USING (block_key)
          WHERE a._unique_id < b._unique_id),
        f AS (
          SELECT p.l_id, p.r_id,
            CAST(abs(dl.n_chars - dr.n_chars) AS DOUBLE) /
              CAST(greatest(dl.n_chars, dr.n_chars, 1) AS DOUBLE) AS dist
          FROM pairs p
          JOIN documents dl ON p.l_id = dl.doc_id
          JOIN documents dr ON p.r_id = dr.doc_id)
        SELECT l_id, r_id,
          round(1.0 / (1.0 + exp(-(3.0 - 8.0 * dist))), 6) AS score
        FROM f WHERE round(1.0 / (1.0 + exp(-(3.0 - 8.0 * dist))), 6) >= 0.5""")),

    // MinHash signatures (harness dedup extension): k "permutations" as
    // affine mixes of one md5-derived base hash — RNG-free,
    // engine-portable, constants shared with the oracle via mixSql.
    QueryDef(
      "q34_minhash_signature",
      (s, dir) => TextDedup.minHashSignature(
          Tables.load(s, dir, "documents"), "text", "doc_id",
          shingleK = 1, numHashes = 4)
        .select(col("doc_id"),
          element_at(col("sig"), 1).as("h0"),
          element_at(col("sig"), 2).as("h1"),
          element_at(col("sig"), 3).as("h2"),
          element_at(col("sig"), 4).as("h3")),
      Some(s"""SELECT doc_id, ${(0 until 4).map(mixSql).mkString(", ")}
        FROM (SELECT doc_id, $baseHashSql AS u FROM (
            SELECT DISTINCT doc_id, tok AS s FROM (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents) WHERE tok <> ''))
        GROUP BY doc_id""")),

    // MinHash-LSH banded candidates: shingle → minhash → band →
    // bucket-join (the scale path: one equi-join shuffle). Real LSH
    // parameters (3-word shingles, 12 hashes, 4 bands of 3): the
    // per-band match probability is jaccard³, so unrelated docs that
    // merely share common words do not collide — the candidate set
    // stays near-linear instead of near-all-pairs.
    QueryDef(
      "q35_minhash_candidates",
      (s, dir) => TextDedup.minHashCandidates(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        shingleK = ShingleK, numHashes = NumHashes, bands = Bands),
      Some(s"""WITH $minhashCtes
        SELECT a_id, b_id FROM cand""")),

    // n-gram (here unigram) Jaccard verification of the LSH candidates,
    // as joins + aggregations so the oracle runs the identical dataflow.
    QueryDef(
      "q36_jaccard_verify",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val cands = TextDedup.minHashCandidates(docs, "text", "doc_id",
          shingleK = ShingleK, numHashes = NumHashes, bands = Bands)
        val verified = TextDedup.jaccardVerify(docs, cands, "text",
          "doc_id", shingleK = 1, minJaccard = 0.5)
        // The rounded projection is the caller's handle, so it is sealed
        // and the two sealed frames under it are released.
        TextDedup.sealResult(verified.select(col("a_id"), col("b_id"),
          round(col("jaccard"), 6).as("jaccard")), verified, cands)
      },
      Some(s"""WITH ${jaccardVerifiedCtes(0.5)}
        SELECT a_id, b_id, round(jaccard, 6) AS jaccard FROM verified""")),

    // 60-bit SimHash + Hamming-bucketed near-dup pairs (pigeonhole:
    // maxHamming=3 → 4 chunks of 15 bits, recall-exact). The oracle
    // reproduces the full bit-vote → pack → chunk-join → bit_count(xor)
    // dataflow in DuckDB bit arithmetic, generated from the same
    // bounds/constants as the engine (simhashOracleSql).
    QueryDef(
      "q37_simhash_pairs",
      (s, dir) => {
        // Widened at the source so the per-row token-md5 bit-vote UDF
        // parallelizes over a narrow fixture scan (no-op at scale).
        val fp = TextDedup.simHash(graft.ops.Parallelism.widen(
          Tables.load(s, dir, "documents")))
        TextDedup.simHashCandidates(fp, maxHamming = 3)
      },
      Some(simhashOracleSql(3))),

    // Near-dup canonicalization: connected components over candidate
    // pairs, keep min id per component (D9/D10 reused for doc dedup).
    // The oracle computes min-reachable-id components with a recursive
    // CTE over the same verified edges — the engine's most-reused kernel
    // (CC backs q38, q50 clustering, and every merge_exact pass) is
    // oracle-proven, not suite-trusted.
    QueryDef(
      "q38_dedup_canonical",
      (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val cands = TextDedup.minHashCandidates(docs, "text", "doc_id",
          shingleK = ShingleK, numHashes = NumHashes, bands = Bands)
        val verified = TextDedup.jaccardVerify(docs, cands, "text",
          "doc_id", shingleK = 1, minJaccard = 0.9)
        val kept = TextDedup.keepCanonical(
            verified.select("a_id", "b_id"), docs, "doc_id")
          .select("doc_id", "canonical_id", "is_canonical")
        // The components are read by now: a local relation below the CC
        // cap, checkpoints above it. The result reads neither sealed
        // frame again, so both are released here.
        verified.unpersist(false)
        cands.unpersist(false)
        kept
      },
      Some(s"""WITH RECURSIVE ${jaccardVerifiedCtes(0.9)},
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM verified
          UNION SELECT b_id AS src, a_id AS dst FROM verified),
        reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT d.doc_id,
          coalesce(c.component, d.doc_id) AS canonical_id,
          coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""")),

    // Exact edit-distance similarity self-join (record-linkage typo
    // pairs) via the deletion-neighborhood pigeonhole + thresholded
    // levenshtein verify — EditJoin.editDistancePairs. The oracle is
    // the BRUTE-FORCE quadratic join DuckDB can afford on the sampled
    // subset; the engine must produce the identical pair set without
    // the cross join. c_name is ASCII, where DuckDB's byte-based
    // levenshtein and Spark's codepoint-based one agree (EditJoinSpec
    // pins the codepoint semantics on unicode inputs, which a DuckDB
    // oracle could not).
    QueryDef(
      "q65_edit_distance_join",
      (s, dir) => graft.similarity.EditJoin.editDistancePairs(
        Tables.load(s, dir, "customer").where(col("c_custkey") % 20 === 0),
        "c_custkey", "c_name", maxDist = 1),
      Some("""SELECT a.c_custkey AS id1, b.c_custkey AS id2,
          CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE a.c_custkey % 20 = 0 AND b.c_custkey % 20 = 0
          AND a.c_name IS NOT NULL AND b.c_name IS NOT NULL
          AND levenshtein(a.c_name, b.c_name) <= 1""")))
}
