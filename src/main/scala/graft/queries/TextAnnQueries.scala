package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ann.Knn
import graft.text.TextAnalysis

/** Text-analysis + similarity-search operators (harness extensions) with
  * portable-SQL oracles where the semantics allow.
  */
object TextAnnQueries {

  /** q42's oracle, GENERATED from TextAnalysis.stopwordProfiles so the
    * engine's profile list and the oracle's can never drift: adding or
    * renaming a language changes both sides or neither. Tie-break rule is
    * the engine's (array_max over struct(score, lang) → max score, ties →
    * lexicographically max lang), encoded by testing langs in descending
    * order.
    */
  private def langIdOracleSql: String = {
    val profs = TextAnalysis.stopwordProfiles.toSeq.sortBy(_._1)
    val scoreCols = profs.map { case (lang, sws) =>
      val list = sws.map(w => s"'$w'").mkString(",")
      s"""CAST(len(list_filter(toks, x -> list_contains(
              [$list], x)))
              AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS s_$lang"""
    }.mkString(",\n            ")
    val m = profs.map(p => s"s_${p._1}").mkString(", ")
    val cases = profs.map(_._1).sorted.reverse.map { lang =>
      s"WHEN s_$lang = m THEN '$lang'"
    }.mkString("\n               ")
    s"""WITH t AS (
          SELECT doc_id,
            list_filter(string_split(lower(text), ' '), x -> x <> '')
              AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
            $scoreCols
          FROM t),
        sm AS (SELECT *, greatest($m) AS m FROM s)
        SELECT doc_id,
          CASE WHEN m = 0.0 THEN 'und'
               $cases
               ELSE 'und' END AS lang_guess,
          round(m, 6) AS lang_score
        FROM sm"""
  }

  /** Exact cosine top-3 for queries vec_id < 20 — the oracle for BOTH
    * q44 (brute force) and q49 (IVF at full probe, which searches every
    * cell and is therefore exactly the brute-force answer; the suite
    * asserts this equivalence too, KnnSpec).
    */
  private val exactTopKOracleSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 20),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
          list_sum(list_transform(range(1, len(q.qv) + 1),
            i -> CAST(q.qv[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) *
             sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
              i -> CAST(c.embedding[i] AS DOUBLE) *
                CAST(c.embedding[i] AS DOUBLE))))) AS cosine
        FROM q CROSS JOIN embeddings c
        WHERE q.query_id <> c.vec_id)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored)
      WHERE rank <= 3"""

  /** Shared exactness oracle for q48 (brute-force pair demo) and q52
    * (the hyperplane-bucket scale path): cosine ≥ 0.44 pairs →
    * recursive-CTE connected components → min-id canonical. q52 may
    * share an EXACTNESS oracle because its candidate generation is
    * recall-complete at the registered parameters (deterministic
    * planes, 4×48 tables ⇒ per-edge miss ~1e-4 at cosine 0.44, every
    * candidate exact-verified; KnnSpec asserts the brute/LSH
    * canonicalization equality on the sf0.01 embeddings).
    */
  private val nearDupOracleSql: String = """WITH RECURSIVE scored AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
            list_sum(list_transform(range(1, len(a.embedding) + 1),
              i -> CAST(a.embedding[i] AS DOUBLE) *
                CAST(b.embedding[i] AS DOUBLE)))
            / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                i -> CAST(a.embedding[i] AS DOUBLE) *
                  CAST(a.embedding[i] AS DOUBLE)))) *
               sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
                i -> CAST(b.embedding[i] AS DOUBLE) *
                  CAST(b.embedding[i] AS DOUBLE))))) AS cosine
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM scored WHERE cosine >= 0.44
          UNION
          SELECT b_id AS src, a_id AS dst FROM scored WHERE cosine >= 0.44),
        reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
          CAST(coalesce(c.component, e.vec_id) AS BIGINT) AS canonical_id,
          coalesce(c.component, e.vec_id) = e.vec_id AS is_canonical
        FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id"""

  /** q45's oracle: the hyperplane-LSH bucket join in plain SQL, with the
    * engine's deterministic plane weights inlined as literals (shortest
    * round-trip decimal → identical doubles in DuckDB). Projections sum
    * dims in the same order as the engine's UDF loop, so sign bits are
    * bit-exact; candidates then re-rank by exact cosine like q44.
    */
  private def lshOracleSql(numPlanes: Int, numTables: Int,
      dim: Int): String = {
    def sigExpr(t: Int): String = (0 until numPlanes).map { p =>
      val proj = (0 until dim).map { d =>
        s"CAST(embedding[${d + 1}] AS DOUBLE)*" +
          s"${Knn.planeComponent(t * numPlanes + p, d)}"
      }.mkString("+")
      s"(CASE WHEN ($proj) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("+")
    val sigCols = (0 until numTables)
      .map(t => s"(${sigExpr(t)}) AS s$t").mkString(", ")
    val bandSelects = (0 until numTables)
      .map(t => s"SELECT vec_id, $t AS tbl, s$t AS sig FROM sigs")
      .mkString(" UNION ALL ")
    s"""WITH sigs AS (SELECT vec_id, $sigCols FROM embeddings),
      banded AS ($bandSelects),
      cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM banded q JOIN banded c USING (tbl, sig)
        WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
      scored AS (
        SELECT cd.query_id, cd.neighbor_id,
          list_sum(list_transform(range(1, len(q.embedding) + 1),
            i -> CAST(q.embedding[i] AS DOUBLE) *
              CAST(c.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1),
              i -> CAST(q.embedding[i] AS DOUBLE) *
                CAST(q.embedding[i] AS DOUBLE)))) *
             sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
              i -> CAST(c.embedding[i] AS DOUBLE) *
                CAST(c.embedding[i] AS DOUBLE))))) AS cosine
        FROM cand cd
        JOIN embeddings q ON q.vec_id = cd.query_id
        JOIN embeddings c ON c.vec_id = cd.neighbor_id)
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored)
      WHERE rank <= 3"""
  }

  val defs: Seq[QueryDef] = Seq(

    // Token counting (whitespace); the BPE-ish subtoken count needs
    // lookaround regex DuckDB's RE2 lacks, so the oracle covers the
    // portable columns and n_subtokens is exercised in ScalaTest.
    QueryDef(
      "q40_token_stats",
      (s, dir) => TextAnalysis.tokenStats(Tables.load(s, dir, "documents"))
        .select(col("doc_id"), col("n_words"),
          col("n_chars").as("len_chars")),
      Some("""SELECT doc_id,
          len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS n_words,
          length(text) AS len_chars
        FROM documents""")),

    // Heuristic quality scoring: word-length/alpha/repetition mix.
    QueryDef(
      "q41_quality_score",
      (s, dir) => TextAnalysis.qualityScore(Tables.load(s, dir, "documents")),
      Some("""WITH t AS (
          SELECT doc_id, text,
            list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents),
        m AS (
          SELECT doc_id,
            CAST(len(toks) AS DOUBLE) AS ntok,
            CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
              CAST(len(toks) AS DOUBLE) AS mwl,
            CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))
              AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS ar,
            CAST(len(list_distinct(toks)) AS DOUBLE) /
              CAST(len(toks) AS DOUBLE) AS dr
          FROM t)
        SELECT doc_id,
          round(CASE WHEN ntok = 0 THEN 0.0 ELSE
            0.3 * (1.0 - least(abs(mwl - 5.0) / 5.0, 1.0)) +
            0.4 * ar + 0.3 * dr END, 6) AS quality
        FROM m""")),

    // Stopword-profile language ID with deterministic tie-breaking;
    // oracle generated from the engine's own profile map (see
    // langIdOracleSql) so the two sides stay in lockstep by construction.
    QueryDef(
      "q42_language_id",
      (s, dir) => TextAnalysis.languageId(Tables.load(s, dir, "documents")),
      Some(langIdOracleSql)),

    // Order-insensitive document fingerprint (sorted distinct tokens).
    QueryDef(
      "q43_fingerprint",
      (s, dir) => TextAnalysis.fingerprint(Tables.load(s, dir, "documents")),
      Some("""SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(
            list_filter(string_split(text, ' '), x -> x <> ''))), ' '))
            AS fingerprint
        FROM documents""")),

    // Brute-force cosine top-k (ANN exactness baseline). Rank-only output:
    // float comparison noise stays below ranking granularity.
    QueryDef(
      "q44_knn_bruteforce",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Knn.bruteForceTopK(emb, emb.where(col("vec_id") < 20), k = 3)
          .select("query_id", "neighbor_id", "rank")
      },
      Some(exactTopKOracleSql)),

    // LSH-bucketed ANN (deterministic hyperplanes) — the scale path.
    // Oracle-checked: the plane weights are deterministic literals, so
    // the sign-bit bucketing and candidate re-rank replay exactly in
    // DuckDB (see lshOracleSql).
    QueryDef(
      "q45_knn_lsh",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // knownDim matches the fixture dimensionality the oracle SQL
        // hardcodes below — skips the head() dim probe pre-action.
        Knn.lshTopK(emb, emb.where(col("vec_id") < 20), k = 3,
            numPlanes = 4, numTables = 16, knownDim = 64)
          .select("query_id", "neighbor_id", "rank")
      },
      Some(lshOracleSql(numPlanes = 4, numTables = 16, dim = 64))),

    // IVF-partitioned ANN (MLlib KMeans coarse quantizer) at nprobe <
    // nlist — approximate by design → rows-only (recall gated in
    // KnnSpec).
    QueryDef(
      "q46_knn_ivf",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Knn.ivfTopK(emb, emb.where(col("vec_id") < 20), k = 3,
            nlist = 8, nprobe = 3)
          .select("query_id", "neighbor_id", "rank")
      },
      None),

    // IVF at FULL probe: every cell is searched, so the result is
    // exactly the brute-force answer — the IVF code path (KMeans
    // assignment, centroid pruning window, per-cell re-rank) gets a
    // hash-checked oracle, and only the nprobe cut stays approximate.
    QueryDef(
      "q49_knn_ivf_fullprobe",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        Knn.ivfTopK(emb, emb.where(col("vec_id") < 20), k = 3,
            nlist = 8, nprobe = 8)
          .select("query_id", "neighbor_id", "rank")
      },
      Some(exactTopKOracleSql)),

    // Embedding-cosine near-dup canonicalization: cosine >= 0.44 pairs
    // (threshold chosen inside a gap of the pair-cosine distribution so
    // float noise cannot flip a boundary pair between engines) →
    // connected components → min-id canonical. Brute-force pair
    // generation here so the DuckDB oracle can run the identical
    // dataflow end to end (recursive CTE for the components); the scale
    // path for the same decision is lshTopK candidates + the same
    // keepCanonical kernel.
    QueryDef(
      "q48_embedding_neardup",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        val l = emb.select(col("vec_id").as("a_id"),
          col("embedding").as("va"))
        val r = emb.select(col("vec_id").as("b_id"),
          col("embedding").as("vb"))
        val pairs = l.crossJoin(r)
          .where(col("a_id") < col("b_id"))
          .where(graft.functions.GraftFunctions
            .cosineSim(col("va"), col("vb")) >= 0.44)
          .select("a_id", "b_id")
        graft.dedup.TextDedup.keepCanonical(
            pairs, emb.select("vec_id"), "vec_id")
          .select("vec_id", "canonical_id", "is_canonical")
      },
      Some(nearDupOracleSql)),

    // The SCALE PATH for the same decision: pairs through hyperplane
    // buckets + exact-cosine verify (Knn.lshSimilarPairs) instead of a
    // cross join, then the identical CC kernel. 4 planes × 48 tables
    // puts the per-edge miss probability near 1e-4 at cosine 0.44, the
    // planes are deterministic, and every surviving pair is
    // exact-verified — so this shares q48's recursive-CTE exactness
    // oracle (KnnSpec separately proves brute/LSH canonicalization
    // equality on the sf0.01 embeddings; the full argument is in
    // SURVEY.md §8 "q52 oracle sharing").
    //
    // CAVEAT (triage note): the pair generation is only
    // PROBABILISTICALLY complete. Deterministic planes make the pass
    // stable on the shipped fixtures, but a regenerated embeddings
    // fixture or a new scale factor can legitimately produce a
    // persistent HASH_MISMATCH here through an unlucky boundary pair —
    // that is parameterization (raise numTables or drop to q48's
    // exactness demo), NOT engine corruption; q48 on the same data
    // distinguishes the two in one run.
    QueryDef(
      "q52_embedding_neardup_lsh",
      (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        val pairs = Knn.lshSimilarPairs(emb, threshold = 0.44,
            numPlanes = 4, numTables = 48, knownDim = 64)
          .select("a_id", "b_id")
        graft.dedup.TextDedup.keepCanonical(
            pairs, emb.select("vec_id"), "vec_id")
          .select("vec_id", "canonical_id", "is_canonical")
      },
      Some(nearDupOracleSql)),

    // Binary-column plumbing: the document text as an opaque binary
    // payload, its byte length and leading bytes as pure column
    // expressions (no decode).
    QueryDef(
      "q47_binary_meta",
      (s, dir) => graft.multimodal.Multimodal.withByteStats(
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload", "doc_id"),
      Some("""SELECT doc_id,
          octet_length(CAST(text AS BLOB)) AS n_bytes,
          lower(to_hex(CAST(substring(text, 1, 4) AS BLOB))) AS header_hex
        FROM documents""")),

    // Image perceptual near-dup: REAL 25x14 BMPs synthesized per doc
    // (md5 pixels shared within id-groups of five, corner-perturbed
    // per member — planted Hamming <= 2 near-dups with exact ground
    // truth), decoded by the REAL BMP parser, hashed by the
    // integer-space 60-bit dHash, paired through the SimHash Hamming
    // banding UNCHANGED. The oracle never sees a byte of BMP: it
    // recomputes the pixel FORMULA arithmetically (md5 -> cells ->
    // cross-multiplied dHash -> chunk join -> bit_count), so a drift
    // anywhere in encode -> decode -> luma -> downsample -> hash ->
    // band surfaces as a hash mismatch.
    QueryDef(
      "q75_image_neardup",
      (s, dir) => graft.multimodal.Multimodal.imageNearDups(
        graft.multimodal.Multimodal.synthGroupImages(
          Tables.load(s, dir, "documents").select(col("doc_id")),
          "doc_id", w = 25, h = 14),
        "payload", "doc_id", maxHamming = 2),
      Some(imageDHashOracleSql(w = 25, h = 14, maxHamming = 2)))
  )

  /** q75's oracle: the synthetic pixel formula, integer luma cells,
    * cross-multiplied dHash bits, pigeonhole chunk join, and Hamming
    * filter — generated from the same grid constants as
    * [[graft.multimodal.Multimodal.dHash60]] (11x6 grid, 60 bits,
    * maxHamming+1 chunks), the q37 oracle's pattern. Pixel sums here
    * are raw 0..255 values where the engine sums 1000x lumas (r=g=b);
    * the cross-multiplication comparison is scale-invariant, so the
    * bits agree exactly.
    */
  private def imageDHashOracleSql(w: Int, h: Int,
      maxHamming: Int): String = {
    val gw = graft.multimodal.Multimodal.DHashGridW
    val gh = graft.multimodal.Multimodal.DHashGridH
    val bits = 60
    val chunks = math.min(maxHamming + 1, bits)
    val bounds = (0 to chunks).map(c => c * bits / chunks)
    val bandSelects = (0 until chunks).map { c =>
      val lo = bounds(c)
      val mask = (1L << (bounds(c + 1) - lo)) - 1L
      s"SELECT doc_id, $c AS chunk, (simhash >> $lo) & $mask AS ckey FROM fp"
    }.mkString(" UNION ALL ")
    s"""WITH ids AS (SELECT doc_id FROM documents
          WHERE doc_id IS NOT NULL),
      px AS (SELECT doc_id, x, y,
          CAST(('0x' || substring(md5('img-v1:'
            || CAST(doc_id // 5 AS VARCHAR) || ':' || x || ':' || y),
            1, 2)) AS INT) AS v0
        FROM ids, (SELECT unnest(range(0, $w)) AS x),
             (SELECT unnest(range(0, $h)) AS y)),
      pv AS (SELECT doc_id, x, y,
          CASE WHEN (x = 0 AND y = 0) OR (x = ${w - 1} AND y = ${h - 1})
               THEN CAST((v0 + (doc_id % 5) * 51) % 256 AS INT)
               ELSE v0 END AS v
        FROM px),
      cells AS (SELECT doc_id, (x * $gw) // $w AS cx,
          (y * $gh) // $h AS cy, sum(v) AS s, count(*) AS c
        FROM pv GROUP BY doc_id, cx, cy),
      bits AS (SELECT a.doc_id,
          CAST(a.cy * ${gw - 1} + a.cx AS INT) AS bit,
          CASE WHEN b.s * a.c > a.s * b.c THEN 1 ELSE 0 END AS val
        FROM cells a JOIN cells b
          ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1),
      fp AS (SELECT doc_id,
          CAST(sum(CASE WHEN val = 1 THEN CAST(1 AS BIGINT) << bit
            ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id),
      banded AS ($bandSelects),
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b USING (chunk, ckey)
        WHERE a.doc_id < b.doc_id)
    SELECT c.a_id, c.b_id,
      CAST(bit_count(xor(fa.simhash, fb.simhash)) AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.a_id
    JOIN fp fb ON fb.doc_id = c.b_id
    WHERE bit_count(xor(fa.simhash, fb.simhash)) <= $maxHamming"""
  }
}
