package graft.ann

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosineSim

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>) — harness extension for training-data pipelines.
  *
  * Two paths:
  *  - brute-force cosine top-k (the exactness baseline): a join + window,
  *    O(Q·N) dot products via the native codegen'd `cosine_sim`
  *    expression (bit-identical to the [[dot]] / [[l2Norm]] HOF form and
  *    to a primitive-loop UDF, FunctionsSpec's references; the zip_with /
  *    aggregate HOFs are CodegenFallback and the UDF boxes both arrays
  *    per row, so the expression is strictly faster). Correct at any
  *    scale, quadratic cost — the oracle.
  *  - LSH-bucketed (random-hyperplane signatures): dot products only
  *    within matching sign-buckets. The hyperplanes are deterministic
  *    (seeded hash arithmetic, no RNG state) so results are reproducible
  *    across runs and engines. This is the 100 TB path: candidates
  *    meet on a compact key — queries join the corpus on it (`lshTopK`),
  *    and a corpus's own pairs come from the id lists of its buckets
  *    (`lshSimilarPairs`, the `RelationalOps` bucket → pairs kernel).
  */
object Knn {

  /** l2 norm of an array<float/double> column, as double. */
  def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Dot product of two equal-length array columns, as double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows by cosine similarity (excluding self-matches by id).
    * Deterministic ordering: similarity desc, then neighbor id asc.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"))
    // Null vectors → null cosine; zero-norm vectors → NaN, which
    // Spark orders ABOVE every real similarity — either would displace
    // true neighbors from the top-k (see keepDefinedCosine).
    val scored = keepDefinedCosine(q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineSim(col("q_vec"), col("c_vec")).as("cosine")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * a fixed-point value in [-1, 1) derived from md5 — stable across
    * engines and runs, no RNG state. Computed ONCE on the driver; the
    * values travel into the plan as literals (previously this md5 was a
    * Spark expression re-evaluated per element per row).
    */
  def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane$p#$d".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / 2147483648.0d - 1.0d
  }

  /** The full plane matrix, BIT-IDENTICAL to element-wise
    * [[planeComponent]] (gated in KnnSpec) but orders of magnitude
    * cheaper to materialize: one reused MessageDigest (digest() resets
    * it) and the unsigned big-endian int read directly from the digest
    * bytes — the same number `parseLong(hex, 16)` of the first 4 bytes
    * produces, without a MessageDigest.getInstance + hex-format +
    * parse round trip per (plane, dim) element. At the derived maxima
    * (128 tables × 24 planes × 768 dims ≈ 2.4M elements) the naive
    * form cost seconds of serial driver time per query construction —
    * including every streaming query start.
    */
  private[ann] def planeMatrix(rows: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(rows, dim) { (p, d) =>
      val bytes = md.digest(s"plane$p#$d".getBytes("UTF-8"))
      val u = java.lang.Integer.toUnsignedLong(
        java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt)
      u.toDouble / 2147483648.0d - 1.0d
    }
  }

  /** Planes needed so the EXPECTED bucket population n / 2^planes stays
    * at or under `targetBucket`: ceil(log₂(n / targetBucket)), floored at
    * 4 (the recall-tuned small-corpus setting) and capped at 24 (16M
    * buckets — beyond that the signature join key stops paying for
    * itself before petabyte-scale corpora). This is what bounds the
    * bucket pairs: per table, candidate work is Σ over buckets of
    * |bucket|² ≈ n · targetBucket — LINEAR in n for a fixed target —
    * whereas any fixed plane count degenerates to (n / 2^planes)² =
    * quadratic once n outgrows it.
    */
  def derivePlanes(n: Long, targetBucket: Long = 4096L): Int = {
    val buckets = math.max(1.0, n.toDouble / math.max(1L, targetBucket))
    math.min(24, math.max(4,
      math.ceil(math.log(buckets) / math.log(2.0)).toInt))
  }

  /** The plane count `lshTopK` actually uses: the caller's explicit
    * choice when > 0, else derived from the corpus size. */
  def effectivePlanes(numPlanes: Int, n: => Long, targetBucket: Long): Int =
    if (numPlanes > 0) numPlanes else derivePlanes(n, targetBucket)

  /** Per-plane sign-agreement probability for two vectors at cosine
    * similarity `sim`: p = 1 − θ/π (the random-hyperplane collision
    * probability, Charikar 2002).
    */
  def collisionProb(sim: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, sim))) / math.Pi

  /** [[deriveTables]]' cap on the derived table count. */
  private val MaxTables = 128

  /** The recall side of the LSH parameterization: tables needed so the
    * overall collision probability 1 − (1 − p^planes)^tables reaches
    * `targetRecall` for pairs at cosine `simThreshold`, with
    * p = collisionProb(simThreshold). This co-derives with
    * [[derivePlanes]]: more planes (bigger corpus) lower p^planes
    * geometrically, so a fixed table count silently trades recall for
    * cost — deriving BOTH keeps the contract (bounded buckets AND
    * target recall) as n grows.
    *
    * Capped at [[MaxTables]] with a loud warning: past ~20 derived planes
    * the required table count explodes (at sim 0.5, 24 planes would need
    * ~38k tables) — no banding parameterization reaches that recall
    * cheaply, and the caller should pin planes AND tables for the
    * workload's real similarity floor instead (near-dup thresholds
    * ≥ 0.9 collide almost surely per table, so they stay cheap).
    */
  def deriveTables(
      planes: Int,
      targetRecall: Double = 0.95,
      simThreshold: Double = 0.5): Int = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1), got $targetRecall")
    val perTable = math.pow(collisionProb(simThreshold), planes)
    if (perTable >= 1.0 - 1e-12) 1
    else if (perTable <= 0.0) {
      // collisionProb is exactly 0 only at simThreshold = -1 ("emit
      // every pair"): log1p(-0) = 0 would make t = -Infinity →
      // Int.MinValue, skip the loud-warning branch below, and
      // silently return ONE table at collision probability 0 — the
      // inverse of the function's caps-loudly contract. No table
      // count reaches any recall here; cap loudly instead.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"deriveTables: per-table collision probability is 0 at " +
          s"cosine $simThreshold over $planes planes — no table count " +
          s"reaches recall $targetRecall; capping at $MaxTables. Use " +
          "the brute-force path for threshold -1 workloads.")
      MaxTables
    } else {
      val t = math.ceil(
        math.log1p(-targetRecall) / math.log1p(-perTable)).toInt
      if (t > MaxTables)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"deriveTables: recall $targetRecall at cosine $simThreshold " +
            f"over $planes planes needs $t tables — capped at $MaxTables " +
            f"(achieved recall ≈ ${1.0 - math.pow(1.0 - perTable, MaxTables)}%.3f). " +
            "Pin numPlanes AND numTables for this workload's true " +
            "similarity floor.")
      math.min(MaxTables, math.max(1, t))
    }
  }

  /** All-table signatures in ONE primitive-loop UDF over the closure-
    * captured plane matrix: a literal expanded-sum expression tree
    * (numTables × numPlanes × dim ≈ 16k nodes) costs tens of seconds in
    * optimizer/codegen time alone; the UDF keeps the plan tiny and does
    * numTables·numPlanes·dim flops per row with no allocation.
    */
  private def signatureUdf(nt: Int, np: Int, dim: Int) = {
    // The sig is a packed long and the plan math assumes independent
    // bits: numPlanes = 64 would wrap (1L << 64 == 1L) and silently
    // alias two planes into one bit; <= 0 would collapse every vector
    // into signature 0 and turn the bucket pairs quadratic. The
    // derived path caps at 24, so only PINNED callers (exactly the
    // ones with no other safety net, e.g. streaming) can hit this.
    require(np >= 1 && np <= 63, s"numPlanes $np not in [1, 63]")
    require(nt >= 1, s"numTables $nt")
    require(dim >= 1, s"dim $dim")
    val planes = planeMatrix(nt * np, dim)
    udf { (v: Seq[Float]) =>
      // A vector SHORTER than the pinned dim signs to 0 on every plane
      // — matching the DuckDB oracle (and KnnSpec's expression form),
      // where the out-of-range element is NULL, the whole projection
      // sum goes NULL, and the sign test falls to the 0 branch. Signing
      // the prefix instead would bucket the engine differently from the
      // 'bit-exact by construction' oracle forms.
      if (v.length < dim) new Array[Long](nt)
      else {
        val out = new Array[Long](nt)
        var t = 0
        while (t < nt) {
          var bits = 0L
          var p = 0
          while (p < np) {
            val plane = planes(t * np + p)
            var s = 0.0d
            var d = 0
            while (d < dim) { s += v(d) * plane(d); d += 1 }
            if (s >= 0) bits |= (1L << p)
            p += 1
          }
          out(t) = bits
          t += 1
        }
        out
      }
    }
  }

  /** Embedding dimensionality probe over the first NON-NULL vector —
    * the naive `head().getInt(0)` would NPE if the first row's vector
    * is null (null vectors are accepted, filtered input everywhere
    * else in this module) and throw on an empty frame. With no
    * non-null vector at all the dim is moot (every row is filtered
    * before the signature UDF anyway) — any positive value keeps
    * construction from throwing; 1 is returned.
    */
  private def probeDim(df: DataFrame, vecCol: String): Int =
    df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol)).cast("int").as("d"))
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)

  /** Defined-cosine guard for the rank/verify stages: a null vector
    * yields a null cosine and a ZERO-NORM vector yields 0/0 = NaN —
    * and Spark orders NaN ABOVE every real value, so an unguarded NaN
    * would outrank every true neighbor (and pass any `>=` threshold).
    * A vector with no direction has no defined similarity: excluded,
    * like null. Rows below `threshold` go too (NaN >= x is false on the
    * JVM, so the default keeps every defined cosine).
    *
    * A typed filter, so it stays above the projection that computes
    * `cosine`: a Column filter is pushed into the join condition with
    * `cosine_sim` inlined, computed there twice and once more in the
    * projection for every candidate pair.
    */
  private def keepDefinedCosine(scored: DataFrame,
      threshold: Double = Double.NegativeInfinity): DataFrame = {
    val i = scored.schema.fieldIndex("cosine")
    scored.filter((r: Row) => !r.isNullAt(i) && r.getDouble(i) >= threshold)
  }

  /** LSH-bucketed top-k: signatures over `numPlanes` hyperplanes,
    * `numTables` independent tables (banded planes); candidates = rows
    * sharing a (table, signature) bucket; exact cosine re-rank within
    * candidates.
    *
    * Cost bound: with `numPlanes = 0` (the default) the plane count is
    * derived per-corpus as ceil(log₂(n / targetBucketSize)) — see
    * [[derivePlanes]] — so expected bucket population stays ≈
    * `targetBucketSize` and per-table candidate generation stays ≈
    * n · targetBucketSize, linear in n. A FIXED plane count is only safe
    * while n ≲ targetBucket · 2^planes; past that the bucket join
    * tends toward (n / 2^planes)², which is why the default derives.
    *
    * Recall: per-plane sign agreement p = 1 − θ/π, per-table collision
    * p^planes, overall 1 − (1 − p^planes)^tables. More planes (bigger
    * corpus) therefore needs more tables for the same recall at a given
    * similarity — recall-critical callers at a known scale should pin
    * BOTH explicitly, as q45 does (4 planes × 16 tables on 500 vectors:
    * per-table collision at cosine ≈ 0.3 is p⁴ ≈ 0.14, 16 tables → ≈
    * 0.95 recall; measured 0.967 on the sf0.01 embeddings, gated ≥ 0.9
    * in KnnSpec). Near-dup workloads (cosine ≥ 0.9) collide almost
    * surely per table, so table count matters far less there.
    *
    * The bucket join carries (table, sig, id) only — 24 bytes per row —
    * and the distinct runs on bare id pairs; full vectors are re-attached
    * afterwards for the exact re-rank. At 100 TB that means the wide
    * embedding payload crosses the wire once per surviving candidate,
    * not once per bucket collision.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      numPlanes: Int = 0, // 0 = derive from corpus size (derivePlanes)
      numTables: Int = 0, // 0 = derive from planes (deriveTables)
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetBucketSize: Long = 4096L,
      knownCount: Long = 0L, // >0: skip the corpus.count() pre-action
      knownDim: Int = 0): DataFrame = { // >0: skip the head() dim probe
    // With planes, tables and dim all pinned (or known) this runs ZERO
    // pre-actions over the corpus lineage — derived inputs don't pay two
    // extra materializations.
    val np = effectivePlanes(numPlanes,
      if (knownCount > 0) knownCount else corpus.count(), targetBucketSize)
    val nt = if (numTables > 0) numTables
      else deriveTables(np)
    val dim = if (knownDim > 0) knownDim else probeDim(corpus, vecCol)
    // Surface the chosen parameterization in the bench notes (like
    // cc_kernel): a fixture change that shifts the derivation becomes
    // visible in BENCH json, not only in recall gates.
    graft.pipeline.PhaseLog.note("lsh_params.topk",
      s"planes=$np (${if (numPlanes > 0) "pinned" else "derived"}), " +
        s"tables=$nt (${if (numTables > 0) "pinned" else "derived"})")
    // One shared signature definition with the streaming path — the
    // null-vector filter and any future invariant live in ONE place.
    def sigs(df: DataFrame, side: String): DataFrame =
      tableSignatures(df, idCol, vecCol, np, nt, dim)
        .withColumnRenamed("id", s"${side}_id")
    val cand = sigs(queries, "query")
      .join(sigs(corpus, "neighbor"), Seq("table", "sig"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val withVecs = cand
      .join(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("query_vec")), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("neighbor_vec")), "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    keepDefinedCosine(withVecs.select(col("query_id"), col("neighbor_id"),
        cosineSim(col("query_vec"), col("neighbor_vec")).as("cosine")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** `(id, table, sig)` hyperplane-signature rows for a vector frame —
    * one fused-UDF projection + posexplode, PINNED (numPlanes, numTables,
    * dim). Shared by the batch bucket join below and the streaming
    * candidate op (`IncrementalDedup.embeddingCandidateStream`), so both
    * paths bucket identically by construction. Streaming callers must
    * pin all three parameters: deriving them needs a corpus pre-scan a
    * stream does not have.
    */
  def tableSignatures(vectors: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, numTables: Int, dim: Int): DataFrame = {
    val sigUdf = signatureUdf(numTables, numPlanes, dim)
    // A null vector cannot be bucketed — and Spark passes null through
    // to the reference-typed Seq[Float] UDF arg, where v.length would
    // NPE the whole job (in the streaming candidate op, permanently).
    vectors
      .where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(sigUdf(col(vecCol))).as(Seq("table", "sig")))
  }

  /** All id pairs with cosine ≥ `threshold`, generated through hyperplane
    * buckets instead of a cross join — the scale path for embedding
    * near-dup canonicalization (q48's demo uses brute-force pair
    * generation only so the DuckDB oracle can replicate the dataflow).
    *
    * Candidates = id pairs sharing ANY (table, signature) bucket, each
    * verified with the exact cosine before emission: precision is exact;
    * recall is the LSH collision probability 1 − (1 − p^planes)^tables
    * with p = 1 − θ/π at the threshold angle. Size `numTables` for the
    * threshold — at cosine 0.44 (p ≈ 0.64), 4 planes × 48 tables puts
    * the per-edge miss probability near 1e-4; at near-dup thresholds
    * (≥ 0.9) a handful of tables suffices. The planes are deterministic,
    * so a given (corpus, parameters) always yields the same pair set —
    * which is what lets q52 share q48's exactness oracle.
    *
    * The buckets' id lists and their pairs are the
    * [[graft.ops.RelationalOps.bucketLists]] → `listPairs` kernel over
    * (table, sig, id) rows; vectors are re-attached to the DISTINCT
    * surviving id pairs for the verify, so the wide embedding payload
    * crosses the wire once per candidate, not once per bucket collision.
    */
  def lshSimilarPairs(
      vectors: DataFrame,
      threshold: Double,
      numPlanes: Int = 0, // 0 = derive from corpus size (derivePlanes)
      numTables: Int = 0, // 0 = derive from planes at `threshold`
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      targetBucketSize: Long = 4096L,
      knownCount: Long = 0L, // >0: skip the vectors.count() pre-action
      knownDim: Int = 0): DataFrame = { // >0: skip the head() dim probe
    val np = effectivePlanes(numPlanes,
      if (knownCount > 0) knownCount else vectors.count(), targetBucketSize)
    // Pairs are verified at `threshold`, so that IS the recall floor the
    // table count must serve.
    val nt = if (numTables > 0) numTables
      else deriveTables(np, simThreshold = threshold)
    val dim = if (knownDim > 0) knownDim else probeDim(vectors, vecCol)
    graft.pipeline.PhaseLog.note("lsh_params.pairs",
      s"planes=$np (${if (numPlanes > 0) "pinned" else "derived"}), " +
        s"tables=$nt (${if (numTables > 0) "pinned" else "derived"})")
    // Few, hot buckets (q52: 2,000 vectors in 48 × 16): repartitioned by
    // number, which adaptive execution does not coalesce, the lists'
    // aggregate keeps the session's task count for their fan-out instead
    // of one task (q52's steady wall 1.9 s, against 3.4 s without).
    val sigs = tableSignatures(vectors, idCol, vecCol, np, nt, dim)
    val ops = graft.ops.RelationalOps
    val cand = ops.listPairs(ops.bucketLists(
        sigs.repartition(
          sigs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
          col("table"), col("sig")),
        Seq("table", "sig"), "id"))
      .select(col("l_id").as("a_id"), col("r_id").as("b_id"))
    val withVecs = cand
      .join(vectors.select(col(idCol).as("a_id"), col(vecCol).as("va")),
        "a_id")
      .join(vectors.select(col(idCol).as("b_id"), col(vecCol).as("vb")),
        "b_id")
    // Two zero-norm vectors share EVERY bucket (all sign bits fire on
    // projection 0); their NaN cosine passes `>= threshold` under
    // Spark's NaN-is-greatest ordering, so without the guard they would
    // verify as a "similar pair" and merge in downstream
    // canonicalization.
    keepDefinedCosine(withVecs.select(col("a_id"), col("b_id"),
      cosineSim(col("va"), col("vb")).as("cosine")), threshold)
  }

  /** IVF-style partitioned search: cluster the corpus with MLlib KMeans
    * into `nlist` coarse cells, then search only the `nprobe` cells whose
    * centroids are nearest each query. The centroid table is tiny and
    * broadcast; the corpus is scanned once partitioned by cell.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.linalg.Vector

    // Null vectors are tolerated (filtered) input across this module;
    // unfiltered they would reach KMeans.fit as null features and
    // crash the fit — the one path the null hardening had missed.
    val corpusVec = corpus.select(col(idCol), col(vecCol))
      .where(col(vecCol).isNotNull)
      .withColumn("fvec", array_to_vector(col(vecCol)))
    val km = new KMeans().setK(nlist).setSeed(seed).setFeaturesCol("fvec")
      .setPredictionCol("cell")
    val model = km.fit(corpusVec)
    val assigned = model.transform(corpusVec)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("cell"))

    // Tiny centroid table → collected to the driver, shipped as a literal.
    val centroids = model.clusterCenters.zipWithIndex.map {
      case (v: Vector, i) => (i, v.toArray)
    }
    val centroidDf = corpus.sparkSession
      .createDataFrame(centroids.toSeq).toDF("cell", "centroid")
    // Zero-norm queries have no defined direction AND would divide by
    // zero in the centroid distance — which under ANSI (the Spark 4
    // default) is a SparkArithmeticException, not a quiet NaN. Null
    // vectors norm to null and fall out of the same filter.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .where(coalesce(l2Norm(col("q_vec")), lit(0.0)) > 0)
    val wCell = Window.partitionBy("query_id")
      .orderBy(col("cdist").asc, col("cell").asc)
    val probed = q.crossJoin(broadcast(centroidDf))
      // A centroid CAN be the zero vector (a cell of zero vectors);
      // rank such cells last instead of dividing by zero.
      .withColumn("cdist",
        when(l2Norm(col("centroid")) > 0,
          -dot(col("q_vec"), col("centroid")) /
            (l2Norm(col("q_vec")) * l2Norm(col("centroid"))))
        .otherwise(lit(Double.MaxValue)))
      .withColumn("crank", row_number().over(wCell))
      .where(col("crank") <= nprobe)
      .select("query_id", "q_vec", "cell")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    keepDefinedCosine(probed.join(assigned, "cell")
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineSim(col("q_vec"), col("c_vec")).as("cosine")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }
}
