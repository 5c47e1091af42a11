package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class KnnSpec extends SparkSpec {

  /** The random-hyperplane signature as a column expression, the
    * reference for the fused `Knn.tableSignatures` UDF: `numPlanes`
    * sign bits of v·plane packed into a long, each projection an
    * expanded sum over literal plane weights. `get`, not `getItem`:
    * under ANSI getItem throws on an out-of-range index, while get()
    * returns null, the null poisons the sum, and the sign test falls to
    * the 0 branch — bit 0 for every plane of a vector shorter than
    * `dim`, as the DuckDB oracle (out-of-range list index → NULL) gives.
    */
  private def hyperplaneSignature(v: Column, numPlanes: Int,
      dim: Int): Column =
    (0 until numPlanes).map { p =>
      val proj = (0 until dim).map { d =>
        get(v, lit(d)).cast("double") * lit(Knn.planeComponent(p, d))
      }.reduce(_ + _)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Cosine as the HOF Column form, the brute-force reference. */
  private def cosine(a: Column, b: Column): Column =
    Knn.dot(a, b) / (Knn.l2Norm(a) * Knn.l2Norm(b))

  private def vectors = {
    import spark.implicits._
    // Three tight groups along axes + one diagonal outlier.
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.05f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.05f, 0.99f, 0.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (6L, Array(0.0f, 0.05f, 0.99f, 0.0f)),
      (7L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
  }

  test("brute-force top-1 finds the obvious nearest neighbor") {
    val out = Knn.bruteForceTopK(vectors, vectors, k = 1)
    val nn = out.collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id"))
      .toMap
    assert(nn(1L) == 2L && nn(2L) == 1L)
    assert(nn(3L) == 4L && nn(4L) == 3L)
    assert(nn(5L) == 6L && nn(6L) == 5L)
  }

  test("brute-force ranks are dense and cosine is monotone") {
    val rows = Knn.bruteForceTopK(vectors, vectors, k = 3)
      .where(col("query_id") === 1L)
      .orderBy("rank").collect()
    assert(rows.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    val cosines = rows.map(_.getAs[Double]("cosine")).toSeq
    assert(cosines == cosines.sorted.reverse)
  }

  /** Real embeddings at sf0.01 (500 × d vectors) — the recall gates run
    * at the same scale/parameters as q45/q46, so a plane-hashing or
    * banding regression fails here, not just in production plans.
    */
  private def sfEmbeddings = {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    (emb, emb.where(col("vec_id") < 20))
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("LSH recall@3 >= 0.9 vs brute force on sf0.01 embeddings") {
    val (emb, queries) = sfEmbeddings
    val brute = pairs(Knn.bruteForceTopK(emb, queries, k = 3))
    val lsh = pairs(Knn.lshTopK(emb, queries, k = 3))
    val recall = brute.count(lsh.contains).toDouble / brute.size
    assert(recall >= 0.9,
      f"LSH recall@3 = $recall%.3f < 0.9 (${brute.size} gold pairs)")
  }

  test("IVF at full probe is exact vs brute force on sf0.01 embeddings") {
    val (emb, queries) = sfEmbeddings
    def ranked(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select(col("query_id").cast("long"),
          col("neighbor_id").cast("long"), col("rank").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = ranked(Knn.bruteForceTopK(emb, queries, k = 3))
    val ivf = ranked(Knn.ivfTopK(emb, queries, k = 3, nlist = 8, nprobe = 8))
    assert(ivf == brute,
      s"IVF full-probe diverges: missing=${(brute -- ivf).take(5)} " +
        s"extra=${(ivf -- brute).take(5)}")
  }

  test("derivePlanes bounds expected bucket population at the target") {
    // Small corpora keep the recall-tuned floor; planes then grow
    // ~log2(n/target) so n / 2^planes stays <= target.
    assert(Knn.derivePlanes(500) == 4)
    assert(Knn.derivePlanes(50000, 1024) == 6)
    assert(Knn.derivePlanes(50000, 256) == 8)
    assert(Knn.derivePlanes(10000000000L, 4096) == 22)
    assert(Knn.derivePlanes(1000000000000L, 4096) == 24) // cap
    val ns = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L)
    val planes = ns.map(Knn.derivePlanes(_))
    assert(planes == planes.sorted, s"not monotonic: $planes")
    ns.foreach { n =>
      val p = Knn.derivePlanes(n)
      assert(p == 24 || n.toDouble / math.pow(2, p) <= 4096.0,
        s"n=$n planes=$p expected bucket ${n / math.pow(2, p)} > 4096")
    }
    // Explicit plane counts must never force a corpus count (by-name n).
    assert(Knn.effectivePlanes(4, sys.error("must not be forced"), 4096) == 4)
  }

  test("deriveTables hits the recall target minimally and caps loudly") {
    // p = 1 − θ/π: exactly 2/3 at cosine 0.5 (θ = 60°).
    assert(math.abs(Knn.collisionProb(0.5) - 2.0 / 3.0) < 1e-9)
    def recall(planes: Int, tables: Int, sim: Double): Double =
      1.0 - math.pow(1.0 - math.pow(Knn.collisionProb(sim), planes), tables)
    // The derived count clears the target; one fewer does not.
    for (planes <- Seq(4, 6, 8)) {
      val t = Knn.deriveTables(planes, 0.9, 0.5)
      assert(recall(planes, t, 0.5) >= 0.9,
        s"$planes planes x $t tables below target")
      assert(recall(planes, t - 1, 0.5) < 0.9,
        s"$planes planes: $t tables not minimal")
    }
    // Near-dup floors collide almost surely per table — stays cheap.
    assert(Knn.deriveTables(8, 0.9, 0.95) <= 8)
    // Scale-derived plane counts make the target geometrically
    // unreachable (24 planes at sim 0.5 would need ~39k tables) —
    // capped at maxTables with a warning, never an explosion.
    assert(Knn.deriveTables(24, 0.9, 0.5) == 128)
  }

  test("derived planes keep real bucket population bounded on a 50k corpus") {
    // 50k deterministic pseudo-random 8-dim vectors. With the derived
    // plane count (8 for target 256) the measured buckets must stay near
    // the target; a fixed 4-plane signature over the same corpus would
    // put ~3125 rows in the AVERAGE bucket and fail both bounds.
    val n = 50000L
    val target = 256L
    val dim = 8
    val planesN = Knn.derivePlanes(n, target)
    assert(planesN == 8)
    val vecs = spark.range(n).select(col("id"),
      array((0 until dim).map(d =>
        ((pmod(xxhash64(col("id") * lit(dim) + lit(d)), lit(2000L))
          - lit(1000L)).cast("double") / lit(1000.0)).cast("float")): _*)
        .as("embedding"))
    val buckets = vecs
      .select(hyperplaneSignature(col("embedding"), planesN, dim)
        .as("sig"))
      .groupBy("sig").count()
      .agg(max("count").as("maxb"), sum(col("count") * col("count"))
        .as("sumsq"), count(lit(1)).as("nbuckets"))
      .head()
    val maxBucket = buckets.getLong(0)
    val sumSq = buckets.getLong(1)
    // Cube-distributed test vectors skew sign patterns ~10x (corners
    // align with specific sign combinations), so the max bound is loose;
    // it still sits well under the 4-plane default's AVERAGE bucket of
    // ~3125, and the sum-of-squares bound below is the real cost gate.
    assert(maxBucket <= 16 * target,
      s"max bucket $maxBucket > ${16 * target} (target $target)")
    // Candidate-join work per table is sum over buckets of |b|^2; the
    // linear-in-n bound the scaladoc promises is n * O(target).
    assert(sumSq <= n * 4 * target,
      s"sum(|b|^2) = $sumSq > ${n * 4 * target} — bucket join no longer " +
        "linear in corpus size")
  }

  test("fully-derived (planes, tables) reach measured recall@3 >= 0.9 " +
      "on the 50k corpus") {
    // Same deterministic 50k x 8-dim corpus as the bucket-bound gate.
    // The DEFAULT parameterization derives planes from n (8 at bucket
    // target 256) AND tables from planes (76 at recall 0.95 / sim 0.5) —
    // the verdict-item gate: measured top-3 recall vs brute force must
    // clear the target while the bucket cost bound (previous test)
    // holds at the same plane count.
    val n = 50000L
    val dim = 8
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        ((pmod(xxhash64(col("id") * lit(dim) + lit(d)), lit(2000L))
          - lit(1000L)).cast("double") / lit(1000.0)).cast("float")): _*)
        .as("embedding"))
      .persist()
    try {
      val queries = vecs.where(col("vec_id") < 20)
      val gold = pairs(Knn.bruteForceTopK(vecs, queries, k = 3))
      val lsh = pairs(Knn.lshTopK(vecs, queries, k = 3,
        targetBucketSize = 256, knownCount = n, knownDim = dim))
      val recall = gold.count(lsh.contains).toDouble / gold.size
      assert(recall >= 0.9,
        f"derived-parameter recall@3 = $recall%.3f < 0.9 " +
          s"(${gold.size} gold pairs)")
    } finally vecs.unpersist()
  }

  test("LSH similar-pairs scale path reproduces brute-force near-dup " +
      "canonicalization on sf0.01") {
    // q48's demo generates pairs by cross join so the oracle can run the
    // identical SQL; this gate proves the DECLARED scale path (hyperplane
    // buckets + exact verify + the same CC kernel) reaches the same
    // canonicalization. Deterministic planes → a pass here is stable, and
    // q52 can share q48's exactness oracle.
    val (emb, _) = sfEmbeddings
    val l = emb.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val r = emb.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val brutePairs = l.crossJoin(r)
      .where(col("a_id") < col("b_id"))
      .where(cosine(col("va"), col("vb")) >= 0.44)
      .select("a_id", "b_id")
    val lshPairs = Knn.lshSimilarPairs(emb, threshold = 0.44,
        numPlanes = 4, numTables = 48)
      .select("a_id", "b_id")
    def canon(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.dedup.TextDedup.keepCanonical(pairs, emb.select("vec_id"),
          "vec_id")
        .select(col("vec_id").cast("long"), col("canonical_id").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = canon(brutePairs)
    val s = canon(lshPairs)
    assert(b.nonEmpty && b.exists { case (k, v) => k != v },
      "fixture has no near-dup pairs — gate is vacuous")
    assert(s == b, {
      val diff = (b.toSet diff s.toSet) ++ (s.toSet diff b.toSet)
      s"scale-path canonicalization diverges on ${diff.size} rows: " +
        diff.take(10).toString
    })
  }

  test("IVF top-k matches brute force with full probing (toy)") {
    val brute = Knn.bruteForceTopK(vectors, vectors, k = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    val ivf = Knn.ivfTopK(vectors, vectors, k = 1,
      nlist = 2, nprobe = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
  }

  test("planeMatrix is bit-identical to element-wise planeComponent") {
    val m = Knn.planeMatrix(7, 11)
    (0 until 7).foreach { p =>
      (0 until 11).foreach { d =>
        assert(m(p)(d) == Knn.planeComponent(p, d),
          s"planeMatrix($p)($d) diverged from planeComponent")
      }
    }
  }

  test("zero-norm and null vectors never rank or pair (NaN cosine " +
      "would outrank every real neighbor under Spark's NaN ordering)") {
    import spark.implicits._
    val vs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)),              // zero norm -> NaN cosine
      (4L, null.asInstanceOf[Array[Float]]) // null -> null cosine
    ).toDF("vec_id", "embedding")
    val brute = Knn.bruteForceTopK(vs, vs, k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(brute.toSet == Set((1L, 2L), (2L, 1L)),
      s"only the two real vectors may rank: ${brute.toSet}")
    // Zero vectors project to 0 on EVERY plane, so they share every
    // bucket — the verify must still reject their NaN cosine.
    val pairs = Knn.lshSimilarPairs(vs, threshold = 0.5,
        numPlanes = 4, numTables = 2, knownDim = 2).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(pairs == Set((1L, 2L)),
      s"zero/null vectors leaked into similar pairs: $pairs")
    val ivf = Knn.ivfTopK(vs, vs, k = 3, nlist = 2, nprobe = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert(ivf == Set((1L, 2L), (2L, 1L)),
      s"ivf leaked zero/null vectors: $ivf")
  }

  test("a vector shorter than the pinned dim signs to signature 0 in " +
      "both the fused UDF and the expression form") {
    import spark.implicits._
    val vs = Seq((1L, Array(0.5f)), (2L, Array(0.5f, -0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    // UDF path (dim pinned at 3; vector 1 has only 1 element).
    val udfSigs = Knn.tableSignatures(vs, "vec_id", "embedding",
        numPlanes = 4, numTables = 1, dim = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("sig"))
      .toMap
    // Expression path on the same frame.
    val exprSigs = vs.select(col("vec_id"),
        hyperplaneSignature(col("embedding"), 4, 3).as("sig"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (if (r.isNullAt(1)) 0L else r.getAs[Long]("sig"))).toMap
    assert(udfSigs(1L) == 0L, s"short vector must sign to 0: $udfSigs")
    assert(udfSigs == exprSigs,
      s"UDF sigs $udfSigs diverged from expression sigs $exprSigs")
    intercept[IllegalArgumentException] {
      Knn.tableSignatures(vs, "vec_id", "embedding",
        numPlanes = 64, numTables = 1, dim = 3)
    }
  }
}
