package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-slope measurement: run the scale-sensitive headline queries on
  * the sf0.1 fixtures AND on a synthesized ~10× corpus, and report the
  * runtime/row ratios — the empirical leg of the 100 TB story that plan
  * assertions (PlanSpec) and cap constructions (BlockingSkewSpec) argue
  * but cannot measure.
  *
  * Synthesis keeps the per-scale STATISTICS fixed so a ratio is
  * attributable to the engine, not to changed data properties:
  *
  *  - `documents` ×10: replica `r` rewrites every token `t` → `t~r`, so
  *    each replica reproduces the base corpus's intra-replica dup/shingle
  *    structure EXACTLY while sharing zero n-grams/shingles/simhash
  *    features across replicas — dup rate per doc is constant, so true
  *    candidate volume must scale ×10, and anything super-linear is the
  *    engine's fault. (Naive replication would instead make every doc a
  *    10-way exact dup — a ×100 blowup in TRUE pairs, by construction.)
  *  - `customer` ×10: custkey offset per replica. personEntries derives
  *    names via fixed moduli (4000/7000), so a 150k-custkey corpus has
  *    ~5 distinct persons per name pair where sf0.1 has 1 — name-block
  *    growth is therefore partly a DATA property here (like a real crawl
  *    whose duplicate-name density grows); maxBlockSize + learned
  *    predicates are what must keep the pipeline's candidate volume
  *    bounded, which is exactly what this measures.
  *  - embeddings: replication cannot work — measured on the sf0.1
  *    vectors, sign-decorrelated replicas still land 543 spurious
  *    cross-replica pairs over q52's 0.44 threshold per replica pair
  *    (the threshold sits ~3.5σ into the d=64 random-cosine tail; the
  *    fixture's own 211 pairs > 0.44 among 2000 vectors ARE mostly that
  *    N²-growing tail, so literal q52's true-pair count is quadratic on
  *    this data shape BY CONSTRUCTION — no engine can emit fewer pairs
  *    than exist). The embedding-family scale claim is therefore
  *    measured on its kernel in the declared scale mode:
  *    [[graft.ann.Knn.lshSimilarPairs]] with DERIVED planes/tables over
  *    a seeded corpus with planted near-dups (1 in 5 docs is a 0.94-
  *    cosine dup of its neighbor) at θ = 0.85, where the random tail is
  *    ~6.8σ out (≈ 0 spurious pairs at either size) and true pairs are
  *    n/5 — exactly linear ground truth.
  *
  * Output: one JSON line (stdout, last line) with per-query
  * base/scaled seconds (min over reps — the load-robust statistic),
  * row counts, and ratios; redirect it into `SCALE_rN.json`.
  */
object ScaleBench {

  val Dim = 64

  /** The replica-offset id scheme (`id + r · baseCount`) is only
    * collision-free when base ids are contiguous in [0, baseCount);
    * guard it at runtime so an arbitrary baseDir with 1-based or sparse
    * ids fails loudly instead of silently corrupting the ratios with
    * duplicate ids (the sf fixtures all satisfy it; ScaleCorpusSpec
    * gates the fixture case).
    */
  /** Validates the base table in ONE aggregate pass and returns its
    * row count. min/max alone would accept a duplicate-plus-gap id set
    * (same bounds, same count) and then emit colliding replica ids —
    * exactly the silent ratio corruption this guard exists to stop —
    * so the distinct count is part of the check; the emptiness check
    * runs first so an empty table fails with THIS message, not an NPE
    * off the null min/max.
    */
  private def requireContiguous(df: DataFrame, idCol: String): Long = {
    val row = df.agg(count(lit(1)), min(col(idCol)), max(col(idCol)),
      countDistinct(col(idCol))).head()
    val baseCount = row.getLong(0)
    require(baseCount > 0, s"replication needs a non-empty base table")
    val Seq(mn, mx, nd) = (1 to 3)
      .map(i => row.get(i).asInstanceOf[Number].longValue())
    require(mn == 0L && mx == baseCount - 1 && nd == baseCount,
      s"replication needs contiguous distinct $idCol in " +
        s"[0, $baseCount); found [$mn, $mx] with $nd distinct")
    baseCount
  }

  /** Token-suffix document replication (see class doc). */
  def replicateDocuments(spark: SparkSession, baseDir: String,
      factor: Int): DataFrame = {
    val docs = Tables.load(spark, baseDir, "documents")
    val baseCount = requireContiguous(docs, "doc_id")
    // q62's re-crawl split (and any doc_id % k selector) is only
    // scale-invariant if the replica offset preserves id digits:
    // replica ids are id + r·baseCount, so baseCount must be a
    // multiple of 10 or the digit windows shift per replica and the
    // measured ratios silently describe changed data, not the engine.
    require(baseCount % 10 == 0,
      s"doc replication needs baseCount % 10 == 0 to preserve " +
        s"doc_id % 10 structure; found $baseCount")
    docs.crossJoin(spark.range(factor).toDF("_r"))
      .select(
        (col("doc_id") + col("_r") * lit(baseCount)).as("doc_id"),
        when(col("_r") === 0, col("text"))
          .otherwise(array_join(
            transform(split(col("text"), " "),
              t => concat(t, lit("~"), col("_r"))), " ")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Custkey-offset customer replication (q50 input, see class doc). */
  def replicateCustomer(spark: SparkSession, baseDir: String,
      factor: Int): DataFrame = {
    val c = Tables.load(spark, baseDir, "customer")
    val baseCount = requireContiguous(c, "c_custkey")
    val cols = c.columns.map {
      case "c_custkey" =>
        (col("c_custkey") + col("_r") * lit(baseCount)).as("c_custkey")
      case other => col(other)
    }
    c.crossJoin(spark.range(factor).toDF("_r")).select(cols.toSeq: _*)
  }

  /** Seeded embedding corpus with planted near-dups: id ≡ 4 (mod 5) is
    * a ~0.94-cosine perturbation of id−1; every other vector is an
    * independent unit Gaussian. True pairs over θ=0.85 = n/5 exactly
    * (random-pair tail at 0.85 is ~6.8σ for d=64 ⇒ ≈ 0 spurious).
    * Deterministic per id (partitioning-independent).
    */
  def genEmbeddings(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val phi = 0x9E3779B97F4A7C15L
    def raw(id: Long, salt: Long): Array[Double] = {
      val r = new java.util.Random(seed ^ (id * phi) + salt)
      Array.fill(Dim)(r.nextGaussian())
    }
    def unit(v: Array[Double]): Array[Float] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
    val rows: Seq[(Long, Array[Float])] = (0L until n).map { id =>
      val v =
        if (id % 5 == 4) {
          val b = raw(id - 1, 0L)
          val g = raw(id, 1L)
          Array.tabulate(Dim)(k => b(k) + 0.35 * g(k))
        } else raw(id, 0L)
      (id, unit(v))
    }
    rows.toDF("vec_id", "embedding")
  }

  /** Min-over-reps timing of `build().count()`; returns (sec, rows). */
  private def time(reps: Int)(build: () => DataFrame): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    (1 to reps).foreach { _ =>
      val t0 = System.nanoTime()
      val df = build()
      rows = df.count()
      df.unpersist(false)
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaleDir = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    // Unvalidated env would not fail loudly: reps=0 makes every
    // timing loop a no-op (base_sec = Double.MaxValue, rows = 0 in a
    // JSON that still parses), factor<2 labels a non-scaled corpus as
    // scaled.
    require(reps >= 1, s"SPARK_GRAFT_SCALE_REPS $reps must be >= 1")
    require(factor >= 2, s"SPARK_GRAFT_SCALE_FACTOR $factor must be >= 2")
    val spark = GraftSession()
    val loadAvg0 = Bench.readLoadAvg()

    // ---- synthesize the scaled corpus (idempotent per config) ----
    // The marker's CONTENT is the (factor, baseDir) the parquet was
    // written from: a re-run with a DIFFERENT factor or base into the
    // same scaleDir re-synthesizes instead of silently timing the old
    // corpus under a wrong label.
    val marker = java.nio.file.Paths.get(scaleDir, "_SYNTH_OK")
    val config = s"x$factor from ${new java.io.File(baseDir).getAbsolutePath}"
    val fresh = java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker) == config
    if (!fresh) {
      System.err.println(s"[scale] synthesizing corpus ($config) at $scaleDir")
      replicateDocuments(spark, baseDir, factor)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")
      replicateCustomer(spark, baseDir, factor)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$scaleDir/customer.parquet")
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.writeString(marker, config)
    }

    // warmup (JIT + codegen + parquet paths)
    Tables.load(spark, baseDir, "documents").groupBy("lang").count().count()

    val queries = Seq("q35_minhash_candidates", "q37_simhash_pairs",
      "q50_dedupe_pipeline", "q53_decontaminate", "q56_dup_spans",
      "q58_shard_pack", "q60_domain_cap",
      // Bloom-prefiltered incremental dedup: the token-suffix replicas
      // keep doc_id % 10 digits AND the per-replica text-overlap
      // structure (replica texts never collide across replicas), so
      // the re-crawl dup rate is scale-invariant and survivors must
      // grow exactly linearly.
      "q62_incremental_dedup",
      // Sequence packing: replica ids stay contiguous and per-doc
      // token counts are replica-invariant, so the global tape (and
      // the sequence count) grows exactly linearly — measures the
      // two-pass prefix-sum seam plus the assembly shuffle at 10x.
      "q68_pack_sequences",
      // Vocab encode: output rows = docs, exactly linear by
      // construction (the suffix replicas grow the VOCABULARY 10x —
      // distinct tokens, not per-token counts — so this also measures
      // the top-V and broadcast-lookup paths under a wider token
      // space, the direction a real crawl grows).
      "q69_encode_tokens",
      // Top-k terms: output rows = 3 x docs, exactly linear; the df
      // aggregation and the tf-join-df equi-join see the same 10x
      // vocabulary growth.
      "q70_top_terms",
      // Epoch shuffle: output rows = docs, exactly linear; measures
      // the hash range-repartition + zipWithIndex numbering on a 10x
      // corpus-wide permutation.
      "q71_epoch_shuffle",
      // Bigram LM: output rows = docs, exactly linear; the suffix
      // replicas grow the bigram VOCABULARY 10x while per-bigram
      // counts stay flat — the model aggs and scoring joins scale on
      // the axis a real crawl grows.
      "q72_bigram_lm",
      // BPE learn (round 20): the suffix replicas grow the
      // distinct-word table 10x, so this measures the per-iteration
      // pair aggregation + rewrite at 10x vocabulary (rows = 8 merges,
      // flat by design — time ratio is the signal).
      "q73_bpe_learn",
      // BPE encode (round 20): learn at 10x vocabulary + the
      // zero-shuffle per-row encode; output rows = docs, exactly
      // linear.
      "q74_bpe_encode",
      // Image perceptual near-dup (round 20): synthGroupImages keys on
      // doc_id alone, so the scaled corpus plants 10x groups — pairs
      // grow exactly linearly (10 per group) while the dHash work is
      // pure per-row compute.
      "q75_image_neardup")
    val qs = SparkEntry.queries
    var phaseRecords = Map.empty[String, Map[String, Double]]

    val perQuery = queries.map { name =>
      def runAt(dir: String): (Double, Long) = {
        graft.pipeline.PhaseLog.drain(); graft.pipeline.PhaseLog.drainNotes()
        val r = time(reps)(() => qs(name)(spark, dir))
        val ph = graft.pipeline.PhaseLog.drain()
        if (ph.nonEmpty)
          phaseRecords += s"$name@${if (dir == baseDir) "base" else "x" + factor}" -> ph
        r
      }
      val (bSec, bRows) = runAt(baseDir)
      System.err.println(f"[scale] $name base: $bSec%.2f s, $bRows rows")
      val (sSec, sRows) = runAt(scaleDir)
      System.err.println(f"[scale] $name x$factor: $sSec%.2f s, $sRows rows")
      name -> (bSec, bRows, sSec, sRows)
    }

    // ---- embedding-family kernel: derived-parameter LSH near-dup ----
    val nBase = 2000
    def kernelAt(n: Int): (Double, Long, String) = {
      val emb = genEmbeddings(spark, n, seed = 20260813L)
        .repartition(32).persist()
      emb.count()
      graft.pipeline.PhaseLog.drainNotes()
      val (sec, rows) = time(reps) { () =>
        graft.ann.Knn.lshSimilarPairs(emb, threshold = 0.85,
          numPlanes = 0, numTables = 0, targetBucketSize = 128L,
          knownCount = n, knownDim = Dim)
      }
      emb.unpersist()
      val params = graft.pipeline.PhaseLog.drainNotes()
        .getOrElse("lsh_params.pairs", "n/a")
      (sec, rows, params)
    }
    val (kbSec, kbRows, kbParams) = kernelAt(nBase)
    System.err.println(f"[scale] lsh_kernel base: $kbSec%.2f s, $kbRows pairs")
    val (ksSec, ksRows, ksParams) = kernelAt(nBase * factor)
    System.err.println(f"[scale] lsh_kernel x$factor: $ksSec%.2f s, $ksRows pairs")
    val kernelNotes = Map(
      "lsh_params.base" -> kbParams, s"lsh_params.x$factor" -> ksParams)

    // ---- sharded-Bloom dedup kernel (round 17): the SAME %10 re-crawl
    // split q62 measures, run through dedupAgainstPartitioned — so the
    // artifact compares driver-Bloom vs sharded-build cost on identical
    // inputs, and the replica scheme's %10-digit preservation makes the
    // survivor count exactly linear (unlike q64's fixture %7 split,
    // whose digits the id offset does not preserve).
    def shardedAt(dir: String): (Double, Long) = {
      val docs = Tables.load(spark, dir, "documents")
      time(reps)(() => graft.text.CorpusOps.dedupAgainstPartitioned(
        docs.where(col("doc_id") % 10 >= 4),
        docs.where(col("doc_id") % 10 < 6),
        "text", nBuckets = 64, expectedItemsPerBucket = 16384L,
        fpp = 0.01))
    }
    val (sbSec, sbRows) = shardedAt(baseDir)
    System.err.println(f"[scale] sharded_dedup base: $sbSec%.2f s, $sbRows rows")
    val (ssSec, ssRows) = shardedAt(scaleDir)
    System.err.println(f"[scale] sharded_dedup x$factor: $ssSec%.2f s, $ssRows rows")

    // ---- edit-distance join kernel (round 18): q65's operator on a
    // synthesized id-derived name corpus rather than the replicated
    // customer names (replication copies c_name verbatim, so every
    // replica group would be 45 exact-dup pairs — true mass, but a
    // quadratic-in-factor DATA property that would hide the engine's
    // slope). Names Customer#%09d over a contiguous id range give each
    // name its in-range single-digit variants as distance-1 partners:
    // pair count grows near-linearly (one extra active digit position
    // at 10× adds ~9 partners per name — reported, not hidden), and
    // the explode/join/verify volume is exactly linear in rows.
    def editKernelAt(n: Int): (Double, Long) = {
      val names = spark.range(n.toLong).select(col("id"),
        format_string("Customer#%09d", col("id")).as("name"))
        .repartition(32).persist()
      names.count()
      val r = time(reps)(() => graft.similarity.EditJoin
        .editDistancePairs(names, "id", "name", maxDist = 1))
      names.unpersist()
      r
    }
    val edBase = 5000
    val (ebSec, ebRows) = editKernelAt(edBase)
    System.err.println(f"[scale] edit_join base: $ebSec%.2f s, $ebRows pairs")
    val (esSec, esRows) = editKernelAt(edBase * factor)
    System.err.println(f"[scale] edit_join x$factor: $esSec%.2f s, $esRows pairs")

    // ---- boilerplate-line kernel (round 19): q66's operator on a
    // synthesized corpus with a CONSTANT-FRACTION planted footer (the
    // token-suffix replicas can't measure q66: suffixing splits every
    // token's doc-frequency across replicas, so a scale-relative
    // threshold finds nothing at x10 and the rewrite becomes a no-op).
    // Here 3 of 5 docs carry the same 3-token footer at ANY n, body
    // tokens are unique per doc, and the threshold is n/2 — detection
    // volume, per-doc sets, and rewritten rows all scale exactly
    // linearly. It calls the operator with its default (literal) line
    // keys; the SCALE_r19/r20 boiler_lines numbers used hashed keys.
    def boilerKernelAt(n: Int): (Double, Long) = {
      val docs = spark.range(n.toLong).select(col("id"),
        concat(
          format_string("body%d uniq%d", col("id"), col("id")),
          when(col("id") % 5 < 3, lit(" shared footer line"))
            .otherwise(lit(""))).as("text"))
        .repartition(32).persist()
      docs.count()
      val r = time(reps)(() => graft.text.CorpusOps.dropBoilerplateLines(
        docs, "id", "text", maxDocs = n.toLong / 2, delimiter = " "))
      docs.unpersist()
      r
    }
    val blBase = 20000
    val (bbSec, bbRows) = boilerKernelAt(blBase)
    System.err.println(f"[scale] boiler_lines base: $bbSec%.2f s, $bbRows rows")
    val (bsSec, bsRows) = boilerKernelAt(blBase * factor)
    System.err.println(f"[scale] boiler_lines x$factor: $bsSec%.2f s, $bsRows rows")

    // ---- Zipf hot-key kernel (round 20): the suffix replicas hold
    // per-token counts FLAT (they grow the vocabulary), so they
    // structurally CANNOT exercise the q70/q72 vocabulary joins' skew
    // claim — on natural text "the" joins in nearly every doc. Here
    // every doc opens with the SAME hot trigram ("zipfhot" x3) plus 5
    // unique body tokens, so the hot term's tf rows (q70's tf JOIN df
    // key) and the hot bigram's occurrence rows (q72's bg JOIN c2 key)
    // grow 10x ON ONE KEY — the AQE-skew-split path the scaladocs
    // delegate to, now measured. Output stays exactly linear by
    // construction (q70: 3 rows/doc — the first 3 uniques by the
    // (score DESC, term ASC) order, zipfhot's 3/n score losing to the
    // uniques' 1.0; q72: 1 row/doc).
    def zipfDocs(n: Int): DataFrame =
      spark.range(n.toLong).select(col("id"),
        concat(lit("zipfhot zipfhot zipfhot "),
          format_string("u%da u%db u%dc u%dd u%de",
            col("id"), col("id"), col("id"), col("id"), col("id")))
          .as("text"))
        .repartition(32)
    def zipfKernelAt(n: Int): ((Double, Long), (Double, Long)) = {
      val docs = zipfDocs(n).persist()
      docs.count()
      val tt = time(reps)(() =>
        graft.text.CorpusOps.topTerms(docs, "id", "text", k = 3))
      val lm = time(reps)(() =>
        graft.text.CorpusOps.bigramLmScore(docs, "id", "text"))
      docs.unpersist()
      (tt, lm)
    }
    val zfBase = 20000
    val ((ztbSec, ztbRows), (zlbSec, zlbRows)) = zipfKernelAt(zfBase)
    System.err.println(f"[scale] zipf base: topTerms $ztbSec%.2f s " +
      f"($ztbRows rows), bigramLm $zlbSec%.2f s ($zlbRows rows)")
    val ((ztsSec, ztsRows), (zlsSec, zlsRows)) = zipfKernelAt(zfBase * factor)
    System.err.println(f"[scale] zipf x$factor: topTerms $ztsSec%.2f s " +
      f"($ztsRows rows), bigramLm $zlsSec%.2f s ($zlsRows rows)")

    def jstr(s: String): String = JsonStr.escape(s)
    val qj = perQuery.map { case (n, (bs, br, ss, sr)) =>
      jstr(n) + ":" + f"""{"base_sec":$bs%.3f,"x${factor}_sec":$ss%.3f,""" +
        f""""time_ratio":${ss / math.max(1e-9, bs)}%.2f,""" +
        f""""base_rows":$br,"x${factor}_rows":$sr,""" +
        f""""row_ratio":${sr.toDouble / math.max(1, br)}%.2f}"""
    }.mkString("{", ",", "}")
    val kj =
      f"""{"lsh_neardup_derived_params":{"n_base":$nBase,"n_scaled":${nBase * factor},""" +
        f""""base_sec":$kbSec%.3f,"x${factor}_sec":$ksSec%.3f,""" +
        f""""time_ratio":${ksSec / math.max(1e-9, kbSec)}%.2f,""" +
        f""""base_pairs":$kbRows,"x${factor}_pairs":$ksRows,""" +
        f""""pair_ratio":${ksRows.toDouble / math.max(1, kbRows)}%.2f,""" +
        kernelNotes.toSeq.sortBy(_._1).map { case (k, v) =>
          jstr(k) + ":" + jstr(v) }.mkString(",") + "}," +
      f""""sharded_dedup_q62_split":{"n_buckets":64,""" +
        f""""base_sec":$sbSec%.3f,"x${factor}_sec":$ssSec%.3f,""" +
        f""""time_ratio":${ssSec / math.max(1e-9, sbSec)}%.2f,""" +
        f""""base_rows":$sbRows,"x${factor}_rows":$ssRows,""" +
        f""""row_ratio":${ssRows.toDouble / math.max(1, sbRows)}%.2f},""" +
      f""""edit_join_digit_names":{"n_base":$edBase,""" +
        f""""n_scaled":${edBase * factor},""" +
        f""""base_sec":$ebSec%.3f,"x${factor}_sec":$esSec%.3f,""" +
        f""""time_ratio":${esSec / math.max(1e-9, ebSec)}%.2f,""" +
        f""""base_pairs":$ebRows,"x${factor}_pairs":$esRows,""" +
        f""""pair_ratio":${esRows.toDouble / math.max(1, ebRows)}%.2f},""" +
      f""""boilerplate_lines_planted_footer":{"n_base":$blBase,""" +
        f""""n_scaled":${blBase * factor},""" +
        f""""base_sec":$bbSec%.3f,"x${factor}_sec":$bsSec%.3f,""" +
        f""""time_ratio":${bsSec / math.max(1e-9, bbSec)}%.2f,""" +
        f""""base_rows":$bbRows,"x${factor}_rows":$bsRows,""" +
        f""""row_ratio":${bsRows.toDouble / math.max(1, bbRows)}%.2f},""" +
      f""""zipf_hotkey_topterms":{"n_base":$zfBase,""" +
        f""""n_scaled":${zfBase * factor},""" +
        f""""base_sec":$ztbSec%.3f,"x${factor}_sec":$ztsSec%.3f,""" +
        f""""time_ratio":${ztsSec / math.max(1e-9, ztbSec)}%.2f,""" +
        f""""base_rows":$ztbRows,"x${factor}_rows":$ztsRows,""" +
        f""""row_ratio":${ztsRows.toDouble / math.max(1, ztbRows)}%.2f},""" +
      f""""zipf_hotkey_bigramlm":{"n_base":$zfBase,""" +
        f""""n_scaled":${zfBase * factor},""" +
        f""""base_sec":$zlbSec%.3f,"x${factor}_sec":$zlsSec%.3f,""" +
        f""""time_ratio":${zlsSec / math.max(1e-9, zlbSec)}%.2f,""" +
        f""""base_rows":$zlbRows,"x${factor}_rows":$zlsRows,""" +
        f""""row_ratio":${zlsRows.toDouble / math.max(1, zlbRows)}%.2f}}"""
    val phJ = phaseRecords.toSeq.sortBy(_._1).map { case (k, ph) =>
      jstr(k) + ":" + ph.toSeq.sortBy(_._1)
        .map { case (p, s) => jstr(p) + ":" + f"$s%.3f" }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    println(
      s"""{"scale_factor":$factor,"reps":$reps,"base_dir":${jstr(baseDir)},""" +
        s""""host_load_start":${jstr(loadAvg0)},"queries":$qj,""" +
        s""""kernels":$kj,"phases":$phJ,""" +
        s""""notes":${jstr("documents x" + factor + " via per-replica token " +
          "suffixing (intra-replica dup structure exact, zero cross-replica " +
          "n-gram overlap); customer x" + factor + " via custkey offset " +
          "(name-modulus collisions grow ~5x at 150k keys - a data " +
          "property the block caps must absorb); embedding family measured " +
          "on its kernel (lshSimilarPairs, derived planes/tables, theta=0.85, " +
          "planted n/5 near-dups) because literal q52's theta=0.44 sits in " +
          "the d=64 random-cosine tail where TRUE pair count grows " +
          "quadratically on Gaussian-like data by construction")}}""")
    spark.stop()
  }
}
