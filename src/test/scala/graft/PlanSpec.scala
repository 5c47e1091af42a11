package graft

/** Physical-plan assertions for the headline queries: the properties that
  * make these plans survive a 100× scale-up are checked here, not just
  * eyeballed via PlanDump — filter pushdown and column pruning at the
  * parquet scan, broadcast joins for dimension tables, map-side partial
  * aggregation, whole-stage codegen on the hot paths, NO cartesian
  * product anywhere except the two declared brute-force exactness oracles,
  * and no cached block left behind once a caller releases the frame.
  */
class PlanSpec extends SparkSpec {

  /** Execute (cheap at sf0.001) so AQE finalizes, then return the final
    * physical plan string. Must run THIS QueryExecution's RDD —
    * `df.count()` would build a fresh one and leave this plan
    * isFinalPlan=false with codegen stages unassigned. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  /** Whole-stage codegen shows as `*(id)` node prefixes in the simple
    * plan string. */
  private def inCodegen(plan: String, node: String): Boolean =
    ("""\*\(\d+\) """ + node).r.findFirstIn(plan).isDefined

  test("q01 pushes its filter and prunes columns at the parquet scan") {
    val p = finalPlan("q01_scan_filter_project")
    assert(p.contains("PushedFilters: ["),
      s"no pushed filters in q01 plan:\n$p")
    assert(!p.matches("(?s).*PushedFilters: \\[\\].*"),
      s"q01 pushed-filter list is EMPTY:\n$p")
    // Projection is 3 columns; a ReadSchema hauling l_comment means
    // pruning broke and the scan reads the wide payload for nothing.
    assert(!p.contains("l_comment"),
      s"q01 reads unprojected columns (pruning broke):\n$p")
  }

  test("q09 joins dimension tables via broadcast, not shuffle") {
    val p = finalPlan("q09_join_inner")
    assert(p.contains("BroadcastHashJoin"),
      s"q09 dimension join is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q09 shuffles a dimension join:\n$p")
  }

  test("q20 aggregates map-side before the shuffle, inside codegen") {
    val p = finalPlan("q20_pricing_summary")
    assert(p.contains("partial_"),
      s"q20 has no partial (map-side) aggregation:\n$p")
    assert(inCodegen(p, "HashAggregate"),
      s"q20 aggregation fell out of whole-stage codegen:\n$p")
  }

  test("hot single-table text paths keep their Project inside codegen") {
    // These are pure scan+project queries: the projection IS the work,
    // so a lambda higher-order function (CodegenFallback) sneaking into
    // TextAnalysis drops the entire hot loop to interpreted eval.
    Seq("q40_token_stats", "q41_quality_score", "q42_language_id",
      "q43_fingerprint").foreach { q =>
      val p = finalPlan(q)
      assert(inCodegen(p, "Project"),
        s"$q's projection fell out of whole-stage codegen:\n$p")
    }
  }

  test("fused fingerprint/signature computation plans no aggregation " +
      "shuffle and no duplicated UDF eval") {
    // minhash signatures (q34) and simhash fingerprints are pure
    // per-document functions fused into one primitive-loop UDF per row:
    // the plan up to the signature must contain NO Exchange (the old
    // explode + groupBy shape paid a row-blowup plus a partial-agg
    // shuffle), and the UDF must not appear in a Filter condition —
    // Catalyst substitutes an isNotNull(outputAlias) filter through the
    // projection, evaluating the UDF twice per row (the round-11 trap;
    // the null-drop is an input-side precondition instead).
    val sig = graft.dedup.TextDedup.minHashSignature(
      graft.Tables.load(spark, sf0001, "documents"),
      "text", "doc_id", shingleK = 1, numHashes = 4)
    sig.queryExecution.toRdd.count()
    val p = sig.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"fused minhash signature plans a shuffle:\n$p")
    assert(!"""Filter [^\n]*UDF""".r.findFirstIn(p).isDefined,
      s"UDF evaluated inside a Filter (double-eval):\n$p")
    val fp = graft.dedup.TextDedup.simHash(
      graft.Tables.load(spark, sf0001, "documents"))
    fp.queryExecution.toRdd.count()
    val p2 = fp.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"),
      s"fused simhash plans a shuffle:\n$p2")
    assert(!"""Filter [^\n]*UDF""".r.findFirstIn(p2).isDefined,
      s"UDF evaluated inside a Filter (double-eval):\n$p2")
  }

  test("q34/q37 signatures tokenize without regex and run their UDF " +
      "once per row; q44/q45 compute each pair's cosine once") {
    // The signature UDFs tokenize by a char scan and the fewer-than-k
    // drop is the scan-based atLeastTokens: a regex trim + split left
    // in the plan is a second tokenization of every document. q37's
    // frame is its cached result, so its fingerprint stage is checked
    // as q37 builds it.
    val sigs = Seq(
      "q34" -> SparkEntry.queries("q34_minhash_signature")(spark, sf0001),
      "q37 simHash" -> graft.dedup.TextDedup.simHash(
        graft.ops.Parallelism.widen(
          graft.Tables.load(spark, sf0001, "documents"))))
    sigs.foreach { case (q, df) =>
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("regexp_replace") && !p.contains("split("),
        s"$q tokenizes by regex:\n$p")
      assert("""UDF\(""".r.findAllIn(p).size == 1,
        s"$q's signature UDF is not evaluated once per row:\n$p")
      assert(p.contains("atLeastTokens("), s"$q lost its precondition:\n$p")
    }
    // The defined-cosine guard is a typed filter above the projection;
    // as a Column filter it was pushed into the join condition with
    // cosine_sim inlined twice more.
    Seq("q44_knn_bruteforce", "q45_knn_lsh").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert("""cosine_sim\(""".r.findAllIn(p).size == 1,
        s"$q computes cosine_sim more than once per pair:\n$p")
    }
  }

  test("candidate generation is equi-join bucketed — never cartesian") {
    // The dedup/ANN family's scale story is buckets: equi-joins on a
    // bucket key, or the id lists of RelationalOps' bucket → pairs
    // kernel. A CartesianProduct appearing in any of these means a key
    // was lost (e.g. a renamed column silently turning an equi-join into
    // a cross join).
    Seq("q32_candidate_pairs", "q35_minhash_candidates",
      "q37_simhash_pairs", "q39_kolb_pairs", "q45_knn_lsh",
      "q52_embedding_neardup_lsh", "q65_edit_distance_join",
      "q75_image_neardup", "q12_exact_match_edges").foreach { q =>
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product:\n$p")
    }
  }

  test("ORC and JSON sources push filters / prune columns like parquet") {
    // The alternate formats must not silently lose the scan-level
    // optimizations the parquet path is gated on: ORC supports both
    // predicate pushdown and column pruning; JSON prunes columns (its
    // reader parses only the requested fields).
    val orcDir = java.nio.file.Files
      .createTempDirectory("graft_orc_plan").toString + "/orders"
    val src = Tables.load(spark, sf0001, "orders")
    Tables.sinkOrc(src, orcDir)
    val orc = Tables.loadOrc(spark, orcDir, src.schema)
      .where(org.apache.spark.sql.functions.col("o_totalprice") > 1000.0)
      .select("o_orderkey", "o_totalprice")
    orc.queryExecution.toRdd.count()
    val p = orc.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") &&
      !p.matches("(?s).*PushedFilters: \\[\\].*"),
      s"ORC scan lost filter pushdown:\n$p")
    assert(!p.contains("o_orderpriority"),
      s"ORC scan reads unprojected columns (pruning broke):\n$p")

    val jsonDir = java.nio.file.Files
      .createTempDirectory("graft_json_plan").toString + "/orders"
    Tables.sinkJson(src, jsonDir)
    val js = Tables.loadJson(spark, jsonDir, src.schema)
      .select("o_orderkey")
    js.queryExecution.toRdd.count()
    val pj = js.queryExecution.executedPlan.toString
    assert(pj.contains("o_orderkey") && !pj.contains("o_orderpriority"),
      s"JSON scan reads unprojected columns:\n$pj")
  }

  test("q44 is the DECLARED brute-force exactness oracle (cartesian)") {
    // Documents intent: the O(Q·N) scoring oracle is the one place a
    // cartesian product is correct. If this starts failing because the
    // plan changed, the oracle's exactness claim needs re-review.
    val p = finalPlan("q44_knn_bruteforce")
    assert(p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"q44's brute-force oracle no longer scans all pairs:\n$p")
  }

  /** The join execs whose keys are the n-gram column — the
    * decontamination match subtree, as a typed tree walk rather than a
    * plan-wide string grep (the surrounding id-join/aggregate are free
    * to plan however they like). Executes the frame first so AQE
    * finalizes.
    */
  private def gramJoins(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    df.queryExecution.toRdd.count()
    planNodes(df.queryExecution.executedPlan).filter {
      case j: BaseJoinExec => (j.leftKeys ++ j.rightKeys).exists(
        _.references.exists(_.name == "gram"))
      case _ => false
    }
  }

  test("decontamination broadcasts the eval n-gram set — the corpus " +
      "side never shuffles for the match") {
    // Eval suites are MBs while training corpora are TBs: the
    // contamination probe must be a broadcast join on the corpus scan,
    // not a corpus-wide shuffle. Scoped to the eval-gram join subtree:
    // the trailing id-join/aggregate may plan freely.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val df = SparkEntry.queries("q53_decontaminate")(spark, sf0001)
    val joins = gramJoins(df)
    assert(joins.nonEmpty, "q53 plan has no join on the gram column")
    assert(joins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"q53 eval-gram join is not broadcast:\n${joins.mkString("\n")}")
  }

  test("decontaminate broadcastEval=false plans the eval-gram match " +
      "as a shuffled join and answers exactly like the default") {
    // The overflow path for an eval side too big to broadcast: with
    // both broadcast thresholds off (modelling that size), the hint is
    // the only thing that could force a broadcast — the fallback must
    // not have one, and must return the same rows.
    //
    // These overrides mutate the suite-wide shared SparkSession conf
    // (restored in finally). That is safe here because suites run
    // SEQUENTIALLY in the forked test JVM: build.sbt sets
    // `Test / fork := true` and sbt's `testForkedParallel` defaults to
    // false, so no concurrent suite can observe the disabled
    // thresholds. If forked-parallel testing is ever enabled, scope
    // these with a per-query SQLConf instead.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions.col
    import graft.text.CorpusOps
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    keys.foreach(conf.set(_, "-1"))
    try {
      val docs = Tables.load(spark, sf0001, "documents")
      val isEval = col("doc_id") % 97 === 0
      val dflt = CorpusOps.decontaminate(docs, isEval, "doc_id", "text",
        n = 5)
      val fb = CorpusOps.decontaminate(docs, isEval, "doc_id", "text",
        n = 5, broadcastEval = false)
      val joins = gramJoins(fb)
      assert(joins.nonEmpty, "fallback plan has no join on gram")
      assert(!joins.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"broadcastEval=false still broadcasts:\n${joins.mkString("\n")}")
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
          .toSet
      assert(rows(fb) == rows(dflt),
        "fallback answers differ from the broadcast path")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("per-row curation passes (repetition, PII scrub, split assign) " +
      "plan zero exchanges") {
    // These are the 100 TB scrub-pass shape: scan → project → write,
    // nothing else. Any Exchange here is a bug.
    Seq("q54_repetition_score", "q55_pii_scrub", "q57_split_assign",
      "q63_chunk_tokens")
      .foreach { q =>
        val p = finalPlan(q)
        assert(!p.contains("Exchange"),
          s"$q shuffles a pure per-row pass:\n$p")
      }
  }

  test("q62 incremental dedup: Bloom prefilter feeds ONE left-anti " +
      "confirm under a union; Bloom-only mode plans zero joins and " +
      "zero exchanges") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.functions.col
    import graft.text.CorpusOps
    // Exact mode (the q62 demo): the ONLY join is the left-anti
    // confirm, its input already thinned by the Bloom filter — the
    // bypass branch reaches the union join-free, which is the whole
    // point (at 100 TB it is ~1-dup_rate of the batch skipping the
    // shuffle).
    val exact = SparkEntry.queries("q62_incremental_dedup")(spark, sf0001)
    exact.queryExecution.toRdd.count()
    val joins = planNodes(exact.queryExecution.executedPlan)
      .collect { case j: BaseJoinExec => j }
    assert(joins.length == 1,
      s"q62 plans ${joins.length} joins, want exactly the anti confirm:" +
        s"\n${joins.mkString("\n")}")
    assert(joins.head.joinType == LeftAnti,
      s"q62 confirm join is ${joins.head.joinType}, not LeftAnti")
    val ps = exact.queryExecution.executedPlan.toString
    assert(ps.contains("bloom_might_contain"),
      s"q62 plan lost the Bloom prefilter:\n$ps")
    assert(ps.contains("Union"),
      s"q62 plan lost the bypass-branch union:\n$ps")
    // Bloom-only mode: a pure map-side filter — no join, no Exchange.
    val docs = Tables.load(spark, sf0001, "documents")
    val bloomOnly = CorpusOps.dedupAgainst(
      docs.where(col("doc_id") % 10 >= 4),
      docs.where(col("doc_id") % 10 < 6),
      "text", expectedItems = 200000L, fpp = 0.01, confirm = false)
    bloomOnly.queryExecution.toRdd.count()
    val bo = bloomOnly.queryExecution.executedPlan
    assert(planNodes(bo).collect { case j: BaseJoinExec => j }.isEmpty,
      s"Bloom-only mode plans a join:\n$bo")
    assert(!bo.toString.contains("Exchange"),
      s"Bloom-only mode shuffles:\n$bo")
  }

  test("q39's frame builds without a Spark job, and q32/q33 prune " +
      "kolbBlocks' unused block_ids window") {
    val (_, jobs) =
      withJobs(SparkEntry.queries("q39_kolb_pairs")(spark, sf0001))
    assert(jobs.isEmpty, s"building q39 fired jobs: $jobs")
    Seq("q32_candidate_pairs", "q33_score_threshold").foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.optimizedPlan.toString
      assert(!p.contains("collect_list"),
        s"$q keeps the block_ids window it never reads:\n$p")
    }
  }

  test("the dedup and ANN queries leave nothing cached once the caller " +
      "unpersists the returned frame, as Bench does") {
    // Earlier tests here build some of these queries and never release
    // them; start from an empty cache.
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    val rdds0 = sc.getPersistentRDDs.keySet
    Seq("q34_minhash_signature", "q35_minhash_candidates",
      "q36_jaccard_verify", "q37_simhash_pairs", "q38_dedup_canonical",
      "q52_embedding_neardup_lsh", "q65_edit_distance_join",
      "q75_image_neardup").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf0001)
      df.count()
      df.unpersist(false)
      val left = sc.getPersistentRDDs.keySet -- rdds0
      assert(left.isEmpty, s"$q leaves persisted RDDs $left")
      assert(cache.isEmpty, s"$q leaves a CacheManager entry")
    }
  }
}
