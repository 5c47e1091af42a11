package graft.cluster

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ClusterSpec extends SparkSpec {

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components labels chains and keeps islands apart") {
    import spark.implicits._
    // 1-2-3 chained, 10-11, 20 alone (20 never appears in edges).
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("l_id", "r_id")
    Seq(ConnectedComponents.runStar(edges),
        ConnectedComponents.auto(edges, label = "t-islands"))
      .map(labels).foreach { comps =>
        assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
        assert(comps(10L) == 10L && comps(11L) == 10L)
        assert(!comps.contains(20L))
      }
  }

  test("connected components converges on a long path") {
    import spark.implicits._
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("l_id", "r_id")
    Seq(ConnectedComponents.runStar(edges),
        ConnectedComponents.auto(edges, label = "t-path"))
      .map(labels).foreach { comps =>
        assert(comps.size == 40)
        assert(comps.values.forall(_ == 1L))
      }
  }

  test("CC throws on non-convergence instead of returning partial labels") {
    import spark.implicits._
    // A 40-chain cannot collapse in one star round. Partial labels that
    // look complete are the one silent failure this engine forbids —
    // the kernel must throw, not warn.
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("l_id", "r_id")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.runStar(edges, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star CC agrees with the driver union-find") {
    import spark.implicits._
    // Mixed shapes: a chain, a triangle sharing a node with the chain, a
    // separate pair, and an island (absent from edges → absent from both).
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 7L), (7L, 1L),
      (10L, 11L), (30L, 31L), (31L, 32L)).toDF("l_id", "r_id")
    val star = labels(ConnectedComponents.auto(edges, smallEdgeCap = 0,
      label = "t-agree-star"))
    val driver = labels(ConnectedComponents.auto(edges,
      label = "t-agree-driver"))
    assert(star == driver, s"star $star vs union-find $driver")
    assert(star == labels(ConnectedComponents.runStar(edges)))
  }

  test("auto CC: driver union-find below the cap, runStar above — " +
      "identical labels") {
    import spark.implicits._
    val edges = Seq(
      (9L, 2L), (2L, 3L), (3L, 9L), (4L, 7L), (7L, 2L), // one component
      (10L, 11L), (11L, 10L), // duplicate + reversed edges
      (30L, 31L), (31L, 32L), (40L, 40L) // chain + self-loop island
    ).toDF("l_id", "r_id")
    val star = labels(ConnectedComponents.runStar(edges))
    val driver = labels(ConnectedComponents.auto(edges)) // under cap
    val dist = labels(ConnectedComponents.auto(edges, smallEdgeCap = 2L))
    assert(driver.get(9L).contains(2L) && driver.get(7L).contains(2L))
    assert(dist == star, s"above-cap auto $dist vs runStar $star")
    // Pure self-loop islands (40) are singleton components on BOTH
    // kernels — auto's contract is identical labels across the cap, so
    // the vertex sets (not just shared ids) must agree exactly.
    assert(star.get(40L).contains(40L), s"runStar dropped 40: $star")
    assert(driver == star, s"driver $driver vs star $star")
  }

  test("star CC collapses a long path in few rounds") {
    import spark.implicits._
    // Diameter 63: min-label would need ~63 rounds; star needs O(log²).
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("l_id", "r_id")
    val comps = ConnectedComponents.runStar(edges, maxIter = 12).collect()
    assert(comps.length == 64)
    assert(comps.forall(_.getLong(1) == 1L))
  }

  test("HAC splits weakly-linked components at the threshold") {
    // Two tight pairs (1,2) and (3,4), joined by one weak edge (2,3).
    val edges = Seq(
      Hierarchical.Edge(1L, 1L, 2L, 0.95),
      Hierarchical.Edge(1L, 3L, 4L, 0.95),
      Hierarchical.Edge(1L, 2L, 3L, 0.55))
    val out = Hierarchical.hacOnGroup(edges, threshold = 0.5,
      maxComponentSize = 100).toSeq
    val byCluster = out.groupBy(_.canon_id).view.mapValues(
      _.map(_._unique_id).sorted).toMap
    assert(byCluster == Map(1L -> Seq(1L, 2L), 3L -> Seq(3L, 4L)),
      s"got $byCluster")
  }

  test("HAC merges a uniformly-tight component into one cluster") {
    val edges = for (a <- 1L to 4L; b <- (a + 1) to 4L)
      yield Hierarchical.Edge(1L, a, b, 0.9)
    val out = Hierarchical.hacOnGroup(edges.toSeq, 0.5, 100).toSeq
    assert(out.map(_.canon_id).distinct == Seq(1L))
    assert(out.map(_._unique_id).sorted == Seq(1L, 2L, 3L, 4L))
    assert(out.forall(_.cluster_score > 0.8))
  }

  test("HAC giant-component guard splits into capped pieces, loses no row") {
    // A uniform 10-clique over cap 5: no weak edges to prefer, but the
    // split must still bound every piece at the cap and keep all members.
    val edges = for (a <- 1L to 10L; b <- (a + 1) to 10L)
      yield Hierarchical.Edge(1L, a, b, 0.8)
    val out = Hierarchical.hacOnGroup(edges.toSeq, 0.5, 5).toSeq
    assert(out.map(_._unique_id).sorted == (1L to 10L))
    val sizes = out.groupBy(_.canon_id).values.map(_.size)
    assert(sizes.forall(_ <= 5), s"piece sizes $sizes exceed the cap")
  }

  test("HAC giant barbell splits on its weakest edge into the two halves") {
    // Two tight 4-cliques (scores 0.9) joined by a single weak bridge
    // (0.55): 8 members over cap 4 must split exactly at the bridge, each
    // half agglomerating into its own cluster — not collapse to one.
    val cliqueA = for (a <- 1L to 4L; b <- (a + 1) to 4L)
      yield Hierarchical.Edge(1L, a, b, 0.9)
    val cliqueB = for (a <- 5L to 8L; b <- (a + 1) to 8L)
      yield Hierarchical.Edge(1L, a, b, 0.9)
    val bridge = Seq(Hierarchical.Edge(1L, 4L, 5L, 0.55))
    val out = Hierarchical.hacOnGroup(
      cliqueA ++ cliqueB ++ bridge, threshold = 0.5,
      maxComponentSize = 4).toSeq
    val byCluster = out.groupBy(_.canon_id).view.mapValues(
      _.map(_._unique_id).sorted).toMap
    assert(byCluster == Map(1L -> Seq(1L, 2L, 3L, 4L),
      5L -> Seq(5L, 6L, 7L, 8L)), s"got $byCluster")
    assert(out.forall(_.cluster_score > 0.8))
  }

  test("HAC oversized split keeps a cap-rejected vertex as a singleton") {
    // cap=2 triangle: ab=0.9 is admitted, then ac=0.8 and bc=0.7 would
    // both grow {a,b} past the cap — every edge touching c becomes
    // cross-piece, so c ends edge-orphaned. It must still be emitted,
    // as its own entity with the applyClusters default score 1.0.
    val edges = Seq(
      Hierarchical.Edge(1L, 1L, 2L, 0.9),
      Hierarchical.Edge(1L, 1L, 3L, 0.8),
      Hierarchical.Edge(1L, 2L, 3L, 0.7))
    val out = Hierarchical.hacOnGroup(edges, threshold = 0.5,
      maxComponentSize = 2).toSeq
    assert(out.map(_._unique_id).sorted == Seq(1L, 2L, 3L),
      s"lost a vertex: $out")
    val byCluster = out.groupBy(_.canon_id).view.mapValues(
      _.map(_._unique_id).sorted).toMap
    assert(byCluster == Map(1L -> Seq(1L, 2L), 3L -> Seq(3L)),
      s"got $byCluster")
    assert(out.find(_._unique_id == 3L).get.cluster_score == 1.0)
  }

  test("HAC oversized split is deterministic across shuffled edge order") {
    val edges = (for (a <- 1L to 12L; b <- (a + 1) to 12L)
      yield Hierarchical.Edge(1L, a, b,
        0.6 + 0.4 * (((a * 31 + b * 17) % 97) / 97.0))).toSeq
    val out1 = Hierarchical.hacOnGroup(edges, 0.5, 6).toSeq.sortBy(_._unique_id)
    val out2 = Hierarchical.hacOnGroup(scala.util.Random.shuffle(edges),
      0.5, 6).toSeq.sortBy(_._unique_id)
    assert(out1 == out2)
  }

  test("strongestEdges caps materialization, orphans lose-all vertices") {
    // 1-2 (0.9) and 3-4 (0.8) are the two strongest; 5's only edges are
    // the two weakest, so with cap=2 vertex 5 is edge-orphaned.
    val edges = Seq(
      Hierarchical.Edge(1L, 1L, 2L, 0.9),
      Hierarchical.Edge(1L, 3L, 4L, 0.8),
      Hierarchical.Edge(1L, 1L, 5L, 0.4),
      Hierarchical.Edge(1L, 2L, 5L, 0.3))
    // Under the cap: pure pass-through, no orphans.
    val (all, none) = Hierarchical.strongestEdges(edges.iterator, 10)
    assert(all.sortBy(e => (e.lId, e.rId)) ==
      edges.sortBy(e => (e.lId, e.rId)) && none.isEmpty)
    // Over the cap: strongest kept, deterministic across arrival order.
    val (kept1, orph1) = Hierarchical.strongestEdges(edges.iterator, 2)
    val (kept2, orph2) =
      Hierarchical.strongestEdges(edges.reverse.iterator, 2)
    assert(kept1.map(_.score).sorted == Seq(0.8, 0.9))
    assert(kept1.toSet == kept2.toSet)
    assert(orph1.toSeq == Seq(5L) && orph2.toSeq == Seq(5L))
  }

  test("cluster() bounds per-component edges, loses no vertex") {
    import spark.implicits._
    // One component: tight pair (1,2)=0.9 chained to 3 via 0.6 edges.
    // cap=1 keeps only the strongest edge; 3 must survive as its own
    // singleton entity (score 1.0), exactly splitOversized's contract.
    val scored = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.6), (1L, 3L, 0.55)
    ).toDF("l_id", "r_id", "score")
    val em = Hierarchical.cluster(scored, threshold = 0.5,
      maxEdgesPerComponent = 1)
    val rows = em.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), s"lost a vertex: $rows")
    assert(rows(1L)._1 == 1L && rows(2L)._1 == 1L)
    assert(rows(3L) == (3L, 1.0), s"orphan semantics: ${rows(3L)}")
    // An ample cap yields the uncapped answer.
    val full = Hierarchical.cluster(scored, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $full")
  }

  test("cluster() end-to-end over a scored-pairs DataFrame") {
    import spark.implicits._
    val scored = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.85), (10L, 11L, 0.7),
      (20L, 21L, 0.2) // below threshold — must not cluster
    ).toDF("l_id", "r_id", "score")
    val em = Hierarchical.cluster(scored, threshold = 0.5)
    val assigns = em.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigns.get(1L).contains(1L))
    assert(assigns.get(2L).contains(1L))
    assert(assigns.get(3L).contains(1L))
    assert(assigns.get(10L).contains(10L))
    assert(!assigns.contains(20L))
  }

  test("cluster() below the edge cap fires one Spark job") {
    import spark.implicits._
    // Persisted and materialized first, as the pipeline hands it over:
    // only the bounded edge read may run as a job.
    val scored = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.85), (10L, 11L, 0.7), (20L, 21L, 0.2))
      .toDF("l_id", "r_id", "score").repartition(3).persist()
    scored.count()
    try {
      val (em, jobs) = withJobs(Hierarchical.cluster(scored, 0.5))
      assert(jobs.size == 1, s"cluster ran ${jobs.size} jobs: " +
        jobs.mkString("; "))
      assert(labels(em) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(graft.pipeline.PhaseLog.drainNotes()("cc_kernel.hac-cluster") ==
        "driver-union-find (3 edges, cap 1000000)")
    } finally scored.unpersist(false)
  }

  test("cluster() treats null-id edges as the distributed path does") {
    import spark.implicits._
    // A null l_id joins no component, so its edge drops out; a null
    // r_id beside a real l_id fails the typed edge decode. Both caps
    // take the distributed path for either, so they agree exactly.
    val nullL = Seq((Option(1L), Option(2L), 0.9), (None, Option(3L), 0.9),
      (Option(4L), Option(5L), 0.8)).toDF("l_id", "r_id", "score")
    val nullR = Seq((Option(1L), Option(2L), 0.9), (Option(3L), None, 0.9))
      .toDF("l_id", "r_id", "score")
    Seq(1000000L, 0L).foreach { cap =>
      assert(labels(Hierarchical.cluster(nullL, 0.5, ccEdgeCap = cap)) ==
        Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L), s"cap $cap")
      val e = intercept[Exception] {
        Hierarchical.cluster(nullR, 0.5, ccEdgeCap = cap).collect()
      }
      assert(e.getMessage.contains("NOT_NULL_ASSERT_VIOLATION"), s"cap $cap")
    }
  }

  test("exact-match merge links clusters transitively") {
    import spark.implicits._
    // clusters 1,2 share ssn A; clusters 2,5 share ssn B → all → 1.
    val df = Seq(
      (1L, "A"), (2L, "A"), (2L, "B"), (5L, "B"), (9L, "C"))
      .toDF("cluster", "ssn")
    val merged = ExactMatches.merge(df, Seq("ssn"), "cluster")
    val clusters = merged.select("cluster").collect()
      .map(_.getLong(0)).toSet
    assert(clusters == Set(1L, 9L))
  }

  test("exact-match merge ignores NULL keys") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("cluster", "ssn")
    val merged = ExactMatches.merge(df, Seq("ssn"), "cluster")
    assert(merged.select("cluster").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
  }

  test("CC keeps the non-null endpoint of a null edge as a singleton, " +
      "identically across both kernels") {
    import spark.implicits._
    // Previously the driver kernel NPE'd on a null endpoint while
    // runStar silently DROPPED the vertex — the same input failed
    // differently depending only on which side of the size cap it hit.
    val edges = Seq(
      (Some(1L), Some(2L)),
      (Some(5L), None),       // null side: 5 survives as a singleton
      (None, Some(2L)),       // 2 is already linked through (1,2)
      (None, None)            // fully null edge contributes nothing
    ).toDF("l_id", "r_id")
    val want = Set((1L, 1L), (2L, 1L), (5L, 5L))
    val small = ConnectedComponents
      .auto(edges, smallEdgeCap = 100, label = "t-null-small")
      .as[(Long, Long)].collect().toSet
    assert(small == want, s"driver kernel: $small")
    val large = ConnectedComponents
      .auto(edges, smallEdgeCap = 0, label = "t-null-star")
      .as[(Long, Long)].collect().toSet
    assert(large == want, s"runStar kernel: $large")
  }

  test("ExactMatches refuses caller columns that collide with its " +
      "staged working names") {
    import spark.implicits._
    val df = Seq((1L, "a", 9L)).toDF("cluster", "ssn", "component")
    intercept[IllegalArgumentException] {
      ExactMatches.merge(df, Seq("ssn"), "cluster")
    }
  }
}
