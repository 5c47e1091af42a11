package graft.cluster

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an edge DataFrame (ref: SURVEY.md D9 — the
  * reference walks the edge list with a recursive DFS on the driver,
  * pgdedupe/exact_matches.py:9-50). Two kernels, one label (component =
  * min reachable id): [[components]], a union-find on the driver for
  * graphs up to an explicit edge cap, and [[runStar]], the distributed
  * large-star/small-star fixpoint above it. [[auto]] picks between them
  * by edge count and logs the pick.
  */
object ConnectedComponents {

  /** Size-adaptive kernel selection. The distributed kernels pay
    * O(log² n) rounds of shuffle + eager localCheckpoint as FIXED cost
    * regardless of graph size — ≈10 s on a 500-vertex graph at 32
    * shuffle partitions — so a graph that fits comfortably on the driver
    * (≤ `smallEdgeCap` edges) is solved with a local min-union
    * union-find instead: one collect, zero rounds, identical labels
    * (component = min reachable id, same as `runStar`).
    * Driver heap at the default 1M-edge cap: see `DedupeConfig.ccEdgeCap`
    * (measured for the whole clustering step, a superset of this one);
    * scale it linearly before raising the cap.
    * Beyond the cap it is `runStar`. The reference walks edges with a
    * driver DFS UNCONDITIONALLY (pgdedupe/exact_matches.py:9-50); this
    * keeps that fast path for reference-scale graphs without
    * inheriting its memory ceiling — the cap is explicit, logged, and
    * the fallback is the distributed kernel, never an error.
    *
    * Null endpoints: an edge with a null side cannot link anything —
    * its NON-null endpoint is kept as a singleton vertex (unless some
    * real edge links it). Both kernels see only the cleaned edges, so
    * the labels are identical on either side of the cap (previously
    * the driver kernel NPE'd on a null while runStar silently DROPPED
    * the vertex — same input, different failure by edge count).
    */
  def auto(
      edges: DataFrame,
      srcCol: String = "l_id",
      dstCol: String = "r_id",
      smallEdgeCap: Long = 1000000L,
      label: String = "cc"): DataFrame = {
    // The null split, the size probe, and the consumer (collect or
    // runStar's eager first checkpoint) are several actions over a
    // possibly expensive lineage — pin it across the branch. All
    // branches materialize eagerly, so the handle is released before
    // returning (no storage leak).
    val rawProj = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE probe job for BOTH the size branch and the null-edge check
      // (separate eager nullSideIds + count actions paid two full
      // materializations' scheduling for one answer). The agg
      // materializes the persist; everything after reads the cache.
      val probe = rawProj.agg(
        count(when(col("src").isNotNull && col("dst").isNotNull,
          lit(1))).as("n"),
        count(lit(1)).as("total")).head()
      val n = probe.getLong(0)
      val hasNullEdges = probe.getLong(1) > n
      // Eager (tiny, typically ABSENT — computed only when a null-sided
      // edge exists): the returned frame must not keep a live lineage
      // on the caller's edges after rawProj unpersists.
      val nullSideIds = if (!hasNullEdges) None else Some(rawProj
        .where(col("src").isNull || col("dst").isNull)
        .select(explode(array(col("src"), col("dst"))).as("id"))
        .where(col("id").isNotNull)
        .distinct()
        .localCheckpoint(true))
      val proj = rawProj
        .where(col("src").isNotNull && col("dst").isNotNull)
      // Keyed per call site: one pipeline run calls auto from several
      // stages (HAC clustering, exact-match merges) and a single shared
      // key would surface only the last — ambiguous in the bench notes.
      graft.pipeline.PhaseLog.note(s"cc_kernel.$label",
        (if (n > smallEdgeCap) "run-star" else "driver-union-find") +
          s" ($n edges, cap $smallEdgeCap)")
      val out = if (n > smallEdgeCap) runStar(proj, "src", "dst")
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"CC: $n edges <= $smallEdgeCap — driver union-find " +
            "(zero shuffle rounds); distributed runStar above the cap")
        val spark = edges.sparkSession
        import spark.implicits._
        // Typed collect: Tuple2[Long, Long] is @specialized, so the
        // collected array holds primitives, not GenericRow objects.
        // Zero edges → zero collect jobs (q50's exact-merge passes
        // routinely see an empty edge set).
        val raw = if (n == 0L) Array.empty[(Long, Long)]
          else proj.as[(Long, Long)].collect()
        val comp = components(raw.iterator)
        val ids = comp.keys.toArray.sorted
        // LocalRelation output: the optimizer can broadcast it into the
        // consuming join, which is exactly right at this size.
        spark.createDataset(ids.toSeq.map(id => (id, comp(id))))
          .toDF("id", "component")
      }
      // No null-sided edges (the common case): the output is `out`
      // itself — no union/anti-join cruft in every consumer's plan.
      nullSideIds.fold(out)(ns =>
        out.unionByName(
          ns.join(out.select("id"), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("component"))))
    } finally {
      // Not conditional on success: runStar's non-convergence throw
      // must not leave the projection pinned for the session lifetime.
      rawProj.unpersist(false)
      ()
    }
  }

  /** Min-union union-find on the driver: maps every endpoint of `edges`
    * to the smallest id of its connected component, the label `runStar`
    * computes. A self-loop (x, x) keeps x as its own singleton. Every
    * root stays the minimum of its tree, and path compression leaves
    * each entry pointing straight at its root on return.
    */
  private[graft] def components(
      edges: Iterator[(Long, Long)]): mutable.LongMap[Long] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.foreach(find)
    parent
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond"): converges in
    * O(log² n) rounds regardless of component DIAMETER, where min-label
    * propagation needs O(diameter) rounds — robust when the edge graph
    * can contain long chains (e.g. transitive near-dup links over crawl
    * snapshots).
    *
    * Each round: large-star hangs every higher-id neighbor of u onto
    * u's minimum neighbor; small-star re-points u and its lower-id
    * neighbors at their minimum. Edges stay oriented (high, low); the
    * fixpoint is a forest of depth-1 stars whose roots are component
    * minima. Each round's output is eagerly localCheckpointed to keep
    * the lineage flat (SURVEY.md §4).
    */
  def runStar(
      edges: DataFrame,
      srcCol: String = "l_id",
      dstCol: String = "r_id",
      maxIter: Int = 50): DataFrame = {
    // Vertices whose ONLY edges are self-loops still belong in the
    // output as their own singleton component — the driver union-find
    // kernel emits (x, x) for them, and `auto`'s contract is identical
    // labels on either side of the size cap. Dropping the (x, x) edge
    // below would silently delete the vertex. Typically empty/tiny.
    // Eagerly checkpointed: the returned frame must not keep a live
    // lineage on the caller's edge frame (`auto` unpersists it right
    // after this returns — every downstream action would rescan the
    // raw edge lineage otherwise).
    val selfLoopIds = edges
      .where(col(srcCol).cast("long") === col(dstCol).cast("long"))
      .select(col(srcCol).cast("long").as("id"))
      .distinct()
      .localCheckpoint(true)
    var e = edges
      .select(greatest(col(srcCol).cast("long"), col(dstCol).cast("long"))
        .as("u"),
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    // Fixpoint test: the edge sets are distinct, so (count, Σ hash)
    // equality is set equality up to a 2⁻⁶⁴ hash collision — one cheap
    // scan of the checkpointed round output (the previous round's
    // signature is cached, not recomputed) instead of two exceptAll
    // shuffles. Hash summed in decimal: ANSI mode overflow-checks long
    // sums.
    def sig(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) "" else r.getDecimal(1).toString)
    }
    var prevSig = sig(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star over the symmetric adjacency.
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val minNbr = sym.groupBy("u")
        .agg(least(min("v"), first("u")).as("m"))
      val large = sym.join(minNbr, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      // small-star over lower-or-equal neighbors (edges already (hi,lo)).
      val minLow = large.groupBy("u").agg(min("v").as("m"))
      // Second branch is minLow ITSELF: every u of `large` has exactly
      // one (u, m) row there, so re-joining large to it only inflated
      // each (u, m) by degree(u) duplicate rows into the distinct — a
      // hub with 100k neighbors shuffled 100k identical rows per round.
      val small = large.join(minLow, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(minLow.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      val s = sig(small)
      converged = s == prevSig
      prevSig = s
      e = small
      iter += 1
    }
    // Fail loud: a non-converged star forest can still contain depth-2
    // chains, i.e. labels that are not component minima — never return
    // them behind a log line.
    if (!converged)
      throw new IllegalStateException(
        s"star CC did not converge within maxIter=$maxIter rounds — " +
          "labels would be partial; raise maxIter")
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"star connected components converged in $iter rounds " +
        s"(maxIter=$maxIter)")
    val labeled = e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()
    labeled.unionByName(
      selfLoopIds.join(labeled.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
  }
}
