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
    * shuffle partitions — so a graph of ≤ `smallEdgeCap` edges is solved
    * with a min-union union-find on the driver instead: one bounded read
    * ([[graft.ops.collectAtMost]]), zero rounds, identical labels
    * (component = min reachable id, as in `runStar`). Driver heap at the
    * default 1M-edge cap: see `DedupeConfig.ccEdgeCap`; scale it
    * linearly before raising the cap. Beyond the cap it is
    * `runStar`: the reference's unconditional driver DFS
    * (pgdedupe/exact_matches.py:9-50) without its memory ceiling — the
    * cap is explicit, logged, and the fallback is never an error.
    *
    * Null endpoints: an edge with one null side links nothing; it becomes
    * a self-loop on its other endpoint, a singleton vertex (unless a real
    * edge links it) in both kernels, and counts toward the cap and the
    * note. A fully null edge is dropped.
    */
  def auto(
      edges: DataFrame,
      srcCol: String = "l_id",
      dstCol: String = "r_id",
      smallEdgeCap: Long = 1000000L,
      label: String = "cc"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (src, dst) = (col(srcCol).cast("long"), col(dstCol).cast("long"))
    val proj = edges
      .select(coalesce(src, dst).as("src"), coalesce(dst, src).as("dst"))
      .where(col("src").isNotNull)
    // Tuple2[Long, Long] is @specialized: the array holds primitives.
    graft.ops.collectAtMost(proj.as[(Long, Long)], smallEdgeCap) match {
      case Some(raw) =>
        note(label, "driver-union-find", raw.length, smallEdgeCap)
        val comp = components(raw.iterator)
        val ids = comp.keys.toArray.sorted
        // LocalRelation output: the optimizer can broadcast it into the
        // consuming join, which is exactly right at this size.
        spark.createDataset(ids.toSeq.map(id => (id, comp(id))))
          .toDF("id", "component")
      case None =>
        // The note's count and runStar's two eager checkpoints all read
        // the edges; runStar's output reads only its checkpoints, so the
        // pin is released before returning, on a throw too.
        val pinned = proj.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          note(label, "run-star", pinned.count(), smallEdgeCap)
          runStar(pinned, "src", "dst")
        } finally {
          pinned.unpersist(false)
          ()
        }
    }
  }

  /** The `cc_kernel.<label>` note, `<kernel> (<n> edges, cap <cap>)`.
    * Keyed per call site: one pipeline run clusters in several stages
    * (HAC, exact-match merges), and a shared key would keep only the
    * last. linkbench parses `(<n> edges` out of `hac-cluster`.
    */
  private[graft] def note(label: String, kernel: String, n: Long,
      cap: Long): Unit =
    graft.pipeline.PhaseLog.note(s"cc_kernel.$label",
      s"$kernel ($n edges, cap $cap)")

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
    // Vertices whose ONLY edges are self-loops (`auto` turns a null-
    // sided edge into one) stay as singletons, as the driver union-find
    // keeps them; the (x, x) edge itself is dropped below. Eagerly
    // checkpointed: the returned frame must not keep a live lineage on
    // the caller's edges, which `auto` unpersists right after this.
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
