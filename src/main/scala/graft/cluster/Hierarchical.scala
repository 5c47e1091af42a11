package graft.cluster

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

/** Per-component hierarchical agglomerative clustering (ref: SURVEY.md D8 —
  * the reference delegates to fastcluster's centroid-linkage HAC over
  * 1-score distances inside dedupe's matchBlocks, cut at the score
  * threshold; output consumed as (ids, scores) tuples at
  * pgdedupe/run.py:405-408).
  *
  * Shape: scored edges → connected components → `hacOnGroup` per
  * component; on the driver up to `ccEdgeCap` edges, as
  * `groupByKey(component).flatMapGroups` above (see [[cluster]]). The
  * in-group agglomeration is sparse: memory is O(V + E) in the component's
  * observed edges (never a dense n×n matrix), so a `maxComponentSize`
  * guard is only needed against giant components (a hot blocking key
  * chaining thousands of records). Oversized components are SPLIT on
  * their weakest edges into capped pieces (Kruskal with a size cap) and
  * each piece agglomerated for real — never mass-merged into one
  * cluster — and the split is logged (no silent caps).
  */
object Hierarchical {

  final case class Edge(component: Long, lId: Long, rId: Long, score: Double)
  final case class Assignment(
      _unique_id: Long, canon_id: Long, cluster_score: Double)

  /** Average-linkage HAC over one component's sparse similarity edges.
    * Distance = 1 - score; unknown pairs count as distance 1 (so a single
    * weak bridge between two tight sub-clusters does NOT merge them — the
    * unobserved cross pairs out-vote it, mirroring fastcluster-over-full-
    * matrix behavior, ref run.py:405-408). Cut the dendrogram at distance
    * (1 - threshold).
    *
    * Implementation is sparse and heap-driven: each cluster pair with at
    * least one observed edge carries (Σ observed dist, #observed pairs);
    * the exact average distance is (Σ + (|A||B| − #obs) · 1) / |A||B|, and
    * merging clusters is plain addition of those accumulators — no dense
    * matrix, no O(n²) scan per merge. Ties break deterministically on the
    * (min member id, min member id) pair of the two clusters (required by
    * the reproducibility gate, ref tests/test_reproducibility.py:75).
    *
    * After the cut, any record left in a singleton that still has an
    * above-threshold observed edge is attached to its best-scoring
    * assigned neighbor (score desc, neighbor id asc; repeated to fixpoint)
    * — every member of a component whose edges all cleared the threshold
    * gets an assignment; no above-threshold edge is silently dropped.
    *
    * canon_id = min member id of the final cluster (ref run.py:406:
    * cluster id = first member); cluster_score = mean observed similarity
    * of the member to its cluster-mates (threshold when none observed).
    */
  def hacOnGroup(
      edges: Seq[Edge],
      threshold: Double,
      maxComponentSize: Int): Iterator[Assignment] = {
    val ids = edges.iterator
      .flatMap(e => Iterator(e.lId, e.rId)).toArray.distinct.sorted
    val n = ids.length
    if (n < 2) return Iterator.empty
    if (n > maxComponentSize)
      return splitOversized(edges, ids, threshold, maxComponentSize)
    val idx = ids.zipWithIndex.toMap
    val cutoff = 1.0 - threshold

    // Min-distance per observed vertex pair (duplicate edges keep the
    // best score), as a sparse adjacency. `sim(v)` also feeds the
    // reattachment pass and cluster_score.
    val pairDist = mutable.HashMap.empty[(Int, Int), Double]
    edges.foreach { e =>
      if (e.lId != e.rId) {
        val a = idx(e.lId); val b = idx(e.rId)
        val k = if (a < b) (a, b) else (b, a)
        val d = 1.0 - e.score
        val cur = pairDist.getOrElse(k, Double.MaxValue)
        if (d < cur) pairDist(k) = d
      }
    }
    val sim = Array.fill(n)(mutable.HashMap.empty[Int, Double])
    pairDist.foreach { case ((a, b), d) =>
      sim(a)(b) = 1.0 - d; sim(b)(a) = 1.0 - d
    }

    // Cluster state. Slot i starts as the singleton {i}; merges reuse the
    // surviving slot and bump its version (lazy heap invalidation).
    val alive = Array.fill(n)(true)
    val version = Array.fill(n)(0)
    val size = Array.fill(n)(1L)
    val members = Array.tabulate(n)(i => mutable.ArrayBuffer(i))
    val rep = Array.tabulate(n)(i => ids(i)) // min original id, for ties
    // nbr(i): other cluster slot -> (sum observed dist, observed pairs).
    val nbr = Array.fill(n)(mutable.HashMap.empty[Int, (Double, Long)])
    pairDist.foreach { case ((a, b), d) =>
      nbr(a)(b) = (d, 1L); nbr(b)(a) = (d, 1L)
    }

    def avgDist(a: Int, b: Int): Double = {
      val (s, c) = nbr(a).getOrElse(b, (0.0, 0L))
      val total = size(a) * size(b)
      (s + (total - c) * 1.0) / total
    }

    final case class Cand(dist: Double, repA: Long, repB: Long,
        a: Int, b: Int, va: Int, vb: Int)
    implicit val ord: Ordering[Cand] = Ordering.by((c: Cand) =>
      (-c.dist, -c.repA, -c.repB)) // PriorityQueue is a max-heap
    val heap = mutable.PriorityQueue.empty[Cand]
    def push(a: Int, b: Int): Unit = {
      val d = avgDist(a, b)
      if (d <= cutoff) {
        val (x, y) = if (rep(a) <= rep(b)) (a, b) else (b, a)
        heap.enqueue(Cand(d, rep(x), rep(y), x, y, version(x), version(y)))
      }
    }
    pairDist.keysIterator.foreach { case (a, b) => push(a, b) }

    while (heap.nonEmpty) {
      val c = heap.dequeue()
      if (alive(c.a) && alive(c.b) &&
          version(c.a) == c.va && version(c.b) == c.vb) {
        // Merge the higher-rep slot into the lower-rep slot.
        val (keep, gone) = (c.a, c.b)
        version(keep) += 1
        alive(gone) = false
        members(keep) ++= members(gone)
        size(keep) += size(gone)
        rep(keep) = math.min(rep(keep), rep(gone))
        val merged = nbr(keep)
        merged.remove(gone)
        nbr(gone).foreach { case (o, (s, cnt)) =>
          if (o != keep && alive(o)) {
            val (s0, c0) = merged.getOrElse(o, (0.0, 0L))
            merged(o) = (s0 + s, c0 + cnt)
            nbr(o).remove(gone)
            val (so, co) = nbr(o).getOrElse(keep, (0.0, 0L))
            nbr(o)(keep) = (so + s, co + cnt)
          }
        }
        nbr(gone).clear()
        merged.keysIterator.filter(alive).foreach(o => push(keep, o))
      }
    }

    // Post-cut reattachment: singletons with an above-threshold observed
    // edge to an assigned record join that record's cluster (score desc,
    // neighbor id asc), repeated to fixpoint for chains.
    val clusterOf = Array.fill(n)(-1)
    (0 until n).foreach { s =>
      if (alive(s) && members(s).size >= 2)
        members(s).foreach(m => clusterOf(m) = s)
    }
    var changed = true
    while (changed) {
      changed = false
      // One sweep against the pre-sweep assignment state; deterministic
      // regardless of vertex visit order.
      val snapshot = clusterOf.clone()
      (0 until n).foreach { v =>
        if (snapshot(v) < 0) {
          val best = sim(v).iterator
            .filter { case (u, sc) => snapshot(u) >= 0 && sc >= threshold }
            .reduceOption { (x, y) =>
              if (x._2 > y._2 || (x._2 == y._2 && ids(x._1) < ids(y._1))) x
              else y
            }
          best.foreach { case (u, _) =>
            val slot = snapshot(u)
            clusterOf(v) = slot
            members(slot) += v
            changed = true
          }
        }
      }
    }

    // Emit clusters of size ≥ 2 with per-member mean observed similarity
    // (threshold when a member has no observed edge to a cluster-mate).
    val out = mutable.ArrayBuffer.empty[Assignment]
    (0 until n).foreach { s =>
      if (alive(s) && members(s).size >= 2) {
        val ms = members(s)
        val inCluster = ms.toSet
        val canon = ms.iterator.map(ids(_)).min
        ms.sortBy(ids(_)).foreach { m =>
          val obs = sim(m).iterator
            .filter { case (o, _) => o != m && inCluster(o) }
            .map(_._2).toArray
          val score =
            if (obs.isEmpty) threshold
            else math.max(0.0, math.min(1.0, obs.sum / obs.length))
          out += Assignment(ids(m), canon, score)
        }
      }
    }
    out.iterator
  }

  /** Oversized-component fallback: split on the WEAKEST edges, then run
    * the real agglomeration inside each capped piece. Equivalent to
    * Kruskal with a size cap — edges are admitted strongest-first into a
    * union-find, skipping any union that would grow a piece past
    * `maxComponentSize` — so the cut set is exactly the weakest edges
    * whose removal bounds every piece. Each piece then recurses into
    * `hacOnGroup` (guaranteed ≤ cap, so it agglomerates for real). This
    * replaces the old single-cluster collapse: a hot blocking key that
    * chains thousands of records no longer mass-merges them; cross-piece
    * (weak) edges are the only evidence dropped, and the drop is logged.
    *
    * Memory stays O(V + E) in the component's observed edges, same as the
    * main path — the guard is against quadratic agglomeration time and
    * mass false-merges, not against holding the edge list.
    */
  private def splitOversized(
      edges: Seq[Edge],
      ids: Array[Long],
      threshold: Double,
      maxComponentSize: Int): Iterator[Assignment] = {
    val n = ids.length
    val idx = ids.zipWithIndex.toMap
    // Best score per vertex pair (duplicate edges keep the best), then
    // strongest-first with deterministic ties on the original id pair.
    val best = mutable.HashMap.empty[(Int, Int), Double]
    edges.foreach { e =>
      if (e.lId != e.rId) {
        val a = idx(e.lId); val b = idx(e.rId)
        val k = if (a < b) (a, b) else (b, a)
        if (e.score > best.getOrElse(k, Double.MinValue)) best(k) = e.score
      }
    }
    val sorted = best.toArray
      .sortBy { case ((a, b), s) => (-s, ids(a), ids(b)) }
    val parent = Array.tabulate(n)(identity)
    val psize = Array.fill(n)(1)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    sorted.foreach { case ((a, b), _) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb && psize(ra) + psize(rb) <= maxComponentSize) {
        val (keep, gone) = if (ra < rb) (ra, rb) else (rb, ra)
        parent(gone) = keep
        psize(keep) += psize(gone)
      }
    }
    // Regroup the ORIGINAL edges by piece (both endpoints in the same
    // piece); cross-piece edges are the weakest-cut evidence we drop.
    val byPiece = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Edge]]
    var dropped = 0L
    edges.foreach { e =>
      if (e.lId != e.rId) {
        val ra = find(idx(e.lId))
        if (ra == find(idx(e.rId)))
          byPiece.getOrElseUpdate(ra, mutable.ArrayBuffer.empty) += e
        else dropped += 1
      }
    }
    // A vertex whose EVERY union was cap-rejected ends alone in its piece
    // with no intra-piece edges — no recursion sees it. Emit it as its own
    // singleton entity (score 1.0, matching applyClusters' default for
    // unassigned rows) so direct hacOnGroup callers lose no vertex.
    val orphans = (0 until n).filter(v => psize(find(v)) == 1)
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"HAC component of $n members exceeds maxComponentSize=" +
        s"$maxComponentSize; split on weakest edges into " +
        s"${byPiece.size} capped sub-components ($dropped cross-piece " +
        s"edge observations dropped, ${orphans.length} edge-orphaned " +
        "vertices kept as singletons) and agglomerated each piece")
    byPiece.toArray.sortBy(_._1).iterator.flatMap { case (_, es) =>
      hacOnGroup(es.toSeq, threshold, maxComponentSize)
    } ++ orphans.iterator.map(v => Assignment(ids(v), ids(v), 1.0))
  }

  /** Stream one component's edge iterator into at most `cap` edges,
    * keeping the STRONGEST by (score desc, lId asc, rId asc) — a total
    * order, so the kept multiset is deterministic regardless of arrival
    * order. Vertices whose every edge was evicted are returned
    * separately so the caller can emit them as singletons (the same
    * orphan contract splitOversized documents). Bounds flatMapGroups'
    * per-task heap at O(cap + V) where the unbounded `it.toSeq` was
    * O(E): a giant component (the usual shape of a similarity graph at
    * scale) would otherwise OOM the task BEFORE hacOnGroup's
    * maxComponentSize guard could run. Evicting the weakest edges is
    * semantics-aligned with that guard: they are exactly the cut set
    * splitOversized would drop first.
    */
  private[cluster] def strongestEdges(
      it: Iterator[Edge], cap: Int): (Seq[Edge], Iterator[Long]) = {
    // Min-heap on the keep-order (weakest at head) via reversed compare.
    implicit val weakestFirst: Ordering[Edge] = Ordering.by((e: Edge) =>
      (e.score, -e.lId, -e.rId))
    val heap = mutable.PriorityQueue.empty[Edge](weakestFirst.reverse)
    val seen = mutable.HashSet.empty[Long]
    var total = 0L
    it.foreach { e =>
      total += 1
      seen += e.lId; seen += e.rId
      heap.enqueue(e)
      if (heap.size > cap) heap.dequeue()
    }
    if (total <= cap) (heap.toSeq, Iterator.empty)
    else {
      val kept = heap.toSeq
      kept.foreach { e => seen -= e.lId; seen -= e.rId }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"HAC component carries $total edge observations > " +
          s"maxEdgesPerComponent=$cap; kept the $cap strongest " +
          s"(weakest-cut eviction), ${seen.size} edge-orphaned vertices " +
          "kept as singletons")
      (kept, seen.iterator)
    }
  }

  /** Cluster scored pairs: components, then per-component HAC. Returns the
    * entity_map `(_unique_id, canon_id, cluster_score)`
    * (ref pgdedupe/run.py:397-399).
    *
    * At most `ccEdgeCap` above-threshold edges (the common case) are
    * clustered on the driver, as the reference does (fastcluster per
    * component, run.py:405-408): one bounded read
    * ([[graft.ops.collectAtMost]]) collects them,
    * [[ConnectedComponents.components]] labels the components and
    * `hacOnGroup` runs per component; the entity map comes back as a
    * local relation. Above the cap, or when an edge has a null id, the
    * distributed path runs: [[ConnectedComponents.auto]], then
    * `groupByKey(component).flatMapGroups(hacOnGroup)`. Both paths note
    * `cc_kernel.hac-cluster` ([[ConnectedComponents.note]]).
    *
    * `maxEdgesPerComponent` bounds one component's materialized edges
    * (see [[strongestEdges]]); at the 4M default the buffer is a few
    * hundred MB worst-case — sized for a 4 GB executor — and the
    * eviction only ever fires on components that were already headed
    * for splitOversized's weakest-edge cut.
    *
    * PERSIST `scoredPairs` before calling: its lineage is consumed
    * more than once above the cap (the bounded read, then the component
    * kernel and its join), so an unpersisted ML-scoring lineage would
    * recompute blocking + scoring end to end again. `DedupePipeline`
    * persists it at the phase seam; direct callers own the same
    * responsibility.
    */
  def cluster(
      scoredPairs: DataFrame, // l_id, r_id, score
      threshold: Double,
      maxComponentSize: Int = 1000,
      ccEdgeCap: Long = 1000000L,
      maxEdgesPerComponent: Int = 4000000): DataFrame = {
    val spark = scoredPairs.sparkSession
    import spark.implicits._
    val above = scoredPairs.where(col("score") >= threshold)
    // A function value, not a local def: flatMapGroups ships it to the
    // executors, and a local def would capture this (unserializable)
    // object.
    val hac = (it: Iterator[Edge]) => {
      val (edges, orphans) = strongestEdges(it, maxEdgesPerComponent)
      hacOnGroup(edges, threshold, maxComponentSize) ++
        orphans.map(id => Assignment(id, id, 1.0))
    }
    // Any null id takes the distributed path below.
    graft.ops.collectAtMost(above.select("l_id", "r_id", "score"), ccEdgeCap)
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) match {
      case Some(rows) =>
        ConnectedComponents.note("hac-cluster", "driver-union-find",
          rows.length, ccEdgeCap)
        // `component` is not read by the per-component HAC: the
        // union-find's labels group the edges instead.
        val raw = rows.map(r => Edge(0L, r.getLong(0), r.getLong(1),
          r.getDouble(2)))
        val comp = ConnectedComponents.components(
          raw.iterator.map(e => (e.lId, e.rId)))
        val assigned = raw.groupBy(e => comp(e.lId)).toSeq.sortBy(_._1)
          .flatMap { case (_, es) => hac(es.iterator) }
        entityMap(spark, assigned.map(a =>
          (a._unique_id, a.canon_id, a.cluster_score)))
      case None =>
        val comps = ConnectedComponents.auto(above,
          smallEdgeCap = ccEdgeCap, label = "hac-cluster")
        above
          .join(comps.withColumnRenamed("id", "l_id"), "l_id")
          .select(col("component"), col("l_id").as("lId"),
            col("r_id").as("rId"), col("score"))
          .as[Edge]
          .groupByKey(_.component)
          .flatMapGroups((_, it) => hac(it))
          .toDF("_unique_id", "canon_id", "cluster_score")
    }
  }

  /** An entity map `(_unique_id, canon_id, cluster_score)` from driver
    * rows, as a local relation: built without generated code, and read
    * back by [[graft.ops.collectAtMost]] without a job. */
  private[graft] def entityMap(spark: SparkSession,
      rows: Seq[(Long, Long, Double)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (u, c, s) => Row(u, c, s) }.asJava,
      StructType(Seq(StructField("_unique_id", LongType, nullable = false),
        StructField("canon_id", LongType, nullable = false),
        StructField("cluster_score", DoubleType, nullable = false))))
}
