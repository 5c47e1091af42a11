package graft.cluster

import org.apache.spark.sql.functions._

import graft.queries.PipelineQueries
import graft.pipeline.DedupePipeline
import graft.model.LogisticModel

/** One-off comparison of the two CC kernels — the driver union-find and
  * `runStar` — on the real q50 edge workload at sf0.1 plus an
  * adversarial long chain (test-scoped tool, not shipped API).
  * Run: sbt "Test/runMain graft.cluster.CcBench"
  *
  * Kernel selection in production goes through
  * `ConnectedComponents.auto`: a driver union-find below the edge cap
  * (config knob `cc_edge_cap`, default 1M edges),
  * `runStar` above it; the pick is logged and surfaced in the bench
  * JSON's notes map as `cc_kernel`. Re-run this bench when changing
  * the cap default — the crossover sits where the union-find's single
  * collect beats runStar's O(log² n) shuffle rounds on the target
  * cluster.
  */
object CcBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    import spark.implicits._

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ccbench] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // Real workload: q50's above-threshold scored person edges.
    val cfg = PipelineQueries.personConfig
    val eu = DedupePipeline.preprocess(
      PipelineQueries.personEntries(spark, dir), cfg)
      .persist()
    val (_, blocks, _) = DedupePipeline.block(eu, cfg,
      DedupePipeline.defaultPredicates(cfg))
    val (_, scored0) = DedupePipeline.scorePairs(eu, blocks, cfg,
      LogisticModel.default(cfg))
    val above = scored0.select("l_id", "r_id", "score")
      .where(col("score") >= cfg.threshold)
      .persist()
    println(s"[ccbench] person edges: ${above.count()}")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = time("person union-find")(
      labels(ConnectedComponents.auto(above, label = "bench-uf")))
    val b = time("person star")(labels(
      ConnectedComponents.auto(above, smallEdgeCap = 0, label = "bench-star")))
    println(s"[ccbench] person labels agree: ${a == b} (${a.size} nodes)")

    // Adversarial: one 20k-node path (diameter 20k).
    val chain = spark.range(1, 20000)
      .select(col("id").as("l_id"), (col("id") + 1).as("r_id"))
      .persist()
    chain.count()
    val c = time("chain union-find")(
      labels(ConnectedComponents.auto(chain, label = "bench-uf")))
    val d = time("chain star")(labels(ConnectedComponents.auto(chain,
      smallEdgeCap = 0, label = "bench-star")))
    println(s"[ccbench] chain labels agree: ${c == d} (${c.size} nodes)")
    spark.stop()
  }
}

/** Wall time and JVM heap of one `Hierarchical.cluster` call on a
  * synthetic graph of 1M above-threshold edges: 100,000 rings of 10
  * records. Pass the `ccEdgeCap` to measure, one JVM per cap so the peaks
  * do not mix (default cap → driver path, 0 → distributed path):
  * sbt "Test/runMain graft.cluster.HacHeapBench 1000000"
  * In local mode the executors share the driver's JVM, so the peak is
  * whole-JVM heap in use (live data plus uncollected garbage), sampled
  * every 5 ms, above the heap left after a full GC before the call.
  * Runs on 4 cores, the setting `DedupeConfig.ccEdgeCap`'s heap figures
  * were measured at.
  */
object HacHeapBench {
  def main(args: Array[String]): Unit = {
    val cap = args.headOption.fold(1000000L)(_.toLong)
    val spark = graft.GraftSession(cpus = 4)
    val id = col("id")
    val scored = spark.range(1000000L)
      .select(id.as("l_id"), (id - id % 10 + (id + 1) % 10).as("r_id"),
        (lit(0.6) + (id * 7919 % 1000) / 2500.0).as("score"))
      .persist()
    scored.count()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    val base = heap.getHeapMemoryUsage.getUsed
    @volatile var peak = base
    @volatile var done = false
    val sampler = new Thread(() =>
      while (!done) {
        peak = math.max(peak, heap.getHeapMemoryUsage.getUsed)
        Thread.sleep(5)
      })
    sampler.start()
    val t0 = System.nanoTime()
    val em = Hierarchical.cluster(scored, 0.5, ccEdgeCap = cap).persist()
    val rows = em.count()
    val secs = (System.nanoTime() - t0) / 1e9
    done = true
    sampler.join()
    println(f"[hacheap] cap=$cap rows=$rows wall_s=$secs%.2f " +
      f"base_mb=${base / 1e6}%.0f peak_mb=${peak / 1e6}%.0f " +
      f"peak_over_base_mb=${(peak - base) / 1e6}%.0f " +
      s"xmx_mb=${Runtime.getRuntime.maxMemory / 1000000}")
    spark.stop()
  }
}
