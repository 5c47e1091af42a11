package graft

/** Developer tool (not part of the driver contract): measure the BPE
  * merge-loop kernels against each other at a merge count big enough
  * to expose the per-iteration latency — the driver-local fast path
  * (one collect + in-process loop) vs the distributed loop (two Spark
  * jobs per merge). Bit-equality of the two kernels is gated in
  * BpeSpec; this main records the LATENCY ratio for
  * OPTIMIZATION_r21.md.
  *
  * Usage: runMain graft.BpeKernelBench [numMerges] [sfDir]
  */
object BpeKernelBench {
  def main(args: Array[String]): Unit = {
    val numMerges = args.headOption.map(_.toInt).getOrElse(64)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // A corpus with enough pair diversity to sustain `numMerges` merges:
    // the documents table's text column at minPairCount = 1.
    val docs = Tables.load(spark, sfDir, "documents")
    docs.count() // warm the scan
    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (fast, tFast) = time(graft.text.Bpe.learnBpe(
      docs, "text", numMerges, minPairCount = 1L))
    val (dist, tDist) = time(graft.text.Bpe.learnBpe(
      docs, "text", numMerges, minPairCount = 1L, driverVocabCap = 0L))
    require(fast == dist,
      s"kernel divergence!\nfast=$fast\ndist=$dist")
    println(f"[bpe-kernel] merges=${fast.size} (asked $numMerges) " +
      f"driver-local=$tFast%.2f s distributed=$tDist%.2f s " +
      f"ratio=${tDist / tFast}%.1fx " +
      f"(loadavg ${Bench.readLoadAvg()}) — results bit-equal")
    spark.stop()
  }
}
