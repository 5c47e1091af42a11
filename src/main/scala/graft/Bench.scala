package graft

/** Benchmark main: headline queries at SPARK_GRAFT_SF_DIR. Prints total
  * wall-clock like the reference does (pgdedupe/cli.py:67).
  *
  * Each query runs `SPARK_GRAFT_BENCH_REPS` times (default 5 — single
  * samples on this host swing 2–3× run-to-run with ambient load, so gate
  * decisions need a median over enough reps to shed outliers). Output is
  * TWO stdout JSON lines, the compact driver contract LAST (the driver
  * tails ~2000 chars and parses the final line): the contract line
  * carries the per-query MEDIAN under "queries", the load-robust
  * "total_steady_min" sum, and "failed" counts; the preceding detail
  * line carries per-query steady-state MIN ("steady_min" — ambient load
  * inflates medians ~1.6× but rarely deflates a min), per-query
  * {min,max} "spread", the flagship pipeline's per-phase seconds
  * ("phases"), and /proc/loadavg at start/end under notes ("host_load")
  * so a loaded-host run is attributable from the JSON alone.
  */
object Bench {

  /** Headline workload: scan-agg, join-heavy, window, dedup dataflow,
    * ANN, and the flagship pipeline — the queries whose plans matter at
    * scale (not the micro-operator demos).
    */
  val headline: Seq[String] = Seq(
    "q20_pricing_summary", "q21_top_revenue", "q22_region_volume",
    "q23_event_windows", "q24_sessionize",
    "q13_exact_dedup", "q35_minhash_candidates", "q37_simhash_pairs",
    "q43_fingerprint", "q41_quality_score",
    "q44_knn_bruteforce", "q45_knn_lsh", "q52_embedding_neardup_lsh",
    "q53_decontaminate", "q56_dup_spans",
    // The two nontrivial curation plans: shard-pack (sort shuffle +
    // driver prefix pass) and domain-cap (ObjectHashAggregate path) —
    // benched so regressions in either plan show round-over-round.
    "q58_shard_pack", "q60_domain_cap",
    // Bloom-prefiltered incremental dedup (round 16): a Bloom build
    // action + filter/anti-join union — benched so both the build cost
    // and the confirm join show round-over-round.
    "q62_incremental_dedup",
    // Context-window chunking (round 16): zero-shuffle per-row pass,
    // benched so a regression in its codegen plan shows round-over-round.
    "q63_chunk_tokens",
    // Sharded incremental dedup (round 17): the distributed per-bucket
    // Bloom build + bucket-join probe — benched so both halves of the
    // beyond-driver-Bloom path show round-over-round.
    "q64_incremental_dedup_sharded",
    // Edit-distance join (round 18): deletion-neighborhood explode +
    // variant-hash join + thresholded levenshtein verify — benched so
    // the explode volume and the verify plan show round-over-round.
    "q65_edit_distance_join",
    // Boilerplate-line removal (round 19): narrow-key detection agg +
    // per-doc set join + pure-column rewrite — benched so the two
    // explode passes and the broadcast rewrite show round-over-round.
    "q66_boilerplate_lines",
    // Sequence packing (round 19): the two-pass prefix-sum tape + one
    // assembly shuffle — benched so the RDD seam and the groupBy
    // assembly show round-over-round.
    "q68_pack_sequences",
    // Vocab build + token-id encoding (round 19): token-count top-V +
    // broadcast-lookup encode with one int-triple assembly shuffle —
    // benched so the two explode passes and the broadcast show
    // round-over-round.
    "q69_encode_tokens",
    // Top-k terms (round 19): tf/df scoring via two aggs + a term
    // equi-join, window-free per-doc cut — benched so the
    // countDistinct plan and the bounded collect show round-over-round.
    "q70_top_terms",
    // Epoch shuffle (round 19): hash range-repartition + zipWithIndex
    // numbering — benched so the denseIds RDD seam shows
    // round-over-round on a corpus-wide permutation.
    "q71_epoch_shuffle",
    // Bigram-LM quality score (round 19): bigram explode + two model
    // aggs + two scoring equi-joins — benched so the LM-filter's join
    // plan shows round-over-round.
    "q72_bigram_lm",
    // BPE learn (round 20): K iterations of pair-count agg + argmax
    // collect + localCheckpoint rewrite over the distinct-word table —
    // benched so the iterative learn loop's per-iteration cost shows
    // round-over-round.
    "q73_bpe_learn",
    // BPE encode (round 20): learn + the zero-shuffle codegen'd
    // per-word encode — benched so the compiled merge-pass path shows
    // round-over-round.
    "q74_bpe_encode",
    // Image perceptual near-dup (round 20): per-row BMP synth +
    // integer dHash + SimHash chunk join — benched so the decode/hash
    // expression and the Hamming band join show round-over-round.
    "q75_image_neardup",
    // Full trainer-prep chain (round 21 addition): learn -> encode ->
    // vocab -> ids composition — benched so the composed path carries
    // a wall-clock number like every other query family (each stage is
    // also benched individually via q73/q74/q69).
    "q76_bpe_ids",
    "q50_dedupe_pipeline")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private[graft] def readLoadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0) finally src.close()
    } catch { case _: Throwable => "n/a" }

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val loadAvg0 = readLoadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt)
    val spark = GraftSession()

    // Local-iteration filter (comma-separated name prefixes); the
    // driver never sets it, so the published protocol is unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet)
    val qs = SparkEntry.queries
    // Untimed warmup: JIT + codegen + parquet-footer paths, so the first
    // timed query doesn't absorb session startup (~3 s of noise).
    Tables.load(spark, sfDir, "region")
      .groupBy("r_name").count().count()
    var phases = Map.empty[String, Double]
    var notes = Map.empty[String, String]
    val results = headline.filter(qs.contains)
      .filter(n => only.forall(_.exists(n.startsWith)))
      .map { name =>
      val samples = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        val ok =
          try {
            val df = qs(name)(spark, sfDir)
            df.count()
            // The returned frame may be the query's own cached handle
            // (q50 returns its pinned uniqueMap); drop it so repeated
            // reps don't accumulate storage blocks for the session
            // lifetime. No-op for uncached frames.
            df.unpersist(false)
            true
          } catch {
            case e: Throwable =>
              System.err.println(
                s"[bench] $name rep $rep failed: ${e.getMessage}")
              false
          }
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name rep $rep/$reps: $secs%.3f s" +
          (if (ok) "" else " (FAILED)"))
        // ACCUMULATE across queries (a plain replace would let the last
        // note-producing query clobber earlier queries' notes — e.g.
        // q52's cc_kernel.neardup-canonical lost once q50 drains);
        // within one query, later reps overwrite the same keys, which
        // keeps the last rep's phases — the intended behavior.
        phases = phases ++ graft.pipeline.PhaseLog.drain()
        notes = notes ++ graft.pipeline.PhaseLog.drainNotes()
        (secs, ok)
      }
      // Failed reps carry time-to-failure, not query cost — keep them out
      // of every statistic and surface them under "failed" instead, so
      // the driver can't gate on garbage timings.
      val good = samples.filter(_._2).map(_._1)
      // Steady-state spread: the first successful rep absorbs JIT +
      // codegen warmup (observed 0.8–9.3 s swings on q44), so with >= 3
      // clean reps the spread reflects reps 2+ only. The median keeps
      // all clean reps — with the warmup sample as the max it never
      // shifts the middle.
      val steady = if (good.length >= 3) good.drop(1) else good
      (name, good, steady, samples.count(!_._2))
    }
    def jstr(s: String): String = JsonStr.escape(s)
    def fmtMap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => jstr(k) + ":" + v }
        .mkString("{", ",", "}")
    notes = notes + ("host_load" ->
      s"start ${loadAvg0}, end ${readLoadAvg()} (1-min loadavg)")
    val measured = results.filter(_._2.nonEmpty)
    val qj = fmtMap(measured.map { case (k, good, _, _) =>
      k -> f"${median(good)}%.3f" })
    // Steady-state minimum: the load-robust per-query signal (ambient
    // host load inflates medians; it almost never deflates a min).
    val minJ = fmtMap(measured.map { case (k, _, steady, _) =>
      k -> f"${steady.min}%.3f" })
    val spreadJ = fmtMap(measured.map { case (k, _, steady, _) =>
      k -> f"""{"min":${steady.min}%.3f,"max":${steady.max}%.3f}"""
    })
    val failedJ = fmtMap(results.filter(_._4 > 0)
      .map { case (k, _, _, nf) => k -> nf.toString })
    val phaseJ = fmtMap(phases.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> f"$v%.3f" })
    val notesJ = fmtMap(notes.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> jstr(v) })
    val total = measured.map { case (_, good, _, _) => median(good) }.sum
    val totalMin = measured.map { case (_, _, steady, _) => steady.min }.sum
    // Two stdout lines, detail first, contract LAST. The driver tails
    // ~2000 chars of stdout and parses the final JSON line; round 11's
    // single line outgrew that capture once spread/phases/notes were
    // added (BENCH_r11 came back `parsed: null`). The detail line keeps
    // the full diagnostics (per-query steady_min/spread, phase timings,
    // host_load notes); the final line is the compact driver contract
    // and stays well under 1 KB.
    // A run started on a loaded host (1-min loadavg > 2 before the
    // session even spins up) times ambient contention, not the code —
    // two rounds running, such a run shipped a ghost regression the
    // judge had to settle. Mark it LOUDLY in the machine-parsed
    // contract line (and on stderr), so a poisoned bench can never
    // ship silently again: if "loaded_host" appears, re-run idle and
    // commit the idle twin.
    val loadedHost =
      try loadAvg0.toDouble > 2.0 catch { case _: Throwable => false }
    val loadedJ =
      if (loadedHost) f""","loaded_host":"LOADED_HOST start=$loadAvg0""""
      else ""
    if (loadedHost)
      System.err.println(s"[bench] LOADED_HOST: start loadavg " +
        s"$loadAvg0 > 2 — timings reflect ambient load; re-run idle")
    println(f"""{"detail":"bench_diagnostics","steady_min":$minJ,"spread":$spreadJ,"phases":$phaseJ,"notes":$notesJ}""")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_steady_min":$totalMin%.3f,"reps":$reps,"queries":$qj,"failed":$failedJ,"sf":"$sfDir"$loadedJ}""")
    System.err.println(f"ran in ${(System.nanoTime() - start) / 1e9}%.1f s")
    spark.stop()
  }
}
