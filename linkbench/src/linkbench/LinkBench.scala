package linkbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.JsonStr
import graft.pipeline.PhaseLog

/** Seeded linkage benchmark: one workload per launch.
  *
  * Usage: linkbench.LinkBench --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> [--scale <f>]
  *
  * One closed-loop client (this thread) on one `local[nproc]` session
  * submits one run at a time. A launch sets up the seeded inputs seven
  * times (setup_s is the median), runs once to warm up, then repeats
  * timed runs until `--seconds` have passed and at least three were
  * timed; every run's outputs are checked after its clock stops. With
  * `--trace 1` one traced run follows, and the per-layer metrics are
  * reported instead of the end-to-end ones. The last stdout line is the
  * result object; the line before it is the detail object (input
  * fingerprint, host contention, every run). Progress goes to stderr.
  */
object LinkBench {

  private val SetupReps = 7
  private val MinReps = 3

  final case class Rep(runS: Double, cpuS: Double, checked: Checked,
      hash: Option[String])

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = Workloads.byName(need("workload"))
      .getOrElse(usage(s"unknown workload ${need("workload")}; one of " +
        Workloads.all.map(_.name).mkString(", ")))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val scale = opts.get("scale").map(_.toDouble).getOrElse(1.0)

    val start = System.nanoTime()
    def log(m: String): Unit = System.err.println(
      f"[linkbench] ${(System.nanoTime() - start) / 1e9}%7.2f s $m")
    val hostStart = Host.sample()
    val cores = Runtime.getRuntime.availableProcessors
    // The session graft.Main builds, with its scratch space in `work`.
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", graft.functions.GraftExtensions.CONF)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val errors = ArrayBuffer.empty[String]

      val setups = (0 until SetupReps).map { i =>
        val t0 = System.nanoTime()
        val in = workload.generate(spark, work.resolve(s"input-$i"), seed,
          scale)
        val secs = (System.nanoTime() - t0) / 1e9
        log(f"set-up $i: $secs%.3f s")
        (secs, in)
      }
      if (setups.map(_._2.sha256).distinct.size != 1)
        errors += "set-up wrote different inputs for the same seed"
      val in = setups.last._2

      val attempts = ArrayBuffer.empty[Option[Rep]]
      def attempt(f: Path => Rep): Option[Rep] = {
        val n = attempts.size + 1
        val r =
          try Some(f(work.resolve(s"out-$n")))
          catch {
            case e: Exception =>
              errors += s"run $n threw ${e.getClass.getName}: ${e.getMessage}"
              None
          }
        r.foreach(_.checked.errors.foreach(e => errors += s"run $n: $e"))
        attempts += r
        log(s"run $n: " + r.map(x => f"${x.runS}%.3f s").getOrElse("failed"))
        r
      }
      def timed(out: Path): Rep = {
        val os = ManagementFactory.getOperatingSystemMXBean
          .asInstanceOf[com.sun.management.OperatingSystemMXBean]
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val hash = workload.run(spark, in, out)
        val runS = (System.nanoTime() - t0) / 1e9
        val cpuS = (os.getProcessCpuTime - c0) / 1e9
        Rep(runS, cpuS, workload.check(spark, in, out), hash)
      }

      attempt(timed) // warm-up: class loading, codegen and JIT
      val m0 = System.nanoTime()
      val reps = ArrayBuffer.empty[Rep]
      while (attempts.size <= MinReps ||
          (System.nanoTime() - m0) / 1e9 < seconds)
        attempt(timed).filter(_.checked.errors.isEmpty).foreach(reps += _)
      if (reps.isEmpty) {
        errors.foreach(e => System.err.println(s"linkbench: $e"))
        sys.exit(1)
      }
      val hashes = attempts.flatten.flatMap(_.hash).distinct
      if (hashes.size > 1)
        errors += s"model hash differs across runs: ${hashes.mkString(",")}"
      val notes = PhaseLog.drainNotes()
      PhaseLog.drain()

      val runS = median(reps.map(_.runS))
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("run_s", runS, "s"),
          ("records_per_s", median(reps.map(in.records / _.runS)), "1/s"),
          ("cpu_s", median(reps.map(_.cpuS)), "s"),
          ("setup_s", median(setups.map(_._1)), "s"))
        else {
          val tracer = new Tracer(spark.sparkContext, cores)
          spark.sparkContext.addSparkListener(tracer)
          var counts = Map.empty[String, Double]
          val traced = attempt { out =>
            var wallS = Double.NaN
            val t0 = System.nanoTime()
            counts = workload.traced(spark, in, out, tracer,
              () => wallS = (System.nanoTime() - t0) / 1e9).toMap
            Rep(wallS, Double.NaN, workload.check(spark, in, out), None)
          }
          tracer.drain()
          spark.sparkContext.removeSparkListener(tracer)
          val wallS = traced.map(_.runS).getOrElse(Double.NaN)
          def quality(f: Checked => Double) =
            traced.map(r => f(r.checked)).getOrElse(Double.NaN)
          tracer.metrics().map { case (k, v) => (k, v, unitOf(k)) } ++
            CountNames.map { case (k, u) =>
              (k, counts.getOrElse(k, 0.0), u) } ++
            Seq(
              ("false_merge_rate", quality(_.falseMerge), "ratio"),
              ("false_split_rate", quality(_.falseSplit), "ratio"),
              ("peak_rss_mb", Host.peakRssMb(), "MB"),
              ("trace.coverage", tracer.spanWallS / wallS, "ratio"),
              ("trace.overhead_s", wallS - runS, "s"))
        }

      val hostEnd = Host.sample()
      val q = JsonStr.escape _
      def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
      println(obj(Seq(
        "workload" -> q(workload.name),
        "fingerprint" -> obj(Seq("seed" -> seed.toString,
          "sha256" -> q(in.sha256)) ++
          in.shape.map { case (k, v) => k -> v.toString }),
        "host" -> obj(Seq("nproc" -> cores.toString,
          "start" -> hostStart.json, "end" -> hostEnd.json,
          "steal_pct_run" ->
            num(Host.stealPct(hostStart.stat, hostEnd.stat)))),
        "setup_s" -> setups.map(s => num(s._1)).mkString("[", ",", "]"),
        "runs" -> attempts.map {
          case Some(r) => obj(Seq("run_s" -> num(r.runS),
            "cpu_s" -> num(r.cpuS), "ok" -> r.checked.errors.isEmpty.toString,
            "false_merge_rate" -> num(r.checked.falseMerge),
            "false_split_rate" -> num(r.checked.falseSplit)))
          case None => "null"
        }.mkString("[", ",", "]"),
        "peak_rss_mb" -> num(Host.peakRssMb()),
        "model_hash" -> hashes.headOption.map(q).getOrElse("null"),
        "notes" -> obj(notes.toSeq.sorted.map { case (k, v) => k -> q(v) }),
        "errors" -> errors.map(q).mkString("[", ",", "]"))))
      println(obj(Seq(
        "correct" -> errors.isEmpty.toString,
        "attempted" -> attempts.size.toString,
        "failed" ->
          attempts.count(_.forall(_.checked.errors.nonEmpty)).toString,
        "metrics" -> obj(metrics.map { case (k, v, u) =>
          k -> obj(Seq("value" -> num(v), "unit" -> q(u)))
        }))))
    } finally spark.stop()
  }

  /** Data-shape counts of the traced run, with their units. */
  val CountNames: Seq[(String, String)] = Seq(
    "ops.preprocess.rows_out" -> "count",
    "blocking.learn.predicates" -> "count",
    "blocking.block.max_block" -> "count",
    "blocking.block.reduction_ratio" -> "ratio",
    "blocking.block.pair_completeness" -> "ratio",
    "model.score.pairs" -> "count",
    "model.score.useful_ratio" -> "ratio",
    "cluster.hac.edges" -> "count",
    "cluster.hac.run_star" -> "flag",
    "cluster.hac.max_component" -> "count",
    "cluster.apply.entities" -> "count",
    "dedup.candidates.pairs" -> "count",
    "dedup.verify.useful_ratio" -> "ratio",
    "cluster.canonical.components" -> "count")

  private def unitOf(metric: String): String = metric.split('.').last match {
    case "jobs" => "count"
    case "idle_core_s" => "core_s"
    case "shuffle_mb" | "spill_mb" => "MB"
    case _ => "s"
  }

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${JsonStr.escape(k)}: $v" }
      .mkString("{", ", ", "}")

  private def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def usage(msg: String): Nothing = {
    System.err.println(s"linkbench: $msg")
    sys.exit(2)
  }
}

/** Host contention as data: /proc/stat counters and the 1-min loadavg. */
final case class Host(stat: Array[Long], load1: Double, stealPct: Double) {
  def json: String = {
    def num(d: Double) = if (d.isNaN) "null" else d.toString
    s"""{"load1": ${num(load1)}, "steal_pct": ${num(stealPct)}}"""
  }
}

object Host {
  private def readStat(): Array[Long] = {
    val p = Paths.get("/proc/stat")
    if (!Files.exists(p)) Array.empty
    else Files.readAllLines(p).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  }

  /** Steal share of all CPU time between two /proc/stat samples, in %. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) Double.NaN
    else {
      // user nice system idle iowait irq softirq steal (guest time is
      // already counted in user).
      val d = (0 until 8).map(i => b(i) - a(i))
      if (d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
    }

  /** Load and a steal share measured over a quarter second. */
  def sample(): Host = {
    val s0 = readStat()
    Thread.sleep(250)
    val s1 = readStat()
    val la = Paths.get("/proc/loadavg")
    val load1 =
      if (Files.exists(la)) Files.readString(la).split(" ")(0).toDouble
      else Double.NaN
    Host(s1, load1, stealPct(s0, s1))
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val p = Paths.get("/proc/self/status")
    if (!Files.exists(p)) Double.NaN
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(Double.NaN)
    }
  }
}
