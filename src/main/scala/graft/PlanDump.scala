package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.metrics.JobLog
import graft.pipeline.PhaseLog

/** Developer tool (not part of the driver contract): for each headline
  * query, or each query named by a prefix, write `.explain("formatted")`
  * to `plans/<tag>/<query>_<suffix>.txt` and print load-independent
  * structural metrics — job count, stage count, shuffle write bytes,
  * output rows, and the classes Spark compiled for the query (its
  * generated-code cache misses: the queries of one launch share that
  * 100-class cache, so a later query can recompile an earlier one's) —
  * then each Spark job and the slowest stages, so the
  * expensive jobs inside a multi-action query are attributable.
  * Wall-clock on this host swings 3-20x with ambient hypervisor steal,
  * so plan shape + shuffle volume are the signals optimization
  * decisions are made on; seconds are corroborated separately with
  * best-of-N bench launches.
  *
  * Usage: runMain graft.PlanDump <tag> <suffix> [onlyPrefixes]
  * e.g.   runMain graft.PlanDump r21 before q52,q50
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r21")
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)

    val qs = SparkEntry.queries
    // Warmup (JIT + parquet footers), untimed.
    Tables.load(spark, sfDir, "region").groupBy("r_name").count().count()

    val names = only.fold(Bench.headline.filter(qs.contains))(prefixes =>
      qs.keys.toSeq.sorted.filter(n => prefixes.exists(n.startsWith)))
    names.foreach { name =>
      // Built INSIDE the timed scope: q50 and q73/q74 (BPE learn) run
      // Spark jobs eagerly while building the returned frame.
      val t0 = System.nanoTime()
      val c0 = PhaseLog.compiles
      val JobLog.Scope((rows, secs), jobs, stages) =
        JobLog.scoped(spark.sparkContext) {
          val df = qs(name)(spark, sfDir)
          // Capture the pre-execution plan (AQE isFinalPlan=false) — the
          // artifact committed under plans/.
          Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
            df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          val rows = df.count()
          val secs = (System.nanoTime() - t0) / 1e9
          df.unpersist(false)
          (rows, secs)
        }
      println(f"[plandump] $name%-28s rows=$rows%7d jobs=${jobs.size}%3d " +
        f"stages=${stages.size}%3d " +
        f"shuffleMB=${stages.map(_.shuffleWrite).sum / 1e6}%9.2f " +
        f"inputMB=${stages.map(_.inputBytes).sum / 1e6}%8.2f secs=$secs%7.2f " +
        f"compiles=${PhaseLog.compiles - c0}%4d")
      jobs.foreach { j =>
        println(f"[job] ${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s " +
          f"stages=${j.stageNames.size}%2d tasks=${j.tasks}%4d  " +
          j.stageNames.last.take(90))
      }
      println(f"[job] TOTAL ${jobs.map(j => j.end - j.start).sum / 1e3}%.3f" +
        s" s across ${jobs.size} jobs")
      // Slow stages (>= 0.3 s submission→completion): where a
      // multi-stage job's wall-clock actually goes.
      stages.filter(_.secs >= 0.3).sortBy(-_.secs).take(20).foreach { s =>
        println(f"[stage] ${s.id}%4d ${s.secs}%8.3f s " +
          f"tasks=${s.tasks}%4d  ${s.name.take(70)}")
      }
    }
    spark.stop()
  }
}
