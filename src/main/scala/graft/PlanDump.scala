package graft
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Developer tool (not part of the driver contract): for each headline
  * query, or each query named by a prefix, write `.explain("formatted")`
  * to `plans/<tag>/<query>_<suffix>.txt` and print load-independent
  * structural metrics — job count, stage count, shuffle write bytes,
  * output rows — then each Spark job and the slowest stages, so the
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

  private final case class Job(id: Int, desc: String, start: Long,
      stages: Int, tasks: Int, var end: Long = 0L)
  private final case class Stage(id: Int, name: String, secs: Double,
      tasks: Int, shuffleWrite: Long, inputBytes: Long)

  /** Every job and completed stage since the last `reset`. */
  private final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.ArrayBuffer.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
        .getOrElse("?")
      jobs(e.jobId) = Job(e.jobId, desc.take(90), e.time, e.stageIds.length,
        e.stageInfos.map(_.numTasks).sum)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(
        e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val secs = (for {
        s <- si.submissionTime; c <- si.completionTime
      } yield (c - s) / 1e3).getOrElse(-1.0)
      stages += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(70),
        secs, si.numTasks, si.taskMetrics.shuffleWriteMetrics.bytesWritten,
        si.taskMetrics.inputMetrics.bytesRead)
    }
    def reset(): Unit = synchronized { jobs.clear(); stages.clear() }

    /** The summary line's counts, then one line per job and per slow
      * stage. */
    def report(name: String, rows: Long, secs: Double): Unit = synchronized {
      println(f"[plandump] $name%-28s rows=$rows%7d jobs=${jobs.size}%3d " +
        f"stages=${stages.size}%3d " +
        f"shuffleMB=${stages.map(_.shuffleWrite).sum / 1e6}%9.2f " +
        f"inputMB=${stages.map(_.inputBytes).sum / 1e6}%8.2f secs=$secs%7.2f")
      // A job whose end event hasn't drained from the async listener
      // bus yet (end == 0) would print a huge negative duration and
      // corrupt the TOTAL — mark it and keep it out of the sum.
      val (done, running) = jobs.values.partition(_.end > 0)
      done.foreach { j =>
        println(f"[job] ${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f s " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc}")
      }
      running.foreach(j => println(s"[job] ${j.id} STILL RUNNING/undrained"))
      println(f"[job] TOTAL ${done.map(j => j.end - j.start).sum / 1e3}%.3f" +
        s" s across ${done.size} jobs" +
        (if (running.nonEmpty) s" (+${running.size} undrained)" else ""))
      // Slow stages (>= 0.3 s submission→completion): where a
      // multi-stage job's wall-clock actually goes.
      stages.filter(_.secs >= 0.3).sortBy(-_.secs).take(20).foreach { s =>
        println(f"[stage] ${s.id}%4d ${s.secs}%8.3f s " +
          f"tasks=${s.tasks}%4d  ${s.name}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r21")
    val suffix = if (args.length > 1) args(1) else "before"
    val only = if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)

    val qs = SparkEntry.queries
    // Warmup (JIT + parquet footers), untimed.
    Tables.load(spark, sfDir, "region").groupBy("r_name").count().count()

    val names = only.fold(Bench.headline.filter(qs.contains))(prefixes =>
      qs.keys.toSeq.sorted.filter(n => prefixes.exists(n.startsWith)))
    names.foreach { name =>
      // Construction is INSIDE the timed/counted region: several
      // queries (q50 pipeline, q73/q74 BPE learn) run Spark jobs
      // eagerly while building the returned frame.
      recorder.reset()
      val t0 = System.nanoTime()
      val df = qs(name)(spark, sfDir)
      // Capture the pre-execution plan (AQE isFinalPlan=false) — the
      // artifact committed under plans/.
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      val rows = df.count()
      val secs = (System.nanoTime() - t0) / 1e9
      df.unpersist(false)
      // Give the async listener bus a moment to drain.
      Thread.sleep(500)
      recorder.report(name, rows, secs)
    }
    spark.stop()
  }
}
