package graft.metrics

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** The Spark jobs and stages one call fired, for dev tools and specs.
  *
  * `scoped(sc)(f)` tags `f`'s thread with a fresh local property, which
  * eager build-time jobs and SQL's own threads (broadcasts, adaptive
  * stages) inherit. A listener that lives only for the call keeps the
  * tagged jobs and the stages they completed (jobs of other threads and
  * scopes are skipped; a nested scope's jobs are its own), and the bus
  * is drained once `f` returns, so every job `f` waited for has its end.
  */
object JobLog {
  final case class Job(id: Int, stageNames: Seq[String], tasks: Int,
      start: Long, end: Long)
  /** `secs`: submission to completion, -1 if either is unknown. */
  final case class Stage(id: Int, name: String, secs: Double, tasks: Int,
      shuffleWrite: Long, inputBytes: Long)
  final case class Scope[T](result: T, jobs: Seq[Job], stages: Seq[Stage])

  private val Key = "graft.jobLog.scope"

  def scoped[T](sc: SparkContext)(f: => T): Scope[T] = {
    val rec = new Recorder(UUID.randomUUID().toString)
    val outer = sc.getLocalProperty(Key)
    sc.addSparkListener(rec)
    try {
      sc.setLocalProperty(Key, rec.tag)
      val result = try f finally sc.setLocalProperty(Key, outer)
      ListenerBusDrain(sc)
      rec.synchronized(Scope(result, rec.jobs.values.toSeq, rec.stages.toSeq))
    } finally sc.removeSparkListener(rec)
  }

  private final class Recorder(val tag: String) extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    private val stageIds = mutable.HashSet.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      if (p != null && p.getProperty(Key) == tag) {
        jobs(e.jobId) = Job(e.jobId, e.stageInfos.map(_.name),
          e.stageInfos.map(_.numTasks).sum, e.time, 0L)
        stageIds ++= e.stageIds
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageCompleted(
        e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      if (stageIds(si.stageId)) stages += Stage(si.stageId, si.name,
        si.completionTime.zip(si.submissionTime)
          .fold(-1.0) { case (c, s) => (c - s) / 1e3 },
        si.numTasks, si.taskMetrics.shuffleWriteMetrics.bytesWritten,
        si.taskMetrics.inputMetrics.bytesRead)
    }
  }
}
