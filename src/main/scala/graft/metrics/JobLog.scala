package graft.metrics

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The Spark jobs and stages one call fired, for dev tools and specs.
  *
  * `scoped(sc)(f)` tags `f`'s thread with a fresh local property, which
  * eager build-time jobs and SQL's own threads (broadcasts, adaptive
  * stages) inherit. A listener that lives only for the call keeps the
  * tagged jobs and the stages they completed (jobs of other threads and
  * scopes are skipped; a nested scope's jobs are its own), and the bus
  * is drained once `f` returns, so every job `f` waited for has its end.
  *
  * A job that runs inside a SQL execution — adaptive and broadcast jobs
  * too, whose stages are named after SQL's own threads — carries that
  * execution's id and description: the action and the line of the
  * caller's code that started it, as `count at <file>.scala:<line>`.
  */
object JobLog {
  final case class Job(id: Int, stageNames: Seq[String], tasks: Int,
      start: Long, end: Long, executionId: Option[Long],
      description: Option[String]) {
    /** The execution's description, else the last stage's name. */
    def label: String = description.getOrElse(stageNames.last)
  }
  /** `secs`: submission to completion, -1 if either is unknown;
    * `cpuSecs`: the CPU time its tasks spent on executors. */
  final case class Stage(id: Int, name: String, secs: Double, tasks: Int,
      shuffleWrite: Long, inputBytes: Long, cpuSecs: Double)
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
    // Every SQL execution started while the scope listens: the bus
    // delivers an execution's start before the start of any of its jobs.
    private val executions = mutable.HashMap.empty[Long, String]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(executions(s.executionId) = s.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      if (p != null && p.getProperty(Key) == tag) {
        val exec = Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))
          .map(_.toLong)
        jobs(e.jobId) = Job(e.jobId, e.stageInfos.map(_.name),
          e.stageInfos.map(_.numTasks).sum, e.time, 0L, exec,
          exec.flatMap(executions.get))
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
        si.taskMetrics.inputMetrics.bytesRead,
        si.taskMetrics.executorCpuTime / 1e9)
    }
  }
}
