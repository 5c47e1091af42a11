package linkbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Span recorder for the traced run.
  *
  * `span(name)` times a call into one layer on the calling thread (wall
  * and ThreadMXBean CPU) and sets the `linkbench.span` local property
  * around it. Every Spark job submitted while the property is set,
  * including jobs fired eagerly while a DataFrame is being built and
  * broadcast jobs SQL runs on its own threads (which inherit the local
  * properties), carries the span name in its job properties. The
  * listener maps each job's stages to that span and sums the task
  * metrics of those stages. A stage keeps the first span that ran it,
  * so a later job that only reuses its shuffle output (a skipped
  * stage) is not credited with it.
  */
final class Tracer(sc: SparkContext, cores: Int) extends SparkListener {
  import Tracer._

  private final class Acc {
    var wallNs = 0L
    var driverCpuNs = 0L
    var jobs = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val markerJobs = mutable.HashSet.empty[Int]
  private var markersSeen = 0

  private def acc(span: String): Acc = accs.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .getOrElse(Unattributed)
    if (span == Marker) markerJobs += e.jobId else acc(span).jobs += 1
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.contains(e.jobId)) { markersSeen += 1; notifyAll() }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageSpan.getOrElse(e.stageId, Unattributed))
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  /** Run `f` as span `name`; spans do not nest. */
  def span[T](name: String)(f: => T): T = {
    val tmx = ManagementFactory.getThreadMXBean
    sc.setLocalProperty(Key, name)
    val c0 = tmx.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try f
    finally {
      val wall = System.nanoTime() - t0
      val cpu = tmx.getCurrentThreadCpuTime - c0
      sc.setLocalProperty(Key, null)
      synchronized {
        val a = acc(name)
        a.wallNs += wall
        a.driverCpuNs += cpu
      }
    }
  }

  /** Block until the listener has seen every event posted so far: a
    * one-task marker job is submitted last, and the listener bus
    * delivers events in order.
    */
  def drain(): Unit = {
    val target = synchronized(markersSeen) + 1
    sc.setLocalProperty(Key, Marker)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(Key, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    synchronized {
      while (markersSeen < target && System.nanoTime() < deadline) wait(100)
      require(markersSeen >= target, "listener bus did not drain in 60 s")
    }
  }

  /** `<span>.<metric>` for every name in `Spans`; a span this run did not
    * enter reads 0.
    */
  def metrics(): Seq[(String, Double)] = synchronized {
    Spans.flatMap { s =>
      val a = accs.getOrElse(s, new Acc)
      val wall = a.wallNs / 1e9
      Seq(
        "wall_s" -> wall,
        "jobs" -> a.jobs.toDouble,
        "task_cpu_s" -> a.taskCpuNs / 1e9,
        "idle_core_s" -> (if (a.wallNs == 0L) 0.0
          else wall * cores - a.taskRunMs / 1e3),
        "shuffle_mb" -> a.shuffleBytes / 1e6,
        "spill_mb" -> a.spillBytes / 1e6,
        "driver_cpu_s" -> a.driverCpuNs / 1e9
      ).map { case (k, v) => s"$s.$k" -> v }
    }
  }

  /** Sum of span walls, for `trace.coverage`. */
  def spanWallS: Double = synchronized(accs.values.map(_.wallNs).sum / 1e9)
}

object Tracer {
  private val Key = "linkbench.span"
  private val Marker = "linkbench.marker"
  private val Unattributed = "unattributed"

  /** The layer spans, `<module>.<stage>`, in pipeline order. */
  val Spans: Seq[String] = Seq(
    "ops.preprocess", "model.train", "blocking.learn", "blocking.block",
    "model.score", "cluster.hac", "cluster.apply", "dedup.candidates",
    "dedup.verify", "cluster.canonical", "io.sink")
}
