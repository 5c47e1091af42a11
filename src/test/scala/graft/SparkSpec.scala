package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** Typed walk of a physical plan that enters AQE's materialized
    * stages — AQE wraps them as QueryStageExec LEAVES, so a plain
    * `collect`/`children` walk never sees inside them. Every plan
    * assertion that collects nodes must go through here (one shared
    * walker, so a future AQE wrapper node type is added in ONE place).
    */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      planNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: planNodes(q.plan)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** Runs `f` in a job group of its own and returns its result with the
    * Spark jobs it fired (each as its stage names), read once the
    * listener bus has drained, since listener delivery is asynchronous.
    */
  def withJobs[T](f: => T): (T, Seq[String]) = {
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(j.stageInfos.map(_.name).mkString("[", " | ", "]"))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val r = try f finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      (r, jobs.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(cpus = 4, logLevel = "ERROR")
}
