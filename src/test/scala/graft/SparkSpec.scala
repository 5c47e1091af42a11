package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.metrics.JobLog

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

  /** Runs `f` and returns its result with the Spark jobs it fired,
    * each as its stage names, read from a drained [[JobLog]] scope. */
  def withJobs[T](f: => T): (T, Seq[String]) = {
    val scope = JobLog.scoped(spark.sparkContext)(f)
    (scope.result, scope.jobs.map(_.stageNames.mkString("[", " | ", "]")))
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(cpus = 4, logLevel = "ERROR")
}
