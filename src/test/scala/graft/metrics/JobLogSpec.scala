package graft.metrics

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions.broadcast

import graft.SparkSpec

/** [[JobLog.scoped]] credits a job to the one scope whose thread, or
  * whose SQL helper thread, submitted it. */
class JobLogSpec extends SparkSpec {

  private def oneJob(): Long =
    spark.sparkContext.parallelize(1 to 10, 2).count()

  test("back-to-back scopes see disjoint jobs, and a job fired between " +
      "them or by another thread is credited to neither") {
    val sc = spark.sparkContext
    val go = new CountDownLatch(1)
    // Created outside every scope, so it inherits no scope's tag.
    val other = new Thread(() => { go.await(); oneJob(); () })
    other.start()
    val outer = JobLog.scoped(sc) {
      val a = JobLog.scoped(sc) { go.countDown(); other.join(); oneJob() }
      oneJob() // between a and b: credited to the enclosing scope only
      (a, JobLog.scoped(sc)(oneJob()))
    }
    val Seq(a, b, between) = Seq(outer.result._1, outer.result._2, outer)
      .map(_.jobs.map(_.id).toSet)
    assert(Seq(a, b, between).forall(_.size == 1) &&
      (a ++ b ++ between).size == 3, s"a=$a b=$b between=$between")
  }

  test("a broadcast join's broadcast job, which SQL runs on its own " +
      "thread, is credited to the scope that ran the action") {
    // The small side alone has 3 partitions, so the job that collects
    // it for the broadcast is the one single-stage job of 3 tasks.
    val big = spark.range(0, 20000, 1, 4).toDF("k")
    val small = spark.range(0, 100, 1, 3).toDF("k")
    val joined = big.join(broadcast(small), "k")
    assert(planNodes(joined.queryExecution.executedPlan)
      .exists(_.nodeName == "BroadcastHashJoin"))
    val scope = JobLog.scoped(spark.sparkContext)(joined.count())
    assert(scope.result == 100L)
    assert(scope.jobs.exists(j => j.stageNames.size == 1 && j.tasks == 3),
      scope.jobs.mkString("; "))
    // Every job of the action, the broadcast's too, carries the one SQL
    // execution and its description, which names this file's line.
    assert(scope.jobs.map(_.executionId).distinct.size == 1 &&
      scope.jobs.forall(_.executionId.nonEmpty), scope.jobs.mkString("; "))
    assert(scope.jobs.forall(_.label.startsWith("count at JobLogSpec.scala:")),
      scope.jobs.map(_.label).mkString("; "))
  }

  test("a job outside any SQL execution is labelled by its last stage") {
    val scope = JobLog.scoped(spark.sparkContext)(oneJob())
    val Seq(j) = scope.jobs
    assert(j.executionId.isEmpty && j.label == j.stageNames.last, j.toString)
  }

  test("a scope that only builds a frame reports zero jobs") {
    val scope = JobLog.scoped(spark.sparkContext) {
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
        .groupBy("k").count()
    }
    assert(scope.jobs.isEmpty && scope.stages.isEmpty, scope.jobs.toString)
    assert(scope.result.count() == 7L)
  }

  test("after the scope returns, every recorded job has its end time " +
      "and the shuffle's map stage its write bytes") {
    (2 to 6).foreach { m =>
      val scope = JobLog.scoped(spark.sparkContext) {
        spark.range(0, 5000, 1, 4).selectExpr(s"id % $m AS k")
          .groupBy("k").count().collect()
      }
      assert(scope.result.length == m && scope.jobs.nonEmpty)
      assert(scope.jobs.forall(j => j.end > 0 && j.end >= j.start),
        scope.jobs.toString)
      assert(scope.stages.exists(_.shuffleWrite > 0), scope.stages.toString)
      assert(scope.stages.forall(_.cpuSecs >= 0) &&
        scope.stages.exists(_.cpuSecs > 0), scope.stages.toString)
    }
  }

  test("the scope waits for job ends that a slow listener ahead of it " +
      "on the shared bus queue holds back") {
    // One thread calls the shared queue's listeners in order, so the
    // recorder sees each job end only after this listener returns.
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Thread.sleep(200)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(slow)
    try {
      // Two actions, so at least two jobs whatever the planner does.
      val scope = JobLog.scoped(sc) {
        val df = spark.range(0, 5000, 1, 4).selectExpr("id % 5 AS k")
        (df.count(), df.groupBy("k").count().collect())
      }
      assert(scope.result._1 == 5000L && scope.result._2.length == 5)
      assert(scope.jobs.size >= 2, scope.jobs.toString)
      assert(scope.jobs.forall(j => j.end > 0 && j.end >= j.start),
        scope.jobs.toString)
    } finally sc.removeSparkListener(slow)
  }
}
