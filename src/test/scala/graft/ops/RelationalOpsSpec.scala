package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.blocking.{Blocker, FirstChars, WholeField}

class RelationalOpsSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def entries = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("city", StringType),
      StructField("id", LongType)))
    spark.createDataFrame(Seq(
      Row("alice", "nyc", 1L), Row("alice", "nyc", 2L),
      Row("bob", "sf", 3L), Row("carol", null, 4L),
      Row("carol", null, 5L), Row("alice", "la", 6L)).asJava, schema)
  }

  test("exactDedup collapses identical rows, keeps src_ids, dense ids") {
    val eu = RelationalOps.exactDedup(entries, Seq("name", "city"), "id")
    val rows = eu.orderBy("_unique_id").collect()
    assert(rows.length == 4)
    val ids = rows.map(_.getAs[Long]("_unique_id")).toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L))
    val aliceNyc = eu.where(col("name") === "alice" && col("city") === "nyc")
      .select("src_ids").collect().head.getSeq[Long](0)
    assert(aliceNyc == Seq(1L, 2L))
  }

  test("exactDedup honors filter_condition") {
    val eu = RelationalOps.exactDedup(entries, Seq("name", "city"), "id",
      "city IS NOT NULL")
    assert(eu.where(col("name") === "carol").count() == 0)
  }

  test("pluralKeys drops singletons and caps oversized blocks") {
    val eu = RelationalOps.exactDedup(entries, Seq("name", "city"), "id")
    val bm = Blocker.blockingMap(eu, Seq(WholeField("name")))
    val pk = RelationalOps.pluralKeys(bm)
    val keys = pk.select("block_key").collect().map(_.getString(0)).toSet
    assert(keys == Set("whole:name:alice")) // alice covers 2 unique rows
    val capped = RelationalOps.pluralKeys(bm, 1L)
    assert(capped.count() == 0)
  }

  test("kolb chain produces each pair exactly once, equal to distinct") {
    val eu = RelationalOps.exactDedup(entries, Seq("name", "city"), "id")
    val bm = Blocker.blockingMap(eu,
      Seq(WholeField("name"), FirstChars("name", 1)))
    val kolb = RelationalOps.kolbPairs(
        RelationalOps.kolbBlocks(bm, Long.MaxValue)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pb = bm.join(RelationalOps.pluralKeys(bm), "block_key")
      .select("block_id", "_unique_id")
    val dist = RelationalOps.distinctPairs(pb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kolb.toSet == dist)
    assert(kolb.length == kolb.toSet.size, "kolb emitted a pair twice")
  }

  test("applyClusters defaults singletons to self with score 1.0") {
    val eu = RelationalOps.exactDedup(entries, Seq("name", "city"), "id")
    val em = spark.createDataFrame(Seq((1L, 1L, 0.9)))
      .toDF("_unique_id", "canon_id", "cluster_score")
    val mapped = RelationalOps.applyClusters(em, eu)
    assert(mapped.count() == 4)
    val singleton = mapped.where(col("_unique_id") === 3L).collect().head
    assert(singleton.getAs[Long]("dedupe_id") == 3L)
    assert(singleton.getAs[Double]("cluster_score") == 1.0)
    val um = RelationalOps.uniqueMap(mapped, "id")
    assert(um.count() == 6) // back to source-record grain
  }

  test("collectAtMost: all rows in one job below the cap, one extra job " +
      "over just a skewed partition, None above the cap") {
    import spark.implicits._
    val sc = spark.sparkContext
    val small = sc.parallelize(1L to 10L, 4).toDS()
    val (rows, jobs) = withJobs(collectAtMost(small, 10L))
    assert(rows.map(_.toSeq).contains(small.collect().toSeq))
    assert(jobs.size == 1, s"below the cap: ${jobs.mkString("; ")}")

    // Partition 0 holds 10 rows, more than its share ⌈21 / 4⌉ = 6 of a
    // cap of 20, so only its count comes back; the 13 rows fit, and the
    // second job re-reads partition 0 alone.
    val computed = sc.collectionAccumulator[Int]("partitions")
    val skewed = sc.parallelize(Seq(0L until 10L, Seq(10L), Seq(11L),
        Seq(12L)), 4)
      .mapPartitionsWithIndex { (i, it) => computed.add(i); it.flatten }
      .toDS()
    val expected = skewed.collect().toSeq
    computed.reset()
    val (all, skewJobs) = withJobs(collectAtMost(skewed, 20L))
    assert(all.map(_.toSeq).contains(expected))
    assert(skewJobs.size == 2, s"skewed: ${skewJobs.mkString("; ")}")
    assert(computed.value.asScala.toSeq.sorted == Seq(0, 0, 1, 2, 3))

    val (over, overJobs) = withJobs(collectAtMost(skewed, 12L))
    assert(over.isEmpty)
    assert(overJobs.size == 1, s"above the cap: ${overJobs.mkString("; ")}")

    val (empty, emptyJobs) =
      withJobs(collectAtMost(small.where($"value" < 0L), 0L))
    assert(empty.map(_.toSeq).contains(Seq.empty[Long]))
    assert(emptyJobs.size == 1)
    val (none, noneJobs) = withJobs(collectAtMost(small, 0L))
    assert(none.isEmpty)
    assert(noneJobs.size == 1)
  }
}
