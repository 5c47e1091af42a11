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
    val listed = RelationalOps.listPairs(
        RelationalOps.blockLists(bm, Long.MaxValue)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(listed.sorted == kolb.sorted)
    // The block cap drops the same blocks in both.
    Seq(1L, 2L).foreach { cap =>
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(RelationalOps.listPairs(RelationalOps.blockLists(bm, cap)))
        == pairs(RelationalOps.kolbPairs(RelationalOps.kolbBlocks(bm, cap))),
        s"cap $cap")
    }
  }

  test("bucket → pairs kernel: null ids never pair, no pair has equal " +
      "ids, and the pairs equal the bucket self-join's distinct") {
    import spark.implicits._
    // The self-join the kernel replaced, as SQL: `a_id < b_id` never
    // pairs a null id, nor an id with itself.
    def selfJoin(rows: org.apache.spark.sql.DataFrame, payload: Boolean) = {
      rows.createOrReplaceTempView("kernel_rows")
      val cols =
        if (payload) "a.id AS l_id, a.s AS l_s, b.id AS r_id, b.s AS r_s"
        else "a.id AS l_id, b.id AS r_id"
      spark.sql(s"""SELECT DISTINCT $cols
        FROM kernel_rows a JOIN kernel_rows b
          ON a.k = b.k AND a.id < b.id""")
    }
    def check(name: String, rows: org.apache.spark.sql.DataFrame,
        payload: Boolean): Seq[org.apache.spark.sql.Row] = {
      val lists = RelationalOps.bucketLists(rows, Seq("k"), "id",
        if (payload) Seq("s") else Nil)
      val got = RelationalOps.listPairs(lists).collect().toSeq
      assert(got.forall(r => !r.isNullAt(r.fieldIndex("l_id")) &&
        !r.isNullAt(r.fieldIndex("r_id")) &&
        r.getAs[Long]("l_id") < r.getAs[Long]("r_id")), s"$name: $got")
      assert(got.size == got.distinct.size, s"$name repeats a pair: $got")
      val want = selfJoin(rows, payload).collect().toSeq
      assert(got.map(_.toString).sorted == want.map(_.toString).sorted,
        s"$name")
      got
    }
    val nullId = Seq[(String, Option[Long], String)](("k", Some(1L), "a"),
      ("k", None, "b"), ("k", Some(2L), "c"), ("j", None, "d"),
      ("j", Some(3L), "e")).toDF("k", "id", "s")
    assert(check("null id", nullId, payload = false).map(r =>
      (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)))
    assert(check("null id, payload", nullId, payload = true).size == 1)
    val dupRows = Seq(("k", 1L, "a"), ("k", 1L, "a"), ("k", 2L, "b"),
      ("k", 2L, "b"), ("j", 2L, "b"), ("j", 1L, "a")).toDF("k", "id", "s")
    assert(check("duplicate rows", dupRows, payload = false).size == 1)
    assert(check("duplicate rows, payload", dupRows, payload = true)
      .size == 1)
    // One id with two payloads pairs once per payload, never with itself.
    val twoPayloads = Seq(("k", 1L, "a"), ("k", 1L, "b"), ("k", 2L, "c"))
      .toDF("k", "id", "s")
    assert(check("two payloads", twoPayloads, payload = true)
      .map(_.toString).sorted == Seq("[1,a,2,c]", "[1,b,2,c]"))
    // A hot key's rows arrive from six input partitions; its list pairs
    // all C(300, 2) ids, ids shuffled within the list's source order.
    val hot = spark.range(0, 300, 1, 6)
      .select(lit("hot").as("k"), ((col("id") * 7) % 300).as("id"),
        col("id").cast("string").as("s"))
    assert(hot.rdd.getNumPartitions == 6)
    assert(check("hot list", hot, payload = false).size == 300 * 299 / 2)
    assert(check("hot list, payload", hot, payload = true).size ==
      300 * 299 / 2)
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
    def longs(rows: Option[Array[org.apache.spark.sql.Row]]) =
      rows.map(_.map(_.getLong(0)).toSeq)
    val small = sc.parallelize(1L to 10L, 4).toDF()
    val (rows, jobs) = withJobs(collectAtMost(small, 10L))
    assert(longs(rows).contains(1L to 10L))
    assert(jobs.size == 1, s"below the cap: ${jobs.mkString("; ")}")

    // Partition 0 holds 10 rows, more than its share ⌈21 / 4⌉ = 6 of a
    // cap of 20, so only its count comes back; the 13 rows fit, and the
    // second job re-reads partition 0 alone.
    val computed = sc.collectionAccumulator[Int]("partitions")
    val skewed = sc.parallelize(Seq(0L until 10L, Seq(10L), Seq(11L),
        Seq(12L)), 4)
      .mapPartitionsWithIndex { (i, it) => computed.add(i); it.flatten }
      .toDF()
    computed.reset()
    val (all, skewJobs) = withJobs(collectAtMost(skewed, 20L))
    assert(longs(all).contains(0L to 12L))
    assert(skewJobs.size == 2, s"skewed: ${skewJobs.mkString("; ")}")
    assert(computed.value.asScala.toSeq.sorted == Seq(0, 0, 1, 2, 3))

    val (over, overJobs) = withJobs(collectAtMost(skewed, 12L))
    assert(over.isEmpty)
    assert(overJobs.size == 1, s"above the cap: ${overJobs.mkString("; ")}")

    val (empty, emptyJobs) =
      withJobs(collectAtMost(small.where($"value" < 0L), 0L))
    assert(longs(empty).contains(Seq.empty[Long]))
    assert(emptyJobs.size == 1)
    val (none, noneJobs) = withJobs(collectAtMost(small, 0L))
    assert(none.isEmpty)
    assert(noneJobs.size == 1)

    // A local frame hands its rows over without a job, projections too.
    val local = (1L to 5L).toDF("value")
    val (fromDriver, localJobs) =
      withJobs(collectAtMost(local.select($"value" * 2), 5L))
    assert(longs(fromDriver).contains(Seq(2L, 4L, 6L, 8L, 10L)))
    assert(localJobs.isEmpty, s"local: ${localJobs.mkString("; ")}")
    assert(collectAtMost(local, 4L).isEmpty)
  }
}
