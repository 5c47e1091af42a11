package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates for [[CorpusOps.dedupAgainstPartitioned]] — the beyond-driver-
  * Bloom sharded mode — and its two building blocks (the per-bucket
  * no-partial-merge `bloomShards` build, the codegen'd sharded
  * membership probe).
  */
class ShardedBloomSpec extends SparkSpec {
  import spark.implicits._

  test("dedupAgainstPartitioned equals the driver-Bloom mode and the " +
      "bare anti-join on the fixture re-crawl split") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val incoming = docs.where(col("doc_id") % 10 >= 4)
    val historical = docs.where(col("doc_id") % 10 < 6)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val driver = ids(CorpusOps.dedupAgainst(incoming, historical, "text",
      expectedItems = 1000L))
    val bare = ids(incoming.join(historical.select(col("text").as("_t")),
      col("text") === col("_t"), "left_anti"))
    Seq(1, 7, 64).foreach { nBuckets =>
      val sharded = ids(CorpusOps.dedupAgainstPartitioned(
        incoming, historical, "text", nBuckets,
        expectedItemsPerBucket = math.max(1000L / nBuckets, 16L)))
      assert(sharded == driver && sharded == bare,
        s"nBuckets=$nBuckets diverged: sharded ${sharded.size}, " +
          s"driver ${driver.size}, bare ${bare.size}")
    }
  }

  test("sharded confirm mode never keeps a duplicate on a 60%-dup " +
      "batch; Bloom-only drops at most ~fpp of the new rows; empty " +
      "buckets pass their rows through") {
    val historical = (0L until 2000L).map(i => (i, s"hist doc $i"))
      .toDF("doc_id", "text")
    val dup = (0L until 600L).map(i => (10000L + i, s"hist doc $i"))
    val fresh = (0L until 400L).map(i => (20000L + i, s"fresh doc $i"))
    val incoming = (dup ++ fresh).toDF("doc_id", "text")
    val confirmed = CorpusOps.dedupAgainstPartitioned(
        incoming, historical, "text", nBuckets = 16,
        expectedItemsPerBucket = 128L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    assert(confirmed.forall(_ >= 20000L), "a true duplicate survived")
    assert(confirmed.size == 400, s"confirm mode lost ${
      400 - confirmed.size} genuinely-new rows (must be exact)")
    val bloomOnly = CorpusOps.dedupAgainstPartitioned(
        incoming, historical, "text", nBuckets = 16,
        expectedItemsPerBucket = 128L, fpp = 0.01, confirm = false)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomOnly.forall(_ >= 20000L),
      "Bloom-only must have NO false negatives (no surviving dup)")
    assert(bloomOnly.size >= 380,
      s"Bloom-only dropped ${400 - bloomOnly.size} of 400 new rows — " +
        "far beyond the 1% fpp")
    // Empty buckets: a history so small most of 64 buckets hold
    // nothing — rows hashing to empty buckets must all survive.
    val tinyHist = Seq((1L, "only doc")).toDF("doc_id", "text")
    val out = CorpusOps.dedupAgainstPartitioned(
        incoming, tinyHist, "text", nBuckets = 64,
        expectedItemsPerBucket = 4L)
      .count()
    assert(out == incoming.count(), s"empty-bucket rows vanished: $out")
  }

  test("sharded mode keeps null-text rows and within-batch duplicates " +
      "in both modes; guards refuse bad sizing and column collisions") {
    val historical = Seq((1L, "seen")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]),
      (12L, "twin"), (13L, "twin"), (14L, "seen")
    ).toDF("doc_id", "text")
    Seq(true, false).foreach { confirm =>
      val kept = CorpusOps.dedupAgainstPartitioned(
          incoming, historical, "text", nBuckets = 4,
          expectedItemsPerBucket = 8L, confirm = confirm)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(10L, 11L, 12L, 13L),
        s"confirm=$confirm kept $kept")
    }
    intercept[IllegalArgumentException] {
      CorpusOps.dedupAgainstPartitioned(incoming, historical, "text",
        nBuckets = 0, expectedItemsPerBucket = 8L)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.dedupAgainstPartitioned(incoming, historical, "text",
        nBuckets = 4, expectedItemsPerBucket = 0L)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.dedupAgainstPartitioned(
        incoming.withColumn("_graft_dedup_bucket", lit(1)),
        historical, "text", 4, 8L)
    }
  }

  test("BloomFilterCache evicts by BYTE budget (not entry count), " +
      "always retains the newest entry, and never exceeds the budget " +
      "with more than one entry") {
    import graft.functions.{BloomFilterCache, ShardedBloomCache}
    def filterBytes(items: Int): Array[Byte] = {
      val bf = org.apache.spark.util.sketch.BloomFilter
        .create(items.toLong, 0.01)
      (0 until items).foreach(i => bf.putLong(i.toLong))
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val shard = filterBytes(10000) // ~12 KB serialized
    val cache = new BloomFilterCache(maxBytes = 4L * shard.length + 100)
    def key(b: Long) = BloomFilterCache.Key("call", 7, b, 0L)
    (0L until 10L).foreach(b => cache.getOrLoad(key(b), shard))
    assert(cache.currentBytes <= cache.maxBytes,
      s"budget breached: ${cache.currentBytes} > ${cache.maxBytes}")
    assert(cache.entryCount <= 4, s"entries: ${cache.entryCount}")
    assert(cache.lookup(key(9L)) != null, "newest entry was evicted")
    assert(cache.lookup(key(0L)) == null, "eldest entry survived")
    // A single filter LARGER than the whole budget must still serve
    // (degrade to deserialize-per-stage, never fail) and evict the rest.
    val tiny = new BloomFilterCache(maxBytes = 64L)
    tiny.getOrLoad(key(1L), shard)
    assert(tiny.entryCount == 1 && tiny.lookup(key(1L)) != null,
      "oversized entry must be retained alone")
    tiny.getOrLoad(key(2L), shard)
    assert(tiny.entryCount == 1 && tiny.lookup(key(2L)) != null,
      "next oversized entry must replace, not accumulate")
    // Content-addressed entries (BloomMightContain's path) share ONE
    // deserialized filter per distinct bytes per JVM.
    val a = ShardedBloomCache.getByContent(shard)
    val b = ShardedBloomCache.getByContent(shard.clone())
    assert(a eq b, "equal bytes must resolve to the shared instance")
    assert(!(ShardedBloomCache.getByContent(filterBytes(500)) eq a))
  }

  test("BloomFilterCache under 16-thread contention: every get returns " +
      "a correct filter, no exception, and the byte budget holds at " +
      "quiesce") {
    import graft.functions.{BloomFilterCache, ShardedBloomCache}
    // 8 distinct filters, each containing exactly its own id — so any
    // cross-key mixup (eviction bug serving the wrong entry) answers
    // membership wrong immediately.
    val serialized = (0L until 8L).map { id =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(2000L, 0.01)
      bf.putLong(id)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      id -> bos.toByteArray
    }.toMap
    val oneSize = serialized(0L).length.toLong
    val cache = new BloomFilterCache(maxBytes = 3L * oneSize + 10)
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 16).map { t =>
      new Thread(() => {
        val r = new scala.util.Random(t)
        (0 until 2000).foreach { _ =>
          val id = r.nextInt(8).toLong
          val bf = cache.getOrLoad(
            BloomFilterCache.Key("hammer", 1, id, 0L), serialized(id))
          // The planted member must test positive; a foreign id at
          // 1% fpp may false-positive, so only the positive side is
          // load-bearing.
          if (!bf.mightContainLong(id)) errors.incrementAndGet()
          ()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.get() == 0, s"${errors.get()} wrong-filter answers")
    assert(cache.currentBytes <= cache.maxBytes,
      s"budget breached at quiesce: ${cache.currentBytes}")
    assert(cache.entryCount <= 3, s"entries: ${cache.entryCount}")
  }

  test("content-addressed hits verify the retained bytes: a forced " +
      "fingerprint collision returns a private fresh filter, never " +
      "the other expression's bit array") {
    import graft.functions.BloomFilterCache
    def ser(put: Long): Array[Byte] = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
      bf.putLong(put)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val a = ser(1L)
    val b = ser(2L) // same length, different bits
    assert(a.length == b.length && !java.util.Arrays.equals(a, b))
    val cache = new BloomFilterCache(maxBytes = 1L << 20)
    // Same KEY for different contents = a simulated 64-bit collision.
    val k = BloomFilterCache.Key("", -2, a.length.toLong, 42L)
    val fa = cache.getOrLoad(k, a, verifyContent = true)
    assert(fa.mightContainLong(1L))
    val fb = cache.getOrLoad(k, b, verifyContent = true)
    assert(fb.mightContainLong(2L) && !(fb eq fa),
      "collision served the cached filter instead of a fresh one")
    // The original entry is untouched and still serves its own bytes.
    assert(cache.getOrLoad(k, a, verifyContent = true) eq fa)
  }

  test("driver-eval cache path serves FRESH filters when the bytes " +
      "change under an unchanged (callId, bucket) — no stale hits") {
    import graft.functions.ShardedBloomCache
    def ser(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val empty = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
    val withItem = org.apache.spark.util.sketch.BloomFilter
      .create(1000L, 0.01)
    withItem.putLong(42L)
    val callId = java.util.UUID.randomUUID().toString
    // r17 keyed by (callId, bucket) only: the second get would serve
    // the FIRST filter and report 42 absent after a history mutation.
    val first = ShardedBloomCache.get(callId, 3L, ser(empty))
    assert(!first.mightContainLong(42L))
    val second = ShardedBloomCache.get(callId, 3L, ser(withItem))
    assert(second.mightContainLong(42L),
      "mutated history bytes served a STALE cached filter")
    // Executor-style keying: distinct stage ids never collide either.
    val s5 = ShardedBloomCache.insert(callId, 5, 3L, ser(empty))
    val s6 = ShardedBloomCache.insert(callId, 6, 3L, ser(withItem))
    assert(!s5.mightContainLong(42L) && s6.mightContainLong(42L))
    // FEW-BIT mutation: same-size filter with one more item flips <= k
    // bits of a multi-KB bit array — the r18 sampled fingerprint
    // provably missed this class; the full-bytes fingerprint must not.
    val big = org.apache.spark.util.sketch.BloomFilter
      .create(100000L, 0.01)
    val bigPlusOne = org.apache.spark.util.sketch.BloomFilter
      .create(100000L, 0.01)
    bigPlusOne.putLong(7L)
    assert(ser(big).length == ser(bigPlusOne).length)
    val callId2 = java.util.UUID.randomUUID().toString
    val g1 = ShardedBloomCache.get(callId2, 1L, ser(big))
    val g2 = ShardedBloomCache.get(callId2, 1L, ser(bigPlusOne))
    assert(!g1.mightContainLong(7L) && g2.mightContainLong(7L),
      "a few-bit filter mutation served a STALE driver-side entry")
  }

  test("SQL-registry 3-arg form is STRICT: a null-filter row after " +
      "the bucket's filter was cached is NULL in codegen (matching " +
      "interpreted eval); the operator's 4-arg fast form still " +
      "resolves") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100L, 0.01)
    bf.putLong(42L)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val fb = bos.toByteArray
    // ONE partition: the non-null row evaluates FIRST, so the bucket
    // is cached when the null-filter row arrives — exactly the shape
    // where the fast mode's documented edge would serve the cached
    // filter instead of null.
    val rows = Seq(
      (1L, Option(fb), 42L),
      (1L, Option.empty[Array[Byte]], 42L)
    ).toDF("b", "f", "h").coalesce(1)
    rows.createOrReplaceTempView("sbmc_strict_rows")
    val got = spark.sql(
      "SELECT sharded_bloom_might_contain(b, f, h) AS m " +
        "FROM sbmc_strict_rows")
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getBoolean(0)))
      .toSeq
    assert(got == Seq(Some(true), None),
      s"strict SQL form must yield (true, null), got $got")
    // Explicit fast form resolves and agrees on homogeneous rows.
    val fast = spark.sql(
      "SELECT sharded_bloom_might_contain(b, f, h, false) AS m " +
        "FROM sbmc_strict_rows WHERE f IS NOT NULL")
      .collect().map(_.getBoolean(0)).toSeq
    assert(fast == Seq(true), fast.toString)
    // The 4th argument must be a foldable boolean.
    intercept[Exception] {
      spark.sql("SELECT sharded_bloom_might_contain(b, f, h, b = 1) " +
        "FROM sbmc_strict_rows").collect()
    }
    ()
  }

  test("undersized expectedItemsPerBucket fires the per-shard " +
      "saturation warning naming the worst bucket; well-sized stays " +
      "quiet; the pure helper pins the 2x threshold") {
    val historical = (0L until 2000L).map(i => (i, s"hist doc $i"))
      .toDF("doc_id", "text")
    val incoming = Seq((9000L, "fresh one")).toDF("doc_id", "text")
    def callWithErr(expectedPerBucket: Long): String = {
      val baos = new java.io.ByteArrayOutputStream()
      Console.withErr(new java.io.PrintStream(baos, true, "UTF-8")) {
        CorpusOps.dedupAgainstPartitioned(incoming, historical, "text",
          nBuckets = 4, expectedItemsPerBucket = expectedPerBucket)
          .count()
      }
      baos.toString("UTF-8")
    }
    val noisy = callWithErr(8L) // ~500 real items per bucket into 8
    assert(noisy.contains("dedupAgainstPartitioned") &&
      noisy.contains("saturated") && noisy.contains("worst bucket"),
      s"undersized shards must warn, got: '$noisy'")
    val quiet = callWithErr(1000L)
    assert(!quiet.contains("saturated"),
      s"well-sized shards must stay quiet, got: '$quiet'")
    // Pure helper: threshold is strictly 2x, worst bucket named,
    // over-count reported.
    def warning(realized: Seq[(Long, Double)]) =
      CorpusOps.saturationWarning("dedupAgainstPartitioned", realized,
        0.01, "expectedItemsPerBucket 10",
        "raise expectedItemsPerBucket or nBuckets")
    assert(warning(Seq((0L, 0.019), (1L, 0.02))).isEmpty)
    val w = warning(Seq((0L, 0.021), (1L, 0.5), (2L, 0.01)))
    assert(w.isDefined && w.get.contains("worst bucket 1") &&
      w.get.contains("2 of 3") && w.get.contains("nBuckets"), w.toString)
    assert(warning(Seq.empty).isEmpty)
  }

  test("sharded probe survives the SHUFFLED join path (broadcast " +
      "disabled): same answer as driver-Bloom, no BroadcastHashJoin " +
      "in the plan — the beyond-broadcast-threshold mode the scaladoc " +
      "promises, which the always-broadcast-sized fixtures never " +
      "exercise") {
    def withConf[A](kvs: (String, String)*)(body: => A): A = {
      val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val incoming = docs.where(col("doc_id") % 10 >= 4)
    val historical = docs.where(col("doc_id") % 10 < 6)
    val want = CorpusOps.dedupAgainst(incoming, historical, "text",
        expectedItems = 1000L)
      .select("doc_id").as[Long].collect().toSet
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val out = CorpusOps.dedupAgainstPartitioned(
        incoming, historical, "text", nBuckets = 8,
        expectedItemsPerBucket = 64L)
      val got = out.select("doc_id").as[Long].collect().toSet
      assert(got == want,
        s"shuffled-probe path diverged: got ${got.size}, want ${want.size}")
      import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
      val joins = planNodes(out.queryExecution.executedPlan)
        .collect { case j: BaseJoinExec => j }
      assert(joins.nonEmpty && !joins.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"broadcast disabled but plan still broadcasts:\n${joins.mkString("\n")}")
      assert(out.queryExecution.executedPlan.toString
        .contains("sharded_bloom_might_contain"),
        "probe expression missing from the shuffled plan")
    }
  }

  test("sharded probe plans the codegen'd expression (no ScalaUDF on " +
      "the probe path) and exactly one LeftAnti under the union") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val incoming = docs.where(col("doc_id") % 10 >= 4)
    val historical = docs.where(col("doc_id") % 10 < 6)
    val out = CorpusOps.dedupAgainstPartitioned(
      incoming, historical, "text", nBuckets = 8,
      expectedItemsPerBucket = 64L)
    out.queryExecution.toRdd.count()
    val plan = out.queryExecution.executedPlan
    val ps = plan.toString
    assert(ps.contains("sharded_bloom_might_contain"),
      s"probe expression missing from the plan:\n$ps")
    assert(!ps.contains("ScalaUDF"),
      s"sharded probe must not plan a ScalaUDF:\n$ps")
    // Joins: the probe equi-join appears in BOTH union branches (the
    // two branches each contain the probed subtree) plus exactly one
    // LeftAnti confirm.
    val joins = planNodes(plan).collect { case j: BaseJoinExec => j }
    assert(joins.count(_.joinType ==
        org.apache.spark.sql.catalyst.plans.LeftAnti) == 1,
      s"want exactly one LeftAnti confirm:\n$ps")
    // The build is the repartition-first one-filter-per-bucket shape:
    // NO aggregate anywhere in the build (a udaf build would plan a
    // partial ObjectHashAggregate shipping one filter per live bucket
    // per map task — the 100 TB scale-killer), just the bucket
    // Exchange feeding the per-partition builder.
    assert(!ps.contains("ObjectHashAggregate"),
      s"Bloom build must not plan a partial/final udaf aggregate:\n$ps")
    assert(ps.contains("MapPartitions"),
      s"per-partition Bloom build missing from the plan:\n$ps")
  }

  test("bloomShards shuffles HASHES, not partial filters: build " +
      "shuffle-write bytes are rows-sized, stay flat as history map " +
      "tasks grow 4x, and never reach even one serialized filter") {
    val nBuckets = 4
    val perBucket = 1000000L
    val filterBytes = {
      val bf = org.apache.spark.util.sketch.BloomFilter
        .create(perBucket, 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.size().toLong // ~1.2 MB: what ONE partial filter would ship
    }
    val rows = (0L until 4000L).map(i => (i, s"hist doc $i"))
      .toDF("doc_id", "text")
    // Persist both layouts so the measured jobs read cached partitions
    // (no repartition-of-the-history shuffle inside the measurement;
    // the map-task count IS the cached partition count).
    val hist4 = rows.repartition(4).persist()
    val hist32 = rows.repartition(32).persist()
    hist4.count(); hist32.count()
    def buildShuffleWrite(hist: org.apache.spark.sql.DataFrame): Long =
      graft.metrics.JobLog.scoped(spark.sparkContext) {
        CorpusOps.bloomShards(hist, "text", nBuckets, perBucket, 0.01,
          "b", "f").count()
      }.stages.map(_.shuffleWrite).sum
    try {
      val b4 = buildShuffleWrite(hist4)
      val b32 = buildShuffleWrite(hist32)
      // The old groupBy+udaf build would ship ≥ mapTasks × filterBytes
      // (4 tasks ≈ 4.8 MB, 32 tasks ≈ 38 MB, growing 8x). The
      // repartition-first build ships 4000 16-byte hash rows (+ row
      // overhead + count partials): under ONE filter's size, and FLAT
      // in the map-task count.
      assert(b32 > 0, "the scope saw no shuffle write at all")
      assert(b32 < filterBytes,
        s"build shuffled $b32 B >= one serialized filter " +
          s"($filterBytes B) — partial filters are crossing the wire")
      assert(b32 < b4 + filterBytes / 4,
        s"build shuffle grew with map tasks: 4 tasks -> $b4 B, " +
          s"32 tasks -> $b32 B")
    } finally {
      hist4.unpersist(false)
      hist32.unpersist(false)
      ()
    }
  }
}
