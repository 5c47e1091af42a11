package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def byId[T](rows: Seq[(Long, T)]): Map[Long, T] = rows.toMap

  test("ngrams builds word n-grams in codegen; short docs yield empty") {
    val df = Seq("a b c d", "a b", "").toDF("text")
      .select(CorpusOps.ngrams(split(col("text"), " "), 3).as("g"))
    assert(df.as[Seq[String]].collect().toSeq ==
      Seq(Seq("a b c", "b c d"), Seq(), Seq()))
    // sequence(1, len-n+1) counts DOWN without the guard — a 2-token
    // doc with n=3 must not produce phantom grams.
  }

  test("decontaminate flags exactly the train docs sharing an n-gram " +
      "with the eval slice") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // eval
      (1L, "quick brown fox jumps over a sleeping cat"),   // 1 shared 5g
      (2L, "totally different words in this one here now"),
      (3L, "the quick brown fox jumps over the lazy dog")  // exact dup
    ).toDF("doc_id", "text")
    val out = CorpusOps.decontaminate(
      docs, col("doc_id") === 0, "doc_id", "text", n = 5)
    val m = byId(out.select("doc_id", "n_matched").as[(Long, Long)]
      .collect().toSeq)
    assert(m(2) == 0L)
    // doc 1 shares "quick brown fox jumps over" (and only that 5-gram
    // window aligned variants): windows of doc1 vs doc0 overlap in 1.
    assert(m(1) == 1L, s"doc1 matched ${m(1)}")
    assert(m(3) == 5L) // all 5 of doc0's 5-grams
    val flags = byId(out.select("doc_id", "contaminated")
      .as[(Long, Boolean)].collect().toSeq)
    assert(flags == Map(1L -> true, 2L -> false, 3L -> true))
    assert(!m.contains(0L), "eval docs are excluded from the output")
  }

  test("repetitionScore is the duplicate n-gram fraction, 0 for short docs") {
    val docs = Seq(
      (1L, "x y z x y z x y"), // 6 trigrams, 3 distinct -> 0.5
      (2L, "a b c d"),         // 2 trigrams, both distinct -> 0.0
      (3L, "a b")              // no trigrams -> 0.0
    ).toDF("doc_id", "text")
    val out = CorpusOps.repetitionScore(docs, "doc_id", "text", n = 3)
      .select("doc_id", "n_grams", "n_distinct", "rep_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((6L, 3L, 0.5)))
    assert(out(2L) == ((2L, 2L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("duplicateSpans finds corpus-wide boilerplate spans and the " +
      "doc-grain keep decision") {
    val boiler = "all rights reserved by the site"
    val docs = Seq(
      (1L, s"unique alpha words here then $boiler"),
      (2L, s"other beta content precedes it $boiler"),
      (3L, "no shared spans in this document at all"),
      (4L, "tiny doc") // 0 spans -> keep
    ).toDF("doc_id", "text")
    val out = CorpusOps.duplicateSpans(docs, "doc_id", "text", n = 5,
        minDocs = 2)
      .select("doc_id", "n_spans", "n_dup_spans", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // 11 tokens -> 7 spans; the 6-token boilerplate tail shares its 2
    // five-gram windows between docs 1 and 2.
    assert(out(1L) == ((7L, 2L, true)), s"got ${out(1L)}")
    assert(out(2L) == ((7L, 2L, true)))
    assert(out(3L) == ((4L, 0L, true)))
    assert(out(4L) == ((0L, 0L, true)))
    // Make the keep rule bite: a doc that IS the boilerplate (every
    // span duplicated corpus-wide) must drop.
    val heavy = Seq(
      (1L, boiler),
      (2L, s"$boiler again with padding words"),
      (3L, s"$boiler more padded filler text")
    ).toDF("doc_id", "text")
    val kept = CorpusOps.duplicateSpans(heavy, "doc_id", "text", 5, 2)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!kept(1L), "a pure-boilerplate doc must drop")
  }

  test("domainCap drops null-id docs identically on both paths (no " +
      "deterministic rank exists for them) and still caps the rest") {
    import org.apache.spark.sql.types.{LongType, StringType}
    // Integral path: 40 real docs in one domain + 3 null-id rows.
    val longDocs = (0L until 40L).map(i => (i, "hot")).toDF("doc_id", "source")
      .unionByName(Seq("hot", "hot", "cold").toDF("source")
        .withColumn("doc_id", lit(null).cast(LongType))
        .select("doc_id", "source"))
    val longOut = CorpusOps.domainCap(longDocs, "doc_id", "source",
        cap = 5, salt = "n1")
      .select("source", "doc_id").as[(String, java.lang.Long)].collect()
    assert(longOut.forall(_._2 != null), "null id leaked (integral path)")
    assert(longOut.count(_._1 == "hot") == 5)
    assert(!longOut.exists(_._1 == "cold"),
      "a domain containing ONLY null-id docs must vanish, not crash")
    // String path: same shape, same contract.
    val strDocs = (0L until 40L).map(i => (s"d$i", "hot"))
      .toDF("doc_id", "source")
      .unionByName(Seq("hot", "cold").toDF("source")
        .withColumn("doc_id", lit(null).cast(StringType))
        .select("doc_id", "source"))
    val strOut = CorpusOps.domainCap(strDocs, "doc_id", "source",
        cap = 5, salt = "n1")
      .select("source", "doc_id").as[(String, String)].collect()
    assert(strOut.forall(_._2 != null), "null id leaked (string path)")
    assert(strOut.count(_._1 == "hot") == 5)
    assert(!strOut.exists(_._1 == "cold"))
  }

  test("splitAssign is a stable salted partition honoring the cut points") {
    val docs = (0L until 2000L).toDF("doc_id")
    val out = CorpusOps.splitAssign(docs, "doc_id", "s1")
      .select("doc_id", "bucket", "split")
      .as[(Long, Long, String)].collect()
    assert(out.forall { case (_, b, s) =>
      b >= 0 && b < 100 &&
        s == (if (b < 80) "train" else if (b < 90) "val" else "test")
    })
    // Accretion safety: the same doc keeps its split when the corpus
    // grows (assignment depends only on salt + id).
    val again = CorpusOps.splitAssign(
        (0L until 4000L).toDF("doc_id"), "doc_id", "s1")
      .where(col("doc_id") < 2000).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(out.forall { case (id, _, s) => again(id) == s })
    // The salt is the only reshuffle lever.
    val other = CorpusOps.splitAssign(docs, "doc_id", "s2")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(out.exists { case (id, _, s) => other(id) != s })
    // Buckets are roughly uniform (md5 on 2000 ids: each pct bucket
    // expects 20; a grossly lopsided hash would break the pcts).
    val frac = out.count(_._3 == "train").toDouble / out.length
    assert(math.abs(frac - 0.8) < 0.05, s"train fraction $frac")
  }

  test("packShards packs contiguous id ranges to the token budget, " +
      "invariant to input partitioning") {
    val docs = Seq(
      (1L, 600L), (2L, 600L), (3L, 600L), // cum 0,600,1200 -> shard 0
      (4L, 600L),                         // cum 1800 -> shard 1...
      (5L, 600L), (6L, 600L),             // cum 2400,3000 -> shards
      (7L, 5000L),                        // oversized doc
      (8L, 100L)
    ).toDF("doc_id", "w")
    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.packShards(df, "doc_id", col("w"), budget = 1000L)
        .select("doc_id", "weight", "shard_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val out = run(docs)
    val shards = out.map(r => r._1 -> r._3).toMap
    // exclusive cums: 0,600,1200,1800,2400,3000,3600,8600
    assert(shards == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 3L, 7L -> 3L, 8L -> 8L), s"got $shards")
    // Shard ids are non-decreasing in id order (contiguity).
    assert(out.map(_._3) == out.map(_._3).sorted)
    // Partitioning the input differently must not move a single doc.
    assert(run(docs.repartition(7)) == out)
    assert(run(docs.coalesce(1)) == out)
  }

  test("stratifiedSample honors per-stratum rates deterministically " +
      "and stays stable under corpus growth") {
    val docs = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "xx"))
      .toDF("doc_id", "lang")
    val out = CorpusOps.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.0), defaultRate = 1.0, salt = "s1")
      .select("doc_id", "lang", "sampled")
      .as[(Long, String, Boolean)].collect()
    val byLang = out.groupBy(_._2)
    // rate 0 and rate 1 are exact; 0.5 is statistical (1000 draws).
    assert(byLang("zh").forall(!_._3), "rate 0.0 must keep nothing")
    assert(byLang("xx").forall(_._3), "rate 1.0 must keep everything")
    val frac = byLang("en").count(_._3).toDouble / byLang("en").length
    assert(math.abs(frac - 0.5) < 0.06, s"en fraction $frac")
    // Accretion safety: same doc, same decision on a grown corpus.
    val again = CorpusOps.stratifiedSample(
        (0L until 6000L).map(i => (i, "en")).toDF("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 0.5), 1.0, salt = "s1")
      .where(col("doc_id") < 3000 && col("doc_id") % 3 === 0)
      .select("doc_id", "sampled").as[(Long, Boolean)].collect().toMap
    assert(out.filter(_._2 == "en").forall { case (id, _, s) =>
      again(id) == s })
  }

  test("domainCap keeps exactly cap docs per domain, the same set the " +
      "window idiom picks, regardless of input partitioning") {
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 2000L).map { i =>
      // domain 'hot' holds 75% of rows — the skew shape the op targets.
      (i, if (i % 4 != 0) "hot" else s"d${i % 7}")
    }.toDF("doc_id", "source")
    def run(df: org.apache.spark.sql.DataFrame) =
      CorpusOps.domainCap(df, "doc_id", "source", cap = 9, salt = "c1")
        .select("source", "doc_id").as[(String, Long)].collect().toSet
    val out = run(docs)
    assert(out.groupBy(_._1).forall(_._2.size == 9))
    // Oracle twin: row_number over the same salted hash.
    val k = conv(substring(
        md5(concat(lit("c1:"), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long")
    val viaWindow = docs.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(k, col("doc_id"))))
      .where(col("rn") <= 9).select("source", "doc_id")
      .as[(String, Long)].collect().toSet
    assert(out === viaWindow)
    assert(run(docs.repartition(17)) === out)
    assert(run(docs.coalesce(1)) === out)
  }

  test("domainCap preserves string doc ids — capped exactly, nothing " +
      "silently dropped (null domains included), id column keeps its " +
      "type") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.StringType
    // i % 11 == 0 rows have a NULL domain: the integral path keeps a
    // null group via groupBy, and the string-id path's join-back must
    // match it null-safely — a plain equi-join would silently drop all
    // ~109 of these rows (ADVICE r15 medium).
    val docs = (0L until 1200L).map { i =>
      (s"doc-$i",
        if (i % 11 == 0) null
        else if (i % 3 != 0) "hot"
        else s"d${i % 5}")
    }.toDF("doc_id", "source")
    val capped = CorpusOps.domainCap(docs, "doc_id", "source", cap = 7,
      salt = "c2")
    assert(capped.schema("doc_id").dataType == StringType)
    val out = capped.select("source", "doc_id")
      .as[(String, String)].collect().toSet
    assert(out.groupBy(_._1).forall(_._2.size == 7),
      s"per-domain counts ${out.groupBy(_._1).view.mapValues(_.size).toMap}")
    assert(out.exists(_._1 == null),
      "null-domain docs silently dropped by the string-id path")
    // Oracle twin: row_number over the same salted hash; ties (none
    // here) would break by the surrogate hash the operator carries.
    val k = conv(substring(
        md5(concat(lit("c2:"), col("doc_id"))), 1, 15), 16, 10)
      .cast("long")
    val sid = xxhash64(concat(lit("c2#sid:"), col("doc_id")))
    val viaWindow = docs.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(k, sid)))
      .where(col("rn") <= 7).select("source", "doc_id")
      .as[(String, String)].collect().toSet
    assert(out === viaWindow)
    // Partitioning invariance, same as the integral path.
    val again = CorpusOps.domainCap(docs.repartition(13), "doc_id",
        "source", cap = 7, salt = "c2")
      .select("source", "doc_id").as[(String, String)].collect().toSet
    assert(again === out)
  }

  test("packShards handles empty range partitions (duplicate-heavy " +
      "key distribution)") {
    // 50 rows share one key plus two distinct stragglers: the range
    // bounds become [5, 100, 200], so the final partition (> 200) is
    // EMPTY — the seam where a mis-seeded per-partition offset would
    // corrupt every cumulative sum after it. AQE's partition coalescing
    // would absorb the empties at this toy size (at real scale they
    // survive), so switch it off for the duration.
    val docs = (Seq.fill(50)((5L, 10L)) ++ Seq((100L, 10L), (200L, 10L)))
      .toDF("doc_id", "w")
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val savedCoalesce = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    val (parts, out) = try {
      val parts = docs.repartitionByRange(col("doc_id")).rdd
        .mapPartitions(it => Iterator(it.size)).collect()
      val out = CorpusOps.packShards(docs, "doc_id", col("w"),
          budget = 120L)
        .select("doc_id", "weight", "shard_id")
        .as[(Long, Long, Long)].collect()
      (parts, out)
    } finally savedCoalesce match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None => spark.conf.unset(coalesceKey)
    }
    assert(parts.exists(_ == 0),
      s"premise: expected an empty range partition, got ${parts.toSeq}")
    // cums 0,10,...,490,500,510; shard k covers cum in [120k, 120k+110].
    assert(out.length == 52 && out.forall(_._2 == 10L))
    val perShard = out.groupBy(_._3).view.mapValues(_.size).toMap
    assert(perShard == Map(0L -> 12, 1L -> 12, 2L -> 12, 3L -> 12,
      4L -> 4), s"got $perShard")
    assert(out.filter(_._1 > 5L).forall(_._3 == 4L),
      "straggler keys must land in the last shard")
  }

  test("mixtureExpand emits floor(w) or ceil(w) copies with hash-exact " +
      "fractions; weight 0 drops, weight 1 passes through once") {
    val docs = (0L until 4000L).map(i =>
      (i, Seq("up", "down", "zero", "one")((i % 4).toInt)))
      .toDF("doc_id", "lang")
    val out = CorpusOps.mixtureExpand(docs, "doc_id", "lang",
      Map("up" -> 2.5, "down" -> 0.25, "zero" -> 0.0),
      defaultWeight = 1.0, salt = "m1")
      .select("doc_id", "lang", "copy").as[(Long, String, Int)].collect()
    val copies = out.groupBy(_._1).view.mapValues(_.length).toMap
    val perLang = out.groupBy(_._2)
    assert(!perLang.contains("zero"), "weight 0 must emit nothing")
    assert(perLang("one").length == 1000 &&
      perLang("one").forall(_._3 == 1))
    // 'up' docs appear 2 or 3 times, mean ~2.5; 'down' 0 or 1, ~0.25.
    val upCounts = (0L until 4000L).filter(_ % 4 == 0)
      .map(id => copies.getOrElse(id, 0))
    assert(upCounts.forall(c => c == 2 || c == 3))
    val upMean = upCounts.sum.toDouble / upCounts.length
    assert(math.abs(upMean - 2.5) < 0.1, s"up mean $upMean")
    val downCounts = (0L until 4000L).filter(_ % 4 == 1)
      .map(id => copies.getOrElse(id, 0))
    assert(downCounts.forall(c => c == 0 || c == 1))
    val downMean = downCounts.sum.toDouble / downCounts.length
    assert(math.abs(downMean - 0.25) < 0.08, s"down mean $downMean")
    // copy is a dense 1..n index per doc.
    assert(out.groupBy(_._1).values.forall(rows =>
      rows.map(_._3).sorted.sameElements(1 to rows.length)))
  }

  test("piiScrub pseudonymizes stably and scrubs/audits numeric runs") {
    val ev = Seq(
      (1L, 42L, """{"k": 69, "ip": "10.0.0.1"}"""),
      (2L, 42L, """{"k": 7}"""),
      (3L, 99L, null.asInstanceOf[String])
    ).toDF("event_id", "user_id", "props")
    val out = CorpusOps.piiScrub(ev, "event_id", "user_id", "props",
        "test-salt")
      .select("event_id", "user_pseudo", "payload_scrubbed", "n_masked")
      .as[(Long, String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Same user -> same token (joinable downstream); different -> not.
    assert(out(1L)._1 == out(2L)._1 && out(1L)._1 != out(3L)._1)
    assert(out(1L)._2 == """{"k": #, "ip": "#.#.#.#"}""")
    assert(out(1L)._3 == 5L)
    assert(out(3L) == ((out(3L)._1, "", 0L)), "null payload scrubs to empty")
  }

  test("chunkTokens cuts stride-overlapped windows covering every " +
      "token; empty text is one empty chunk; null text emits none") {
    val docs = Seq(
      (1L, "a b c d e f g"),            // 7 tokens, w=3 s=2
      (2L, ""),                          // one empty token
      (3L, null.asInstanceOf[String])    // no chunks
    ).toDF("doc_id", "text")
    val out = CorpusOps.chunkTokens(docs, "doc_id", "text",
        window = 3, stride = 2)
      .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
      .as[(Long, Int, String, Long)].collect().toSet
    assert(out == Set(
      (1L, 0, "a b c", 3L), (1L, 1, "c d e", 3L),
      (1L, 2, "e f g", 3L), (1L, 3, "g", 1L),
      (2L, 0, "", 1L)))
    // Non-overlapping mode: stride == window tiles exactly.
    val tiled = CorpusOps.chunkTokens(docs, "doc_id", "text",
        window = 4, stride = 4)
      .where(col("doc_id") === 1L)
      .select("chunk_text", "n_tokens")
      .as[(String, Long)].collect().toSet
    assert(tiled == Set(("a b c d", 4L), ("e f g", 3L)))
    intercept[IllegalArgumentException] {
      CorpusOps.chunkTokens(docs, "doc_id", "text", window = 3, stride = 4)
    }
  }

  test("dedupAgainst (exact mode) reproduces the plain anti-join on the " +
      "fixture re-crawl split") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val incoming = docs.where(col("doc_id") % 10 >= 4)
    val historical = docs.where(col("doc_id") % 10 < 6)
    val got = CorpusOps.dedupAgainst(incoming, historical, "text",
        expectedItems = 200000L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    val want = incoming.join(
        historical.select(col("text").as("_t")),
        col("text") === col("_t"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(got == want, s"Bloom-prefiltered answer diverged: " +
      s"extra ${got -- want}, missing ${want -- got}")
    // The split is nontrivial: the overlapping id digits (4-5) are
    // true re-fetches and must be dropped.
    val nIncoming = incoming.count()
    assert(got.size < nIncoming,
      s"nothing was deduped (${got.size} of $nIncoming)")
    assert(got.forall(_ % 10 >= 6),
      "a re-fetched doc (id digit 4-5) survived the dedup")
  }

  test("dedupAgainst Bloom-only mode never keeps a duplicate and drops " +
      "at most ~fpp of the genuinely-new rows") {
    // 1000 historical texts; incoming = 600 exact re-fetches + 1000 new.
    val historical = (0 until 1000)
      .map(i => (i.toLong, s"hist doc number $i body"))
      .toDF("doc_id", "text")
    val incoming = ((0 until 600)
      .map(i => (10000L + i, s"hist doc number $i body")) ++
      (0 until 1000).map(i => (20000L + i, s"fresh doc number $i body")))
      .toDF("doc_id", "text")
    val bloomOnly = CorpusOps.dedupAgainst(incoming, historical, "text",
        expectedItems = 1000L, fpp = 0.05, confirm = false)
      .select("doc_id").as[Long].collect().toSet
    // No false negatives: every true re-fetch is dropped, always.
    assert(bloomOnly.forall(_ >= 20000L),
      s"a true duplicate survived Bloom-only dedup: " +
        s"${bloomOnly.filter(_ < 20000L)}")
    // False positives cost at most ~fpp of the new rows (deterministic
    // for fixed data — the bound is generous, not probabilistic).
    assert(bloomOnly.size >= 800,
      s"Bloom-only dropped ${1000 - bloomOnly.size} of 1000 new rows " +
        s"(fpp was 0.05)")
    // And the exact mode on the same inputs keeps ALL 1000 new rows.
    val exact = CorpusOps.dedupAgainst(incoming, historical, "text",
        expectedItems = 1000L, fpp = 0.05)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == (0 until 1000).map(20000L + _).toSet)
    assert(bloomOnly.subsetOf(exact),
      "Bloom-only kept a row the exact mode dropped")
  }

  test("dedupAgainst keeps null-text rows and within-batch duplicates " +
      "in both modes") {
    val historical = Seq(
      (1L, "already ingested page"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, null.asInstanceOf[String]), // no content to match: kept
      (11L, "brand new page"),          // kept
      (12L, "brand new page"),          // within-batch dup: ALSO kept
      (13L, "already ingested page")    // true re-fetch: dropped
    ).toDF("doc_id", "text")
    Seq(true, false).foreach { confirm =>
      val got = CorpusOps.dedupAgainst(incoming, historical, "text",
          expectedItems = 100L, fpp = 0.01, confirm = confirm)
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(10L, 11L, 12L),
        s"confirm=$confirm kept $got (null-text row and both " +
          "within-batch copies must survive; the re-fetch must not)")
    }
    intercept[IllegalArgumentException] {
      CorpusOps.dedupAgainst(incoming, historical, "text", 0L)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.dedupAgainst(incoming, historical, "text", 100L, fpp = 1.0)
    }
  }

  test("dedupAgainst warns when expectedItems undersizes the history " +
      "(Bloom saturation is loud, not a silent pass-through)") {
    // The decision is pure — pin the 2× threshold directly. The
    // driver-built filter is one shard.
    def warning(realizedFpp: Double, expectedItems: Long) =
      CorpusOps.saturationWarning("dedupAgainst", Seq(0L -> realizedFpp),
        0.01, s"expectedItems $expectedItems", "raise expectedItems")
    val w = warning(0.021, 10L)
    // One filter: no shard or bucket clause, and the fix names the option.
    assert(w.exists(t => t.contains("raise expectedItems") &&
      !t.contains("shard") && !t.contains("bucket")), w.toString)
    assert(warning(0.019, 10L).isEmpty)
    assert(warning(0.01, 10L).isEmpty)
    // And a genuinely undersized build trips it end-to-end: 500 docs
    // into a Bloom sized for 5 saturates the bits far past 2× fpp.
    val docs = graft.Tables.load(spark, sf0001, "documents")
      .where(col("text").isNotNull).limit(500)
    val bloom = docs
      .select(xxhash64(col("text")).as("_h"))
      .stat.bloomFilter("_h", 5L, 0.01)
    assert(warning(bloom.expectedFpp(), 5L).isDefined,
      s"realized fpp ${bloom.expectedFpp()} should exceed 2x requested")
  }

  test("dropBoilerplateLines removes exactly the >maxDocs lines, " +
      "preserves order/multiplicity, passes null id/text through, " +
      "and empties all-boilerplate docs") {
    // "nav" is in 3 docs, "foot" in 3, "body"/"uniq" in fewer; with
    // maxDocs = 2 exactly nav and foot are boilerplate.
    val docs = Seq(
      (Option(1L), Option("nav\nbody one\nnav\nfoot")),
      (Option(2L), Option("nav\nbody two\nfoot")),
      (Option(3L), Option("nav\nfoot")),
      (Option(4L), Option("uniq only")),
      (Option(5L), Option.empty[String]),
      (Option.empty[Long], Option("nav\nfoot\nkeep me"))
    ).toDF("doc_id", "text")
    val out = CorpusOps.dropBoilerplateLines(docs, "doc_id", "text",
      maxDocs = 2)
    val got = out.collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        (if (r.isNullAt(1)) None else Some(r.getString(1)))).toMap
    assert(got == Map(
      Some(1L) -> Some("body one"),   // both navs AND the foot gone
      Some(2L) -> Some("body two"),
      Some(3L) -> Some(""),           // all lines boilerplate
      Some(4L) -> Some("uniq only"),  // untouched
      Some(5L) -> None,               // null text passes through
      None -> Some("nav\nfoot\nkeep me") // null id passes through
    ), got.toString)
    // Token grain.
    val tok = Seq((1L, "a b a c"), (2L, "a d"), (3L, "a e"))
      .toDF("doc_id", "text")
    val tokOut = CorpusOps.dropBoilerplateLines(
        tok, "doc_id", "text", maxDocs = 2, delimiter = " ")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tokOut == Map(1L -> "b c", 2L -> "d", 3L -> "e"),
      tokOut.toString)
    // Guards.
    intercept[IllegalArgumentException] {
      CorpusOps.dropBoilerplateLines(docs, "doc_id", "text", maxDocs = 0)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.dropBoilerplateLines(
        docs.withColumn("_graft_bl_set", lit(1)), "doc_id", "text", 2)
    }
    ()
  }

  test("normalizeText composes NFC, strips C0 controls except " +
      "tab/newline/CR plus DEL, keeps other columns, and passes null " +
      "text through; stripControls=false keeps the control bytes") {
    // Explicit escapes so the source encoding can never decide which
    // unicode form a literal carries: doc 1 is DECOMPOSED e+U+0301
    // with a NUL and a BEL planted; doc 2 keeps \t \n \r but loses
    // DEL (U+007F).
    val docs = Seq(
      (1L, Option("e\u0301 plus\u0000junk\u0007here")),
      (2L, Option("tab\tand\nnewline\rstay \u007fgone")),
      (3L, Option("plain")),
      (4L, Option.empty[String])
    ).toDF("doc_id", "text")
    val got = CorpusOps.normalizeText(docs, "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got == Map(
      1L -> "\u00e9 plusjunkhere",
      2L -> "tab\tand\nnewline\rstay gone",
      3L -> "plain",
      4L -> null), got.toString)
    // stripControls=false: NFC still composes, the control bytes stay.
    val raw = CorpusOps.normalizeText(docs, "text",
        stripControls = false)
      .where(col("doc_id") === 1L).head().getString(1)
    assert(raw == "\u00e9 plus\u0000junk\u0007here")
  }

  test("packSequences: hand-computed tape layout with a straddling " +
      "doc, boundary metadata, and the nothing-lost invariants on " +
      "fixture documents") {
    // Tape: a b c | d e f | g h i  with L=3 -> doc 3 straddles seqs
    // 1 and 2 at the token.
    val docs = Seq(
      (1L, "a b c"), (2L, "d e"), (3L, "f g h i"),
      (4L, null.asInstanceOf[String]) // excluded
    ).toDF("doc_id", "text")
    val out = CorpusOps.packSequences(docs, "doc_id", "text", 3)
      .orderBy("seq_id")
      .select("seq_id", "text", "doc_ids", "doc_starts", "n_tokens")
      .as[(Long, String, Seq[Long], Seq[Long], Long)].collect().toSeq
    assert(out == Seq(
      (0L, "a b c", Seq(1L), Seq(0L), 3L),
      (1L, "d e f", Seq(2L, 3L), Seq(0L, 2L), 3L),
      (2L, "g h i", Seq(3L), Seq(0L), 3L)), out.toString)
    // Fixture invariants at L=64: every sequence except the last is
    // exactly full, and the concatenation of all sequences IS the
    // concatenation of all documents in id order (nothing padded,
    // nothing dropped, order preserved).
    val fx = graft.Tables.load(spark, sf0001, "documents")
    val seqs = CorpusOps.packSequences(fx, "doc_id", "text", 64)
      .orderBy("seq_id")
      .select("seq_id", "text", "n_tokens")
      .as[(Long, String, Long)].collect().toSeq
    assert(seqs.map(_._1) == seqs.indices.map(_.toLong),
      "sequence ids must be dense from 0")
    assert(seqs.dropRight(1).forall(_._3 == 64L),
      "every non-final sequence must be exactly seqLen tokens")
    assert(seqs.last._3 <= 64L && seqs.last._3 > 0L)
    val tape = seqs.map(_._2).mkString(" ")
    val docsTape = fx.where(col("text").isNotNull)
      .orderBy("doc_id").select("text")
      .as[String].collect().mkString(" ")
    assert(tape == docsTape,
      "concat of sequences must equal concat of documents")
    intercept[IllegalArgumentException] {
      CorpusOps.packSequences(docs, "doc_id", "text", 0)
    }
    ()
  }

  test("dropBoilerplateLines plan: the text column never enters a " +
      "shuffle while the per-doc sets broadcast, no aggregate ever " +
      "carries it, and no cartesian appears") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val out = CorpusOps.dropBoilerplateLines(docs, "doc_id", "text",
      maxDocs = 300, delimiter = " ")
    out.queryExecution.toRdd.count()
    val plan = out.queryExecution.executedPlan
    val ps = plan.toString
    assert(!ps.contains("CartesianProduct") &&
      !ps.contains("BroadcastNestedLoop"), ps)
    val shuffles = planNodes(plan)
      .collect { case s: ShuffleExchangeExec => s }
    assert(shuffles.nonEmpty, "detection must aggregate by line key")
    shuffles.foreach { s =>
      assert(!s.child.output.exists(_.name == "text"),
        s"the document text is being SHUFFLED:\n$ps")
    }
    planNodes(plan).collect { case a: BaseAggregateExec => a }
      .foreach { a =>
        assert(!a.output.exists(_.name == "text") &&
          !a.child.output.exists(_.name == "text"),
          s"an aggregate carries the document text:\n$ps")
      }
  }
}
