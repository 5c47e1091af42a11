package graft.blocking

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.config.{DedupeConfig, FieldSpec}

class PredicateLearnerSpec extends SparkSpec {

  private val cfg = DedupeConfig(
    key = "_unique_id",
    fields = Seq(
      FieldSpec("name", "String"),
      FieldSpec("city", "Categorical")),
    recall = 0.9)

  test("learner never credits coverage through blocks the cap drops") {
    import spark.implicits._
    // Every record shares the first 2 chars ("zz"), so first2:name
    // produces ONE 300-record block — far over max_block_size=100, which
    // kolbBlocks drops at blocking time. Its surviving cost is zero and
    // its raw key overlap covers every match, so an uncapped learner
    // picks it as a free full-coverage predicate and the pipeline then
    // generates ZERO candidate pairs (the sf0.01 flagship regression).
    // digits:name blocks the same matches through real, small blocks.
    val records = (0 until 150).flatMap { i =>
      Seq((i.toLong, s"zz$i", "x"), (i.toLong + 1000, s"zz${i}q", "y"))
    }.toDF("_unique_id", "name", "city")
    val labeled = (0 until 20).map { i =>
      (s"zz$i", "x", s"zz${i}q", "y", 1.0)
    }.toDF("l_name", "l_city", "r_name", "r_city", "label")
    val capped = cfg.copy(maxBlockSize = 100)
    val learned = PredicateLearner.learn(records, labeled, capped)
    assert(learned.nonEmpty, "learner found no usable predicate")
    assert(!learned.map(_.id).contains("first2:name"),
      s"picked the dropped-block predicate: ${learned.map(_.id)}")
    // The chosen set must cover the matches through SURVIVING blocks:
    // every learned predicate key shared by a match pair stays under
    // the cap by construction here, so plain coverage is sufficient.
    val cover = PredicateLearner.coverage(
      labeled.where(col("label") === 1.0), learned, records)
    assert(cover.count(_.exists(identity)) >= 18,
      "learned set fails to cover the matches through surviving blocks")
  }

  test("learner covers match pairs with cheap predicates") {
    import spark.implicits._
    val records = Seq(
      (1L, "alice anderson", "nyc"), (2L, "alice andersen", "nyc"),
      (3L, "bob brown", "sf"), (4L, "bob browne", "sf"),
      (5L, "carol clark", "la"), (6L, "carole clark", "la"),
      (7L, "dan drake", "nyc"), (8L, "erin evans", "sf"))
      .toDF("_unique_id", "name", "city")
    // Matches share the first 4 chars of name; one has a city mismatch so
    // whole-city alone cannot reach recall 0.9.
    val labeled = Seq(
      ("alice anderson", "nyc", "alice andersen", "nyc", 1.0),
      ("bob brown", "sf", "bob browne", "sf", 1.0),
      ("carol clark", "la", "carole clark", "nyc", 1.0),
      ("alice anderson", "nyc", "erin evans", "sf", 0.0))
      .toDF("l_name", "l_city", "r_name", "r_city", "label")

    val learned = PredicateLearner.learn(records, labeled, cfg)
    assert(learned.nonEmpty)
    // Every learned predicate must be a legal candidate shape.
    val cands = PredicateLearner.candidates(cfg).map(_.id).toSet
    assert(learned.forall(p => cands(p.id)))
    // The learned set must cover >= recall of the match pairs.
    val cover = PredicateLearner.coverage(
      labeled.where(col("label") === 1.0), learned, records)
    val covered = cover.count(_.exists(identity))
    assert(covered >= math.ceil(0.9 * 3).toInt, s"covered $covered of 3")
  }

  test("canopy predicate blocks token-reordered near-match cheaply") {
    import spark.implicits._
    // The match pair shares tokens {maria, garcia} but differs in token
    // ORDER and has an extra token — so whole/prefix/firsttok/sorted all
    // miss it. The trigram predicate catches it but at quadratic cost
    // (the 'mar' fillers share trigrams pairwise); the tf-idf canopy
    // catches it in a 2-value block. Greedy set cover must pick the
    // canopy.
    val records = Seq(
      (1L, "maria garcia", "nyc"), (2L, "garcia maria jo", "nyc"),
      (3L, "marigold quux", "sf"), (4L, "carmarthen zed", "sf"),
      (5L, "edmar topaz", "la"), (6L, "ramark opal", "la"),
      (7L, "margin vex", "nyc"), (8L, "dogmar pint", "sf"),
      (9L, "amaranth wick", "la"), (10L, "palmar dune", "nyc"))
      .toDF("_unique_id", "name", "city")
    val labeled = Seq(
      ("maria garcia", "nyc", "garcia maria jo", "nyc", 1.0))
      .toDF("l_name", "l_city", "r_name", "r_city", "label")

    // Coverage ground truth: among column candidates only ngram3 covers
    // the pair; the canopy at 0.6 covers it through shared-token tf-idf.
    val cands = PredicateLearner.candidates(cfg)
    val cover = PredicateLearner.coverage(
      labeled.where(col("label") === 1.0), cands, records)(0)
    val byId = cands.map(_.id).zip(cover).toMap
    assert(byId("canopy0.6:name"), "canopy0.6 must cover the pair")
    assert(byId("ngram3:name"), "sanity: trigrams also cover the pair")
    assert(!byId("whole:name") && !byId("first4:name") &&
      !byId("firsttok:name") && !byId("sorted:name"),
      "no cheap column predicate may cover the pair")

    val learned = PredicateLearner.learn(records, labeled, cfg)
    assert(learned == Seq(TfIdfCanopy("name", 0.6)),
      s"expected the canopy predicate, learned ${learned.map(_.id)}")
  }

  test("learner is deterministic") {
    import spark.implicits._
    val records = Seq(
      (1L, "alice anderson", "nyc"), (2L, "alice andersen", "nyc"))
      .toDF("_unique_id", "name", "city")
    val labeled = Seq(
      ("alice anderson", "nyc", "alice andersen", "nyc", 1.0))
      .toDF("l_name", "l_city", "r_name", "r_city", "label")
    val a = PredicateLearner.learn(records, labeled, cfg).map(_.id)
    val b = PredicateLearner.learn(records, labeled, cfg).map(_.id)
    assert(a == b)
  }

  test("learn fires at most 3 Spark jobs: the count, the sample, the match pairs") {
    import spark.implicits._
    // Both inputs persisted and materialized first, as the pipeline
    // hands them over: only learn's own jobs are counted.
    val records = Seq(
      (1L, "alice anderson", "nyc"), (2L, "alice andersen", "nyc"),
      (3L, "bob brown", "sf"), (4L, "bob browne", "sf"),
      (5L, "carol clark", "la"), (6L, "carole clark", "la"))
      .toDF("_unique_id", "name", "city").repartition(3).persist()
    val labeled = Seq(
      ("alice anderson", "nyc", "alice andersen", "nyc", 1.0),
      ("bob brown", "sf", "bob browne", "sf", 1.0),
      ("carol clark", "la", "carole clark", "nyc", 1.0))
      .toDF("l_name", "l_city", "r_name", "r_city", "label")
      .repartition(2).persist()
    records.count()
    labeled.count()
    try {
      val (learned, jobs) =
        withJobs(PredicateLearner.learn(records, labeled, cfg))
      assert(learned.nonEmpty)
      assert(jobs.size <= 3, s"learn ran ${jobs.size} jobs: " +
        jobs.mkString("; "))
    } finally {
      records.unpersist(false)
      labeled.unpersist(false)
    }
  }

  test("learn given the record count fires one job: the sample") {
    import spark.implicits._
    // The records persisted and materialized, as the pipeline hands them
    // over with their count; the match pairs held on the driver, which
    // are read without a job.
    val records = Seq(
      (1L, "alice anderson", "nyc"), (2L, "alice andersen", "nyc"),
      (3L, "bob brown", "sf"), (4L, "bob browne", "sf"))
      .toDF("_unique_id", "name", "city").repartition(3).persist()
    val labeled = Seq(
      ("alice anderson", "nyc", "alice andersen", "nyc", 1.0),
      ("bob brown", "sf", "bob browne", "sf", 1.0))
      .toDF("l_name", "l_city", "r_name", "r_city", "label")
    try {
      val n = records.count()
      val (learned, jobs) =
        withJobs(PredicateLearner.learn(records, labeled, cfg, Some(n)))
      assert(learned == PredicateLearner.learn(records, labeled, cfg))
      assert(jobs.size == 1, s"learn ran ${jobs.size} jobs: " +
        jobs.mkString("; "))
    } finally records.unpersist(false)
  }

  test("a sampled learn is deterministic, partition-independent and " +
      "still drops over-cap blocks") {
    import spark.implicits._
    // The cap scenario above, learned from 200 of its 300 records: the
    // first2:name block scales back to 300 > 100 and must stay dropped.
    val records = (0 until 150).flatMap { i =>
      Seq((i.toLong, s"zz$i", "x"), (i.toLong + 1000, s"zz${i}q", "y"))
    }.toDF("_unique_id", "name", "city")
    val labeled = (0 until 20).map { i =>
      (s"zz$i", "x", s"zz${i}q", "y", 1.0)
    }.toDF("l_name", "l_city", "r_name", "r_city", "label")
    val capped = cfg.copy(maxBlockSize = 100)
    graft.pipeline.PhaseLog.drainNotes()
    val a = PredicateLearner.learn(records, labeled, capped, 300L, 200)
      .map(_.id)
    assert(graft.pipeline.PhaseLog.drainNotes().get("learn_sample") ==
      Some("200 of 300 (seed 0)"))
    val b = PredicateLearner.learn(records, labeled, capped, 300L, 200)
      .map(_.id)
    val c = PredicateLearner.learn(records.repartition(7), labeled, capped,
      300L, 200).map(_.id)
    assert(a.nonEmpty, "sampled learner found no usable predicate")
    assert(a == b && a == c, s"picks moved: $a / $b / $c")
    assert(!a.contains("first2:name"),
      s"picked the dropped-block predicate: $a")
    // 2 of 300 records: N/n = 150 exceeds the cap, so any key seen twice
    // in the sample is over it, but a key seen once evidences no pair and
    // must keep its coverage. Every digits:name block is one match pair.
    val allPairs = (0 until 150).map { i =>
      (s"zz$i", "x", s"zz${i}q", "y", 1.0)
    }.toDF("l_name", "l_city", "r_name", "r_city", "label")
    val (cands, cost, cover) =
      PredicateLearner.scored(records, allPairs, capped, 300L, 2)
    assert(graft.pipeline.PhaseLog.drainNotes().get("learn_sample") ==
      Some("2 of 300 (seed 0)"))
    val digits = cands.indexWhere(_.id == "digits:name")
    val first2 = cands.indexWhere(_.id == "first2:name")
    assert(cover.count(_(digits)) == 150,
      s"digits:name covers ${cover.count(_(digits))} of 150 pairs")
    assert(cover.forall(!_(first2)), "credited first2:name's dropped block")
    assert(cost(digits) == 0.0 && cost(first2) == 0.0)
  }

  test("predicate ids round-trip through Predicate.fromId") {
    val all = Seq(WholeField("f"), TokenField("f"), FirstChars("f", 4),
      FirstToken("f"), NGrams("f", 3), DigitsOnly("f"), SortedTokens("f"),
      TfIdfCanopy("f", 0.6), TfIdfCanopy("f", 0.8))
    all.foreach { p =>
      assert(Predicate.fromId(p.id) == p, s"round trip failed for ${p.id}")
    }
  }
}
