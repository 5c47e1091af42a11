package linkbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
  StructField, StructType}

import graft.config.DedupeConfig
import graft.dedup.TextDedup
import graft.model.{Settings, Training}
import graft.pipeline.{DedupePipeline, PhaseLog}
import graft.queries.DedupQueries
import graft.testgen.FakePersons

/** What a workload's set-up wrote, and the ground truth its checks read.
  * `sha256` fingerprints the content written (rows and side files);
  * `truth` maps every input key to its identity (person or document
  * family), which the program never sees.
  */
final case class Inputs(
    dir: Path,
    sha256: String,
    shape: Seq[(String, Long)],
    truth: Map[Long, Long]) {
  def records: Long = truth.size.toLong
}

/** The output check of one run, and the linkage quality it measured. */
final case class Checked(
    errors: Seq[String], falseMerge: Double, falseSplit: Double)

trait Workload {
  def name: String

  /** Write the seeded inputs under `dir`. */
  def generate(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      : Inputs

  /** One untraced run through the program's public entry points, from
    * reading the input to writing the outputs under `out`. Returns the
    * model hash when the run trains one.
    */
  def run(spark: SparkSession, in: Inputs, out: Path): Option[String]

  /** The same run, one layer call per span, at the materialization
    * points `run` has. Calls `wallDone` once the outputs are written,
    * then returns the data-shape counts, named `<span>.<count>`.
    */
  def traced(spark: SparkSession, in: Inputs, out: Path, t: Tracer,
      wallDone: () => Unit): Seq[(String, Double)]

  /** Check the outputs a run wrote under `out`. */
  def check(spark: SparkSession, in: Inputs, out: Path): Checked
}

object Workloads {
  val all: Seq[Workload] = Seq(
    new Linkage("link-train", persons = 2000, records = 10000),
    new Corpus("corpus-neardup", baseDocs = 24000))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** Share of records outside their cluster's plurality identity (false
    * merges) and outside their identity's plurality cluster (false
    * splits); ties break to the smaller id. The validation metrics of
    * `DedupePipelineSpec`.
    */
  def quality(assigned: Array[(Long, Long)], truth: Map[Long, Long])
      : (Double, Double) = {
    val withId = assigned.map { case (k, c) => (c, truth(k)) }
    def plurality(pairs: Array[(Long, Long)]): Map[Long, Long] =
      pairs.groupBy(_._1).map { case (g, ms) =>
        g -> ms.groupBy(_._2).toSeq
          .minBy { case (v, xs) => (-xs.length, v) }._1
      }
    val clusterId = plurality(withId)
    val homeCluster = plurality(withId.map(_.swap))
    val n = withId.length.toDouble
    (withId.count { case (c, id) => clusterId(c) != id } / n,
      withId.count { case (c, id) => homeCluster(id) != c } / n)
  }

  def writeString(p: Path, s: String): String = {
    Files.writeString(p, s)
    s
  }

  /** SHA-256 of the parts, each followed by a newline. */
  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def sumOfPairs(groupSizes: Iterable[Int]): Long =
    groupSizes.map(k => k.toLong * (k - 1) / 2).sum
}

/** Person linkage over a FakePersons population, trained from a labels
  * file shaped like one human labeling session: learning and Spark's
  * fixed cost per job dominate. Its edges stay far below the default
  * `cc_edge_cap`, so clustering takes the driver union-find.
  */
final class Linkage(val name: String, persons: Int, records: Int)
    extends Workload {

  private val Key = "entry_id"

  // recall 0.8: at the default 0.9, a 40-match session leaves the learner
  // short of its target on some seeds, and it then adds a coarse
  // predicate that multiplies the candidate pairs up to 40 times; at 0.8
  // it learned whole:dob + whole:ssn on 19 of 20 seeds tried (on the
  // whole population, before the fixed-size sample), so the workload's
  // cost does not hinge on the seed.
  private def config(dir: Path): String =
    s"""{
      |  "key": "$Key",
      |  "fields": [
      |    {"field": "first_name", "type": "String"},
      |    {"field": "last_name", "type": "String"},
      |    {"field": "ssn", "type": "String", "has missing": true},
      |    {"field": "sex", "type": "Categorical", "categories": ["M", "F"],
      |     "has missing": true},
      |    {"field": "dob", "type": "String", "has missing": true}],
      |  "interactions": [["first_name", "last_name"]],
      |  "filter_condition": "first_name IS NOT NULL",
      |  "merge_exact": [["ssn"]],
      |  "threshold": 0.5,
      |  "recall": 0.8,
      |  "training_file": "${dir.resolve("training.json")}",
      |  "settings_file": "${dir.resolve("settings.json")}",
      |  "seed": 0
      |}""".stripMargin

  def generate(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      : Inputs = {
    import spark.implicits._
    Files.createDirectories(dir)
    val n = math.max(20, (persons * scale).round.toInt)
    val pop = FakePersons.population(spark, n, seed)
    // A seeded sample of a fixed number of records, so that every seed
    // gives the program the same amount of input (the population's size
    // varies by a few percent with the seed). Twins come last in entry
    // order, so the sample is random rather than a prefix.
    val rows = new Random(seed).shuffle(pop.as[FakePersons.Entry].collect()
        .sortBy(_.entry_id).toSeq)
      .take(math.max(20, (records * scale).round.toInt))
      .sortBy(_.entry_id).toArray
    val entries = dir.resolve("entries")
    rows.toSeq.toDF().drop("uuid").write.parquet(entries.toString)
    val ids = rows.map(_.uuid).distinct.sorted.zipWithIndex.toMap
    val truth = rows.map(r => r.entry_id -> ids(r.uuid).toLong).toMap
    Workloads.writeString(dir.resolve("config.json"), config(dir))
    val cfg = cfgOf(dir)
    val labelsFile = Workloads.writeString(dir.resolve("training.json"),
      Training.toTrainingJson(labels(spark, rows, cfg), cfg))
    Inputs(dir, Workloads.sha256(rows.iterator.map(_.toString) ++
        Iterator(labelsFile)),
      Seq("records" -> rows.length.toLong, "identities" -> ids.size.toLong,
        "true_match_pairs" ->
          Workloads.sumOfPairs(rows.groupBy(_.uuid).values.map(_.length))),
      truth)
  }

  /** A labeling session from the ground truth, in record order: up to 40
    * matches (a person's first record against its first record that
    * differs) and up to 140 distincts: 20 adjacent persons and 40 each
    * sharing first and last name, sharing last name and sex, and sharing
    * a date of birth (the shape of q50's labels).
    */
  private def labels(spark: SparkSession, rows: Array[FakePersons.Entry],
      cfg: DedupeConfig): DataFrame = {
    type E = FakePersons.Entry
    def fields(e: E) = Seq(e.first_name, e.last_name, e.ssn, e.sex, e.dob)
    val people = rows.toSeq.groupBy(_.uuid).values.toSeq
      .sortBy(_.head.entry_id)
    val matches = people.iterator.flatMap { rs =>
      rs.tail.find(b => fields(b) != fields(rs.head)).map(rs.head -> _)
    }.take(40).toSeq
    val heads = people.map(_.head).toIndexedSeq
    val adjacent = heads.sliding(2).take(20).map(s => (s(0), s(1))).toSeq
    val used = scala.collection.mutable.HashSet.empty[(Long, Long)]
    adjacent.foreach { case (a, b) => used += ((a.entry_id, b.entry_id)) }
    def hard(p: (E, E) => Boolean): Seq[(E, E)] =
      heads.indices.iterator.flatMap { i =>
        (i + 1 until heads.length).iterator.map(j => (heads(i), heads(j)))
      }.filter { case (a, b) =>
        p(a, b) && used.add((a.entry_id, b.entry_id))
      }.take(40).toSeq
    val distincts = adjacent ++
      hard((a, b) => a.first_name == b.first_name &&
        a.last_name == b.last_name) ++
      hard((a, b) => a.last_name == b.last_name && a.sex == b.sex &&
        a.first_name != b.first_name) ++
      hard((a, b) => a.dob != null && a.dob == b.dob)
    val schema = StructType(
      cfg.columns.map(c => StructField(s"l_$c", StringType)) ++
        cfg.columns.map(c => StructField(s"r_$c", StringType)) :+
        StructField("label", DoubleType))
    val out = (matches.map(_ -> 1.0) ++ distincts.map(_ -> 0.0)).map {
      case ((a, b), lbl) => Row.fromSeq(fields(a) ++ fields(b) :+ lbl)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), schema)
  }

  private def cfgOf(dir: Path) =
    DedupeConfig.load(dir.resolve("config.json").toString)

  def run(spark: SparkSession, in: Inputs, out: Path): Option[String] = {
    // The steps graft.Main takes.
    val cfg = cfgOf(in.dir)
    val entries = spark.read.parquet(in.dir.resolve("entries").toString)
    val result = DedupePipeline.run(entries, cfg)
    val hash = Settings.modelHash(cfg, result.model)
    result.uniqueMap.write.parquet(out.resolve("unique_map").toString)
    result.mapped.write.parquet(out.resolve("entries_unique").toString)
    result.release()
    Some(hash)
  }

  def traced(spark: SparkSession, in: Inputs, out: Path, t: Tracer,
      wallDone: () => Unit): Seq[(String, Double)] = {
    import org.apache.spark.storage.StorageLevel.{MEMORY_AND_DISK => Mem}
    val cfg = cfgOf(in.dir)
    val src = spark.read.parquet(in.dir.resolve("entries").toString)
      .persist(Mem)
    val eu = t.span("ops.preprocess") {
      val e = DedupePipeline.preprocess(src, cfg).persist(Mem)
      e.count()
      e
    }
    // trainOrLoad's steps, split between the model and the learner.
    val labeled = t.span("model.train") {
      Training.readTrainingFile(spark, cfg.trainingFile.get, cfg)
        .persist(Mem)
    }
    val model = t.span("model.train")(Training.train(cfg, labeled))
    val predicates = t.span("blocking.learn") {
      val learned = graft.blocking.PredicateLearner.learn(eu, labeled, cfg)
      val ps =
        if (learned.nonEmpty) learned
        else DedupePipeline.defaultPredicates(cfg)
      Settings(model, ps).save(cfg.settingsFile.get)
      ps
    }
    labeled.unpersist(false)
    val (bm, sc, pb) = t.span("blocking.block") {
      val b = DedupePipeline.block(eu, cfg, predicates)
      b._2.count()
      b
    }
    val scored = t.span("model.score") {
      val s = DedupePipeline.scorePairs(eu, sc, cfg, model)._2
        .select("l_id", "r_id", "score").persist(Mem)
      s.count()
      s
    }
    val em = t.span("cluster.hac") {
      val m = DedupePipeline.cluster(scored, cfg).persist(Mem)
      m.count()
      m
    }
    val (mapped, um) = t.span("cluster.apply") {
      val (m, u0) = DedupePipeline.apply(em, eu, src, cfg)
      val u = u0.persist(Mem)
      u.count()
      (m, u)
    }
    t.span("io.sink") {
      um.write.parquet(out.resolve("unique_map").toString)
      mapped.write.parquet(out.resolve("entries_unique").toString)
    }
    wallDone()

    try {
      val n = eu.count()
      val pairs = scored.count()
      val edges = scored.where(col("score") >= cfg.threshold).count()
      def largest(df: DataFrame, key: String) = df.groupBy(key).count()
        .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
      val maxBlock = largest(pb, "block_id")
      val maxComponent = largest(em, "canon_id")
      // Identity of a unique record: that of its smallest source key.
      val truthDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          in.truth.toSeq.map { case (k, v) => Row(k, v) }),
        StructType(Seq(StructField("key", LongType),
          StructField("ident", LongType))))
      val uid = eu.select(col("_unique_id"),
          element_at(col("src_ids"), 1).as("key"))
        .join(truthDf, "key").select("_unique_id", "ident")
        .persist(Mem)
      val truePairs = Workloads.sumOfPairs(uid.groupBy("ident").count()
        .select("count").collect().map(_.getLong(0).toInt))
      val foundPairs = scored
        .join(uid.toDF("l_id", "l_ident"), "l_id")
        .join(uid.toDF("r_id", "r_ident"), "r_id")
        .where(col("l_ident") === col("r_ident")).count()
      uid.unpersist(false)
      val cc = PhaseLog.drainNotes().getOrElse("cc_kernel.hac-cluster", "")
      val ccEdges = raw"\((\d+) edges".r.findFirstMatchIn(cc)
        .map(_.group(1).toDouble).getOrElse(Double.NaN)
      Seq(
        "ops.preprocess.rows_out" -> n.toDouble,
        "blocking.learn.predicates" -> predicates.size.toDouble,
        "blocking.block.max_block" -> maxBlock.toDouble,
        "blocking.block.reduction_ratio" -> pairs / (n * (n - 1) / 2.0),
        "blocking.block.pair_completeness" ->
          (if (truePairs == 0) 1.0 else foundPairs.toDouble / truePairs),
        "model.score.pairs" -> pairs.toDouble,
        "model.score.useful_ratio" -> edges.toDouble / math.max(1L, pairs),
        "cluster.hac.edges" -> ccEdges,
        "cluster.hac.run_star" ->
          (if (cc.startsWith("run-star")) 1.0 else 0.0),
        "cluster.hac.max_component" -> maxComponent.toDouble,
        "cluster.apply.entities" ->
          um.select("dedupe_id").distinct().count().toDouble)
    } finally Seq(src, eu, bm, pb, sc, scored, em, um)
      .foreach(_.unpersist(false))
  }

  def check(spark: SparkSession, in: Inputs, out: Path): Checked = {
    import spark.implicits._
    val assigned = spark.read.parquet(out.resolve("unique_map").toString)
      .select(col(Key), col("dedupe_id")).as[(Long, Long)].collect()
    // FakePersons never nulls first_name: every input record passes the
    // filter and must be assigned exactly once.
    val errors = Seq.newBuilder[String]
    if (!assigned.map(_._1).sorted.sameElements(in.truth.keys.toSeq.sorted))
      errors += "unique_map does not hold every input record exactly once"
    val identities = in.truth.values.toSet.size
    val entities = assigned.map(_._2).distinct.length
    if (entities * 2 < identities || entities > 2 * identities)
      errors += s"$entities entities outside [identities/2, 2*identities] " +
        s"for $identities identities"
    val (fm, fs) = Workloads.quality(assigned, in.truth)
    Checked(errors.result(), fm, fs)
  }
}

/** Near-duplicate removal over a generated document corpus: the
  * MinHash → Jaccard verify → keep-canonical chain of query q38, with
  * its constants, then a parquet sink.
  */
final class Corpus(val name: String, baseDocs: Int) extends Workload {

  private val Vocab = 20000

  def generate(spark: SparkSession, dir: Path, seed: Long, scale: Double)
      : Inputs = {
    import spark.implicits._
    Files.createDirectories(dir)
    val r = new Random(seed)
    // Zipf(1.1) token ranks by inverse CDF.
    val cdf = {
      val c = (1 to Vocab).map(i => math.pow(i.toDouble, -1.1))
        .scanLeft(0.0)(_ + _).tail.toArray
      c.map(_ / c.last)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      "w" + (if (i >= 0) i else math.min(-i - 1, Vocab - 1))
    }
    def text(n: Int) = Array.fill(n)(word())
    val nBase = math.max(20, (baseDocs * scale).round.toInt)
    // One base document in 20 is one of 8 instances of a template: the
    // same text with 2 to 6 slot tokens (fixed per template) filled in
    // differently. Instances are distinct families, and two instances
    // differing in only 2 slots pass a 0.9 Jaccard verify: the
    // boilerplate that near-dup removal merges by mistake.
    val templates = (0 until math.max(1, nBase / 160)).map { t =>
      val body = text(50 + r.nextInt(21))
      (body, r.shuffle(body.indices.toVector).take(2 + t % 5))
    }
    // 30% of base documents get 1-4 variants, each with 1-3 tokens
    // replaced; a document's family is its base document.
    val docs = (0 until nBase).flatMap { f =>
      val base =
        if (f % 20 != 0 || f / 160 >= templates.size) text(50 + r.nextInt(21))
        else {
          val (body, slots) = templates(f / 160)
          val b = body.clone()
          slots.foreach(i => b(i) = word())
          b
        }
      val variants =
        if (r.nextDouble() < 0.3) Seq.fill(1 + r.nextInt(4)) {
          val v = base.clone()
          (0 until 1 + r.nextInt(3))
            .foreach(_ => v(r.nextInt(v.length)) = word())
          v
        } else Nil
      (base +: variants).map(t => (f.toLong, t.mkString(" ")))
    }
    // Ids in shuffled order, so a family's members are not adjacent.
    val ids = r.shuffle((0L until docs.length.toLong).toVector)
    val rows = ids.zip(docs).map { case (id, (_, t)) => (id, t) }
    rows.toDF("doc_id", "text").write
      .parquet(dir.resolve("documents").toString)
    val truth = ids.zip(docs).map { case (id, (f, _)) => id -> f }.toMap
    Inputs(dir, Workloads.sha256(rows.iterator.map(_.toString)),
      Seq("documents" -> docs.length.toLong, "families" -> nBase.toLong),
      truth)
  }

  private def docs(spark: SparkSession, in: Inputs) =
    spark.read.parquet(in.dir.resolve("documents").toString)

  private def candidates(d: DataFrame) = TextDedup.minHashCandidates(d,
    "text", "doc_id", shingleK = DedupQueries.ShingleK,
    numHashes = DedupQueries.NumHashes, bands = DedupQueries.Bands)
  private def verify(d: DataFrame, c: DataFrame) = TextDedup.jaccardVerify(
    d, c, "text", "doc_id", shingleK = 1, minJaccard = 0.9)
  private def canonical(d: DataFrame, v: DataFrame) =
    TextDedup.keepCanonical(v.select("a_id", "b_id"), d, "doc_id")
      .select("doc_id", "canonical_id", "is_canonical")

  def run(spark: SparkSession, in: Inputs, out: Path): Option[String] = {
    val d = docs(spark, in)
    val c = candidates(d)
    val v = verify(d, c)
    canonical(d, v).write.parquet(out.resolve("canonical").toString)
    v.unpersist(false)
    c.unpersist(false)
    None
  }

  def traced(spark: SparkSession, in: Inputs, out: Path, t: Tracer,
      wallDone: () => Unit): Seq[(String, Double)] = {
    val d = docs(spark, in)
    val c = t.span("dedup.candidates")(candidates(d))
    val v = t.span("dedup.verify")(verify(d, c))
    val canon = t.span("cluster.canonical")(canonical(d, v))
    t.span("io.sink")(canon.write.parquet(out.resolve("canonical").toString))
    wallDone()
    try {
      val nc = c.count()
      Seq(
        "dedup.candidates.pairs" -> nc.toDouble,
        "dedup.verify.useful_ratio" -> v.count().toDouble / math.max(1L, nc),
        "cluster.canonical.components" -> spark.read
          .parquet(out.resolve("canonical").toString)
          .groupBy("canonical_id").count().where(col("count") > 1)
          .count().toDouble)
    } finally {
      v.unpersist(false)
      c.unpersist(false)
    }
  }

  def check(spark: SparkSession, in: Inputs, out: Path): Checked = {
    import spark.implicits._
    val rows = spark.read.parquet(out.resolve("canonical").toString)
      .select("doc_id", "canonical_id", "is_canonical")
      .as[(Long, Option[Long], Boolean)].collect()
    val errors = Seq.newBuilder[String]
    if (!rows.map(_._1).sorted.sameElements(in.truth.keys.toSeq.sorted))
      errors += "output does not hold every document exactly once"
    if (rows.exists(_._2.isEmpty))
      errors += "a document has no canonical_id"
    val canon = rows.collect { case (d, Some(c), _) => d -> c }.toMap
    if (rows.exists { case (d, c, is) => is != c.contains(d) })
      errors += "is_canonical disagrees with canonical_id"
    if (canon.values.exists(c => !canon.get(c).contains(c)))
      errors += "a canonical row is not its own canonical"
    val (fm, fs) = Workloads.quality(canon.toArray, in.truth)
    Checked(errors.result(), fm, fs)
  }
}
