package graft.model

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.config.DedupeConfig
import graft.similarity.Comparators

/** Labeled training pairs + the pairwise-classifier trainer
  * (ref: SURVEY.md D2/D3 — the reference reads labeled pairs from
  * `training_file` (pgdedupe/run.py:156-159, format
  * tests/dedup_postgres_training.json) and fits the configured
  * classifier, default L2-regularized logistic regression
  * (run.py:36-37, rlr.RegularizedLogisticRegression), via
  * `deduper.train` (run.py:178)).
  *
  * Labeled data is human-labeled and therefore tiny by construction
  * (hundreds of pairs); like the reference, feature extraction runs
  * through the engine but the optimizer itself runs on the driver over
  * the collected feature matrix. Model size is O(#fields) doubles.
  */
object Training {

  /** Parse the reference's training-file JSON
    * (`{"distinct": [{"__class__":"tuple","__value__":[recA, recB]}, …],
    *   "match": [...]}` — records are field→value dicts, null allowed)
    * into a pair-DataFrame with `l_<field>`/`r_<field>` string columns
    * and `label` (1.0 = match, 0.0 = distinct).
    */
  def readTrainingFile(
      spark: SparkSession, path: String, cfg: DedupeConfig): DataFrame =
    parseTrainingJson(spark, Files.readString(Paths.get(path)), cfg)

  def parseTrainingJson(
      spark: SparkSession, json: String, cfg: DedupeConfig): DataFrame = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val root = yaml.load[java.util.Map[String, Object]](json).asScala
    def pairs(key: String, label: Double): Seq[Row] =
      root.get(key).toSeq.flatMap { v =>
        v.asInstanceOf[java.util.List[Object]].asScala.map { entry =>
          val tup = entry.asInstanceOf[java.util.Map[String, Object]]
            .get("__value__").asInstanceOf[java.util.List[Object]].asScala
          def rec(o: Object): Map[String, String] =
            o.asInstanceOf[java.util.Map[String, Object]].asScala.toMap
              .map { case (k, x) =>
                k -> (if (x == null) null else x.toString)
              }
          val (a, b) = (rec(tup(0)), rec(tup(1)))
          Row.fromSeq(
            cfg.columns.map(c => a.getOrElse(c, null)) ++
              cfg.columns.map(c => b.getOrElse(c, null)) :+ label)
        }
      }
    val schema = StructType(
      cfg.columns.map(c => StructField(s"l_$c", StringType)) ++
        cfg.columns.map(c => StructField(s"r_$c", StringType)) :+
        StructField("label", DoubleType, nullable = false))
    spark.createDataFrame(
      (pairs("match", 1.0) ++ pairs("distinct", 0.0)).asJava, schema)
  }

  /** Non-interactive active-learning sampler (ref: the console loop at
    * pgdedupe/run.py:161-173 — dedupe surfaces the pairs it is LEAST
    * certain about for human labeling; the reference's own CI never
    * prompts, SURVEY §7.4, so the Spark surface emits the uncertain
    * pairs as data instead of prompting): the `n` scored pairs closest
    * to P(dup) = 0.5, field payloads kept for the labeler,
    * most-uncertain first with a deterministic tie-break. orderBy+limit
    * compiles to TakeOrdered — per-partition top-n then a driver merge
    * of n·#partitions rows, no global sort materialization.
    */
  def uncertainPairs(scoredPairs: DataFrame, n: Int): DataFrame =
    scoredPairs
      .withColumn("uncertainty", abs(col("score") - lit(0.5)))
      .orderBy(col("uncertainty").asc, col("l_id").asc, col("r_id").asc)
      .limit(n)

  /** Serialize labeled pairs back into the reference's training-file
    * JSON (the exact shape `parseTrainingJson` reads — see
    * tests/dedup_postgres_training.json), closing the loop:
    * uncertainPairs → label → toTrainingJson → readTrainingFile → train.
    * Labeled data is tiny by construction (same cap argument as
    * `train`).
    */
  def toTrainingJson(labeled: DataFrame, cfg: DedupeConfig): String = {
    // JsonStr (the ONE escaper): everything the YAML reader can reject
    // — controls, C1, non-characters, and lone surrogates, which
    // Files.writeString cannot even encode (found by the hostile-value
    // round-trip property test; the escaper history is in JsonStr's
    // scaladoc).
    val q = graft.JsonStr.escape _
    def rec(r: Row, side: String) = cfg.columns.map { c =>
      val v = r.getAs[String](s"${side}_$c")
      s"${q(c)}: ${if (v == null) "null" else q(v)}"
    }.mkString("{", ", ", "}")
    val rows = labeled
      .select((cfg.columns.map(c => col(s"l_$c")) ++
        cfg.columns.map(c => col(s"r_$c")) :+ col("label")): _*)
      .collect()
    def bucket(lbl: Double) = rows.iterator
      .filter(_.getAs[Double]("label") == lbl)
      .map(r => s"""{"__class__": "tuple", "__value__": """ +
        s"[${rec(r, "l")}, ${rec(r, "r")}]}")
      .mkString("[", ", ", "]")
    s"""{"match": ${bucket(1.0)}, "distinct": ${bucket(0.0)}}"""
  }

  private val MaxLabeledPairs = 100000L

  /** Fit an L2-regularized logistic regression on the labeled pairs'
    * comparator features (IRLS/Newton — deterministic: zero init, fixed
    * iteration cap, no sampling). `alpha` is the L2 strength on the
    * weights (bias unregularized), matching the rlr default's shape.
    */
  def train(
      cfg: DedupeConfig,
      labeledPairs: DataFrame,
      alpha: Double = 1.0,
      maxIter: Int = 50): LogisticModel = {
    val names = Comparators.featureNames(cfg)
    // Labeled pairs are human-labeled, so hundreds at most; the feature
    // matrix is collected to the driver for the IRLS solve. Guard loudly
    // against a programmatic caller feeding millions of pairs — that
    // would OOM the driver silently otherwise. The bounded read is the
    // guard: above the cap only counts reach the driver.
    val rows = graft.ops.collectAtMost(
      Comparators.withFeatures(cfg, labeledPairs)
        .select((names.map(col) :+ col("label")): _*),
      MaxLabeledPairs)
      .getOrElse(throw new IllegalArgumentException(
        "Training.train collects the feature matrix on the driver; got " +
          s"more than $MaxLabeledPairs labeled pairs. Downsample first — " +
          "labeled training data at this size is not human-labeled."))
    val d = names.length
    val n = rows.length
    require(n > 0, "empty training set")
    val x = Array.tabulate(n, d)((i, j) => rows(i).getDouble(j))
    val y = Array.tabulate(n)(i => rows(i).getDouble(d))

    // IRLS over [bias, w]: H = X'SX + diag(0, α…α), g = X'(p−y) + α[0,w].
    val w = new Array[Double](d + 1)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val g = new Array[Double](d + 1)
      val h = Array.ofDim[Double](d + 1, d + 1)
      var i = 0
      while (i < n) {
        var z = w(0)
        var j = 0
        while (j < d) { z += w(j + 1) * x(i)(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val s = math.max(p * (1.0 - p), 1e-6)
        val r = p - y(i)
        g(0) += r
        j = 0
        while (j < d) { g(j + 1) += r * x(i)(j); j += 1 }
        h(0)(0) += s
        j = 0
        while (j < d) {
          h(0)(j + 1) += s * x(i)(j)
          h(j + 1)(0) += s * x(i)(j)
          var k = 0
          while (k < d) {
            h(j + 1)(k + 1) += s * x(i)(j) * x(i)(k)
            k += 1
          }
          j += 1
        }
        i += 1
      }
      var j = 1
      while (j <= d) { g(j) += alpha * w(j); h(j)(j) += alpha; j += 1 }
      val step = solve(h, g)
      var maxStep = 0.0
      j = 0
      while (j <= d) {
        w(j) -= step(j)
        maxStep = math.max(maxStep, math.abs(step(j)))
        j += 1
      }
      converged = maxStep < 1e-8
      iter += 1
    }
    LogisticModel(names, w.drop(1).toSeq, w(0))
  }

  /** Gaussian elimination with partial pivoting (tiny dims). */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val m = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    var col = 0
    while (col < m) {
      var piv = col
      var r = col + 1
      while (r < m) {
        if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        r += 1
      }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      // SIGN-PRESERVING clamp: clamping a tiny NEGATIVE pivot to +1e-12
      // would flip the Newton step's direction for that component
      // (collinear features make the Hessian singular and the pivot
      // rounding noise of either sign) - the magnitude floor is kept,
      // the sign is not invented.
      val d0 = a(col)(col)
      val diag =
        if (math.abs(d0) >= 1e-12) d0 else if (d0 < 0) -1e-12 else 1e-12
      r = col + 1
      while (r < m) {
        val f = a(r)(col) / diag
        var c = col
        while (c < m) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val xs = new Array[Double](m)
    var r = m - 1
    while (r >= 0) {
      var s = b(r)
      var c = r + 1
      while (c < m) { s -= a(r)(c) * xs(c); c += 1 }
      val d0 = a(r)(r) // sign-preserving clamp, as in the elimination
      val diag =
        if (math.abs(d0) >= 1e-12) d0 else if (d0 < 0) -1e-12 else 1e-12
      xs(r) = s / diag
      r -= 1
    }
    xs
  }
}
