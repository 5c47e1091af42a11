package graft.model

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.config.DedupeConfig
import graft.similarity.Comparators

/** Closed-loop active learning over candidate pairs (ref: the console
  * labeling loop at pgdedupe/run.py:161-173 — dedupe surfaces the pair
  * the model is LEAST certain about, a human answers y/n/unsure, and
  * the model refits; `finish` ends the session). The Spark surface
  * replaces the console with a programmatic label oracle (ground truth
  * in tests, a labeling UI/service in production) and makes the loop's
  * stopping rule explicit: a label budget, a round cap, pool
  * exhaustion, or a model-definition-hash FIXPOINT (a refit after the
  * newest batch left the model bit-identical — more labels from this
  * pool teach it nothing).
  *
  * Plan economy — per round the cluster does ONE linear scan:
  * comparator features over the candidate pool are computed once and
  * cached; each round re-scores that cached frame with the new weights
  * as a literal-only codegen'd projection (no shuffle — the weights
  * travel in the plan), and takes the most-uncertain batch via
  * orderBy+limit = TakeOrdered (per-partition top-n, driver merge).
  * The IRLS refit itself is driver-side over the labeled rows, which
  * are human-labeled and therefore ≤ budget ≈ hundreds (same cap
  * argument as Training.train); they are kept on the driver and
  * re-created as a LocalRelation per round so the training lineage
  * never grows with rounds.
  */
object ActiveLearning {

  /** One train→sample→label round: cumulative label count and the
    * fitted model's definition hash after training on them.
    */
  final case class RoundLog(round: Int, totalLabels: Int, modelHash: String)

  final case class Result(
      model: LogisticModel,
      labeled: DataFrame,
      rounds: Seq[RoundLog],
      stoppedBy: String) {
    def totalLabels: Int = rounds.lastOption.map(_.totalLabels).getOrElse(0)
  }

  /** Console label oracle — the literal interactive labeling shell from
    * the reference (pgdedupe/run.py:161-173, dedupe's console_label):
    * print each surfaced pair's field values side by side, read
    * y/n/u(nsure)/f(inish) from the reader, label y=1.0 / n=0.0, drop
    * unsure rows, and on finish drop the rest of the batch AND every
    * later batch (the flag outlives one invocation — finish given after
    * a few labels still ends the session, not just the batch): the
    * final partial batch's labels feed one last refit, then `run`'s
    * pool-exhausted stopping rule ends the session exactly like the
    * reference's `finish`. Reader/writer are injectable so the suite
    * (and any non-TTY caller) can drive the loop without a console;
    * EOF on the reader is treated as finish. The batch is at most
    * `batchSize` rows (the human is the bottleneck), so the collect is
    * bounded by construction.
    */
  def consoleOracle(
      cfg: DedupeConfig,
      in: java.io.BufferedReader = new java.io.BufferedReader(
        new java.io.InputStreamReader(System.in)),
      out: java.io.PrintStream = System.out): DataFrame => DataFrame = {
    // Captured OUTSIDE the per-batch closure: finish must end the
    // SESSION, and `run` keeps looping as long as batches return rows —
    // a per-batch flag silently ignored a finish that followed any
    // label in its batch.
    var finished = false
    batch =>
      val spark = batch.sparkSession
      val labeled = batch.collect().flatMap { r =>
        if (finished) None
        else {
          cfg.columns.foreach { c =>
            out.println(s"$c : ${r.getAs[Any](s"l_$c")}  |  " +
              s"${r.getAs[Any](s"r_$c")}")
          }
          out.println("Do these records refer to the same thing? " +
            "(y)es / (n)o / (u)nsure / (f)inish")
          var ans: Option[Option[Double]] = None
          while (ans.isEmpty) {
            Option(in.readLine()).map(_.trim.toLowerCase) match {
              case Some("y") | Some("yes")    => ans = Some(Some(1.0))
              case Some("n") | Some("no")     => ans = Some(Some(0.0))
              case Some("u") | Some("unsure") => ans = Some(None)
              case Some("f") | Some("finish") | None =>
                finished = true; ans = Some(None)
              case Some(_) =>
                out.println("valid answers: y / n / u / f")
            }
          }
          ans.get.map(l => Row.fromSeq(r.toSeq :+ l))
        }
      }
      spark.createDataFrame(
        java.util.Arrays.asList(labeled: _*),
        StructType(batch.schema.fields :+
          StructField("label", DoubleType, nullable = false)))
  }

  /** [[run]]'s cap on labeling rounds. */
  private val MaxRounds = 50

  /** Run the loop.
    *
    * @param candidates pair pool: `l_id`/`r_id` plus `l_<field>` /
    *   `r_<field>` payload columns for every cfg field (the blocked
    *   candidate pairs a real session scores — extra columns pass
    *   through to the oracle untouched).
    * @param labelOracle the simulated labeler: receives a batch of
    *   candidate rows, must return it with a `label` column
    *   (1.0 match / 0.0 distinct). Rows it drops are treated as
    *   "unsure" and never re-surfaced.
    * @param seed initial labeled pairs (same columns as candidates plus
    *   `label`); needs at least one of each class for the first fit,
    *   like the reference's seeded console session.
    */
  def run(
      cfg: DedupeConfig,
      candidates: DataFrame,
      labelOracle: DataFrame => DataFrame,
      seed: DataFrame,
      batchSize: Int = 10,
      labelBudget: Int = 100): Result = {
    require(batchSize > 0, s"batchSize $batchSize")
    require(labelBudget > 0, s"labelBudget $labelBudget")
    val spark = candidates.sparkSession

    val keep = Seq("l_id", "r_id") ++
      cfg.columns.map(c => s"l_$c") ++ cfg.columns.map(c => s"r_$c")
    val labeledSchema = StructType(
      candidates.select(keep.map(col): _*).schema.fields :+
        StructField("label", DoubleType, nullable = false))
    def toLabeledRows(df: DataFrame): Array[Row] =
      df.select((keep.map(col) :+ col("label").cast("double")): _*).collect()

    // Features over the pool: computed once, scored per round with
    // literal weights. Released before return. Null-id pairs are
    // dropped up front: the seen-pair exclusion compares ids
    // structurally, and SQL NULL never equals anything, so a null-id
    // pair could be re-surfaced to the oracle every round.
    val feats = Comparators.withFeatures(cfg,
        candidates.where(col("l_id").isNotNull && col("r_id").isNotNull))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var labeledRows = toLabeledRows(seed).toVector
      require(labeledRows.nonEmpty, "seed must contain labeled pairs")
      // Every (l_id, r_id) ever sent to the oracle — including pairs it
      // dropped as unsure, which must not be re-surfaced.
      var surfacedIds = Vector.empty[(Any, Any)]
      var rounds = Vector.empty[RoundLog]
      var prevHash: Option[String] = None
      var model: LogisticModel = null
      var stoppedBy: Option[String] = None
      var round = 0
      while (stoppedBy.isEmpty) {
        round += 1
        val labeledDf = spark.createDataFrame(
          spark.sparkContext.parallelize(labeledRows, 1), labeledSchema)
        model = Training.train(cfg, labeledDf)
        val hash = Settings.modelHash(cfg, model)
        rounds :+= RoundLog(round, labeledRows.length, hash)
        if (prevHash.contains(hash)) stoppedBy = Some("fixpoint")
        else if (labeledRows.length >= labelBudget) stoppedBy = Some("budget")
        else if (round >= MaxRounds) stoppedBy = Some("rounds")
        else {
          prevHash = Some(hash)
          // Exclude every pair already SURFACED to the oracle (labeled
          // or answered "unsure" — the contract says dropped rows are
          // never re-surfaced; excluding only labeled rows re-asked the
          // human the same unanswerable question every round) plus the
          // seed. The set is driver-resident and bounded by
          // budget + rounds×batch, so an IN literal list keeps the
          // exclusion inside codegen (no extra join). Compared
          // STRUCTURALLY — a delimiter-joined string would collide for
          // string ids containing the delimiter (l_id="a|b", r_id="c"
          // vs l_id="a", r_id="b|c") and silently exclude never-labeled
          // candidates.
          // Literals are cast to the pool's id types: a bare lit picks
          // its own type from the runtime value (and NullType for
          // null), which can fail In's type coercion at analysis when
          // it disagrees with the frame's schema.
          val lDt = feats.schema("l_id").dataType
          val rDt = feats.schema("r_id").dataType
          val seen = (labeledRows.map(r => (r.get(0), r.get(1))) ++
            surfacedIds).distinct
            .map { case (l, r) =>
              struct(lit(l).cast(lDt), lit(r).cast(rDt))
            }
          val scored = feats
            .where(!struct(col("l_id"), col("r_id")).isin(seen: _*))
            .withColumn("score", model.scoreColumnNamed)
          val want = math.min(batchSize, labelBudget - labeledRows.length)
          // Collect the batch ONCE (≤ batchSize rows) and hand the
          // oracle a LocalRelation: recording surfaced ids from the
          // distributed frame would re-run the scoring scan per round.
          val toLabel = Training.uncertainPairs(scored, want)
            .drop("uncertainty", "score")
            .drop(Comparators.featureNames(cfg): _*)
          val toLabelRows = toLabel.collect()
          surfacedIds ++= toLabelRows.map(r =>
            (r.getAs[Any]("l_id"), r.getAs[Any]("r_id")))
          val batch = labelOracle(spark.createDataFrame(
            java.util.Arrays.asList(toLabelRows: _*), toLabel.schema))
          val fresh = toLabeledRows(batch)
          if (fresh.isEmpty) stoppedBy = Some("pool-exhausted")
          else labeledRows ++= fresh
        }
      }
      val labeledDf = spark.createDataFrame(
        spark.sparkContext.parallelize(labeledRows, 1), labeledSchema)
      Result(model, labeledDf, rounds, stoppedBy.get)
    } finally feats.unpersist(false)
  }
}
