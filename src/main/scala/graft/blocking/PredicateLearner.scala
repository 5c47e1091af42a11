package graft.blocking

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.config.DedupeConfig
import graft.ops.{collectRows, countRows}
import graft.pipeline.PhaseLog
import graft.pipeline.PhaseLog.timed

/** Blocking-predicate learning (ref: SURVEY.md D4 — the reference's
  * `deduper.train(recall=config['recall'])` at pgdedupe/run.py:175-178
  * learns, besides classifier weights, the predicate set whose blocks
  * cover ≥ `recall` of the labeled duplicate pairs while generating as
  * few candidate comparisons as possible; dedupe solves this as greedy
  * weighted set cover — Bilenko et al., "Adaptive Blocking: Learning to
  * Scale Up Record Linkage").
  *
  * Like the reference, which learns from a 75,000-record sample held in
  * a driver-side dict (pgdedupe/run.py:138-150), learning counts the
  * records, reads one seeded sample of at most [[SampleSize]] of them
  * and reads the labeled match pairs, one Spark job each; everything
  * else runs on the driver over a per-(field, value) table:
  *  - column-predicate keys are evaluated once per distinct value with
  *    the exact `ColumnPredicate.keys` Column expressions the blocker
  *    runs (over a local frame, which Spark evaluates without a job), so
  *    learned coverage can never drift from applied blocking;
  *  - canopy keys come from [[TfIdfCanopy.localSims]], the driver twin
  *    of the blocker's distributed fit, over sample values ∪ match-pair
  *    values (the reference indexes training records too);
  *  - a candidate's cost is Σ c·(c−1)/2 over its blocks of c records,
  *    its over-cap keys are the blocks larger than `max_block_size`, and
  *    its coverage is which match pairs share a surviving key.
  * Below [[SampleSize]] records the sample is the whole table and every
  * count is exact; above it, block counts are scaled by N/n, and a key
  * seen once in the sample counts as no pair and never over the cap.
  *
  * Known caveat: the canopy index is fitted over sample ∪ training-pair
  * values (pairs need norms to be scorable at all), while apply-time
  * blocking refits over the corpus alone. A training file referencing
  * OUT-OF-CORPUS values can credit canopy coverage the apply-time index
  * won't reproduce. Column predicates are immune by construction (keys
  * are pure per-value functions).
  */
object PredicateLearner {

  /** Most records learning reads: the reference's sample size
    * (pgdedupe/run.py:146), not a tuning knob. */
  private val SampleSize = 75000
  private val SampleSeed = 0

  /** Candidate pool per field type (legal shapes from the reference's
    * learner, SURVEY.md D5, including the TF-IDF canopy index shapes —
    * dedupe offers canopies at several thresholds; two here bound the
    * fitting cost). Deterministic order = tie-break order.
    */
  def candidates(cfg: DedupeConfig): Seq[Predicate] =
    cfg.fields.flatMap { f =>
      f.ftype match {
        case "String" =>
          Seq(WholeField(f.field), FirstChars(f.field, 2),
            FirstChars(f.field, 4), FirstChars(f.field, 6),
            FirstToken(f.field), SortedTokens(f.field),
            NGrams(f.field, 3), DigitsOnly(f.field),
            TfIdfCanopy(f.field, 0.8), TfIdfCanopy(f.field, 0.6))
        case _ => Seq(WholeField(f.field))
      }
    }.distinct

  /** One field's distinct non-null values, as strings (every candidate
    * keys the string form: `WholeField` casts, the other shapes only
    * apply to String fields; null keys to nothing under every predicate),
    * each value's record count in the sample, and the value indices of
    * every match pair's two sides (-1 for null).
    */
  private final case class FieldValues(
      values: IndexedSeq[String], count: Array[Long], pairs: Array[(Int, Int)])

  /** The learning state, all on the driver: for candidate `i`,
    * `keys(i)(v)` holds the key ids, in `[0, nKeys(i))`, of value `v` of
    * the candidate's field. `n` of `total` records were sampled.
    */
  private final case class Table(
      fields: Map[String, FieldValues],
      keys: Array[Array[Array[Int]]],
      nKeys: Array[Int],
      nMatches: Int,
      n: Int,
      total: Long) {
    def scale: Double = if (n == 0) 1.0 else total.toDouble / n
  }

  /** Reads the record count, the sample and the match pairs (a Spark
    * job each, none for pairs held on the driver) and keys every value.
    * The sample is the `sampleSize` rows with the lowest seeded hash of
    * `orderCols` (a second seeded hash breaks ties, so two rows tie only
    * if both 64-bit hashes collide), so it does not depend on
    * partitioning. The driver sorts and cuts the rows it receives. Above
    * `sampleSize` = n records only rows whose hash lies in the lowest
    * (n + 8√n)/N of its range reach the driver, which bounds what it
    * receives at any N. The passing count has mean n + 8√n and a
    * standard deviation near √n, so it falls short of n only some 8
    * deviations below its mean (the sample would then just be smaller).
    */
  private def table(
      records: DataFrame,
      matches: DataFrame,
      cands: Seq[Predicate],
      orderCols: Seq[String],
      sampleSize: Int): Table = {
    val spark = records.sparkSession
    val fieldNames = cands.map(_.field).distinct
    val total = countRows(records)
    def hash(seed: Int) = xxhash64(lit(seed) +: orderCols.map(col): _*)
    val frac = (sampleSize + 8 * math.sqrt(sampleSize)) / total
    val kept =
      if (frac >= 1) records
      else records.where(hash(SampleSeed) <=
        (Long.MinValue.toDouble + frac * math.pow(2, 64)).toLong)
    val nf = fieldNames.length
    val sample = collectRows(kept.select(fieldNames.map(f =>
        col(f).cast("string")) :+ hash(SampleSeed) :+ hash(SampleSeed + 1)
        : _*))
      .sortBy(r => (r.getLong(nf), r.getLong(nf + 1))).take(sampleSize)
    val pairRows = collectRows(matches.select(fieldNames.flatMap(f =>
      Seq(col(s"l_$f"), col(s"r_$f")).map(_.cast("string"))): _*))

    val fields = fieldNames.zipWithIndex.map { case (f, j) =>
      val index = mutable.HashMap.empty[String, Int]
      val values = mutable.ArrayBuffer.empty[String]
      val counts = mutable.ArrayBuffer.empty[Long]
      def id(v: String): Int =
        if (v == null) -1
        else index.getOrElseUpdate(v,
          { values += v; counts += 0L; values.length - 1 })
      sample.foreach { r =>
        val v = id(r.getString(j))
        if (v >= 0) counts(v) += 1
      }
      val pairs =
        pairRows.map(r => (id(r.getString(2 * j)), id(r.getString(2 * j + 1))))
      f -> FieldValues(values.toIndexedSeq, counts.toArray, pairs)
    }.toMap

    val keys = new Array[Array[Array[Int]]](cands.length)
    val nKeys = new Array[Int](cands.length)
    // Column candidates: one local frame, row v holding value v of every
    // field (null past a field's last value), every candidate a column
    // of one projection over its field. Spark folds the projection over
    // the local rows while optimizing, so no job runs and no class is
    // compiled. String keys are interned to ids.
    val colCands = cands.zipWithIndex.collect {
      case (p: ColumnPredicate, i) => (p, i)
    }
    if (colCands.nonEmpty) {
      val colFields = colCands.map(_._1.field).distinct
      val depth = colFields.map(fields(_).values.length).max
      val evaluated = collectRows(spark.createDataFrame(
          (0 until depth).map(v => Row.fromSeq(colFields.map { f =>
            fields(f).values.lift(v).orNull
          })).asJava,
          StructType(colFields.map(StructField(_, StringType))))
        .select(colCands.map { case (p, _) => p.keys(col(p.field)) }: _*))
      colCands.zipWithIndex.foreach { case ((p, i), c) =>
        val ids = mutable.HashMap.empty[String, Int]
        keys(i) = evaluated.iterator.take(fields(p.field).values.length)
          .map(r =>
            if (r.isNullAt(c)) Array.emptyIntArray
            else r.getSeq[String](c)
              .map(k => ids.getOrElseUpdate(k, ids.size)).toArray)
          .toArray
        nKeys(i) = ids.size
      }
    }
    // Canopy candidates: one fit per (field, ratio) over the field's
    // non-empty values (the blocker's fit excludes ""); a key is the
    // index of the canopy center.
    cands.zipWithIndex.collect { case (p: TfIdfCanopy, i) => (p, i) }
      .groupBy { case (p, _) => (p.field, p.maxDfRatio) }
      .foreach { case ((f, ratio), ps) =>
        val values = fields(f).values
        val fit = values.indices.filter(v => values(v).nonEmpty)
        val sims = TfIdfCanopy.localSims(fit.map(values), ratio,
          ps.map(_._1.threshold).min)
        ps.foreach { case (p, i) =>
          val k = Array.fill(values.length)(Array.emptyIntArray)
          fit.indices.foreach { a =>
            val (bs, cs) = sims(a)
            k(fit(a)) = bs.indices.collect {
              case j if cs(j) >= p.threshold => fit(bs(j))
            }.toArray
          }
          keys(i) = k
          nKeys(i) = values.length
        }
      }
    Table(fields, keys, nKeys, pairRows.length, sample.length, total)
  }

  /** Per candidate, each key's block size in sample records. */
  private def blockCounts(
      t: Table, cands: Seq[Predicate]): Array[Array[Long]] =
    Array.tabulate(cands.length) { i =>
      val c = new Array[Long](t.nKeys(i))
      val cnt = t.fields(cands(i).field).count
      val ks = t.keys(i)
      var v = 0
      while (v < ks.length) {
        ks(v).foreach(k => c(k) += cnt(v))
        v += 1
      }
      c
    }

  /** Which candidates cover each labeled match pair: boolean matrix
    * [match pair][candidate]. `overCap(i)(k)` marks candidate i's keys
    * whose block exceeds the block-size cap. Blocking DROPS those blocks
    * (`RelationalOps.blockLists`), so a match pair reachable only through
    * one is NOT covered — crediting it made a degenerate predicate (one
    * giant all-rows block: zero surviving cost, "full" coverage) the
    * greedy pick, silently producing zero candidate pairs at apply time.
    */
  private def coverage(
      t: Table,
      cands: Seq[Predicate],
      overCap: Array[Array[Boolean]]): Array[Array[Boolean]] =
    Array.tabulate(t.nMatches, cands.length) { (m, i) =>
      val (l, r) = t.fields(cands(i).field).pairs(m)
      l >= 0 && r >= 0 && {
        val rk = t.keys(i)(r)
        t.keys(i)(l).exists(k => !overCap(i)(k) && rk.contains(k))
      }
    }

  /** Coverage of `matchPairs` (l_<field>/r_<field> columns, all matches)
    * by `cands`, keys fitted on `records`, no block-size cap. */
  def coverage(
      matchPairs: DataFrame,
      cands: Seq[Predicate],
      records: DataFrame): Array[Array[Boolean]] = {
    val t = table(records, matchPairs, cands, cands.map(_.field).distinct,
      SampleSize)
    coverage(t, cands, t.nKeys.map(new Array[Boolean](_)))
  }

  /** The candidates, each one's estimated comparison cost, and which
    * labeled match pairs it covers through blocks under the cap
    * ([match pair][candidate]), from a sample of at most `sampleSize`
    * of the unique `records` (keyed by `_unique_id`, as preprocessing
    * leaves them).
    */
  private[blocking] def scored(
      records: DataFrame,
      matchPairs: DataFrame,
      cfg: DedupeConfig,
      sampleSize: Int)
      : (Seq[Predicate], Array[Double], Array[Array[Boolean]]) = {
    val cands = candidates(cfg)
    val t = timed("learn_fit")(table(records,
      matchPairs.where(col("label") === 1.0), cands, Seq("_unique_id"),
      sampleSize))
    PhaseLog.note("learn_sample",
      if (t.total > t.n) s"${t.n} of ${t.total} (seed $SampleSeed)"
      else s"all (${t.n} records)")
    // Costs first: their block counts also yield the over-cap keys the
    // coverage must NOT credit. A block's size is estimated as its sample
    // count × N/n; a key seen once in the sample evidences no pair, so it
    // adds no cost and is never over the cap.
    val cap = cfg.maxBlockSize.toDouble
    val (cost, overCap) = timed("learn_costs") {
      val counts = timed("learn_costs_counts")(blockCounts(t, cands))
      val cost = counts.map(_.foldLeft(0.0) { (acc, c) =>
        val s = c * t.scale
        if (c > 1 && s <= cap) acc + s * (s - 1) / 2 else acc
      })
      (cost, timed("learn_costs_overcap")(
        counts.map(_.map(c => c > 1 && c * t.scale > cap))))
    }
    (cands, cost, timed("learn_coverage")(coverage(t, cands, overCap)))
  }

  /** Greedy weighted set cover: repeatedly pick the candidate with the
    * best (newly covered pairs) / (comparison cost) ratio until coverage
    * ≥ recall × |matches| or no candidate adds coverage. Deterministic:
    * ties break to the lower candidate index.
    */
  def learn(
      records: DataFrame,
      matchPairs: DataFrame,
      cfg: DedupeConfig): Seq[Predicate] =
    learn(records, matchPairs, cfg, SampleSize)

  private[blocking] def learn(
      records: DataFrame,
      matchPairs: DataFrame,
      cfg: DedupeConfig,
      sampleSize: Int): Seq[Predicate] = {
    val (cands, cost, cover) = scored(records, matchPairs, cfg, sampleSize)
    val nMatches = cover.length
    if (nMatches == 0) return Nil
    val target = math.ceil(cfg.recall * nMatches).toLong

    val covered = Array.fill(nMatches)(false)
    val chosen = mutable.ArrayBuffer.empty[Int]
    var total = 0L
    var progress = true
    while (total < target && progress) {
      var best = -1
      var bestScore = 0.0
      var i = 0
      while (i < cands.length) {
        if (!chosen.contains(i)) {
          var gain = 0
          var m = 0
          while (m < nMatches) {
            if (!covered(m) && cover(m)(i)) gain += 1
            m += 1
          }
          // +1 smoothing: a zero-cost predicate with positive gain wins.
          val score = gain / (cost(i) + 1.0)
          if (gain > 0 && score > bestScore) { bestScore = score; best = i }
        }
        i += 1
      }
      if (best < 0) progress = false
      else {
        chosen += best
        var m = 0
        while (m < nMatches) {
          if (!covered(m) && cover(m)(best)) { covered(m) = true; total += 1 }
          m += 1
        }
      }
    }
    chosen.map(cands(_)).toSeq
  }
}
