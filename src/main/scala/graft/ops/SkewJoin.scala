package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for heavy key skew — the explicit scale tool for the
  * case AQE's skew-join split cannot reach (it only splits sort-merge
  * partitions AFTER a shuffle has already materialized the hot key into
  * one task's input, and does nothing for the downstream operators that
  * inherit the skewed partitioning).
  *
  * Shape: the fact side's HOT keys (count > hotKeyThreshold, found with
  * one aggregate) are salted into `saltFactor` sub-keys by a
  * deterministic hash of the whole row — no RNG, so the plan is
  * reproducible run-to-run; cold keys keep salt 0. The dim side
  * replicates rows `saltFactor`× for hot keys only (cold rows are not
  * replicated), and the join runs on (key, salt). Replication cost is
  * saltFactor × |dim rows on hot keys|, paid to turn one straggler task
  * into `saltFactor` even ones.
  *
  * The hot-key set travels as DATA (a broadcast single-column frame each
  * side left-joins to tag hotness), not as a plan literal: the previous
  * `array_contains(array(lit…))` form embedded |hot| literals in the
  * expression tree and scanned them per row — fine for 5 demo keys,
  * analysis/codegen blowup and an O(|hot|) per-row probe at the
  * documented 100k cap. With the broadcast tag the plan size is O(1) in
  * |hot| (gated in SkewJoinSpec) and the probe is one hash lookup.
  *
  * Known limitation (documented, deliberate): the salt is a hash of the
  * WHOLE fact row, so fully identical duplicate rows — a real skew shape
  * (repeated identical events) — share a salt and still funnel into one
  * sub-key. Mixing in `spark_partition_id` or a monotonic offset would
  * spread them but break the run-to-run determinism the oracle-exact
  * hash comparison (q29) relies on; callers with duplicate-row skew
  * should pre-aggregate a count or add a discriminator column upstream.
  *
  * The hot-key collect is bounded by construction — at most
  * |fact| / hotKeyThreshold keys can exceed the threshold — and guarded
  * loudly anyway (same contract as the learner's over-cap collect).
  */
object SkewJoin {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** First name in `base`, `base_1`, `base_2`, … absent from every given
    * schema — internal working columns must not collide with caller
    * columns (a caller-owned `_salt` would silently be overwritten and
    * dropped). Case-INsensitive: Spark's default resolver is, so a
    * caller `_SALT` would collide just as silently as an exact match.
    */
  private def freshName(base: String, taken: Set[String]): String = {
    val lower = taken.map(_.toLowerCase(java.util.Locale.ROOT))
    (base +: LazyList.from(1).map(i => s"${base}_$i"))
      .find(n => !lower.contains(n.toLowerCase(java.util.Locale.ROOT))).get
  }

  /** Column reference by EXACT name, backtick-quoted: a bare col(name)
    * parses dots as nested-field access, so a caller column literally
    * named "user.id" would fail to resolve — and only on the SKEWED
    * path, the latent production-only crash class this file already
    * guards against for map types.
    */
  private def qcol(name: String) =
    col("`" + name.replace("`", "``") + "`")

  /** True when the type tree contains a MapType anywhere — such columns
    * cannot feed `hash()` (analysis-time rejection). */
  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => containsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType =>
        containsMap(a.elementType)
      case _ => false
    }

  /** Most hot keys [[saltedInner]] salts; past it, the most frequent
    * are kept and the rest join unsalted (with a warning). */
  private val MaxHotKeys = 100000

  /** Inner equi-join of `fact` with `dim` on `key`, salt-spread over the
    * fact side's hot keys. Output columns = fact ⋈ dim as a plain inner
    * join on `key` (one shared `key` column, then fact payload, then dim
    * payload); row multiset identical to the unsalted join.
    */
  def saltedInner(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      saltFactor: Int = 16,
      hotKeyThreshold: Long = 1000000L): DataFrame = {
    require(saltFactor > 1, "saltFactor must be > 1")
    val spark = fact.sparkSession

    // Ordered by count desc (the biggest stragglers matter most), then
    // key — so a truncation past the cap keeps a deterministic,
    // maximally useful subset instead of an arbitrary unordered limit()
    // (same contract as the learner's over-cap collect).
    // The count alias is collision-proofed like the salt columns: a
    // fact KEY literally named "cnt" would otherwise make the filter's
    // col("cnt") ambiguous and crash before any salting.
    val cntCol = freshName("_skew_cnt", fact.columns.toSet + key)
    val hotRows = fact.groupBy(qcol(key))
      .agg(count(lit(1)).as(cntCol))
      .where(col(cntCol) > hotKeyThreshold)
      .orderBy(col(cntCol).desc, qcol(key))
      .select(qcol(key))
      .limit(MaxHotKeys + 1)
      .collect()
    if (hotRows.length > MaxHotKeys)
      log.warn(s"more than $MaxHotKeys hot keys above $hotKeyThreshold — " +
        "salting only the first; raise hotKeyThreshold")

    if (hotRows.isEmpty) return fact.join(dim, key)

    val taken = (fact.columns ++ dim.columns).toSet
    val saltCol = freshName("_salt", taken)
    val hotCol = freshName("_is_hot", taken)

    // The hot keys as a broadcast LocalRelation: rows, not expression
    // nodes, so analysis/codegen cost doesn't grow with |hot| and the
    // per-row membership probe is the broadcast hash join's O(1) lookup.
    val hotDf = broadcast(spark.createDataFrame(
        java.util.Arrays.asList(hotRows.take(MaxHotKeys): _*),
        fact.select(qcol(key)).schema)
      .withColumn(hotCol, lit(true)))

    // Deterministic spread: hash of the whole fact row — distinct
    // payload rows of a hot key scatter across saltFactor sub-keys,
    // identically on every run. The hash covers only the ORIGINAL fact
    // columns (captured before the tag join adds the marker), minus any
    // column whose type transitively contains a MapType: `hash()`
    // rejects maps at analysis time, and failing only on skewed runs
    // (the unskewed path short-circuits above) would be a latent
    // production-only crash. Rows differing only in excluded map
    // payload share a salt — the documented duplicate-row limitation,
    // slightly widened.
    val factCols = fact.schema.fields.toSeq
      .filterNot(f => containsMap(f.dataType)).map(f => qcol(f.name))
    val factSalted = fact.join(hotDf, Seq(key), "left")
      .withColumn(saltCol,
        when(col(hotCol), pmod(hash(struct(factCols: _*)), lit(saltFactor)))
          .otherwise(lit(0)))
      .drop(hotCol)
    val dimSalted = dim.join(hotDf, Seq(key), "left")
      .withColumn(saltCol,
        explode(when(col(hotCol), sequence(lit(0), lit(saltFactor - 1)))
          .otherwise(array(lit(0)))))
      .drop(hotCol)

    factSalted.join(dimSalted, Seq(key, saltCol)).drop(saltCol)
  }
}
