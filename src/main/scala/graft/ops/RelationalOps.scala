package graft.ops

import org.apache.spark.sql.{Column, DataFrame, InternalFrames}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}

/** The reference's relational pipeline stages as pure DataFrame => DataFrame
  * functions (ref: SURVEY.md §2 / pgdedupe/run.py). Each stage is
  * individually testable (ref: tests/test_reproducibility.py:10 imports the
  * phases directly — the phases ARE the public API, SURVEY.md §3.3).
  */
object RelationalOps {

  /** Dense 1-based surrogate ids in the given total order, without the
    * single-task bottleneck of `row_number()` over an unpartitioned
    * Window: range-repartition + in-partition sort yields the same total
    * order across ordered partitions, then `zipWithIndex` assigns global
    * offsets with O(#partitions) driver work. Equivalent to
    * `row_number() OVER (ORDER BY order...)` whenever the order keys are
    * unique (true for every caller: group-by tuples / distinct keys), and
    * every stage runs on all executors. Partition boundaries come from
    * sampling, but with unique keys they only move rows between ordered
    * partitions — the assigned ids are a pure function of the sort order,
    * so runs are deterministic (reproducibility gate, SURVEY §7.4).
    */
  def denseIds(df: DataFrame, order: Seq[Column], idName: String): DataFrame =
    numberRanged(df.repartitionByRange(order: _*), order, idName)

  /** [[denseIds]] over a frame already range-partitioned by `order`.
    *
    * The RDD seam below deliberately ends Catalyst's view of the plan:
    * AQE + whole-stage codegen cover the upstream exchange and sort, and
    * the numbering needs a FIXED partitioning underneath zipWithIndex
    * (AQE re-planning between the count job and a consumer would shift
    * ids). The seam is materialized ONCE — zipWithIndex's eager
    * per-partition count job computes the exchange, and every downstream
    * action reuses its shuffle files (Spark keeps shuffle output of a
    * live RDD), so no persist handle is needed here. It carries Catalyst
    * rows both ways, so no Row encoder is generated for either side.
    */
  private def numberRanged(
      ranged: DataFrame, order: Seq[Column], idName: String): DataFrame = {
    val sorted = ranged.sortWithinPartitions(order: _*)
    val schema = sorted.schema // the closure must not capture the frame
    // zipWithIndex runs its count job here, as an action would.
    val numbered = asAction(sorted, "denseIds")(_.zipWithIndex()).map {
      case (r, i) =>
        val out = new GenericInternalRow(schema.length + 1)
        r.copy().toSeq(schema).copyToArray(out.values)
        out.setLong(schema.length, i + 1L)
        out: InternalRow
    }
    InternalFrames(sorted.sparkSession, numbered,
      schema.add(idName, LongType, nullable = false))
  }

  /** Exact-duplicate pre-merge (A1 + P8, ref pgdedupe/run.py:91-99):
    * filter → GROUP BY all dedup fields → array_agg(key) AS src_ids →
    * dense surrogate `_unique_id`.
    *
    * The reference's SERIAL id is nondeterministic insert order; for the
    * determinism gate (ref tests/test_reproducibility.py:75) we number by
    * the sorted field tuple, which is stable across runs and partitionings
    * — via [[denseIds]]' numbering. The rows are range-partitioned by the
    * fields BEFORE grouping: that partitioning already clusters each
    * group, so the aggregate runs without a shuffle of its own and the
    * numbering sorts its output in place.
    */
  def exactDedup(
      entries: DataFrame,
      columns: Seq[String],
      keyCol: String,
      filterCondition: String = "TRUE"): DataFrame = {
    val cols = columns.map(col)
    val order = columns.map(c => col(c).asc_nulls_first)
    val grouped = entries
      .where(expr(filterCondition))
      .repartitionByRange(order: _*)
      .groupBy(cols: _*)
      .agg(sort_array(collect_list(col(keyCol))).as("src_ids"))
    numberRanged(grouped, order, "_unique_id")
  }

  /** Singleton-block elimination + dense block ids (A2, ref
    * pgdedupe/run.py:265-275): block keys covering ≥2 records get a dense
    * `block_id`; singleton blocks admit no comparisons. Ids via denseIds
    * (partition-safe), ordered by block_key. Pairs read [[kolbBlocks]].
    */
  def pluralKeys(blockingMap: DataFrame, maxBlockSize: Long = Long.MaxValue): DataFrame = {
    val counts = blockingMap.groupBy("block_key").count()
      .where(col("count") > 1 && col("count") <= maxBlockSize)
      .select("block_key")
    denseIds(counts, Seq(col("block_key").asc), "block_id")
      .select("block_key", "block_id")
  }

  /** The blocks of a blocking map `(block_key, _unique_id, payload…)`
    * as `(block_id, ids)`: every non-null block key covering
    * 2..`maxBlockSize` records (singleton blocks admit no comparison,
    * larger ones are dropped, A2, ref pgdedupe/run.py:265-275), with its
    * records' items — the [[bucketLists]] of the blocking map. `block_id`
    * is the key itself: the reference numbers its blocks only to
    * compare them, and the keys compare in the same order. Building
    * fires no Spark job.
    */
  def blockLists(blockingMap: DataFrame, maxBlockSize: Long,
      payload: Seq[String] = Nil): DataFrame =
    bucketLists(blockingMap, Seq("block_key"), "_unique_id", payload,
      maxBlockSize).withColumnRenamed("block_key", "block_id")

  /** The lists half of the one bucket → pairs kernel behind the batch
    * candidate generators (the pipeline's blocks, MinHash bands,
    * embedding-LSH buckets, edit-distance variants): for
    * `(key…, id, payload…)` rows, each bucket key covering
    * 2..`maxSize` rows as `(key…, ids)`. An item is the bare `id`, or
    * `struct(id, payload…)` when a payload rides along to the pairs (a
    * string). Rows with a null key or a null id are dropped: neither can
    * meet another row in an equi-join. One aggregate, on the key;
    * building fires no Spark job. A bucket's whole fan-out, C(n, 2)
    * pairs for n items, lands in the one task that holds its list.
    */
  def bucketLists(rows: DataFrame, keys: Seq[String], id: String,
      payload: Seq[String] = Nil,
      maxSize: Long = Long.MaxValue): DataFrame = {
    val item = if (payload.isEmpty) col(id)
      else struct(col(id).as("id") +: payload.map(col): _*)
    rows.where((id +: keys).map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(collect_list(item).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxSize)
  }

  /** The pairs half of the kernel: every pair of items that shares a
    * list of [[bucketLists]] (or [[blockLists]]), once, as
    * `(l_id, r_id)` with `l_id < r_id` (J8 + D6, ref
    * pgdedupe/run.py:293-319) — with each payload field `f` of the
    * lower-id item as `l_f` and of the other as `r_f`. Each item of a
    * list pairs with the items of higher id in it; only ids are
    * compared, so equal ids never pair, and one aggregate drops the
    * repeats of a pair that shares several lists (or repeats in one).
    * No join. Payloads ride along, so an id listed with two different
    * payloads pairs once per payload.
    */
  def listPairs(lists: DataFrame): DataFrame = {
    val payload = lists.schema("ids").dataType match {
      case ArrayType(s: StructType, _) => s.fieldNames.toSeq.filter(_ != "id")
      case _ => Nil
    }
    def idOf(item: Column) = if (payload.isEmpty) item else item("id")
    def side(p: String, item: Column) = idOf(item).as(s"${p}_id") +:
      payload.map(f => item(f).as(s"${p}_$f"))
    // The items take their output names, so bare ids need no projection.
    val (x, y) = (col("l_id"), col("r_id"))
    lists.select(explode(col("ids")).as("l_id"), col("ids"))
      .select(x, explode(filter(col("ids"), idOf(_) > idOf(x))).as("r_id"))
      .select(side("l", x) ++ side("r", y): _*)
      .distinct()
  }

  /** Kolb's redundant-free blocking frame (A2 + A3, ref
    * pgdedupe/run.py:265-303) as `(block_id, _unique_id, block_ids)`: the
    * rows of each non-null block key covering 2..`maxBlockSize` records,
    * `block_id` being the key itself and `block_ids` the record's sorted
    * plural keys. The reference numbers its blocks only to compare them;
    * the keys compare in the same order, so building fires no Spark job.
    */
  def kolbBlocks(blockingMap: DataFrame, maxBlockSize: Long): DataFrame = {
    val n = count(lit(1)).over(Window.partitionBy("block_key"))
    blockingMap.where(col("block_key").isNotNull)
      .select(col("block_key"), col("_unique_id"), n.as("n"))
      .where(col("n") > 1 && col("n") <= maxBlockSize)
      .select(col("block_key").as("block_id"), col("_unique_id"),
        sort_array(collect_list("block_key")
          .over(Window.partitionBy("_unique_id"))).as("block_ids"))
  }

  /** Redundant-free within-block pair generation (J8 + D6, ref
    * pgdedupe/run.py:293-319 + candidates_gen at :325-359) over
    * [[kolbBlocks]]: self-join on block_id, keep ordered pairs, and emit
    * each pair only in the smallest block key the two records share —
    * every other common block would produce it again. No global
    * distinct over the pair set, so the only shuffle is the join.
    */
  def kolbPairs(kolbBlocks: DataFrame): DataFrame = {
    def side(id: String, ids: String) = kolbBlocks.select(col("block_id"),
      col("_unique_id").as(id), col("block_ids").as(ids))
    side("l_id", "l_ids").join(side("r_id", "r_ids"), "block_id")
      .where(col("l_id") < col("r_id"))
      .where(array_min(array_intersect(col("l_ids"), col("r_ids"))) ===
        col("block_id"))
      .select("l_id", "r_id")
  }

  /** Simpler semantically-equivalent pair generation (SURVEY.md §4): all
    * within-block ordered pairs, deduplicated globally. One extra shuffle
    * (the distinct) but skew-robust under AQE; benchmark decides.
    */
  def distinctPairs(pluralBlock: DataFrame): DataFrame = {
    val l = pluralBlock.select(col("block_id"), col("_unique_id").as("l_id"))
    val r = pluralBlock.select(col("block_id"), col("_unique_id").as("r_id"))
    l.join(r, "block_id")
      .where(col("l_id") < col("r_id"))
      .select("l_id", "r_id")
      .distinct()
  }

  /** entity_map RIGHT JOIN entries_unique + COALESCE defaults (J4/P3, ref
    * pgdedupe/run.py:441-446): every unique record gets a canon_id
    * (itself if unclustered) and a score (1.0 for singletons).
    */
  def applyClusters(entityMap: DataFrame, entriesUnique: DataFrame): DataFrame =
    entityMap.join(entriesUnique.select("_unique_id", "src_ids"),
        Seq("_unique_id"), "right_outer")
      .select(
        coalesce(col("canon_id"), col("_unique_id")).as("dedupe_id"),
        col("_unique_id"),
        coalesce(col("cluster_score"), lit(1.0)).as("cluster_score"),
        col("src_ids"))

  /** Explode src_ids back to source-record grain (P7, ref
    * pgdedupe/run.py:473-475): `unique_map(dedupe_id, <key>)`.
    */
  def uniqueMap(mapped: DataFrame, keyCol: String): DataFrame =
    mapped.select(col("dedupe_id"),
      explode(col("src_ids")).as(keyCol), col("cluster_score"))
}
