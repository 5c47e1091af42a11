package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.blocking.{Blocker, FirstChars, Predicate, PredicateLearner, TokenField, WholeField}
import graft.cluster.{ConnectedComponents, ExactMatches, Hierarchical}
import graft.config.DedupeConfig
import graft.model.{LogisticModel, Settings, Training}
import graft.ops.{RelationalOps, collectAtMost, countRows}

/** End-to-end dedupe dataflow, mirroring the reference's six CLI stages
  * (ref: pgdedupe/cli.py:46-62 — preprocess → train → block → cluster →
  * write → apply; SURVEY.md §3.1). Each stage is public and individually
  * composable (ref: tests/test_reproducibility.py:10 drives phases
  * directly — SURVEY.md §3.3).
  *
  * Everything is one lazy DataFrame lineage per phase; only the learned
  * model (a few doubles) lives on the driver.
  */
object DedupePipeline {

  final case class Result(
      entriesUnique: DataFrame,
      blockingMap: DataFrame,
      pairs: DataFrame,
      scoredPairs: DataFrame,
      entityMap: DataFrame,
      mapped: DataFrame, // _unique_id grain with dedupe_id
      uniqueMap: DataFrame, // source-key grain with dedupe_id
      model: LogisticModel,
      predicates: Seq[Predicate],
      cached: Seq[DataFrame] = Nil) {

    /** Unpersist every frontier `run` pinned, except the `keep` frames
      * (by reference) the caller still reads — so a loop over corpora /
      * repeated bench reps doesn't accumulate storage blocks for the
      * session lifetime.
      */
    def release(keep: DataFrame*): Unit =
      cached.filterNot(f => keep.exists(_ eq f))
        .foreach(_.unpersist(false))
  }

  /** Static default predicate set when no learned settings exist — legal
    * predicate shapes from the reference's learner (ref: SURVEY.md D5):
    * exact key per Categorical/Exact field; first-4-chars + whole-field
    * per String field.
    */
  def defaultPredicates(cfg: DedupeConfig): Seq[Predicate] =
    cfg.fields.flatMap { f =>
      f.ftype match {
        case "String" => Seq(WholeField(f.field), FirstChars(f.field, 4))
        case _        => Seq(WholeField(f.field))
      }
    }

  /** preprocess (ref run.py:62-99): filter + exact-duplicate merge. */
  def preprocess(entries: DataFrame, cfg: DedupeConfig): DataFrame =
    RelationalOps.exactDedup(entries, cfg.columns, cfg.key, cfg.filterCondition)

  /** train (ref run.py:113-182): resolve the model + predicate set.
    * Precedence mirrors the reference: a saved settings file when
    * `use_saved_model` (run.py:126-129); else fit from the labeled
    * training file and persist settings (run.py:156-181); else the
    * static default model + predicate shapes. `recordCount`, the number
    * of unique records if the caller has counted them, goes to learning.
    */
  def trainOrLoad(
      entriesUnique: DataFrame,
      cfg: DedupeConfig,
      recordCount: Option[Long] = None): (LogisticModel, Seq[Predicate]) = {
    def exists(p: Option[String]): Option[String] =
      p.filter(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f)))
    if (cfg.useSavedModel && exists(cfg.settingsFile).isDefined) {
      val s = Settings.load(cfg.settingsFile.get)
      (s.model,
        if (s.predicates.nonEmpty) s.predicates else defaultPredicates(cfg))
    } else exists(cfg.trainingFile) match {
      case Some(tf) =>
        // A local relation: both readers take its rows on the driver.
        val labeled = Training.readTrainingFile(
          entriesUnique.sparkSession, tf, cfg)
        val model = PhaseLog.timed("train_model")(Training.train(cfg, labeled))
        val learned = PhaseLog.timed("train_predicates")(
          PredicateLearner.learn(entriesUnique, labeled, cfg, recordCount))
        val predicates =
          if (learned.nonEmpty) learned else defaultPredicates(cfg)
        cfg.settingsFile.foreach(sf => Settings(model, predicates).save(sf))
        (model, predicates)
      case None =>
        (LogisticModel.default(cfg), defaultPredicates(cfg))
    }
  }

  /** create_blocking (ref run.py:187-321): the blocking map
    * `(block_key, _unique_id)`, its blocks ([[RelationalOps.blockLists]]
    * with each record's dedup fields as the struct `rec` beside its id,
    * a lazy frame that nothing pins) and the blocks' record rows
    * `(block_id, _unique_id)`, which nothing in the pipeline reads (the
    * benchmark's traced run sizes blocks by them). The records ride the
    * blocking map into the lists, so scoring joins nothing back. Building
    * fires no Spark job.
    */
  def block(
      entriesUnique: DataFrame,
      cfg: DedupeConfig,
      predicates: Seq[Predicate]): (DataFrame, DataFrame, DataFrame) = {
    val bm = Blocker.blockingMap(entriesUnique, predicates,
      payload = Seq(struct(cfg.columns.map(col): _*).as("rec")))
    val blocks =
      RelationalOps.blockLists(bm, cfg.maxBlockSize.toLong, Seq("rec"))
    (bm.select("block_key", "_unique_id"), blocks,
      blocks.select(col("block_id"), explode(col("ids.id")).as("_unique_id")))
  }

  /** cluster phase part 1 (ref run.py:362-379): the candidate pairs of
    * [[block]]'s blocks ([[RelationalOps.listPairs]]), `(l_id, r_id)`,
    * and the pairs scored by the model (D1+D2+D7) from the records the
    * blocks carry (J3), joining nothing. `entriesUnique` is unread: the
    * blocks were built from it.
    */
  def scorePairs(
      entriesUnique: DataFrame,
      blocks: DataFrame,
      cfg: DedupeConfig,
      model: LogisticModel): (DataFrame, DataFrame) = {
    val pairs = RelationalOps.listPairs(blocks)
    val scored = model.scorePairs(cfg, pairs.select(
      Seq(col("l_id"), col("r_id")) ++
        cfg.columns.map(c => col(s"l_rec.$c").as(s"l_$c")) ++
        cfg.columns.map(c => col(s"r_rec.$c").as(s"r_$c")): _*))
    (pairs.select("l_id", "r_id"), scored)
  }

  /** cluster phase part 2 + write_results (ref run.py:383-425). */
  def cluster(scored: DataFrame, cfg: DedupeConfig): DataFrame =
    Hierarchical.cluster(
      scored.select("l_id", "r_id", "score"),
      cfg.threshold, cfg.maxComponentSize, cfg.ccEdgeCap,
      cfg.maxEdgesPerComponent)

  /** apply_results (ref run.py:429-491): right-join + coalesce, exact-match
    * merge passes over unique records, then explode to source grain;
    * merge sets containing NON-dedup columns run at source grain against
    * the raw entries table (ref run.py:477-483 — the reference updates
    * unique_map, not entries_unique, for those sets; `mapped` therefore
    * keeps the pre-raw-merge ids, mirroring the reference's table states).
    */
  def apply(
      entityMap: DataFrame,
      entriesUnique: DataFrame,
      entries: DataFrame,
      cfg: DedupeConfig): (DataFrame, DataFrame) = {
    // merge_exact sets whose columns are all dedup fields run on unique
    // records (ref run.py:454-460).
    val (uniqueFieldSets, rawFieldSets) =
      cfg.mergeExact.partition(_.forall(cfg.columns.contains))
    val merged =
      if (uniqueFieldSets.isEmpty) Some(entityMap)
      else mergeUnique(entityMap, entriesUnique, uniqueFieldSets,
        cfg.ccEdgeCap)
    val mapped = merged match {
      case Some(em) => RelationalOps.applyClusters(em, entriesUnique)
      case None =>
        // Over the cap: one distributed merge pass per set.
        val withFields = RelationalOps.applyClusters(entityMap, entriesUnique)
          .join(entriesUnique.select((Seq(col("_unique_id")) ++
            cfg.columns.map(col)): _*), "_unique_id")
        uniqueFieldSets.zipWithIndex
          .foldLeft(withFields) { case (d, (cols, i)) =>
            ExactMatches.merge(d, cols, "dedupe_id",
              label = s"exact-merge-u$i", smallEdgeCap = cfg.ccEdgeCap)
          }
          .select("dedupe_id", "_unique_id", "cluster_score", "src_ids")
    }
    var um = RelationalOps.uniqueMap(mapped, cfg.key)
    // Raw-table merges (ref run.py:477-483): attach the merge columns
    // from the source table by key, link dedupe_ids sharing exact values
    // (transitively), then drop the payload columns again.
    rawFieldSets.zipWithIndex.foreach { case (cols, i) =>
      // Missing columns fail loudly (the reference's SQL would, too —
      // no silent caps).
      val withCols = um.join(
        entries.select((cfg.key +: cols).distinct.map(col): _*), cfg.key)
      um = ExactMatches.merge(withCols, cols, "dedupe_id",
          label = s"exact-merge-r$i", smallEdgeCap = cfg.ccEdgeCap)
        .select("dedupe_id", cfg.key, "cluster_score")
    }
    (mapped, um)
  }

  /** The unique-grain merge_exact passes on the driver, as the reference
    * runs them (a driver DFS, ref exact_matches.py:9-50). Each set links
    * every record whose set columns are all non-null to the smallest
    * record id sharing its values: one aggregate (the group's id list),
    * no join. With d(u) = u's canon_id in `entityMap` (u itself when
    * absent), every edge (a, b) unions d(a) with d(b) in one union-find
    * over all sets, and a record's new canon_id is the smallest dedupe
    * id of its component — what folding [[ExactMatches.merge]] over the
    * sets yields, for any entity map. Returns that entity map as a
    * local relation, or None when the edges or the entity map exceed
    * `cap` rows (the caller then folds the distributed merge passes). A
    * local entity map, as clustering builds below the cap, is read
    * without a job.
    */
  private def mergeUnique(
      entityMap: DataFrame,
      entriesUnique: DataFrame,
      sets: Seq[Seq[String]],
      cap: Long): Option[DataFrame] = {
    val edges = sets.map { cols =>
      entriesUnique.where(cols.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(cols.map(col): _*)
        .agg(collect_list("_unique_id").as("ids"))
        .where(size(col("ids")) > 1)
        .select(array_min(col("ids")).as("a"), explode(col("ids")).as("b"))
        .where(col("b") > col("a"))
    }.reduce(_ union _)
    collectAtMost(edges, cap).flatMap { es =>
      ConnectedComponents.note("exact-merge-u", "driver-union-find",
        es.length, cap)
      if (es.isEmpty) Some(entityMap)
      else collectAtMost(entityMap
        .select("_unique_id", "canon_id", "cluster_score"), cap).map { em =>
        val canon = mutable.LongMap.empty[Long]
        em.foreach(r => canon(r.getLong(0)) = r.getLong(1))
        def d(u: Long): Long = canon.getOrElse(u, u)
        val comp = ConnectedComponents.components(
          es.iterator.map(r => (d(r.getLong(0)), d(r.getLong(1)))))
        // A record absent from the map is its own dedupe id
        // (applyClusters' default); one whose id moved gets a row here.
        val moved = comp.iterator.collect {
          case (id, c) if id != c && !canon.contains(id) => (id, c, 1.0)
        }
        Hierarchical.entityMap(entityMap.sparkSession, (em.iterator.map { r =>
          val c = r.getLong(1)
          (r.getLong(0), comp.getOrElse(c, c), r.getDouble(2))
        } ++ moved).toSeq)
      }
    }
  }

  /** Full pipeline with a static (or defaulted) model.
    *
    * Persistence points, each a frame read more than once:
    * `entriesUnique` (read by learning, blocking, scoring and apply),
    * `scored` (read by clustering's bounded edge read, and above
    * `cc_edge_cap` by its component kernel and join too) and the unique
    * map (counted here, then written by the caller). `entries` is pinned
    * only when a raw-grain merge_exact set re-reads it in apply;
    * otherwise preprocess is its one reader. The entity map is pinned
    * only above `cc_edge_cap`: below it, clustering builds the map on
    * the driver as a local relation, which the unique-grain merge reads
    * back without a job. The blocks are read once, by the scoring query.
    * Without these pins every downstream action re-runs the whole block
    * → pair → affine-gap lineage, which is what timed out the sf0.1
    * bench. Every pin is one more cache reader for Spark to generate:
    * see the README's code-cache budget.
    *
    * Each pinned frontier is materialized EAGERLY (a count) before its
    * consumers run: downstream fan-out then always reads the cache,
    * never races to recompute the same lineage — this was the q50
    * run-to-run 2× variance. The phase wall-clocks and compile counts go
    * to `PhaseLog` (`preprocess`, `train`, `block_score`, `cluster`,
    * `apply`); of `apply` only the unique map is materialized (the
    * caller's action materializes `mapped`).
    */
  def run(
      entries: DataFrame,
      cfg: DedupeConfig,
      modelOpt: Option[LogisticModel] = None,
      predicatesOpt: Option[Seq[Predicate]] = None): Result = {
    import PhaseLog.timed
    val pinned = Seq.newBuilder[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      pinned += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    val src =
      if (cfg.mergeExact.exists(!uniqueGrain(cfg, _))) pin(entries)
      else entries
    // Built INSIDE the timed block: preprocess's denseIds seam runs its
    // zipWithIndex jobs eagerly at DataFrame-build time, and timing only
    // the count under-reported the phase by those jobs' wall-clock.
    val (eu, nUnique) = timed("preprocess") {
      val e = pin(preprocess(src, cfg))
      (e, countRows(e))
    }
    lazy val trained = trainOrLoad(eu, cfg, Some(nUnique))
    // ONE timed block for both: with modelOpt supplied but
    // predicatesOpt absent, the predicate getOrElse is what forces the
    // lazy trainOrLoad — timing only the model lookup attributed the
    // whole training wall-clock to no phase.
    val (model, predicates) = timed("train")(
      (modelOpt.getOrElse(trained._1), predicatesOpt.getOrElse(trained._2)))
    val (bm, blocks, _) = block(eu, cfg, predicates)
    val (pairs, scored0) = scorePairs(eu, blocks, cfg, model)
    // Persist only the (l_id, r_id, score) projection the clustering and
    // merge passes actually read — caching the wide pair rows (all l_/r_
    // field payloads) costs more than the scoring pass itself.
    val scored = pin(scored0.select("l_id", "r_id", "score"))
    timed("block_score")(countRows(scored))
    val em = timed("cluster") {
      val m = cluster(scored, cfg)
      if (!m.isLocal) countRows(pin(m))
      m
    }
    // Built inside the timed block too: below the cap, apply's
    // unique-grain merge reads its edges eagerly.
    val (mapped, um) = timed("apply") {
      val (m, u) = apply(em, eu, src, cfg)
      countRows(pin(u))
      (m, u)
    }
    Result(eu, bm, pairs, scored, em, mapped, um, model, predicates,
      cached = pinned.result())
  }

  /** A merge_exact set of dedup columns only, merged on unique records. */
  private def uniqueGrain(cfg: DedupeConfig, set: Seq[String]): Boolean =
    set.forall(cfg.columns.contains)
}
