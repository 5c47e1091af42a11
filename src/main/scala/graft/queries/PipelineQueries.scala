package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.config.{DedupeConfig, FieldSpec}
import graft.ops.RelationalOps
import graft.pipeline.DedupePipeline

/** End-to-end dedupe-pipeline demos plus the faithful Kolb redundant-free
  * chain (oracle-checked through all five derived tables).
  */
object PipelineQueries {

  /** Derive a person-ish entries table from `customer`, unioned with a
    * mutated copy (suffix typos, dropped fields) so the pipeline has real
    * duplicates to find. Deterministic — pure column expressions.
    *
    * The name moduli are chosen SCALE-HONEST: 4000 and 7000 are coprime
    * enough that (first_name, last_name) uniquely identifies a base
    * person below 28,000 custkeys (every tested SF), the way real names
    * mostly do — with small moduli the corpus itself made distinct
    * persons field-indistinguishable at sf0.1 and "mass-merge" was a
    * property of the data, not the model.
    */
  def personEntries(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val base = c.select(
      col("c_custkey").as("entry_id"),
      concat(lit("fn"), (col("c_custkey") % 4000).cast("string"))
        .as("first_name"),
      concat(lit("ln"), (col("c_custkey") % 7000).cast("string"))
        .as("last_name"),
      format_string("%03d-%02d-%04d", col("c_custkey") % 900,
        col("c_custkey") % 89, col("c_custkey") % 9000).as("ssn"),
      when(col("c_custkey") % 2 === 0, "M").otherwise("F").as("sex"),
      col("c_mktsegment").as("segment"))
    // Mutated duplicates: same person, typo'd first name, missing ssn on
    // every third row — entry ids offset by 10M to stay distinct.
    val dup = base
      .where(col("entry_id") % 3 =!= 0)
      .select(
        (col("entry_id") + 10000000L).as("entry_id"),
        concat(col("first_name"), lit("x")).as("first_name"),
        col("last_name"),
        when(col("entry_id") % 3 === 1, col("ssn")).otherwise(lit(null)
          .cast("string")).as("ssn"),
        col("sex"), col("segment"))
    base.unionByName(dup)
  }

  /** Deterministic labeled pairs from personEntries' construction-time
    * ground truth. Matches: a mutated dup row is the same person as
    * entry_id − 10M. Distincts mix easy negatives (adjacent custkeys —
    * every derived field modulus differs) with HARD negatives sharing
    * exactly one field (same last_name, same first_name): without those
    * the fitted model never sees a "one field agrees, the rest differ"
    * non-match, scores last-name-only agreement above threshold, and
    * whole-last_name blocking then mass-merges wherever last names
    * collide (observed with the old small corpus moduli: 15,000 base
    * persons → ~2,700 entities at sf0.1). Classes that don't exist at
    * a given SF (no last-name collisions below the modulus) simply
    * contribute zero pairs. ≤40 matches + ≤140 distincts, ordered by
    * entry id — the scale and shape of a human labeling session
    * (ref tests/dedup_postgres_training.json).
    */
  def trainingLabels(s: SparkSession, dir: String): DataFrame = {
    val e = personEntries(s, dir)
    val base = e.where(col("entry_id") < 10000000L)
    val dup = e.where(col("entry_id") >= 10000000L)
    val cols = personConfig.columns
    def side(df: DataFrame, p: String) =
      df.select(col("entry_id").as(s"${p}_entry_id") +:
        cols.map(c => col(c).as(s"${p}_$c")): _*)
    val l = side(base, "l")
    val r = side(base, "r")
    val matches = l.join(side(dup, "r"),
        col("r_entry_id") === col("l_entry_id") + 10000000L)
      .orderBy("l_entry_id").limit(40)
      .withColumn("label", lit(1.0))
    def negatives(cond: org.apache.spark.sql.Column, n: Int) =
      l.join(r, cond && col("l_entry_id") < col("r_entry_id"))
        .orderBy("l_entry_id", "r_entry_id").limit(n)
        .withColumn("label", lit(0.0))
    val adjacent =
      negatives(col("r_entry_id") === col("l_entry_id") + 1, 20)
    val sameLast = negatives(col("l_last_name") === col("r_last_name") &&
      col("l_first_name") =!= col("r_first_name"), 40)
    val sameFirst = negatives(col("l_first_name") === col("r_first_name") &&
      col("l_last_name") =!= col("r_last_name"), 40)
    // The pairs whole-last_name blocking actually compares at scale:
    // same last_name AND sex AND segment, different first/ssn. Without
    // these the fitted bias dominates (three agreeing fields score
    // ~0.99) and 15,000 base persons collapsed to ~2,700 entities at
    // sf0.1.
    val sameLastSexSeg = negatives(
      col("l_last_name") === col("r_last_name") &&
        col("l_sex") === col("r_sex") &&
        col("l_segment") === col("r_segment") &&
        col("l_first_name") =!= col("r_first_name"), 40)
    matches.unionByName(adjacent).unionByName(sameLast)
      .unionByName(sameFirst).unionByName(sameLastSexSeg)
      .drop("l_entry_id", "r_entry_id")
  }

  /** Flagship config with the trained-model path active (ref
    * pgdedupe/cli.py:96-104): writes the ground-truth training file once
    * per sf dir (deterministic content, so every rep trains the same
    * model), points settings_file at the same temp dir so run() persists
    * the fitted settings for reload. With this config the bench's train
    * phase exercises IRLS + PredicateLearner + Settings.save instead of
    * reporting 0.0 on the static-default fallback.
    */
  def trainedPersonConfig(s: SparkSession, dir: String): DedupeConfig = {
    // Bump when trainingLabels' derivation OR personEntries' field
    // derivation changes: the file caches per (version, sf dir) across
    // JVMs, and a stale /tmp survivor from an older derivation would
    // otherwise silently train a different model.
    val labelsVersion = 3
    // Keyed by a SHA-256 prefix of the ABSOLUTE sf dir (not the 32-bit
    // String.hashCode, whose collision between two sf dirs would
    // silently reuse the other's training file).
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-q50-train-v$labelsVersion-$dirKey")
    java.nio.file.Files.createDirectories(tmp)
    val tf = tmp.resolve("training.json")
    if (!java.nio.file.Files.exists(tf)) {
      // Write-temp + atomic rename so a concurrent JVM never reads a
      // torn file; content is deterministic, so a lost race overwrites
      // with identical bytes.
      val part = java.nio.file.Files.createTempFile(tmp, "training", ".part")
      java.nio.file.Files.writeString(part,
        graft.model.Training.toTrainingJson(
          trainingLabels(s, dir), personConfig))
      java.nio.file.Files.move(part, tf,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    personConfig.copy(
      trainingFile = Some(tf.toString),
      settingsFile = Some(tmp.resolve("settings.json").toString))
  }

  val personConfig: DedupeConfig = DedupeConfig(
    key = "entry_id",
    fields = Seq(
      FieldSpec("first_name", "String"),
      FieldSpec("last_name", "String"),
      FieldSpec("ssn", "String", hasMissing = true),
      FieldSpec("sex", "Categorical", Seq("M", "F")),
      FieldSpec("segment", "Categorical")),
    interactions = Seq(Seq("first_name", "last_name")),
    filterCondition = "first_name IS NOT NULL",
    mergeExact = Seq(Seq("ssn")),
    threshold = 0.5,
    maxBlockSize = 2000)

  val defs: Seq[QueryDef] = Seq(

    // Kolb's redundant-free comparison scheme (D6, ref run.py:293-319):
    // each candidate pair once, from its smallest common block key —
    // checked end to end against the reference's plural_key →
    // covered_blocks → smaller_coverage chain in the oracle.
    QueryDef(
      "q39_kolb_pairs",
      (s, dir) => {
        val bm = graft.blocking.Blocker.tokenBlockingWithDfCap(
          Tables.load(s, dir, "documents")
            .withColumnRenamed("doc_id", "_unique_id"),
          "text", DedupQueries.MaxDf)
        RelationalOps.kolbPairs(
          RelationalOps.kolbBlocks(bm, DedupQueries.MaxDf))
      },
      Some("""WITH keyed AS (
          SELECT DISTINCT 'token:text:' || tok AS block_key,
            doc_id AS _unique_id
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)
          WHERE tok <> ''),
        pk AS (
          SELECT block_key,
            row_number() OVER (ORDER BY block_key) AS block_id
          FROM (SELECT block_key FROM keyed GROUP BY block_key
                HAVING count(*) > 1 AND count(*) <= 120)),
        pb AS (SELECT block_id, _unique_id FROM keyed JOIN pk
          USING (block_key)),
        cb AS (SELECT _unique_id, list_sort(array_agg(block_id))
            AS sorted_ids
          FROM pb GROUP BY _unique_id),
        sc AS (SELECT pb._unique_id, pb.block_id,
            list_slice(sorted_ids, 1,
              list_position(sorted_ids, pb.block_id) - 1) AS smaller_ids
          FROM pb JOIN cb USING (_unique_id))
        SELECT l._unique_id AS l_id, r._unique_id AS r_id
        FROM sc l JOIN sc r USING (block_id)
        WHERE l._unique_id < r._unique_id
          AND len(list_intersect(l.smaller_ids, r.smaller_ids)) = 0""")),

    // Flagship: the full record-linkage pipeline (preprocess → TRAIN →
    // block → pair → score → cluster → apply, ref pgdedupe/cli.py:46-62)
    // on customer-derived person records, through the trained-model path
    // — a ground-truth training file drives IRLS + predicate learning +
    // settings persistence every run, the reference's cli.run surface.
    // ML scores aren't SQL-expressible → rows-only (quality gates live
    // in ScalaTest, SURVEY §5).
    QueryDef(
      "q50_dedupe_pipeline",
      (s, dir) => {
        val cfg = trainedPersonConfig(s, dir)
        val result = DedupePipeline.run(personEntries(s, dir), cfg)
        // Surface the fitted model's reproducibility hash (ref
        // utils.py:20-28) in the bench notes — stable across reps.
        graft.pipeline.PhaseLog.note("q50_model_hash",
          graft.model.Settings.modelHash(cfg, result.model))
        // Every phase output is already materialized into uniqueMap's
        // cache; release the upstream frontiers so repeated invocations
        // (bench reps, loops over corpora) don't pin storage blocks.
        result.release(result.uniqueMap)
        result.uniqueMap
      },
      None),

    // Exact-duplicate pre-merge on the person table (A1) — the one
    // pipeline stage that IS SQL-expressible end to end, oracle-checked.
    QueryDef(
      "q51_entries_unique",
      (s, dir) => RelationalOps.exactDedup(
          personEntries(s, dir),
          Seq("first_name", "last_name", "ssn", "sex", "segment"),
          "entry_id", "first_name IS NOT NULL")
        .withColumn("src_ids",
          array_join(col("src_ids").cast("array<string>"), ",")),
      Some("""WITH base AS (
          SELECT c_custkey AS entry_id,
            'fn' || CAST(c_custkey % 4000 AS VARCHAR) AS first_name,
            'ln' || CAST(c_custkey % 7000 AS VARCHAR) AS last_name,
            printf('%03d-%02d-%04d', c_custkey % 900, c_custkey % 89,
              c_custkey % 9000) AS ssn,
            CASE WHEN c_custkey % 2 = 0 THEN 'M' ELSE 'F' END AS sex,
            c_mktsegment AS segment
          FROM customer),
        dup AS (
          SELECT b.entry_id + 10000000 AS entry_id,
            b.first_name || 'x' AS first_name, b.last_name,
            CASE WHEN b.entry_id % 3 = 1 THEN b.ssn ELSE NULL END AS ssn,
            b.sex, b.segment
          FROM base b WHERE b.entry_id % 3 <> 0),
        entries AS (SELECT * FROM base UNION ALL SELECT * FROM dup)
        SELECT first_name, last_name, ssn, sex, segment,
          coalesce(array_to_string(list_sort(array_agg(entry_id)), ','), '')
            AS src_ids,
          row_number() OVER (ORDER BY first_name ASC NULLS FIRST,
            last_name ASC NULLS FIRST, ssn ASC NULLS FIRST,
            sex ASC NULLS FIRST, segment ASC NULLS FIRST) AS _unique_id
        FROM entries
        WHERE first_name IS NOT NULL
        GROUP BY first_name, last_name, ssn, sex, segment""")))
}
