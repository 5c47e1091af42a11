package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact edit-distance similarity self-join — the record-linkage
  * primitive for typo-level duplicate keys (names, titles, codes):
  * all pairs of rows whose `strCol` values are within Levenshtein
  * distance `maxDist`, without the N² comparison.
  *
  * Candidate generation is the deletion-neighborhood pigeonhole
  * ([[graft.functions.DeleteNeighborhood]], the SymSpell
  * construction): each row explodes into its ≤`maxDist`-deletion
  * variants, pairs meet through one equi-join on the variant's
  * 64-bit hash, and every candidate is verified with Spark's
  * codegen'd THRESHOLDED `levenshtein` (returns −1 past the bound, so
  * a far-apart hash-collision pair costs O(maxDist·len), not
  * O(len²)). The filter is provably lossless in the verify's own
  * codepoint alphabet, so the output is EXACTLY the brute-force
  * answer — gated against a DuckDB brute-force oracle (q65) and a
  * randomized brute-force twin (EditJoinSpec).
  *
  * Scale shape: explode ONCE (×~C(len, maxDist) rows, each variant
  * hashed to 8 bytes; the narrow exploded projection is persisted so
  * the self-join's two sides read one cached pass, not two
  * executions of the variant generation) → one shuffle on the
  * variant hash → distinct on the pair → codegen verify; the result
  * is materialized and the frontier released before return. No driver state, no cross join;
  * variant-hash skew (a hot variant shared by thousands of
  * near-identical values) is real duplicate mass — the pairs exist
  * in the answer — and AQE's skew split handles the join side. The
  * length guard in the neighborhood expression fails LOUDLY on rows
  * longer than `maxFieldLen` codepoints rather than silently
  * dropping their pairs (no silent caps); edit-distance joining a
  * long-text column is the wrong tool — use the MinHash/SimHash
  * family instead.
  *
  * Output: `(id1, id2, dist)` with `id1 < id2`, `dist` the exact
  * distance (≤ `maxDist`) — SET semantics: each qualifying id pair
  * appears exactly once, regardless of how many times a row (or a
  * shared variant) repeats in the input. A brute-force join over
  * input with duplicated rows would emit the pair once per duplicate;
  * this operator's answer is that join's DISTINCT (identical on the
  * deduplicated input every gate uses). An id appearing with several
  * DISTINCT strings pairs per string value, so one (id1, id2) can
  * then appear once per qualifying string pair, each with its own
  * distance — deduplicate ids upstream if that shape is possible.
  * Rows with a null id or
  * null string are excluded (a null key cannot form an ordered pair;
  * a null string has no distance).
  *
  * '''Eagerness.''' `eager = true` (default) RUNS A JOB AT CALL TIME:
  * the result is persisted and materialized so the exploded frontier
  * cache can be released before returning — one cached pass of the
  * Θ(len^maxDist) variant generation feeds both join sides, and the
  * caller owns the returned persist (the TextDedup-family contract;
  * Bench releases it). `eager = false` is the plan-composing escape
  * hatch: ZERO jobs at call time (gated in EditJoinSpec), identical
  * answer, result NOT persisted — the frontier cache instead stays
  * registered for the returned plan's lifetime, so every action on
  * the plan still reads ONE cached pass of the variant generation
  * (first action populates it; MEMORY_AND_DISK, the narrow 8-byte-
  * hash projection). The lazy frontier cache has NO release handle:
  * it stays registered in the session CacheManager (blocks spill to
  * executor disk under memory pressure and are reclaimed only at
  * unpersist — which nothing calls — or session end), so a caller
  * issuing MANY lazy calls in one session accumulates cache entries;
  * prefer eager mode for repeated calls, or
  * `spark.catalog.clearCache()` between batches.
  */
object EditJoin {

  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, maxFieldLen: Int = 128,
      eager: Boolean = true): DataFrame = {
    require(maxDist >= 0 &&
        maxDist <= graft.functions.DeleteNeighborhood.MaxK,
      s"maxDist $maxDist not in [0, " +
        s"${graft.functions.DeleteNeighborhood.MaxK}] (variant count " +
        "is O(len^maxDist))")
    require(maxFieldLen > 0, s"maxFieldLen $maxFieldLen")
    require(idCol != strCol, s"idCol and strCol are both '$idCol'")
    val s1 = "_graft_ed_s1"
    val s2 = "_graft_ed_s2"
    val vhL = "_graft_ed_vhl"
    val vhR = "_graft_ed_vhr"
    val d = "_graft_ed_d"
    val base = df.select(col(idCol), col(strCol))
      .where(col(idCol).isNotNull && col(strCol).isNotNull)
    // Persisted: the self-join consumes the exploded frontier twice,
    // and Spark does not share common subplans across join inputs —
    // without the persist the base scan plus the Θ(len^maxDist)
    // variant generation run once PER JOIN SIDE (the q37
    // simHashCandidates idiom; released before return). The persisted
    // frame is the narrow (id, str, 8-byte variant hash) projection,
    // not the variant strings.
    val exploded = base.select(col(idCol), col(strCol),
        explode(graft.functions.GraftFunctions.deleteNeighborhood(
          col(strCol), maxDist, maxFieldLen)).as("_graft_ed_v"))
      .select(col(idCol), col(strCol),
        xxhash64(col("_graft_ed_v")).as(vhL))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = exploded
      .select(col(idCol).as("id1"), col(strCol).as(s1), col(vhL))
    val r = exploded
      .select(col(idCol).as("id2"), col(strCol).as(s2),
        col(vhL).as(vhR))
    // A hash collision between unrelated variants only ADDS a
    // candidate the verify rejects; it can never drop a true pair.
    val answer = l
      .join(r, col(vhL) === col(vhR) && col("id1") < col("id2"))
      .select(col("id1"), col(s1), col("id2"), col(s2))
      .distinct()
      .withColumn(d, levenshtein(col(s1), col(s2), maxDist))
      .where(col(d) >= 0)
      .select(col("id1"), col("id2"), col(d).cast("long").as("dist"))
    if (!eager) answer // zero jobs now; frontier cache feeds the plan
    else {
      val result = answer
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      result.count() // materialize now, while the frontier is cached
      exploded.unpersist(false)
      result
    }
  }
}
