package graft.similarity

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact edit-distance similarity self-join — the record-linkage
  * primitive for typo-level duplicate keys (names, titles, codes):
  * all pairs of rows whose `strCol` values are within Levenshtein
  * distance `maxDist`, without the N² comparison.
  *
  * Candidate generation is the deletion-neighborhood pigeonhole
  * ([[graft.functions.DeleteNeighborhood]], the SymSpell
  * construction): each row explodes into its ≤`maxDist`-deletion
  * variants, rows sharing a variant's 64-bit hash are listed together
  * and paired by the [[graft.ops.RelationalOps.bucketLists]] →
  * `listPairs` kernel (the string rides along as each id's payload),
  * and every candidate is verified with Spark's codegen'd THRESHOLDED
  * `levenshtein` (returns −1 past the bound, so a far-apart
  * hash-collision pair costs O(maxDist·len), not O(len²)). The filter
  * is provably lossless in the verify's own codepoint alphabet, so the
  * output is EXACTLY the brute-force answer — gated against a DuckDB
  * brute-force oracle (q65) and a randomized brute-force twin
  * (EditJoinSpec).
  *
  * Scale shape: explode ONCE (×~C(len, maxDist) rows, each variant
  * hashed to 8 bytes) → one shuffle on the variant hash for the lists →
  * distinct on the pair → codegen verify. No driver state, no cross
  * join, no cache: building the result fires no Spark job, and it is an
  * ordinary lazy plan. Variant-hash skew (a hot variant shared by
  * thousands of near-identical values) is real duplicate mass — the
  * pairs exist in the answer — and its fan-out lands in the one task
  * that holds the variant's list. The length guard in the neighborhood
  * expression fails LOUDLY on rows longer than `maxFieldLen` codepoints
  * rather than silently dropping their pairs (no silent caps);
  * edit-distance joining a long-text column is the wrong tool — use the
  * MinHash/SimHash family instead.
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
  */
object EditJoin {

  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, maxFieldLen: Int = 128): DataFrame = {
    require(maxDist >= 0 &&
        maxDist <= graft.functions.DeleteNeighborhood.MaxK,
      s"maxDist $maxDist not in [0, " +
        s"${graft.functions.DeleteNeighborhood.MaxK}] (variant count " +
        "is O(len^maxDist))")
    require(maxFieldLen > 0, s"maxFieldLen $maxFieldLen")
    require(idCol != strCol, s"idCol and strCol are both '$idCol'")
    // The kernel names the id `id` and each payload `l_<f>`/`r_<f>`, so
    // both columns take fixed names first.
    val variants = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .where(col("id").isNotNull && col("s").isNotNull)
      .select(col("id"), col("s"),
        explode(graft.functions.GraftFunctions.deleteNeighborhood(
          col("s"), maxDist, maxFieldLen)).as("v"))
      .select(col("id"), col("s"), xxhash64(col("v")).as("vh"))
    // A hash collision between unrelated variants only ADDS a
    // candidate the verify rejects; it can never drop a true pair.
    val ops = graft.ops.RelationalOps
    ops.listPairs(ops.bucketLists(variants, Seq("vh"), "id", Seq("s")))
      .select(col("l_id").as("id1"), col("r_id").as("id2"),
        levenshtein(col("l_s"), col("r_s"), maxDist).cast("long").as("dist"))
      // A typed filter stays above the projection: a Column filter is
      // pushed below the pair distinct, and the distance is computed
      // there and again in the projection.
      .filter((r: Row) => r.getLong(2) >= 0)
  }
}
