package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Generator-driven differential gate for the blocking/pair-generation
  * chain (the q30–q32/q39 surface, pgdedupe's Kolb redundant-free
  * scheme) — the last family whose intricate custom logic was checked
  * only on the fixed fixtures. On seeded hostile blocking maps
  * (hot keys at and past the size cap, exactly-2 keys, singletons,
  * unicode/empty/huge keys, records covered by many blocks, negative
  * and huge ids) three INDEPENDENT derivations of the candidate-pair
  * set must agree exactly:
  *
  *  1. `kolbPairs` over `kolbBlocks` (each pair emitted only in the
  *     smallest block key its records share; no global distinct — the
  *     scheme's point is each pair emitted by exactly ONE block);
  *  2. `distinctPairs` (the simple all-pairs + distinct form) over
  *     blocking map ⋈ `pluralKeys`, the reference's dense-id tables;
  *  3. a driver-side brute force from the definition (all a < b sharing
  *     an admissible, non-null block key).
  *
  * The Kolb scheme's redundant-free claim is asserted structurally too:
  * the UN-deduplicated kolbPairs output must already be duplicate-free,
  * and must not move when the blocking map is repartitioned.
  */
class RandomizedBlockingDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 120L

  /** Hostile blocking map: distinct (block_key, _unique_id) rows (the
    * contract every real blocker meets — tokenBlocking distincts).
    * Key population: one hot key OVER the cap (must be dropped), one
    * exactly AT the cap, several mid-size, many exactly-2, many
    * singletons, unicode/empty/long keys; ids spread negative→huge,
    * each record covered by several keys so the smallest common key is
    * non-trivial. With `nullKeys`, null keys covering several records
    * too (blocking drops them, as the reference's inner join did).
    */
  private def blockingMap(seed: Long, nullKeys: Boolean = false): DataFrame = {
    val r = new scala.util.Random(seed)
    val ids = (0 until 400).map(i => i.toLong * 1000003L - 200000000L)
    val rows = scala.collection.mutable.LinkedHashSet.empty[(String, Long)]
    def sample(n: Int): Seq[Long] =
      r.shuffle(ids).take(n)
    // One key past the cap (dropped), one exactly at it (kept).
    sample(Cap.toInt + 40).foreach(id => rows += (("hot:over", id)))
    sample(Cap.toInt).foreach(id => rows += (("hot:at-cap", id)))
    // Mid-size keys, several per record on average.
    val midKeys = Seq("mid:a", "mid:ü:字", "", "x" * 300, "mid:e")
    midKeys.foreach { k =>
      sample(5 + r.nextInt(40)).foreach(id => rows += ((k, id)))
    }
    // Exactly-2 keys and singletons.
    (0 until 60).foreach { i =>
      sample(2).foreach(id => rows += ((s"pair:$i", id)))
    }
    (0 until 50).foreach { i =>
      rows += ((s"single:$i", ids(r.nextInt(ids.size))))
    }
    if (nullKeys) sample(6).foreach(id => rows += ((null, id)))
    rows.toSeq.toDF("block_key", "_unique_id")
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("l_id", "r_id").as[(Long, Long)].collect().toSeq

  test("kolbPairs == distinctPairs == driver brute force on hostile " +
      "random blocking maps, and the Kolb output is already " +
      "duplicate-free (3 seeds)") {
    Seq(3L, 59L, 8080L).foreach { seed =>
      val bm = blockingMap(seed, nullKeys = true)
      def kolb(m: DataFrame) =
        pairs(RelationalOps.kolbPairs(RelationalOps.kolbBlocks(m, Cap)))
      val kolbRaw = kolb(bm)
      val pb = bm.join(RelationalOps.pluralKeys(bm, Cap), "block_key")
        .select("block_id", "_unique_id")
      val simple = pairs(RelationalOps.distinctPairs(pb)).sorted
      // Driver brute force from the definition.
      val byKey = bm.collect()
        .map(r => (r.getString(0), r.getLong(1)))
        .filter(_._1 != null)
        .groupBy(_._1).values
        .map(_.map(_._2).distinct.sorted)
        .filter(m => m.length >= 2 && m.length <= Cap)
      val brute = byKey.flatMap { m =>
        for (i <- m.indices; j <- (i + 1) until m.length)
          yield (m(i), m(j))
      }.toSeq.distinct.sorted
      assert(kolbRaw.distinct.size == kolbRaw.size,
        s"seed $seed: Kolb emitted ${kolbRaw.size - kolbRaw.distinct.size}" +
          " duplicate pairs — the redundant-free scheme is broken")
      assert(kolbRaw.sorted == simple,
        s"seed $seed: kolbPairs (${kolbRaw.size}) != distinctPairs " +
          s"(${simple.size})")
      assert(simple == brute,
        s"seed $seed: Spark pair set (${simple.size}) != driver brute " +
          s"force (${brute.size}) — the cap-drop of the over-cap hot " +
          "key must agree on both sides")
      assert(kolb(bm.repartition(13)).sorted == kolbRaw.sorted,
        s"seed $seed: Kolb pairs moved under repartition(13)")
      assert(kolb(bm.coalesce(1)).sorted == kolbRaw.sorted,
        s"seed $seed: Kolb pairs moved under coalesce(1)")
    }
  }

  test("pluralKeys matches its SQL twin (dense ids in block_key order, " +
      "cap honored, singletons gone) and is partitioning-invariant") {
    val bm = blockingMap(17L)
    bm.createOrReplaceTempView("rbm")
    def canon(df: DataFrame): Seq[(String, Long)] =
      df.select("block_key", "block_id").as[(String, Long)]
        .collect().toSeq.sorted
    val got = canon(RelationalOps.pluralKeys(bm, Cap))
    val want = canon(spark.sql(s"""
      WITH c AS (
        SELECT block_key, count(1) AS n FROM rbm GROUP BY block_key)
      SELECT block_key,
        row_number() OVER (ORDER BY block_key) AS block_id
      FROM c WHERE n > 1 AND n <= $Cap"""))
    assert(got == want)
    assert(canon(RelationalOps.pluralKeys(bm.repartition(13), Cap)) == got)
    assert(canon(RelationalOps.pluralKeys(bm.coalesce(1), Cap)) == got)
  }
}
