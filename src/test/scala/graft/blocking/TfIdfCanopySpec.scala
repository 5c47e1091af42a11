package graft.blocking

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the TF-IDF sims contract behind the df>=2 diagonal shortcut:
  * every a != b cosine must equal an independent brute-force
  * computation (singleton tokens cannot pair distinct values, so
  * dropping them from the self-join loses nothing), and every value
  * with at least one indexable token must appear on the diagonal with
  * cosine exactly 1.
  */
class TfIdfCanopySpec extends SparkSpec {

  // Mixed shapes on purpose: shared rare token ("smith"), a stop-word
  // candidate ("the" in 3/6 values = exactly the 0.5 ratio bound),
  // singleton-only values ("unique"), repeated tokens within one value.
  private val values = Seq(
    "bob smith", "robert smith", "the bob", "the cat", "the the cat",
    "unique")

  private def bruteCos(maxDfRatio: Double,
      values: Seq[String] = values): Map[(String, String), Double] = {
    val n = values.size
    val tf: Map[String, Map[String, Int]] = values.map { v =>
      v -> v.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).map { case (t, ts) => t -> ts.length }
    }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (t, ts) => t -> ts.size }
    val wts: Map[String, Map[String, Double]] = tf.map { case (v, m) =>
      v -> m.collect {
        case (t, c) if df(t) <= n * maxDfRatio &&
            c * math.log(n.toDouble / df(t)) > 0 =>
          t -> c * math.log(n.toDouble / df(t))
      }
    }
    val pairs = for {
      a <- values; b <- values
      wa = wts(a); wb = wts(b)
      dot = wa.keySet.intersect(wb.keySet).toSeq
        .map(t => wa(t) * wb(t)).sum
      if dot > 0
    } yield {
      val na = math.sqrt(wa.values.map(w => w * w).sum)
      val nb = math.sqrt(wb.values.map(w => w * w).sum)
      (a, b) -> dot / (na * nb)
    }
    pairs.toMap
  }

  test("simsTagged matches brute-force cosine off-diagonal, exact 1 on it") {
    import spark.implicits._
    val got = TfIdfCanopy.sims(values.toDF("value"), maxDfRatio = 0.5)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    val want = bruteCos(0.5)
    val offDiagWant = want.filter { case ((a, b), _) => a != b }
    val offDiagGot = got.filter { case ((a, b), _) => a != b }
    assert(offDiagGot.keySet === offDiagWant.keySet,
      s"off-diagonal pair set diverged: got=${offDiagGot.keySet}")
    offDiagWant.foreach { case (k, w) =>
      assert(math.abs(offDiagGot(k) - w) < 1e-12,
        s"cos($k): got ${offDiagGot(k)}, want $w")
    }
    // Diagonal: exactly 1.0 (not 1-ulp) for every value that kept at
    // least one token after the df-ratio stop-word cut.
    val diagWant = want.keys.collect { case (a, b) if a == b => a }.toSet
    val diagGot = got.collect { case ((a, b), c) if a == b => (a, c) }
    assert(diagGot.map(_._1).toSet === diagWant)
    diagGot.foreach { case (v, c) =>
      assert(c === 1.0, s"diagonal cos($v) = $c, expected exactly 1.0")
    }
    // The 0.5-ratio bound is inclusive in both implementations: "the"
    // (df 3 of 6) survives, so "the bob" ~ "the cat" must share a pair.
    assert(offDiagGot.contains(("the bob", "the cat")))
  }

  test("singleton-only values still canopy-block with themselves") {
    import spark.implicits._
    val keys = TfIdfCanopySpec.keysByValue(TfIdfCanopy("f", 0.8),
        values.toDF("value"))
      .where(col("value") === "unique")
      .select(col("keys"))
      .as[Seq[String]].collect()
    assert(keys.length === 1 && keys.head.nonEmpty,
      "a value with only singleton tokens lost its self canopy key")
  }

  test("localSims matches Spark sims and brute force, thresholded keys too") {
    import spark.implicits._
    // The fixture plus a seeded corpus of 300 distinct values: 1-4
    // tokens from a skewed 40-token vocabulary (repeats within a value
    // occur), "the" in ~60% of values (cut as a stop word) and a
    // singleton token in ~20%.
    val rnd = new scala.util.Random(7)
    def tok() = s"t${(rnd.nextDouble() * rnd.nextDouble() * 40).toInt}"
    val random = Iterator.from(0).map { i =>
      (Seq.fill(1 + rnd.nextInt(4))(tok()) ++
        Option.when(rnd.nextDouble() < 0.6)("the") ++
        Option.when(rnd.nextDouble() < 0.2)(s"u$i")).mkString(" ")
    }.distinct.take(300).toSeq
    Seq(values, random).foreach { vs =>
      val local = TfIdfCanopy.localSims(vs.toIndexedSeq, 0.5, minCos = 0.0)
      val got = vs.indices.flatMap { a =>
        val (bs, cs) = local(a)
        bs.indices.map(j => (vs(a), vs(bs(j))) -> cs(j))
      }.toMap
      val sparkSims = TfIdfCanopy.sims(vs.toDF("value"), 0.5).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      Seq(sparkSims, bruteCos(0.5, vs)).foreach { want =>
        val offDiag = want.keySet.filter { case (a, b) => a != b }
        assert(got.keySet.filter { case (a, b) => a != b } === offDiag)
        offDiag.foreach(k => assert(math.abs(got(k) - want(k)) < 1e-12,
          s"cos($k): got ${got(k)}, want ${want(k)}"))
        assert(got.keySet.filter { case (a, b) => a == b } ===
          want.keySet.filter { case (a, b) => a == b })
      }
      got.foreach { case ((a, b), c) =>
        if (a == b) assert(c === 1.0, s"diagonal cos($a) = $c")
      }
      // The canopy keys each side would block on, at both thresholds.
      Seq(0.6, 0.8).foreach { thr =>
        val p = TfIdfCanopy("f", thr)
        val want = TfIdfCanopySpec.keysByValue(p, vs.toDF("value"))
          .as[(String, Seq[String])]
          .collect().toMap
        val have = vs.indices.flatMap { a =>
          val (bs, cs) = local(a)
          val keys = bs.indices.collect { case j if cs(j) >= thr =>
            s"${p.id}:${DigestUtils.md5Hex(vs(bs(j)))}"
          }
          if (keys.isEmpty) None else Some(vs(a) -> keys.sorted)
        }.toMap
        assert(have === want, s"key sets differ at $thr")
      }
    }
  }
}

object TfIdfCanopySpec {

  /** The per-predicate canopy fit `Blocker.blockingMap`'s shared fit
    * replaced, kept as the specs' reference: fit the index over the
    * distinct field values (single non-null string column named
    * `value`) and return `(value, keys)`, `keys` being the sorted
    * namespaced block keys of that value at `p`'s threshold.
    */
  def keysByValue(p: TfIdfCanopy, values: DataFrame): DataFrame =
    TfIdfCanopy.sims(values, p.maxDfRatio).where(col("cos") >= p.threshold)
      .groupBy(col("a_value").as("value"))
      .agg(sort_array(collect_set(
        concat_ws(":", lit(p.id), md5(col("b_value"))))).as("keys"))
}
