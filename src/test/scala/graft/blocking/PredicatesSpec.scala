package graft.blocking

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class PredicatesSpec extends SparkSpec {
  import PredicatesSpec.columnKeys

  test("FirstToken skips leading whitespace instead of keying on ''") {
    // split's first element on a leading-whitespace value is "" — an
    // empty-string key funneled the entire leading-whitespace
    // population into ONE shared spurious block (quadratic pairs on
    // dirty data). TokenField drops empty tokens from the same
    // split; FirstToken must mirror it.
    val p = FirstToken("v")
    assert(p.rawKeys(" alice").toSeq == Seq("alice"))
    assert(p.rawKeys("\t bob").toSeq == Seq("bob"))
    assert(p.rawKeys("carol smith").toSeq == Seq("carol"))
    assert(p.rawKeys("   ").isEmpty,
      "whitespace-only value must produce no key")
    assert(p.rawKeys("").isEmpty && p.rawKeys(null).isEmpty)
  }

  /** Whitespace Java's `\s` matches (tab, U+000B, newline, space), a
    * no-break space it does not, ASCII and non-ASCII letters, digits, a
    * supplementary code point, and U+E000 and U+FFFD, which sort after
    * a surrogate pair in UTF-16 order but before it in code-point order.
    */
  private val alphabet: IndexedSeq[String] = IndexedSeq(" ", " ", "\t",
    "\u000B", "\n", "\u00A0", "a", "b", "c", "\u00E9", "\u5B57", "0", "7",
    "9", "-", "\uD83D\uDE80", "\uE000", "\uFFFD")

  /** Seeded values: null, empty, whitespace-only, leading and trailing
    * whitespace, repeated tokens, and random draws from the alphabet. */
  private def values(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq(null, "", " ", "\t", "\u000B", " \t\u000B\n", " ab", "ab ", " a b ",
      "ab ab", "\uD83D\uDE80", "a\uD83D\uDE80b", "\uE000 \uD83D\uDE80",
      "123-45-6789", "x") ++ Seq.fill(n) {
      Seq.fill(r.nextInt(14))(alphabet(r.nextInt(alphabet.size))).mkString
    }
  }

  private val shapes: Seq[ColumnPredicate] = Seq(WholeField("v"),
    TokenField("v"), FirstChars("v", 1), FirstChars("v", 2),
    FirstChars("v", 4), FirstChars("v", 6), FirstToken("v"), NGrams("v", 2),
    NGrams("v", 3), DigitsOnly("v"), SortedTokens("v"))

  test("each shape's Scala keys equal its Column form's on random values") {
    import spark.implicits._
    Seq(11L, 12L, 13L).foreach { seed =>
      val df = values(seed, 400).toDF("v").repartition(3)
      val rows = df.select(col("v") +: shapes.map(p =>
        columnKeys(p, col("v"))): _*).collect()
      for (r <- rows; (p, i) <- shapes.zipWithIndex) {
        // The value as Spark holds it: what both the learner and the
        // blocker's UDF receive.
        val v = r.getString(0)
        val want = r.getSeq[String](i + 1)
        assert(p.rawKeys(v).toSeq == want,
          s"${p.id} on ${Option(v).map(_.map(_.toInt.toHexString))}")
      }
    }
  }

  test("SortedTokens keys an all-whitespace value to the empty " +
      "fingerprint, as its Column form did") {
    Seq(" ", "\t", "\u000B", " \t\u000B\n").foreach { v =>
      assert(SortedTokens("v").rawKeys(v).toSeq == Seq(""))
    }
    assert(SortedTokens("v").rawKeys("").isEmpty)
    // Code-point order, not UTF-16 order.
    assert(SortedTokens("v").rawKeys("\uD83D\uDE80 \uE000").toSeq ==
      Seq("\uE000 \uD83D\uDE80"))
  }

  test("WholeField keys a numeric field's string cast") {
    import spark.implicits._
    val df = Seq((1L, Some(1.5)), (2L, Some(-0.0)), (3L, Some(1e21)),
      (4L, None), (5L, Some(Double.NaN)), (6L, Some(12.0)))
      .toDF("_unique_id", "x")
    val p = WholeField("x")
    val want = df.select(col("_unique_id"),
        explode(transform(columnKeys(p, col("x")),
          k => concat_ws(":", lit(p.id), k))).as("block_key"))
      .collect().map(r => (r.getString(1), r.getLong(0))).toSeq
    val got = Blocker.blockingMap(df, Seq(p))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.sorted == want.sorted)
    assert(got.map(_._1).toSet == Set("whole:x:1.5", "whole:x:-0.0",
      "whole:x:1.0E21", "whole:x:NaN", "whole:x:12.0"))
  }

  test("blockingMap's UDF emits the (block_key, id) rows of the Column " +
      "forms it replaced") {
    import spark.implicits._
    val vs = values(21L, 300)
    val df = vs.zip(vs.reverse).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
      .toDF("_unique_id", "v", "w").repartition(2)
    val preds = shapes ++ Seq(WholeField("w"), FirstChars("w", 2),
      SortedTokens("w"), TokenField("w"))
    // The blocker's earlier projection: every predicate's namespaced
    // Column keys, flattened, distinct per record.
    val keys = flatten(array(preds.map(p => transform(
      columnKeys(p, col(p.field)), k => concat_ws(":", lit(p.id), k))): _*))
    val want = df.select(explode(array_distinct(keys)).as("block_key"),
        col("_unique_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = Blocker.blockingMap(df, preds)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.sorted == want.sorted,
      s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
    val capped = Blocker.tokenBlockingWithDfCap(df, "v", 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val tokens = want.filter(_._1.startsWith("token:v:"))
    val df5 = tokens.groupBy(_._1).filter { case (_, rs) =>
      rs.size >= 2 && rs.size <= 5 }.keySet
    assert(capped.sorted == tokens.filter(t => df5(t._1)).sorted)
  }

  test("blockingMap's shared canopy fit produces the per-predicate " +
      "key multiset") {
    import spark.implicits._
    // Two thresholds on one field share one sims fit inside
    // blockingMap; the combined collect_set must explode to exactly
    // the (block_key, id) multiset the per-predicate fit
    // (TfIdfCanopySpec.keysByValue) produces.
    val records = Seq(
      (1L, "bob smith"), (2L, "robert smith"), (3L, "the cat"),
      (4L, "the the cat"), (5L, "unique"), (6L, "bob smith"))
      .toDF("_unique_id", "name")
    val preds = Seq(TfIdfCanopy("name", 0.8), TfIdfCanopy("name", 0.6))
    val shared = Blocker.blockingMap(records, preds)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val perPredicate = preds.flatMap { p =>
      val vals = records.select(col(p.field).as("value"))
        .where(col("value").isNotNull && col("value") =!= "").distinct()
      records.select(col(p.field).as("value"), col("_unique_id"))
        .join(TfIdfCanopySpec.keysByValue(p, vals), "value")
        .select(explode(col("keys")).as("block_key"), col("_unique_id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(shared.sorted == perPredicate.sorted,
      s"shared-fit keys diverged: extra=" +
        s"${shared.diff(perPredicate)} missing=${perPredicate.diff(shared)}")
    // Both thresholds actually contribute distinct key families.
    assert(shared.exists(_._1.startsWith("canopy0.8:")) &&
      shared.exists(_._1.startsWith("canopy0.6:")))
  }
}

object PredicatesSpec {

  /** The Column-expression form of each shape's raw keys, which the
    * blocker and the learner evaluated before `ColumnPredicate.rawKeys`
    * became the one definition: the differential reference. */
  def columnKeys(p: ColumnPredicate, c: Column): Column = {
    val none = array().cast("array<string>")
    def tokens = filter(split(c, "\\s+"), t => t =!= "")
    p match {
      case _: WholeField =>
        // The CASTED string is compared to "": under ANSI a numeric
        // `c === ""` would constant-fold Cast("", numeric) and abort.
        val s = c.cast("string")
        when(c.isNull || s === "", none).otherwise(array(s))
      case _: TokenField =>
        when(c.isNull, none).otherwise(array_distinct(tokens))
      case FirstChars(_, n) =>
        when(c.isNull || length(c) < n, none)
          .otherwise(array(substring(c, 1, n)))
      case _: FirstToken =>
        when(c.isNull || size(tokens) === 0, none)
          .otherwise(slice(tokens, 1, 1))
      case NGrams(_, n) =>
        when(c.isNull || length(c) < n, none)
          .otherwise(array_distinct(
            transform(sequence(lit(1), length(c) - (n - 1)),
              i => c.substr(i, lit(n)))))
      case _: DigitsOnly =>
        val d = regexp_replace(c, "[^0-9]", "")
        when(c.isNull || d === "", none).otherwise(array(d))
      case _: SortedTokens =>
        when(c.isNull || c === "", none)
          .otherwise(array(concat_ws(" ", sort_array(array_distinct(tokens)))))
    }
  }
}
