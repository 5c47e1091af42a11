package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextAnalysis

/** Differential gate for the char-scan tokenizer behind every fused
  * dedup UDF: on seeded random strings it must give exactly the tokens
  * of the regex form it replaced — `TextAnalysis.tokens` in Spark, and
  * the same trim/split regexes on the driver — including the one case
  * the scan hands back to the regexes (a final U+0085, U+2028 or U+2029
  * after whitespace, which `$` matches before).
  */
class TokenizerDifferentialSpec extends SparkSpec {
  import spark.implicits._

  /** The three line terminators `$` matches before that `\s` misses. */
  private val terminators = Seq('\u0085', '\u2028', '\u2029')

  /** Every `\s` char, the three terminators, no-break and ideographic
    * spaces (not `\s`), a surrogate pair, a lone surrogate, ASCII and
    * non-ASCII letters.
    */
  private val alphabet: IndexedSeq[String] =
    (Seq(" ", "\t", "\n", "\u000B", "\f", "\r") ++
      terminators.map(_.toString) ++
      Seq("\u00a0", "\u3000", "\ud83d\ude80", "\ud800", "a", "b", "\u00e9",
        "\u5b57")).toIndexedSeq

  /** Seeded strings: empty, whitespace-only, or random draws from the
    * alphabet, a quarter of them ending in whitespace + a terminator.
    */
  private def strings(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq("", " ", "\t\n\r", "\u000B\f ") ++ Seq.fill(n) {
      val s = Seq.fill(r.nextInt(12))(alphabet(r.nextInt(alphabet.size)))
        .mkString
      if (r.nextInt(4) == 0)
        s + " " + terminators(r.nextInt(terminators.size))
      else s
    }
  }

  /** The distinct shingles of `k` tokens of each text (null → null), as
    * strings decoded from [[TextDedup.shingleSet]], the byte kernel
    * `jaccardVerify` scores. They come sorted by their UTF-8 bytes, so
    * the tests compare them sorted. */
  private def shingles(text: Column, k: Int): Column = udf { (t: String) =>
    if (t == null) null
    else {
      val b = TextDedup.shingleSet(t, k)
      if (b.isEmpty) Array.empty[String]
      else new String(b, java.nio.charset.StandardCharsets.UTF_8).split("\n")
    }
  }.apply(text)

  /** The regex form the scan replaced, as it ran on the driver. */
  private def regexTokens(t: String): Seq[String] = {
    val trimmed = t.replaceAll("^\\s+|\\s+$", "")
    if (trimmed.isEmpty) Seq.empty else trimmed.split("\\s+").toSeq
  }

  test("tokenize equals the trim/split regexes on 200k random strings") {
    Seq(1L, 2L, 3L, 4L).foreach { seed =>
      strings(seed, 50000).foreach { s =>
        assert(TextDedup.tokenize(s).toSeq == regexTokens(s),
          s"seed $seed: ${s.map(_.toInt).mkString("[", ",", "]")}")
      }
    }
  }

  test("shingles(text, 1) and atLeastTokens(text, k) match " +
      "TextAnalysis.tokens on random strings and null") {
    Seq(11L, 12L).foreach { seed =>
      val docs = (strings(seed, 10000).map(Option(_)) :+ None).toDF("text")
      val toks = TextAnalysis.tokens(col("text"))
      val rows = docs.select(col("text"),
        shingles(col("text"), 1).as("got"),
        array_distinct(toks).as("want"),
        TextDedup.atLeastTokens(col("text"), 1).as("got1"),
        coalesce(size(toks) >= 1, lit(false)).as("want1"),
        TextDedup.atLeastTokens(col("text"), 3).as("got3"),
        coalesce(size(toks) >= 3, lit(false)).as("want3")).collect()
      assert(rows.length == 10005)
      rows.foreach { r =>
        val what = s"seed $seed: " + Option(r.getString(0))
          .map(_.map(_.toInt).mkString("[", ",", "]")).getOrElse("null")
        assert(Option(r.getSeq[String](1)).map(_.sorted) ==
          Option(r.getSeq[String](2)).map(_.sorted), what)
        assert(r.getBoolean(3) == r.getBoolean(4), s"k=1 $what")
        assert(r.getBoolean(5) == r.getBoolean(6), s"k=3 $what")
      }
    }
  }

  test("a text with U+0085, U+2028 or U+2029 takes the regex path") {
    terminators.foreach { c =>
      val text = s"a $c"
      // `$` matches before the final terminator, so the trim eats the
      // space and the regexes give one token where a plain scan of the
      // non-`\s` runs would give two.
      assert(TextDedup.tokenize(text).toSeq == Seq(s"a$c"))
      val r = Seq(text).toDF("text").select(
        shingles(col("text"), 1),
        TextAnalysis.tokens(col("text")),
        TextDedup.atLeastTokens(col("text"), 2)).head()
      assert(r.getSeq[String](0) == Seq(s"a$c"))
      assert(r.getSeq[String](1) == Seq(s"a$c"))
      assert(!r.getBoolean(2), s"U+${c.toInt.toHexString}: 2 tokens")
    }
  }
}
