package graft.blocking

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Blocking predicate algebra (ref: SURVEY.md D5).
  *
  * Each predicate maps one record to 0..n block-key strings (ref: the
  * learned predicate set applied at pgdedupe/run.py:217-231). Predicate
  * keys are namespaced `"<id>:<raw>"` so keys from different predicates
  * never collide (dedupe does the same with predicate-tuple keys).
  *
  * A simple predicate's keys have one definition, a Scala function of
  * the field's string form ([[ColumnPredicate.rawKeys]]). The learner
  * calls it on each sampled value; the blocker applies every simple
  * predicate of a run through one UDF ([[ColumnPredicate.keys]]) inside
  * the scan's projection + explode. The Column-expression forms these
  * replaced (kept as PredicatesSpec's differential reference) never ran
  * compiled either: Spark 4.1's `transform` and `filter` (ArrayTransform,
  * ArrayFilter) are CodegenFallback, so every key was interpreted.
  */
sealed trait Predicate {
  def id: String
  def field: String
}

/** Predicates whose keys are a pure function of the single field value,
  * no corpus state. `rawKeys` follows Spark's string semantics, which
  * the blocker's earlier Column forms had: lengths and substrings count
  * code points, tokens are the non-empty pieces of Java's `\s+` split,
  * and sorting is Spark's string order (UTF-8 bytes, i.e. code points).
  */
sealed trait ColumnPredicate extends Predicate {
  /** The raw keys of one value in its string form (a non-string field
    * is cast to string first): distinct, in first-seen order, none for
    * null. */
  def rawKeys(v: String): Array[String]
}

object ColumnPredicate {

  private[blocking] val NoKeys = Array.empty[String]
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  /** The non-empty tokens of `split(v, "\\s+")`, in order. */
  private[blocking] def tokens(v: String): Array[String] =
    Whitespace.split(v).filter(_.nonEmpty)

  /** Spark's string order: UTF-8 bytes compared unsigned, which is
    * code-point order (`String.compareTo` orders UTF-16 units instead). */
  private[blocking] val SparkOrder: Ordering[String] =
    Ordering.fromLessThan((a, b) => java.util.Arrays.compareUnsigned(
      a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)

  /** Every predicate's namespaced keys `"<id>:<raw>"` of one record, as
    * one array column, distinct in first-seen order: one UDF over the
    * predicates' fields cast to string. A Java UDF converts its input
    * and output with Spark's interpreted converters, so it adds no
    * generated class beyond the projection it sits in. */
  def keys(ps: Seq[ColumnPredicate]): Column = {
    val fields = ps.map(_.field).distinct
    val preds = ps.toArray
    val at = preds.map(p => fields.indexOf(p.field))
    val f: UDF1[scala.collection.Seq[String], Array[String]] = vs =>
      preds.indices.flatMap(i => preds(i).rawKeys(vs(at(i)))
        .map(k => s"${preds(i).id}:$k")).distinct.toArray
    udf(f, ArrayType(StringType))(
      array(fields.map(col(_).cast("string")): _*))
  }
}

/** Predicates whose keys depend on a fitted corpus index (dedupe's
  * "index predicates", built from `SELECT DISTINCT field` at
  * pgdedupe/run.py:213-222). Keys come from a join against the fitted
  * value→keys table rather than a column expression; `Blocker` fits one
  * shared index per kind.
  */
sealed trait IndexPredicate extends Predicate

object Predicate {

  /** Inverse of `id` — the settings-file round trip for learned
    * predicate sets (ref pgdedupe/run.py:180-181).
    */
  def fromId(id: String): Predicate = {
    val sep = id.indexOf(':')
    require(sep > 0, s"malformed predicate id: $id")
    val (kind, field) = (id.substring(0, sep), id.substring(sep + 1))
    kind match {
      case "whole"                          => WholeField(field)
      case "token"                          => TokenField(field)
      case "firsttok"                       => FirstToken(field)
      case "digits"                         => DigitsOnly(field)
      case "sorted"                         => SortedTokens(field)
      case k if k.startsWith("canopy")      =>
        TfIdfCanopy(field, k.stripPrefix("canopy").toDouble)
      case k if k.startsWith("first")       =>
        FirstChars(field, k.stripPrefix("first").toInt)
      case k if k.startsWith("ngram")       =>
        NGrams(field, k.stripPrefix("ngram").toInt)
      case other =>
        throw new IllegalArgumentException(s"unknown predicate kind: $other")
    }
  }
}

/** Whole-field equality block (dedupe's wholeFieldPredicate). */
final case class WholeField(field: String) extends ColumnPredicate {
  val id = s"whole:$field"
  // The string form: WholeField is the candidate the learner generates
  // for every non-String ftype, and numeric→string never fails.
  def rawKeys(v: String): Array[String] =
    if (v == null || v.isEmpty) ColumnPredicate.NoKeys else Array(v)
}

/** One block per whitespace token (dedupe's tokenFieldPredicate). */
final case class TokenField(field: String) extends ColumnPredicate {
  val id = s"token:$field"
  def rawKeys(v: String): Array[String] =
    if (v == null) ColumnPredicate.NoKeys
    else ColumnPredicate.tokens(v).distinct
}

/** First N characters (dedupe's firstNCharsPredicate family). */
final case class FirstChars(field: String, n: Int) extends ColumnPredicate {
  val id = s"first$n:$field"
  def rawKeys(v: String): Array[String] =
    if (v == null || v.codePointCount(0, v.length) < n) ColumnPredicate.NoKeys
    else Array(v.substring(0, v.offsetByCodePoints(0, n)))
}

/** First whitespace token (dedupe's firstTokenPredicate). */
final case class FirstToken(field: String) extends ColumnPredicate {
  val id = s"firsttok:$field"
  // First NON-EMPTY token: on a leading-whitespace value, split's first
  // element is "" — emitting it funneled every such record into one
  // shared spurious block (quadratic pairs on dirty data). TokenField
  // drops empty tokens from the same split; mirror it here.
  def rawKeys(v: String): Array[String] =
    if (v == null) ColumnPredicate.NoKeys
    else ColumnPredicate.tokens(v).take(1)
}

/** Character n-grams (dedupe's ngramsTokens / commonNGramsPredicate). */
final case class NGrams(field: String, n: Int) extends ColumnPredicate {
  val id = s"ngram$n:$field"
  def rawKeys(v: String): Array[String] =
    if (v == null) ColumnPredicate.NoKeys
    else {
      val cps = v.codePoints().toArray
      (0 to cps.length - n).map(new String(cps, _, n)).distinct.toArray
    }
}

/** Digits-only normalization block (dedupe's commonIntegerPredicate-ish:
  * strips non-digits so "123-45-6789" and "123456789" share a key).
  */
final case class DigitsOnly(field: String) extends ColumnPredicate {
  val id = s"digits:$field"
  // ASCII digits only, as `regexp_replace(v, "[^0-9]", "")`.
  def rawKeys(v: String): Array[String] =
    if (v == null) ColumnPredicate.NoKeys
    else {
      val d = v.filter(c => c >= '0' && c <= '9')
      if (d.isEmpty) ColumnPredicate.NoKeys else Array(d)
    }
}

/** Sorted-token fingerprint: order-insensitive whole-value key
  * (dedupe's sortedAcronym/fingerprint family).
  */
final case class SortedTokens(field: String) extends ColumnPredicate {
  val id = s"sorted:$field"
  // Only "" keys to nothing: an all-whitespace value has no token and
  // keys to the empty fingerprint "".
  def rawKeys(v: String): Array[String] =
    if (v == null || v.isEmpty) ColumnPredicate.NoKeys
    else Array(ColumnPredicate.tokens(v).distinct
      .sorted(ColumnPredicate.SparkOrder).mkString(" "))
}

/** TF-IDF canopy index predicate (dedupe's TfidfTextCanopyPredicate; the
  * reference builds these indexes from `SELECT DISTINCT field`,
  * pgdedupe/run.py:213-222): every distinct field value is a canopy
  * center, and a value's block keys are the centers whose tf-idf cosine
  * similarity reaches `threshold` — so "bob smith" and "robert smith"
  * share a block through the rare token "smith" even though no
  * whole/prefix/token-equality key matches.
  *
  * Spark shape (all joins, no driver index): tokenize distinct values →
  * df-counts → idf weights → token-equality self-join accumulating
  * cosine numerators → threshold filter → collect_set of matched center
  * keys. The token join is the standard tf-idf similarity join; tokens
  * in more than `maxDfRatio` of values are dropped from the index
  * entirely (dedupe's stop-word threshold) so no token fans out
  * quadratically. At 100 TB the index is over DISTINCT values, typically
  * orders of magnitude smaller than the record count.
  */
final case class TfIdfCanopy(field: String, threshold: Double)
    extends IndexPredicate {
  val id = s"canopy$threshold:$field"

  /** Fraction of values a token may appear in before it is dropped from
    * the index (stop-word bound; fixed so the id stays canonical). */
  def maxDfRatio: Double = 0.5
}

object TfIdfCanopy {

  /** Field-tagged variant over `(f, value)` rows: every aggregate and
    * join carries the tag, so ONE pipeline (one set of shuffle stages)
    * fits every canopy field at once — per-field fits paid the fixed
    * stage overhead once per field for identical plan shapes. idf
    * denominators (n_values, df) are per field, as in the single-field
    * fit. Output: `(f, a_value, b_value, cos)`.
    *
    * Shape (round 17): df and norm ride each token row as WINDOW
    * aggregates instead of separate count/norm frames re-joined in.
    * The join form recomputed the whole explode→count→join→filter
    * lineage once per consumer — the l side, the r side, and the norms
    * TWICE more (Spark shares no subplans across join inputs), ~8
    * evaluations and ~2.8 s of q50's train at sf0.1; the window form
    * has three consumers (l, r, diagonal) of one decorated frame.
    * Deliberately LAZY all the way — no persist, no localCheckpoint.
    * Both were tried and measured: an EAGER localCheckpoint ran at
    * plan construction inside whichever phase built the frame, and its
    * GC-timed blocks accumulated across repeated fits at 10× data
    * (block_score 6.7 → 63 s inside the long-lived ScaleBench JVM); a
    * lazy persist of the decorated frame released right after the sims
    * materialization INVALIDATES the dependent sims cache —
    * CacheManager recompiles cached plans that referenced the removed
    * InMemoryRelation — so every post-fit consumer silently recomputed
    * the whole fit (learn_costs 5 → 64 s at 10×). The lazy form's cost
    * is three evaluations of one cheap codegen pipeline during the
    * single sims materialization; both "optimizations" lost to it at
    * scale.
    */
  def simsTagged(values: DataFrame, maxDfRatio: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val total = values.groupBy("f").agg(count(lit(1)).as("n_values"))
    val toks = values
      .select(col("f"), col("value"),
        explode(filter(split(col("value"), "\\s+"), t => t =!= ""))
          .as("tok"))
      .groupBy("f", "value", "tok").agg(count(lit(1)).as("tf"))
    // toks is distinct per (f, value, tok), so the per-(f, tok) row
    // count IS the document frequency.
    val decorated = toks
      .withColumn("df", count(lit(1)).over(Window.partitionBy("f", "tok")))
      .join(broadcast(total), "f")
      .where(col("df").cast("double") <= col("n_values") * maxDfRatio)
      .withColumn("w",
        col("tf") * log(col("n_values").cast("double") / col("df")))
      .where(col("w") > 0)
      .withColumn("norm",
        sqrt(sum(col("w") * col("w")).over(Window.partitionBy("f", "value"))))
      .select("f", "value", "tok", "w", "df", "norm")
    // A token with df = 1 lives in exactly one value, so it can only ever
    // pair a value with itself — and a value's self-cosine is 1 by
    // definition (dot(v,v) = ‖v‖²). Emitting the diagonal directly and
    // joining only df ≥ 2 tokens keeps every a ≠ b pair (two distinct
    // values can only share a df ≥ 2 token) while cutting the quadratic
    // self-join's input by the singleton-token volume — on name-like
    // fields where most distinct values are unique single tokens, that
    // is nearly all of it. Norms ride the join sides (8 bytes each), so
    // no re-join attaches them after the pair aggregation; they are
    // window-computed, hence bit-identical on every row of a value.
    val shared = decorated.where(col("df") >= 2)
    val l = shared.select(col("f"), col("tok"), col("value").as("a_value"),
      col("w").as("wa"), col("norm").as("na"))
    val r = shared.select(col("f"), col("tok"), col("value").as("b_value"),
      col("w").as("wb"), col("norm").as("nb"))
    val offDiag = l.join(r, Seq("f", "tok"))
      .where(col("a_value") =!= col("b_value"))
      .groupBy("f", "a_value", "b_value")
      .agg(sum(col("wa") * col("wb")).as("dot"),
        first("na").as("na"), first("nb").as("nb"))
      .select(col("f"), col("a_value"), col("b_value"),
        (col("dot") / (col("na") * col("nb"))).as("cos"))
    val diag = decorated.groupBy("f", "value")
      .agg(first("norm").as("norm"))
      .select(col("f"), col("value").as("a_value"),
        col("value").as("b_value"), lit(1.0).as("cos"))
    offDiag.unionByName(diag)
  }

  /** Driver twin of [[sims]] for values held in memory (the learner's
    * sample): the same fit — tf per value, the `maxDfRatio` stop-word
    * cut, w = tf·ln(n/df), off-diagonal cosines through df ≥ 2 tokens
    * and a diagonal of exactly 1.0 for every value that keeps a token.
    * `values` must be distinct and non-empty. Entry `a` of the result
    * holds the indices of the values (`a` itself included) whose cosine
    * with value `a` reaches `minCos`, and those cosines. Cost is
    * Σ over tokens of df², like the distributed token self-join.
    */
  def localSims(values: IndexedSeq[String], maxDfRatio: Double,
      minCos: Double): Array[(Array[Int], Array[Double])] = {
    val n = values.length
    val tokIds = mutable.HashMap.empty[String, Int]
    val df = mutable.ArrayBuffer.empty[Int]
    // Per value: (token id, tf), in first-seen token order.
    val tfs = values.map { v =>
      val tf = mutable.LinkedHashMap.empty[Int, Int]
      v.split("\\s+").foreach { t =>
        if (t.nonEmpty) {
          val id = tokIds.getOrElseUpdate(t, { df += 0; df.length - 1 })
          tf(id) = tf.getOrElse(id, 0) + 1
        }
      }
      tf.keys.foreach(id => df(id) += 1)
      tf.toArray
    }
    // Spark's `log` is StrictMath.log; the weights match bit for bit.
    val weights = tfs.map(_.flatMap { case (t, tf) =>
      val w = tf * StrictMath.log(n.toDouble / df(t))
      if (df(t).toDouble <= n * maxDfRatio && w > 0) Some((t, w)) else None
    })
    val norm = weights.map(ws => math.sqrt(ws.map { case (_, w) => w * w }.sum))
    val posting = Array.fill(df.length)(
      (Array.newBuilder[Int], Array.newBuilder[Double]))
    for (a <- 0 until n; (t, w) <- weights(a) if df(t) >= 2) {
      posting(t)._1 += a
      posting(t)._2 += w
    }
    val postIds = posting.map(_._1.result())
    val postWs = posting.map(_._2.result())
    val dot = new Array[Double](n)
    val touched = Array.newBuilder[Int]
    Array.tabulate(n) { a =>
      touched.clear()
      for ((t, wa) <- weights(a) if df(t) >= 2) {
        val (ids, ws) = (postIds(t), postWs(t))
        var j = 0
        while (j < ids.length) {
          val b = ids(j)
          if (b != a) {
            if (dot(b) == 0.0) touched += b
            dot(b) += wa * ws(j)
          }
          j += 1
        }
      }
      val bs = Array.newBuilder[Int]
      val cs = Array.newBuilder[Double]
      if (weights(a).nonEmpty) { bs += a; cs += 1.0 }
      touched.result().foreach { b =>
        val c = dot(b) / (norm(a) * norm(b))
        if (c >= minCos) { bs += b; cs += c }
        dot(b) = 0.0
      }
      (bs.result(), cs.result())
    }
  }
}

object Blocker {

  /** Build the blocking map: one `(block_key, _unique_id, payload…)`
    * row per (record, predicate key) (ref: blocking_map at
    * pgdedupe/run.py:210-245, there via a Python generator + CSV COPY
    * round-trip), each `payload` column evaluated over `records` and
    * carried along, so a consumer of the blocks needs no join back to
    * the records. Column predicates stay a single projection + explode
    * over one UDF ([[ColumnPredicate.keys]]); index predicates each
    * contribute a fitted value→keys join over the field's DISTINCT values
    * (ref run.py:213-222), unioned in.
    */
  def blockingMap(
      records: DataFrame,
      predicates: Seq[Predicate],
      idCol: String = "_unique_id",
      payload: Seq[Column] = Nil): DataFrame = {
    val colPreds = predicates.collect { case p: ColumnPredicate => p }
    val idxPreds = predicates.collect { case p: IndexPredicate => p }
    val carried = col(idCol) +: payload
    val parts = Seq.newBuilder[DataFrame]
    if (colPreds.nonEmpty)
      parts += records.select(
        explode(ColumnPredicate.keys(colPreds)).as("block_key") +: carried: _*)
    // Canopy predicates share ONE threshold-independent sims fit per
    // (maxDfRatio) group — a per-predicate fit (the specs keep it as
    // their reference, `TfIdfCanopySpec.keysByValue`) re-ran the
    // identical tokenize → df-count → idf → token self-join pipeline
    // once per THRESHOLD (the learner's candidate pool pairs 0.8 and
    // 0.6 on each field), the exact double-fit `TfIdfCanopy.sims`'s
    // scaladoc exists to avoid. Thresholds apply as a broadcast spec
    // equi-joined on the field tag; block keys carry the predicate id,
    // so the combined collect_set explodes to the same (block_key, id)
    // multiset the per-predicate parts produced.
    // `.distinct` collapses byte-identical predicates (same field AND
    // threshold, so the same `id`): the combined collect_set below
    // dedups their identical (block_key, id) rows anyway, so emitting
    // them once is the semantics we document — the old per-predicate
    // union emitted duplicates twice, a difference with no downstream
    // effect since pair generation dedups pairs.
    val canopies = idxPreds.collect { case p: TfIdfCanopy => p }.distinct
    canopies.groupBy(_.maxDfRatio).foreach { case (ratio, ps) =>
      val spark = records.sparkSession
      val fields = ps.map(_.field).distinct
      def tagged(extra: Seq[Column]) = records
        .select(explode(array(fields.map(f =>
            // Cast to string so mixed-type canopy fields unify under
            // one array element type (canopy tokenization is
            // string-based regardless).
            struct(lit(f).as("f"), col(f).cast("string").as("value"))): _*))
          .as("fv") +: extra: _*)
        .select(col("fv.f").as("f"), col("fv.value").as("value"), col("*"))
        .drop("fv")
        .where(col("value").isNotNull && col("value") =!= "")
      val sims = TfIdfCanopy.simsTagged(tagged(Seq.empty).distinct(), ratio)
      val spec = broadcast(spark.createDataFrame(
        ps.map(p => (p.field, p.id, p.threshold))).toDF("f", "pid", "thr"))
      val keyRows = sims.join(spec, "f")
        .where(col("cos") >= col("thr"))
        .groupBy(col("f"), col("a_value").as("value"))
        .agg(sort_array(collect_set(
          concat_ws(":", col("pid"), md5(col("b_value"))))).as("keys"))
      val tag = tagged(carried)
      parts += tag.join(keyRows, Seq("f", "value"))
        .select(explode(col("keys")).as("block_key") +:
          tag.columns.drop(2).map(col): _*)
    }
    // IndexPredicate is sealed with TfIdfCanopy as its only kind, and
    // the canopy branch above handles those with ONE shared fit. A new
    // index kind must be routed through a shared fit too — fail loudly
    // here rather than keep a dead generic per-predicate refit branch
    // that would silently resurrect the double-fit cost.
    val unhandled = idxPreds.filterNot(_.isInstanceOf[TfIdfCanopy])
    require(unhandled.isEmpty,
      s"unhandled IndexPredicate kind(s): ${unhandled.map(_.id)} — " +
        "add a shared-fit branch in blockingMap (see the canopy branch)")
    val built = parts.result()
    require(built.nonEmpty, "blockingMap needs at least one predicate")
    built.reduce(_ unionByName _)
  }

  /** TF-capped variant of a token predicate ("index predicate" stand-in,
    * ref run.py:213-222): only tokens whose document frequency is within
    * [2, maxDf] block — singleton tokens can't match anything and
    * ubiquitous tokens create quadratic blocks. Two-pass: a df-count
    * aggregation, then a semi-join filter. No broadcast hint: at 100 TB
    * the admissible token set is itself huge, so the join strategy is
    * left to the optimizer/AQE (which still broadcasts when the set is
    * small enough).
    */
  def tokenBlockingWithDfCap(
      records: DataFrame,
      field: String,
      maxDf: Long,
      idCol: String = "_unique_id"): DataFrame = {
    val keyed = records.select(
      explode(ColumnPredicate.keys(Seq(TokenField(field)))).as("block_key"),
      col(idCol))
    val admissible = keyed.groupBy("block_key").count()
      .where(col("count") >= 2 && col("count") <= maxDf)
      .select("block_key")
    keyed.join(admissible, "block_key")
  }
}
