package graft.similarity

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.config.{DedupeConfig, FieldSpec}

/** Field-comparator vectorization (ref: SURVEY.md D1).
  *
  * Per candidate pair, computes one distance per configured variable
  * (ref: pgdedupe/run.py:50-58 builds String/Categorical/Interaction
  * variables with `has missing` indicators; scoring happens inside
  * dedupe's matchBlocks at run.py:379). Here each variable becomes a
  * Spark Column over a pair-DataFrame with `l_<field>` / `r_<field>`
  * columns, assembled into `features: array<double>`.
  *
  * ALL comparators are codegen'd column expressions — affine-gap,
  * formerly the one Scala UDF here (it fenced whole-stage codegen
  * around every String field in the scorer's feature projection), is
  * the native [[graft.functions.AffineGapDistance]] expression calling
  * the same [[AffineGap]] DP, bit-identical values (FunctionsSpec
  * pins the three-way equality).
  */
object Comparators {

  /** Codegen'd normalized affine-gap distance (null in → null out;
    * [[fieldDistance]]'s guard keeps nulls out anyway).
    */
  def affineGap(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.affineGap(a, b)

  /** Codegen'd affine-gap similarity in (0, 1]. */
  def affineGapSim(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.affineGapSim(a, b)

  /** Distance column for one field over pair columns l/r.
    * NULL on either side yields NaN-free 0.0 distance with the missing
    * indicator (separate column) carrying the signal, mirroring dedupe's
    * `has missing` dummy-variable treatment.
    */
  def fieldDistance(f: FieldSpec, l: Column, r: Column): Column = f.ftype match {
    case "String" =>
      when(l.isNull || r.isNull, lit(0.0)).otherwise(affineGap(l, r))
    case "Categorical" | "Exact" =>
      when(l.isNull || r.isNull, lit(0.0))
        .otherwise(when(l === r, lit(0.0)).otherwise(lit(1.0)))
    case "Price" | "Numeric" =>
      // try_cast, not cast: a dirty string value ("N/A", "12,50") in a
      // numeric-typed field would either ABORT the scoring job under
      // ANSI (the Spark 4 default) or, ANSI off, slip a null past the
      // isNull guard into a null FEATURE. Unparseable values follow
      // the same 0.0-distance path as missing ones.
      val ld = l.try_cast("double")
      val rd = r.try_cast("double")
      when(l.isNull || r.isNull || ld.isNull || rd.isNull, lit(0.0))
        .otherwise(abs(ld - rd) / greatest(abs(ld), abs(rd), lit(1.0)))
    case other =>
      throw new IllegalArgumentException(s"unknown field type: $other")
  }

  /** Missing-data indicator (ref `has missing: true`, config.yaml:10). */
  def missingIndicator(l: Column, r: Column): Column =
    when(l.isNull || r.isNull, lit(1.0)).otherwise(lit(0.0))

  /** Ordered feature names for a config: one per field, one per
    * `has missing` field, one per interaction (product of members,
    * ref run.py:54-55). Order is the model-weight contract.
    */
  /** Duplicate varNames (one field listed twice with different ftypes
    * but no `variable name` override) would silently collide the d_/m_
    * columns and mis-zip the name-keyed weight vector — the config
    * model has `variable name` precisely to disambiguate, so require
    * it.
    */
  private def requireDistinctVars(cfg: DedupeConfig): Unit = {
    val dups = cfg.fields.groupBy(_.varName).filter(_._2.length > 1).keys
    require(dups.isEmpty,
      s"duplicate variable name(s) ${dups.mkString(", ")}: give each " +
        "(field, type) spec a distinct `variable name`")
  }

  def featureNames(cfg: DedupeConfig): Seq[String] = {
    requireDistinctVars(cfg)
    val base = cfg.fields.map(f => s"d_${f.varName}")
    val missing = cfg.fields.filter(_.hasMissing).map(f => s"m_${f.varName}")
    val inter = cfg.interactions.map(is => s"x_${is.mkString("_")}")
    base ++ missing ++ inter
  }

  /** Feature columns over a pair-DataFrame with l_/r_ prefixed fields. */
  def featureColumns(cfg: DedupeConfig): Seq[(String, Column)] = {
    requireDistinctVars(cfg)
    def lc(f: String) = col(s"l_$f")
    def rc(f: String) = col(s"r_$f")
    val byVar: Map[String, FieldSpec] = cfg.fields.map(f => f.varName -> f).toMap
    val base = cfg.fields.map { f =>
      s"d_${f.varName}" -> fieldDistance(f, lc(f.field), rc(f.field))
    }
    val missing = cfg.fields.filter(_.hasMissing).map { f =>
      s"m_${f.varName}" -> missingIndicator(lc(f.field), rc(f.field))
    }
    val baseNames = base.map(_._1).toSet
    // Interactions REFERENCE the materialized base feature columns
    // (`col("d_x")`), never re-instantiate the comparator expression —
    // otherwise each affine-gap DP would run once for the base feature
    // and again per interaction it appears in.
    val inter = cfg.interactions.map { members =>
      val cols = members.map { v =>
        // baseNames covers exactly byVar's keys (both derive from
        // cfg.fields), so an unknown member is a config error — fail
        // with a readable message rather than re-instantiating the
        // comparator (the double-evaluation trap the comment above
        // warns of) or a bare NoSuchElementException.
        require(baseNames(s"d_$v"),
          s"interaction references unknown variable $v " +
            s"(known: ${byVar.keys.toSeq.sorted.mkString(", ")})")
        col(s"d_$v")
      }
      s"x_${members.mkString("_")}" -> cols.reduce(_ * _)
    }
    base ++ missing ++ inter
  }

  /** Attach all feature columns (named, in featureNames order). Two
    * projections: base comparators first, then interactions referencing
    * them by name. No array assembly here — an array<double> plus
    * higher-order functions would drop the projection out of whole-stage
    * codegen; scoring consumes the named columns directly.
    */
  def withFeatures(cfg: DedupeConfig, pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cols = featureColumns(cfg)
    val interNames = cols.map(_._1).filter(_.startsWith("x_")).toSet
    val (inter, baseAndMissing) = cols.partition(c => interNames(c._1))
    val withBase = pairs.select(
      col("*") +: baseAndMissing.map { case (n, c) => c.as(n) }: _*)
    inter.foldLeft(withBase) { case (d, (n, c)) => d.withColumn(n, c) }
  }
}
