package graft.config

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One dedupable field, mirroring the reference's YAML field dicts
  * (ref: config.yaml:8-27, pgdedupe/run.py:50-52).
  *
  * `ftype`: "String" | "Categorical" | "Exact" | "Price" — the comparator
  * family (ref: dedupe variable types driven from config).
  */
final case class FieldSpec(
    field: String,
    ftype: String = "String",
    categories: Seq[String] = Nil,
    hasMissing: Boolean = false,
    variableName: Option[String] = None) {
  /** ref pgdedupe/run.py:50-52 — every field gets a variable name. */
  def varName: String = variableName.getOrElse(field)
}

/** Run configuration, mirroring `process_options`
  * (ref: pgdedupe/run.py:13-59) with its 12 defaults (run.py:29-43).
  * Postgres connection keys are replaced by input/output paths.
  */
final case class DedupeConfig(
    key: String,
    fields: Seq[FieldSpec],
    interactions: Seq[Seq[String]] = Nil,
    filterCondition: String = "TRUE",
    mergeExact: Seq[Seq[String]] = Nil,
    threshold: Double = 0.5,
    recall: Double = 0.9,
    seed: Long = 0L,
    maxBlockSize: Int = 1000,
    maxComponentSize: Int = 1000,
    // Edge count at or below which connected components runs as a driver
    // union-find (one collect, zero shuffle rounds) instead of the
    // distributed star kernel — see ConnectedComponents.auto. ~16 MB of
    // driver heap at the default; raise on a fat driver, lower (or 0 to
    // force the distributed kernel) when edges are wide of that.
    ccEdgeCap: Long = 1000000L,
    // Per-task ceiling on one HAC component's materialized edge list
    // (Hierarchical.strongestEdges): beyond it, only the strongest
    // edges are agglomerated and edge-orphaned vertices become
    // singletons. A few hundred MB of executor heap at the default —
    // size to the executor, not the data.
    maxEdgesPerComponent: Int = 4000000,
    settingsFile: Option[String] = None,
    trainingFile: Option[String] = None,
    useSavedModel: Boolean = false,
    input: Option[String] = None,
    output: Option[String] = None) {

  /** Dedup columns, ref `config['columns']` (run.py:56-58). */
  def columns: Seq[String] = fields.map(_.field).distinct
}

object DedupeConfig {

  /** Load YAML or JSON config by extension (ref pgdedupe/utils.py:9-17).
    * Uses snakeyaml (ships with Spark) for both: YAML is a JSON superset.
    */
  def load(path: String): DedupeConfig = {
    val text = Files.readString(Paths.get(path))
    fromYaml(text)
  }

  def fromYaml(text: String): DedupeConfig = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val root = yaml.load[java.util.Map[String, Object]](text).asScala
    fromMap(root.toMap)
  }

  /** Port of `process_options` normalization (ref pgdedupe/run.py:13-59):
    * required keys, defaults, merge_exact list-of-lists normalization.
    */
  def fromMap(m: Map[String, Object]): DedupeConfig = {
    def str(k: String, dflt: => String): String =
      m.get(k).map(_.toString).getOrElse(dflt)
    def opt(k: String): Option[String] = m.get(k).map(_.toString)
    val required = Seq("key", "fields")
    val missing = required.filterNot(m.contains)
    require(missing.isEmpty, s"missing required config keys: $missing")

    val fields = m("fields").asInstanceOf[java.util.List[Object]].asScala.map {
      f =>
        val fm = f.asInstanceOf[java.util.Map[String, Object]].asScala
        FieldSpec(
          field = fm("field").toString,
          ftype = fm.getOrElse("type", "String").toString,
          categories = fm
            .get("categories")
            .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq
              .map(_.toString))
            .getOrElse(Nil),
          hasMissing = fm.get("has missing").exists(_.toString.toBoolean),
          variableName = fm.get("variable name").map(_.toString)
        )
    }.toSeq

    // ref run.py:45-48 — merge_exact may be a single list or list of lists.
    val mergeExact: Seq[Seq[String]] = m.get("merge_exact") match {
      case None => Nil
      case Some(v) =>
        val l = v.asInstanceOf[java.util.List[Object]].asScala.toSeq
        if (l.isEmpty) Nil
        else if (l.head.isInstanceOf[java.util.List[_]])
          l.map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq
            .map(_.toString))
        else Seq(l.map(_.toString))
    }

    val interactions: Seq[Seq[String]] = m.get("interactions") match {
      case None => Nil
      case Some(v) =>
        v.asInstanceOf[java.util.List[Object]].asScala.toSeq
          .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq
            .map(_.toString))
    }

    DedupeConfig(
      key = m("key").toString,
      fields = fields,
      interactions = interactions,
      filterCondition = str("filter_condition", "TRUE"),
      mergeExact = mergeExact,
      threshold = str("threshold", "0.5").toDouble,
      recall = str("recall", "0.9").toDouble,
      seed = str("seed", "0").toLong,
      maxBlockSize = str("max_block_size", "1000").toInt,
      maxComponentSize = str("max_component_size", "1000").toInt,
      ccEdgeCap = str("cc_edge_cap", "1000000").toLong,
      maxEdgesPerComponent =
        str("max_edges_per_component", "4000000").toInt,
      settingsFile = opt("settings_file"),
      trainingFile = opt("training_file"),
      useSavedModel = str("use_saved_model", "false").toBoolean,
      input = opt("input"),
      output = opt("output")
    )
  }
}
