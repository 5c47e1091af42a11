package graft

import graft.config.DedupeConfig
import graft.model.Settings
import graft.pipeline.DedupePipeline

/** CLI entry point: config-file-in → parquet-out (ref: `pgdedupe --config
  * X --db Y`, pgdedupe/cli.py:26-67 — the Postgres connection is replaced
  * by parquet paths; everything else is config-driven).
  *
  * Usage: graft.Main --config <yaml|json> [--input <parquet>]
  *        [--output <dir>]
  * Config keys `input`/`output` supply defaults for the flags. Writes
  * `unique_map/` (source-key grain: dedupe_id, <key>, cluster_score) and
  * `entries_unique/` (deduped-record grain) under the output dir, and
  * prints the reproducibility model hash (ref cli.py:96-104) and total
  * wall-clock (ref cli.py:67).
  */
object Main {
  val Usage: String =
    "usage: graft.Main --config <file> [--input <parquet>] [--output <dir>]"
  private val Flags = Set("--config", "--input", "--output")

  /** The flags as (name → value), `--` stripped. Anything but `--config`,
    * `--input` and `--output`, each at most once and with a value, is
    * refused with `Usage`, as is a missing `--config`.
    */
  def parseArgs(args: Seq[String]): Map[String, String] = {
    def fail(why: String): Nothing =
      throw new IllegalArgumentException(s"$why\n$Usage")
    val pairs = args.grouped(2).map {
      case Seq(k, v) if Flags(k) => k.stripPrefix("--") -> v
      case Seq(k) if Flags(k) => fail(s"$k has no value")
      case s => fail(s"unknown argument ${s.head}")
    }.toSeq
    val opts = pairs.toMap
    if (opts.size != pairs.size) fail("a flag is given twice")
    if (!opts.contains("config")) fail("missing --config")
    opts
  }

  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val opts = parseArgs(args.toSeq)
    val cfg = DedupeConfig.load(opts("config"))
    val input = opts.get("input").orElse(cfg.input)
      .getOrElse(sys.error("no --input flag and no `input` config key"))
    val output = opts.get("output").orElse(cfg.output)
      .getOrElse(sys.error("no --output flag and no `output` config key"))

    val spark = GraftSession()
    val entries = spark.read.parquet(input)
    val result = DedupePipeline.run(entries, cfg)
    println(s"model hash = ${Settings.modelHash(cfg, result.model)}")
    result.uniqueMap.write.mode("overwrite").parquet(s"$output/unique_map")
    result.mapped.write.mode("overwrite").parquet(s"$output/entries_unique")
    result.release() // both sinks written; free every pinned frontier
    println(f"ran in ${(System.nanoTime() - start) / 1e9}%.1f seconds")
    spark.stop()
  }
}
