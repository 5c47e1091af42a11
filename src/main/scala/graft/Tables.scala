package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** Harness table loader (TESTDATA.md): one parquet file per table under a
  * scale-factor directory.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads via
    // spark.sql.legacy.parquet.nanosAsLong (set by GraftSession); convert
    // the long nanos back to a micros timestamp. DuckDB truncates ns→µs
    // the same way, so oracle comparisons stay exact.
    val nanoFixed =
      if (name == "events" && df.schema("ts").dataType == LongType)
        df.withColumn("ts",
          timestamp_micros((col("ts") / 1000L).cast("long")))
      else df
    normalizeNtz(nanoFixed)
  }

  /** The schema `spark.read.parquet(path)` infers, read from the
    * footer on the driver (of the first data file, for a Spark-written
    * directory) instead of by inference's Spark job, so building a
    * query's frame fires no job. Inference converts each footer with
    * this same call, under the session's conf (`nanosAsLong` included).
    */
  private[graft] def footerSchema(spark: SparkSession,
      path: String): StructType = {
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.{HadoopInputFile, HiddenFileFilter}
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    // A file lists as itself; hidden names (_SUCCESS, .crc) are skipped.
    val file = root.getFileSystem(conf)
      .listStatus(root, HiddenFileFilter.INSTANCE).map(_.getPath).min
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try new Footer(file, reader.getFooter) finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The harness regenerates fixtures with whatever timestamp encoding
    * its writer of the day emits — TIMESTAMP(NANOS), micros with
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ), or UTC micros have
    * all shipped. Downstream code (and `Row.getTimestamp` accessors)
    * should see ONE type regardless, so every TIMESTAMP_NTZ column —
    * including ones nested inside struct/array/map payloads, should a
    * future fixture era ship those — is cast to session-zone
    * TimestampType here. All graft sessions pin
    * `spark.sql.session.timeZone=UTC`, making the cast a pure
    * reinterpretation — wall-clock values, window results, and oracle
    * hashes are unchanged (both fixture eras are oracle-green).
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
    def rewrite(dt: DataType): DataType = dt match {
      case TimestampNTZType => TimestampType
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = rewrite(f.dataType))))
      case a: ArrayType => a.copy(elementType = rewrite(a.elementType))
      case m: MapType =>
        m.copy(keyType = rewrite(m.keyType), valueType = rewrite(m.valueType))
      case other => other
    }
    df.schema.fields.foldLeft(df) { (d, f) =>
      val target = rewrite(f.dataType)
      if (target == f.dataType) d
      else d.withColumn(f.name, col(f.name).cast(target))
    }
  }

  /** [[loadCsv]]'s `nullValue`: a string NO real field can be (a lone
    * U+0000) so a quoted `""` survives as an empty string instead of
    * folding into null (see [[loadCsv]]'s fidelity notes). The one
    * collision left: an EXTERNAL file whose field legitimately contains
    * the single-NUL string reads as null. [[sinkCsv]]'s files never
    * hold a null token; a producer that writes one (`\\N`, `NULL`) is
    * read with Spark's CSV reader and that token as its `nullValue`.
    */
  private val CsvNullSentinel: String = "\u0000"

  /** CSV bulk ingest (S3 — the Spark stand-in for the reference's COPY
    * surface, pgdedupe/run.py:234-245): header CSV with an EXPLICIT
    * schema. Schema inference would scan the data twice and guess types
    * per-run — never acceptable at 100 TB, so there is deliberately no
    * inferring overload.
    *
    * Fidelity options (both directions): Spark's CSV defaults silently
    * lose two classes of string data, found by the randomized
    * source/sink differential —
    *
    *  - NULL vs EMPTY STRING: the writer already distinguishes them
    *    (null → unquoted empty, "" → quoted `""`), but the default
    *    reader maps BOTH back to null. Setting the reader's `nullValue`
    *    to a sentinel no real field can be (`U+0000`) stops the quoted
    *    `""` from matching it, so it survives as an empty string, while
    *    the unquoted empty still parses to null through the parser's
    *    inherent empty→null path. (A field whose value IS the NUL
    *    string would read as null — the one remaining collision.)
    *  - WHITESPACE: the WRITER trims leading/trailing whitespace by
    *    default (`ignoreLeading/TrailingWhiteSpace` default true on
    *    write, false on read) — `" padded "` silently lands as
    *    `"padded"`. Both are pinned false in [[sinkCsv]].
    *
    * `multiLine = true` is required to read fields with EMBEDDED
    * NEWLINES (the writer quotes them correctly; the default reader
    * splits records at every newline and corrupts the frame). It is
    * opt-in because a multiLine file is NOT SPLITTABLE — one task per
    * file, the difference between a parallel and a serial 100 TB
    * ingest — so the default stays the splittable reader and
    * newline-bearing corpora must either opt in or arrive in a
    * structured format (parquet/ORC/JSON-lines) instead.
    */
  def loadCsv(spark: SparkSession, path: String,
      schema: StructType,
      multiLine: Boolean = false): DataFrame =
    spark.read
      .option("header", "true")
      .option("nullValue", CsvNullSentinel)
      .option("multiLine", multiLine.toString)
      .schema(schema)
      .csv(path)

  /** CSV sink (S4): header CSV. Partition count is the caller's lineage
    * (one file per partition) — coalesce upstream if a single file is
    * required. Whitespace-preserving (see [[loadCsv]]'s fidelity
    * notes).
    */
  def sinkCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** ORC ingest (S3 alternate columnar format — same bulk-load surface as
    * the reference's COPY, pgdedupe/run.py:234-245, but in the other
    * columnar format Spark ships natively). Explicit schema for the same
    * no-inference-at-scale reason as [[loadCsv]]; ORC is self-describing,
    * so the schema acts as a read-time contract (mismatch fails loudly
    * instead of silently casting).
    */
  def loadOrc(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** ORC sink (S4 alternate): columnar, compressed, type-lossless —
    * unlike CSV this round-trips timestamps and doubles bit-exactly by
    * construction. Partitioning is the caller's lineage.
    */
  def sinkOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JSON-lines ingest (S3 alternate row format — the interchange format
    * an LLM-data pipeline actually receives documents in). Explicit
    * schema is REQUIRED: inference reads the data twice and types each
    * run by sampling — never acceptable at 100 TB, and silently wrong on
    * sparse fields.
    */
  def loadJson(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines sink (S4 alternate): one JSON object per line, splittable
    * downstream. Doubles serialize via shortest round-trip decimal, so
    * numeric fidelity survives the text hop (exercised by the q27 oracle
    * hash).
    */
  def sinkJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Bucketed parquet sink (S4 scale path — pre-shuffled storage for
    * co-located joins). Hash-partitions rows into `numBuckets` buckets on
    * `bucketCol`, each bucket sorted on `sortCol`, and registers the
    * result in the session catalog (bucket metadata lives there; `path`
    * keeps the bytes external). Two tables bucketed the same way join
    * with ZERO Exchange — the shuffle is paid ONCE at write time and
    * amortized over every subsequent join, the difference between an
    * every-query 100 TB shuffle and none (gated in BucketedJoinSpec).
    */
  def sinkBucketed(df: DataFrame, table: String, path: String,
      numBuckets: Int, bucketCol: String, sortCol: String): Unit =
    df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(sortCol)
      .format("parquet")
      .saveAsTable(table)

  /** Catalog read of a bucketed table — the only route that carries the
    * bucket spec into planning (a bare `spark.read.parquet(path)` of the
    * same files would lose `HashPartitioning` and re-shuffle).
    */
  def loadTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** JDBC partitioned ingest (S1 alternate mapping — the reference reads
    * its entries table straight from a Postgres connection,
    * pgdedupe/run.py:138-144). Partitioning is REQUIRED, not optional: a
    * numeric `partitionColumn` with bounds and `numPartitions` makes the
    * scan issue that many parallel range queries; the no-partitioning
    * overload Spark also offers is a single serial cursor, unusable at
    * scale, so this loader deliberately doesn't expose it. Filters and
    * column pruning push down into the generated SQL (JDBCScan shows
    * PushedFilters), so a projected/filtered read ships only what it
    * needs.
    */
  def loadJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: String,
      lowerBound: Long,
      upperBound: Long,
      numPartitions: Int,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .options(options)
      .load()
}
