package graft.sources

import org.apache.spark.sql.types.TimestampType

import graft.{SparkSpec, Tables}

/** Fixture-encoding contract of [[Tables.load]]: the harness has shipped
  * `events.ts` as TIMESTAMP(NANOS), as micros with isAdjustedToUTC=false
  * (TIMESTAMP_NTZ), and as UTC micros across regenerations — consumers
  * must see plain session-zone TimestampType in every era, or any
  * `Row.getTimestamp` accessor breaks on the next regeneration.
  */
class TablesSpec extends SparkSpec {

  test("load normalizes events.ts to TimestampType whatever the " +
      "fixture's parquet timestamp encoding") {
    val events = Tables.load(spark, sf0001, "events")
    assert(events.schema("ts").dataType == TimestampType,
      s"ts read as ${events.schema("ts").dataType}")
    // The external row type must be java.sql.Timestamp (a TIMESTAMP_NTZ
    // leak would hand back java.time.LocalDateTime and throw here).
    val t = events.select("ts").orderBy("ts").head().getTimestamp(0)
    assert(t != null && t.getTime > 0)
  }

  test("NTZ normalization reaches timestamps nested in struct/array " +
      "payloads, not just top-level columns") {
    // No current fixture nests timestamps, but the next fixture era
    // might (e.g. a struct-typed event payload); pin the recursive
    // rewrite now so that surprise has a known landing spot.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ntz_nested").toString
    spark.range(3)
      .select(col("id"),
        struct(
          timestamp_seconds(col("id") + 1).cast(TimestampNTZType).as("at"),
          array(timestamp_seconds(col("id") + 1).cast(TimestampNTZType))
            .as("ats"))
          .as("payload"))
      .write.mode("overwrite").parquet(s"$dir/nested.parquet")
    val df = Tables.load(spark, dir, "nested")
    val payload = df.schema("payload").dataType.asInstanceOf[StructType]
    assert(payload("at").dataType == TimestampType,
      s"nested at read as ${payload("at").dataType}")
    assert(payload("ats").dataType ==
      ArrayType(TimestampType, containsNull = true) ||
      payload("ats").dataType == ArrayType(TimestampType, false),
      s"nested array read as ${payload("ats").dataType}")
    val row = df.orderBy("id").select("payload.at").head()
    assert(row.getTimestamp(0) != null)
  }

  test("load reads each fixture's schema from its footer: the schema " +
      "inference gives, and no Spark job") {
    val (_, jobs) = withJobs(Tables.names.map(Tables.load(spark, sf0001, _)))
    assert(jobs.isEmpty, s"loading the tables fired jobs: $jobs")
    Tables.names.foreach { name =>
      val path = s"$sf0001/$name.parquet"
      val inferred = spark.read.parquet(path).schema
      val footer = Tables.footerSchema(spark, path)
      assert(footer == inferred, s"$name: $footer vs $inferred")
    }
  }
}
