package graft.blocking

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PredicatesSpec extends SparkSpec {

  test("FirstToken skips leading whitespace instead of keying on ''") {
    import spark.implicits._
    // split's first element on a leading-whitespace value is "" — an
    // empty-string key funneled the entire leading-whitespace
    // population into ONE shared spurious block (quadratic pairs on
    // dirty data). TokenField filters empty tokens from the same
    // split; FirstToken must mirror it.
    val keys = Seq(" alice", "\t bob", "carol smith", "   ", "", null)
      .toDF("v")
      .select(col("v"), FirstToken("v").keys(col("v")).as("keys"))
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[String](1))
      .toMap
    assert(keys(Some(" alice")) == Seq("firsttok:v:alice"))
    assert(keys(Some("\t bob")) == Seq("firsttok:v:bob"))
    assert(keys(Some("carol smith")) == Seq("firsttok:v:carol"))
    assert(keys(Some("   ")).isEmpty,
      "whitespace-only value must produce no key")
    assert(keys(Some("")).isEmpty && keys(None).isEmpty)
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
