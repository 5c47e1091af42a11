package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "the quick brown fox jumps over a lazy dog"),   // near dup of 1
      (4L, "completely different content about spark engines"),
      (5L, "spark engines are completely different content about")
    ).toDF("doc_id", "text")
  }

  test("exactByHash collapses identical texts to min id") {
    val out = TextDedup.exactByHash(docs)
    assert(out.count() == 4)
    val dup = out.where(col("dup_count") === 2).collect().head
    assert(dup.getAs[Long]("canonical_id") == 1L)
    assert(dup.getSeq[Long](out.columns.indexOf("member_ids")) ==
      Seq(1L, 2L))
  }

  test("minhash-LSH finds exact and near duplicates") {
    // 12 bands x 1 row: near-dup jaccard 0.6 collides with prob
    // 1 - 0.4^12 = 0.9998 — not a coin flip on the fixed hash draw.
    val cand = TextDedup.minHashCandidates(docs, shingleK = 2,
      numHashes = 12, bands = 12)
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"missed exact dup in $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"missed near dup in $pairs")
  }

  test("jaccard verification scores exact dups 1.0 and filters noise") {
    val cand = TextDedup.minHashCandidates(docs, shingleK = 2,
      numHashes = 12, bands = 12)
    val verified = TextDedup.jaccardVerify(docs, cand, shingleK = 2,
      minJaccard = 0.5)
    val scores = verified.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(scores.get((1L, 2L)).contains(1.0))
    assert(!scores.contains((1L, 4L)))
  }

  test("simhash matches a driver-side reference bit-vote implementation") {
    def refSimHash(text: String): Long = {
      val toks = text.split("\\s+").filter(_.nonEmpty).distinct
      val votes = new Array[Int](60)
      toks.foreach { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(t.getBytes("UTF-8"))
          .take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
        val h = java.lang.Long.parseLong(hex, 16)
        var j = 0
        while (j < 60) {
          if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      (0 until 60).map(j => if (votes(j) > 0) 1L << j else 0L)
        .foldLeft(0L)(_ | _)
    }
    val expected = docs.collect()
      .map(r => r.getLong(0) -> refSimHash(r.getString(1))).toMap
    val actual = TextDedup.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(actual == expected,
      s"packed-lane fingerprints diverge: ${actual.toSeq.sorted} vs " +
        s"${expected.toSeq.sorted}")
  }

  test("simhash hamming distance separates near-dups from noise") {
    val fp = TextDedup.simHash(docs)
    val cand = TextDedup.simHashCandidates(fp, maxHamming = 16)
    val pairs = cand.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0L), "exact dups must hash equal")
    val nearDup = pairs.get((1L, 3L))
    assert(nearDup.isDefined && nearDup.get <= 16,
      s"near dup should be within hamming 16: $pairs")
  }

  test("keepCanonical marks component minima") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val out = TextDedup.keepCanonical(pairs, docs, "doc_id")
    val canon = out.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id"))
      .toMap
    assert(canon(1L) == 1L && canon(2L) == 1L && canon(3L) == 1L)
    assert(canon(4L) == 4L && canon(5L) == 5L)
  }

  test("edge inputs: zero-shingle candidate pairs score jaccard 0 " +
      "(no ANSI divide-by-zero), null ids drop from exactByHash, " +
      "param typos fail loudly") {
    import spark.implicits._
    // Two identical two-token docs: SimHash pairs them, but at
    // shingleK=3 both shingle sets are EMPTY — union 0 must not abort
    // the job under ANSI; empty sets carry no similarity evidence.
    // A null text shingles to the empty set too, a short text pairs
    // with a long one at 0, and a pair naming an id absent from docs
    // drops out.
    val docs = Seq((1L, Some("foo bar")), (2L, Some("foo bar")),
      (3L, Some("alpha beta gamma delta")), (4L, None))
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (3L, 4L), (3L, 99L))
      .toDF("a_id", "b_id")
    val verified = TextDedup.jaccardVerify(docs, cand, shingleK = 3,
      minJaccard = 0.0)
    val j = verified.as[(Long, Long, Double)].collect().sorted.toSeq
    assert(j == Seq((1L, 2L, 0.0), (1L, 3L, 0.0), (3L, 4L, 0.0)),
      s"empty-set pairs must score 0, absent ids drop: $j")
    // Null ids: min/collect_list skip them while count counts them —
    // the group's dup_count would disagree with member_ids. Dropped.
    val withNullId = Seq((Some(1L), "same text"), (None, "same text"))
      .toDF("doc_id", "text")
    val groups = TextDedup.exactByHash(withNullId)
      .select("canonical_id", "dup_count").as[(Long, Long)].collect()
    assert(groups.toSeq == Seq((1L, 1L)),
      s"null-id row must not join a group: ${groups.toSeq}")
    intercept[IllegalArgumentException] {
      TextDedup.simHashCandidates(TextDedup.simHash(docs), maxHamming = -1)
    }
    intercept[IllegalArgumentException] {
      TextDedup.bandBuckets(
        TextDedup.minHashSignature(docs, "text", "doc_id", 2, 12),
        "doc_id", 12, 0)
    }
  }
}
