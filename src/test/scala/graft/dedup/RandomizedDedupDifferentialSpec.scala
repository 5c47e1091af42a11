package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Generator-driven differential gate for the DEDUP family (the q34–q38
  * surface), extending the curation-family pattern in
  * graft.text.RandomizedDifferentialSpec: every op is replayed against
  * an independent Spark-SQL restatement of its contract on seeded
  * hostile corpora — null/empty/whitespace-only texts, tab/newline
  * separators, unicode and emoji tokens, exact and near duplicates,
  * identical two-token docs, null and negative/huge ids. The fixed
  * fixtures' oracles for this family (generated bit-arithmetic,
  * recursive CTEs) are the hardest to re-derive when a fixture era
  * changes — this suite is the "next weird corpus" arriving every test
  * run instead of once per regeneration.
  *
  * The twins deliberately use the EXPLODED/aggregate dataflows that the
  * production fused per-row UDFs replaced (signature = explode shingles
  * → md5 → groupBy min of affine mixes; simhash = explode tokens →
  * 60 packed bit-vote sums): the fused loops' "bit-identical to the
  * exploded form" scaladoc claims are re-proven on every run, and the
  * connected-components kernel is checked against a driver-side
  * union-find written from the definition, not against another Spark
  * plan.
  */
class RandomizedDedupDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val M = TextDedup.MinHashMod

  // U+0085, U+2028 and U+2029 are line terminators outside `\s`: the
  // tokenizer keeps them inside tokens, except a final one after a
  // separator, which the trim regex merges into the token before it.
  private val words = Seq("the", "cat", "sat", "on", "a", "mat", "字符",
    "ünïcode", "🚀", "x" * 40, "end", "of", "line", "ß", "€uro",
    "a\u0085b", "\u2028", "é\u2029")
  private val seps = Seq(" ", "  ", "\t", " \n ", "   ", "\r", "\r\n",
    " \u0085", "\u2028 ", " \u2029")

  /** Hostile random corpus: ~1/10 null text, ~1/10 empty or
    * whitespace-only, ~1/8 exact duplicate of an earlier doc, ~1/8
    * near-duplicate (earlier doc + one appended token), a recurring
    * identical two-token doc, multi-whitespace and `\r` separators,
    * multi-byte tokens next to them, U+0085/U+2028/U+2029 inside, before
    * and after tokens, ~2% null ids, ids spread over negative and huge
    * values.
    */
  private def corpus(seed: Long, n: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val pool = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = (0 until n).map { i =>
      val id: Option[Long] =
        if (r.nextInt(50) == 0) None
        else Some(i.toLong * 999983L - 100000000L)
      val text: String = r.nextInt(16) match {
        case 0 => null
        case 1 => Seq("", "   ", "\t\n")(r.nextInt(3))
        case 2 | 3 if pool.nonEmpty => pool(r.nextInt(pool.size))
        case 4 | 5 if pool.nonEmpty =>
          pool(r.nextInt(pool.size)) + seps(r.nextInt(seps.size)) +
            words(r.nextInt(words.size))
        case 6 => "the cat"
        case _ =>
          Seq.fill(1 + r.nextInt(10))(words(r.nextInt(words.size)))
            .mkString(seps(r.nextInt(seps.size)))
      }
      if (text != null && text.trim.nonEmpty && pool.size < 200)
        pool += text
      (id, text)
    }
    rows.toDF("doc_id", "text")
  }

  private def check(name: String, seed: Long, got: DataFrame,
      want: DataFrame): Unit = {
    val g = got.collect().map(_.toSeq).toSeq.sortBy(_.toString())
    val w = want.collect().map(_.toSeq).toSeq.sortBy(_.toString())
    assert(g == w, s"$name diverged from its twin at seed $seed " +
      s"(got ${g.size} rows, want ${w.size})")
  }

  /** The module tokenizer's SQL restatement: trim all \s at both ends,
    * split on \s+, whitespace-only → empty array (null text is
    * filtered by the callers, as in the ops).
    */
  private val toksCte =
    """toks AS (
      SELECT doc_id,
        CASE WHEN regexp_replace(text, '^\\s+|\\s+$', '') = ''
          THEN cast(array() AS array<string>)
          ELSE split(regexp_replace(text, '^\\s+|\\s+$', ''), '\\s+')
        END AS t
      FROM ddocs WHERE text IS NOT NULL)"""

  /** 60-bit md5 prefix, the engine's documented SQL equivalence. */
  private def h60(e: String): String =
    s"cast(conv(substring(md5($e), 1, 15), 16, 10) AS bigint)"

  /** Signature CTEs at (shingleK, numHashes): explode distinct
    * k-shingles, one md5 per shingle, groupBy min of the affine mixes
    * — the aggregate dataflow the fused UDF replaced, constants from
    * the same public mixA/mixB.
    */
  private def sigCtes(k: Int, numHashes: Int): String = {
    val mixes = (0 until numHashes).map(i =>
      s"min((u * ${TextDedup.mixA(i)}L + ${TextDedup.mixB(i)}L) % ${M}L)" +
        s" AS h$i").mkString(", ")
    s"""$toksCte,
      sh AS (
        SELECT doc_id, explode(array_distinct(transform(
            sequence(1, size(t) - ${k - 1}),
            i -> concat_ws(' ', slice(t, i, $k))))) AS s
        FROM toks WHERE size(t) >= $k AND doc_id IS NOT NULL),
      u AS (SELECT doc_id, ${h60("s")} % ${M}L AS u FROM sh),
      sig AS (SELECT doc_id, $mixes FROM u GROUP BY doc_id)"""
  }

  /** Band CTE over `sig`: md5 of the '|'-joined per-band hash slice,
    * phrased from the h_i columns directly (vs the op's array slice).
    */
  private def bandedCte(numHashes: Int, bands: Int): String = {
    val rpb = numHashes / bands
    val structs = (0 until bands).map { b =>
      val parts = (b * rpb until (b + 1) * rpb)
        .map(i => s"cast(h$i AS string)").mkString(", ")
      s"named_struct('band', $b, 'bucket', md5(concat_ws('|', $parts)))"
    }.mkString(",\n          ")
    s"""banded AS (
        SELECT doc_id, e.band AS band, e.bucket AS bucket
        FROM sig
        LATERAL VIEW explode(array(
          $structs)) x AS e)"""
  }

  test("exactByHash matches its SQL twin on random adversarial corpora " +
      "(null text stays singleton, null ids drop)") {
    Seq(3L, 17L, 5150L).foreach { seed =>
      val docs = corpus(seed, 250)
      docs.createOrReplaceTempView("ddocs")
      check("exactByHash", seed,
        TextDedup.exactByHash(docs)
          .withColumn("member_ids",
            array_join(col("member_ids").cast("array<string>"), ",")),
        spark.sql("""
          WITH src AS (
            SELECT md5(text) AS content_hash, doc_id
            FROM ddocs WHERE doc_id IS NOT NULL)
          SELECT content_hash, min(doc_id) AS canonical_id,
            count(1) AS dup_count,
            array_join(cast(sort_array(collect_list(doc_id))
              AS array<string>), ',') AS member_ids
          FROM src WHERE content_hash IS NOT NULL GROUP BY content_hash
          UNION ALL
          SELECT content_hash, doc_id, cast(1 AS bigint),
            cast(doc_id AS string)
          FROM src WHERE content_hash IS NULL"""))
    }
  }

  test("minhash signature -> banded candidates -> jaccard verify match " +
      "their exploded-aggregate SQL twins on random corpora") {
    Seq(7L, 23L, 7777L).foreach { seed =>
      val docs = corpus(seed, 250)
      docs.createOrReplaceTempView("ddocs")

      // Signatures compared as csv strings (raw array columns compare
      // by reference in Row.toSeq).
      def sigCsv(df: DataFrame): DataFrame = df.select(col("doc_id"),
        array_join(col("sig").cast("array<string>"), ",").as("sig"))

      // q34 shape: unigram shingles, 4 hashes.
      check("minHashSignature(1,4)", seed,
        sigCsv(TextDedup.minHashSignature(docs, "text", "doc_id", 1, 4)),
        sigCsv(spark.sql(s"""
          WITH ${sigCtes(1, 4)}
          SELECT doc_id, array(h0, h1, h2, h3) AS sig FROM sig""")))

      // q35 shape: 3-shingles, 12 hashes, 4 bands.
      check("minHashSignature(3,12)", seed,
        sigCsv(TextDedup.minHashSignature(docs, "text", "doc_id", 3, 12)),
        sigCsv(spark.sql(s"""
          WITH ${sigCtes(3, 12)}
          SELECT doc_id, array(h0, h1, h2, h3, h4, h5, h6, h7, h8, h9,
            h10, h11) AS sig FROM sig""")))

      val cands = TextDedup.minHashCandidates(docs, "text", "doc_id",
        shingleK = 3, numHashes = 12, bands = 4)
      check("minHashCandidates", seed, cands,
        spark.sql(s"""
          WITH ${sigCtes(3, 12)},
          ${bandedCte(12, 4)}
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bucket = b.bucket
          WHERE a.doc_id < b.doc_id"""))

      // q36 shape: unigram jaccard at 0.5 over the LSH candidates.
      cands.createOrReplaceTempView("dcands")
      check("jaccardVerify", seed,
        TextDedup.jaccardVerify(docs, cands, "text", "doc_id",
          shingleK = 1, minJaccard = 0.5),
        spark.sql(s"""
          WITH $toksCte,
          utoks AS (
            SELECT DISTINCT doc_id, tok FROM toks
            LATERAL VIEW explode(t) x AS tok),
          sizes AS (SELECT doc_id, count(1) AS n FROM utoks
            GROUP BY doc_id),
          inter AS (
            SELECT c.a_id, c.b_id, count(1) AS i
            FROM dcands c
            JOIN utoks ta ON ta.doc_id = c.a_id
            JOIN utoks tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
            GROUP BY c.a_id, c.b_id),
          j AS (
            SELECT c.a_id, c.b_id,
              CASE WHEN sa.n + sb.n - coalesce(i.i, 0) > 0
                THEN cast(coalesce(i.i, 0) AS double) /
                  cast(sa.n + sb.n - coalesce(i.i, 0) AS double)
                ELSE 0.0 END AS jaccard
            FROM dcands c
            LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
            JOIN sizes sa ON sa.doc_id = c.a_id
            JOIN sizes sb ON sb.doc_id = c.b_id)
          SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.5"""))
    }
  }

  test("simhash fingerprints and pigeonhole pairs match the exploded " +
      "bit-vote SQL twin on random corpora") {
    Seq(13L, 31L, 9001L).foreach { seed =>
      val docs = corpus(seed, 250)
      docs.createOrReplaceTempView("ddocs")
      val ones = (0 until 60)
        .map(j => s"sum(shiftright(h, $j) & 1L) AS o$j").mkString(", ")
      val fpExpr = (0 until 60).map(j =>
        s"(CASE WHEN 2 * o$j > n THEN shiftleft(1L, $j) ELSE 0L END)")
        .mkString(" +\n            ")
      val fpCtes = s"""$toksCte,
        utoks AS (
          SELECT DISTINCT doc_id, tok FROM toks
          LATERAL VIEW explode(t) x AS tok
          WHERE doc_id IS NOT NULL),
        hashed AS (SELECT doc_id, ${h60("tok")} AS h FROM utoks),
        agg AS (SELECT doc_id, count(1) AS n, $ones FROM hashed
          GROUP BY doc_id),
        fp AS (SELECT doc_id,
            $fpExpr AS simhash
          FROM agg)"""
      val fps = TextDedup.simHash(docs)
      check("simHash", seed, fps,
        spark.sql(s"WITH $fpCtes SELECT doc_id, simhash FROM fp"))

      // maxHamming = 3 -> 4 chunks of 15 bits (q37's parameters).
      val bandSelects = (0 until 4).map { c =>
        val lo = c * 15
        s"SELECT doc_id, $c AS chunk, " +
          s"shiftright(simhash, $lo) & 32767L AS ckey FROM fp"
      }.mkString(" UNION ALL ")
      check("simHashCandidates", seed,
        TextDedup.simHashCandidates(fps, maxHamming = 3),
        spark.sql(s"""
          WITH $fpCtes,
          banded AS ($bandSelects),
          cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM banded a JOIN banded b
              ON a.chunk = b.chunk AND a.ckey = b.ckey
            WHERE a.doc_id < b.doc_id)
          SELECT c.a_id, c.b_id,
            cast(bit_count(fa.simhash ^ fb.simhash) AS bigint) AS hamming
          FROM cand c
          JOIN fp fa ON fa.doc_id = c.a_id
          JOIN fp fb ON fb.doc_id = c.b_id
          WHERE bit_count(fa.simhash ^ fb.simhash) <= 3"""))
    }
  }

  test("keepCanonical matches a driver-side union-find on random " +
      "corpora (CC checked against the definition, not another plan)") {
    Seq(19L, 43L, 60606L).foreach { seed =>
      val docs = corpus(seed, 250)
      val verified = TextDedup.jaccardVerify(docs,
        TextDedup.minHashCandidates(docs, "text", "doc_id",
          shingleK = 3, numHashes = 12, bands = 4),
        "text", "doc_id", shingleK = 1, minJaccard = 0.9)
      val pairs = verified.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // Union-find from the definition: component = min reachable id.
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      val want = docs.collect().map { r =>
        val id = if (r.isNullAt(0)) null
          else java.lang.Long.valueOf(r.getLong(0))
        val canonical =
          if (id == null) null else java.lang.Long.valueOf(find(id))
        val isCanon: Any =
          if (id == null) null else java.lang.Boolean.valueOf(canonical == id)
        Seq[Any](id, canonical, isCanon)
      }.toSeq.sortBy(_.toString())
      val got = TextDedup.keepCanonical(
          verified.select("a_id", "b_id"), docs.select("doc_id"), "doc_id")
        .select("doc_id", "canonical_id", "is_canonical")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString())
      assert(got == want,
        s"keepCanonical diverged from union-find at seed $seed")
    }
  }

  test("dedup ops are invariant to input partitioning on random " +
      "corpora (incl. empty range partitions)") {
    val docs = corpus(99L, 200)
    def canon(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString())
    def runAll(d: DataFrame): Seq[Seq[Seq[Any]]] = {
      val fps = TextDedup.simHash(d)
      Seq(
        canon(TextDedup.exactByHash(d)),
        canon(TextDedup.minHashSignature(d, "text", "doc_id", 3, 12)),
        canon(TextDedup.minHashCandidates(d, "text", "doc_id", 3, 12, 4)),
        canon(TextDedup.simHashCandidates(fps, maxHamming = 3)))
    }
    val base = runAll(docs)
    assert(runAll(docs.coalesce(1)) == base)
    assert(runAll(docs.repartition(17)) == base)
    assert(runAll(docs.repartitionByRange(13, col("text"))) == base)
  }

  /** The String kernels the byte kernels replaced, kept as their
    * reference: distinct space-joined k-gram Strings in a
    * LinkedHashSet, one `getBytes` + md5 per shingle.
    */
  private def refShingles(t: String,
      k: Int): java.util.LinkedHashSet[String] = {
    val toks = TextDedup.tokenize(t)
    val seen = new java.util.LinkedHashSet[String]
    (0 to toks.length - k)
      .foreach(i => seen.add(toks.slice(i, i + k).mkString(" ")))
    seen
  }

  private def refSignature(t: String, k: Int, numHashes: Int): Array[Long] =
    if (TextDedup.tokenize(t).length < k) null
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = Array.fill(numHashes)(Long.MaxValue)
      refShingles(t, k).forEach { s =>
        val b = md.digest(s.getBytes("UTF-8"))
        val u = (b.take(8).foldLeft(0L)((v, x) => (v << 8) | (x & 0xffL))
          >>> 4) % M
        (0 until numHashes).foreach { h =>
          mins(h) = math.min(mins(h),
            (u * TextDedup.mixA(h) + TextDedup.mixB(h)) % M)
        }
      }
      mins
    }

  private def refJaccard(a: String, b: String, k: Int): Double = {
    val (sa, sb) = (refShingles(a, k), refShingles(b, k))
    val inter = sa.stream().filter(sb.contains(_)).count()
    inter.toDouble / math.max(sa.size + sb.size - inter, 1L)
  }

  test("byte MinHash and Jaccard kernels equal the String/LinkedHashSet " +
      "reference on seeded random texts") {
    // Code points, not chars: a Spark string never reaches a UDF with
    // an unpaired surrogate (its UTF-8 decoder maps one to U+FFFD).
    val alphabet = Seq("a", "b", "c", "ab", " ", " ", "\t", "\n", "\r",
      "\u000B", "\f", "\u0085", "\u2028", "\u2029", "é", "字", "🚀",
      "\u00A0")
    val r = new scala.util.Random(20261019L)
    def text(): String =
      Seq.fill(r.nextInt(24))(alphabet(r.nextInt(alphabet.size))).mkString
    val as = (0 until 6).map(TextDedup.mixA).toArray
    val bs = (0 until 6).map(TextDedup.mixB).toArray
    (0 until 20000).foreach { i =>
      val (a, b) = (text(), text())
      val k = 1 + i % 3
      val got = TextDedup.signature(a, k, as, bs)
      val want = refSignature(a, k, 6)
      assert(java.util.Arrays.equals(got, want),
        s"signature of ${a.map(_.toInt)} at k=$k")
      // The set is the reference's shingles, sorted by their bytes.
      val set = new String(TextDedup.shingleSet(a, k), "UTF-8")
      val wantSet = refShingles(a, k).toArray(new Array[String](0))
        .sortBy(_.getBytes("UTF-8"))(new Ordering[Array[Byte]] {
          def compare(x: Array[Byte], y: Array[Byte]): Int =
            java.util.Arrays.compareUnsigned(x, y)
        })
      assert(set == wantSet.mkString("\n"),
        s"shingleSet of ${a.map(_.toInt)}")
      // A near copy of `a` as the second text in one pair of three, so
      // the intersections are not all empty.
      val b2 =
        if (i % 3 == 0) a + alphabet(r.nextInt(alphabet.size)) + b else b
      assert(TextDedup.jaccard(TextDedup.shingleSet(a, k),
        TextDedup.shingleSet(b2, k)) == refJaccard(a, b2, k),
        s"jaccard of ${a.map(_.toInt)} and ${b2.map(_.toInt)} at k=$k")
    }
  }

  test("a bucket of 300 identical docs gives all C(300, 2) candidate " +
      "pairs, as the bucket self-join does") {
    val docs = (0L until 300L)
      .map(i => (i * 7L - 1000L, "the same three tokens"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("ddocs")
    val got = TextDedup.minHashCandidates(docs, "text", "doc_id",
      shingleK = 3, numHashes = 12, bands = 4)
    assert(got.count() == 300L * 299L / 2)
    check("minHashCandidates (one hot bucket)", 0L, got,
      spark.sql(s"""
        WITH ${sigCtes(3, 12)},
        ${bandedCte(12, 4)}
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id < b.doc_id"""))
    got.unpersist()
    // The other candidate generators, each fed 300 equal inputs: one
    // hot bucket per chunk, table or variant, and all C(300, 2) pairs,
    // as the self-join of the 300 ids gives them.
    val allPairs = spark.sql("""SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM ddocs a JOIN ddocs b ON a.doc_id < b.doc_id""")
    val fps = docs.select(col("doc_id"), lit(0x0abcdef012345L).as("simhash"))
    val sim = TextDedup.simHashCandidates(fps, maxHamming = 3)
    check("simHashCandidates (300 equal fingerprints)", 0L, sim,
      allPairs.withColumn("hamming", lit(0L)))
    sim.unpersist()
    val vecs = docs.select(col("doc_id").as("vec_id"),
      array(lit(0.5f), lit(-0.25f), lit(1.0f), lit(0.125f)).as("embedding"))
    val lsh = graft.ann.Knn.lshSimilarPairs(vecs, threshold = 0.9,
      numPlanes = 4, numTables = 3, knownDim = 4)
    assert(lsh.where(col("cosine") < 0.9999).isEmpty)
    check("lshSimilarPairs (300 equal vectors)", 0L,
      lsh.select("a_id", "b_id"), allPairs)
    val edit = graft.similarity.EditJoin.editDistancePairs(
      docs.withColumn("s", lit("same name")), "doc_id", "s", maxDist = 1)
    check("editDistancePairs (300 equal strings)", 0L, edit,
      allPairs.select(col("a_id").as("id1"), col("b_id").as("id2"),
        lit(0L).as("dist")))
  }
}
