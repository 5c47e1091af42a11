package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Generator-driven differential gate for the curation family: every op
  * is replayed against an INDEPENDENT Spark-SQL restatement of its
  * semantics (the same role the DuckDB oracle plays in the driver's
  * correctness gate, which only ever sees the fixed fixtures) on seeded
  * random corpora packed with the inputs that have historically broken
  * fixture eras — nulls, empty strings, empty-token runs, unicode,
  * skewed and null domains, negative/huge ids, empty range partitions.
  * Two of the last three rounds broke on fixture drift; this suite is
  * the "next weird corpus" arriving every test run instead of once per
  * regeneration.
  *
  * The SQL twins are written from the operator CONTRACTS (scaladoc),
  * not from the implementations: a bug in how an op composes Spark
  * primitives shows up as a twin mismatch even though both sides share
  * the engine's primitive semantics. Partitioning invariance is
  * asserted separately (the packShards class of bugs).
  */
class RandomizedDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val words = Seq("the", "cat", "sat", "on", "a", "mat", "字符",
    "ünïcode", "🚀", "", "x" * 40, "end")

  /** Random documents-like corpus: ~1/8 docs share boilerplate tails
    * (so span/decontamination paths see real overlap), ~1/10 have empty
    * text, domains are skewed 60% to one value with nulls and "" mixed
    * in, ids are spread over negative and huge values.
    */
  private def corpus(seed: Long, n: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    val boiler = "all rights reserved by the site owner"
    val domains = Seq("hot", null, "", "d1", "ünï™", "d2")
    val rows = (0 until n).map { i =>
      val id = i.toLong * 1000003L - 500000000L // spread, negative+huge
      val text =
        if (r.nextInt(10) == 0) ""
        else {
          val body = Seq.fill(2 + r.nextInt(12))(
            words(r.nextInt(words.length))).mkString(" ")
          if (r.nextInt(8) == 0) s"$body $boiler" else body
        }
      val domain =
        if (r.nextInt(10) < 6) "hot" else domains(r.nextInt(domains.length))
      val lang = Seq("en", "zh", null, "de")(r.nextInt(4))
      (id, text, lang, domain)
    }
    rows.toDF("doc_id", "text", "lang", "source")
  }

  private def check(name: String, seed: Long, got: DataFrame,
      want: DataFrame): Unit = {
    val g = got.collect().map(_.toSeq).toSeq.sortBy(_.toString())
    val w = want.collect().map(_.toSeq).toSeq.sortBy(_.toString())
    assert(g == w, s"$name diverged from its SQL twin at seed $seed " +
      s"(got ${g.size} rows, want ${w.size})")
  }

  test("curation ops match their SQL twins on random adversarial " +
      "corpora (3 seeds)") {
    Seq(11L, 29L, 4242L).foreach { seed =>
      val docs = corpus(seed, 400)
      docs.createOrReplaceTempView("rdocs")

      // splitAssign twin: the salted-md5 bucket arithmetic, restated.
      check("splitAssign", seed,
        CorpusOps.splitAssign(docs, "doc_id", "fz"),
        spark.sql("""
          WITH h AS (SELECT doc_id,
              conv(substring(md5(concat('fz:', cast(doc_id AS string))),
                1, 8), 16, 10) % 100 AS bucket
            FROM rdocs)
          SELECT doc_id, cast(bucket AS bigint) AS bucket,
            CASE WHEN bucket < 80 THEN 'train'
                 WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
          FROM h"""))

      // stratifiedSample twin: integer-threshold hash compare per lang
      // (null lang falls to the default rate).
      check("stratifiedSample", seed,
        CorpusOps.stratifiedSample(docs, "doc_id", "lang",
          Map("en" -> 0.5, "zh" -> 0.0), defaultRate = 0.75, salt = "fs"),
        spark.sql("""
          SELECT doc_id, lang,
            cast(conv(substring(md5(concat('fs:', cast(doc_id AS string))),
              1, 8), 16, 10) AS bigint)
            < (CASE WHEN lang = 'en' THEN 2147483648
                    WHEN lang = 'zh' THEN 0
                    ELSE 3221225472 END) AS sampled
          FROM rdocs"""))

      // domainCap twin: the window row_number idiom over the same
      // salted hash — including NULL and '' domains and skew.
      check("domainCap", seed,
        CorpusOps.domainCap(docs, "doc_id", "source", cap = 5, salt = "fc"),
        spark.sql("""
          WITH h AS (SELECT doc_id, source,
              cast(conv(substring(md5(concat('fc:',
                cast(doc_id AS string))), 1, 15), 16, 10) AS bigint) AS k
            FROM rdocs),
          r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY k, doc_id)
                AS rn
            FROM h)
          SELECT source, doc_id FROM r WHERE rn <= 5"""))

      // packShards twin: window cumulative sum in id order (the oracle
      // phrasing the distributed two-pass prefix sum must reproduce).
      check("packShards", seed,
        CorpusOps.packShards(docs, "doc_id", size(split(col("text"), " ")),
          budget = 50L),
        spark.sql("""
          WITH w AS (SELECT doc_id,
              cast(size(split(text, ' ')) AS bigint) AS weight
            FROM rdocs),
          c AS (SELECT doc_id, weight,
              coalesce(sum(weight) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS cum
            FROM w)
          SELECT doc_id, weight,
            cast(floor(cum / 50) AS bigint) AS shard_id
          FROM c"""))

      // mixtureExpand twin: whole copies + fractional hash draw,
      // exploded (null lang falls to the default weight).
      check("mixtureExpand", seed,
        CorpusOps.mixtureExpand(docs, "doc_id", "lang",
          Map("en" -> 2.5, "zh" -> 0.25), defaultWeight = 1.0,
          salt = "fm"),
        spark.sql("""
          WITH c AS (SELECT doc_id, lang,
              (CASE WHEN lang = 'en' THEN 2 WHEN lang = 'zh' THEN 0
                    ELSE 1 END)
              + (CASE WHEN
                   cast(conv(substring(md5(concat('fm:',
                     cast(doc_id AS string))), 1, 8), 16, 10) AS bigint)
                   < (CASE WHEN lang = 'en' THEN 2147483648
                           WHEN lang = 'zh' THEN 1073741824
                           ELSE 0 END)
                 THEN 1 ELSE 0 END) AS n
            FROM rdocs)
          SELECT doc_id, lang, explode(sequence(1, n)) AS copy
          FROM c WHERE n >= 1"""))

      // decontaminate twin: explode/join/aggregate restatement of the
      // eval n-gram overlap (empty texts yield zero grams).
      check("decontaminate", seed,
        CorpusOps.decontaminate(docs, col("doc_id") % 7 === 0,
          "doc_id", "text", n = 3),
        spark.sql("""
          WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM rdocs),
          g AS (SELECT doc_id, explode(transform(
              sequence(1, greatest(size(t) - 2, 0)),
              i -> concat_ws(' ', slice(t, i, 3)))) AS gram
            FROM toks WHERE size(t) >= 3),
          eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
          m AS (SELECT g.doc_id, count(DISTINCT g.gram) AS n_matched
            FROM g JOIN eg USING (gram)
            WHERE g.doc_id % 7 != 0 GROUP BY g.doc_id)
          SELECT d.doc_id, coalesce(m.n_matched, 0) AS n_matched,
            coalesce(m.n_matched, 0) > 0 AS contaminated
          FROM rdocs d LEFT JOIN m ON m.doc_id = d.doc_id
          WHERE d.doc_id % 7 != 0"""))

      // duplicateSpans twin: boilerplate 3-grams in >= 2 docs, per-doc
      // span counts, doc-grain keep rule.
      check("duplicateSpans", seed,
        CorpusOps.duplicateSpans(docs, "doc_id", "text", n = 3,
          minDocs = 2),
        spark.sql("""
          WITH toks AS (SELECT doc_id, split(text, ' ') AS t FROM rdocs),
          g AS (SELECT doc_id, explode(transform(
              sequence(1, greatest(size(t) - 2, 0)),
              i -> concat_ws(' ', slice(t, i, 3)))) AS gram
            FROM toks WHERE size(t) >= 3),
          dup AS (SELECT gram FROM g GROUP BY gram
            HAVING count(DISTINCT doc_id) >= 2),
          per AS (SELECT g.doc_id, count(*) AS n_dup_spans
            FROM g JOIN dup USING (gram) GROUP BY g.doc_id)
          SELECT t.doc_id,
            cast(greatest(size(t.t) - 2, 0) AS bigint) AS n_spans,
            coalesce(p.n_dup_spans, 0) AS n_dup_spans,
            coalesce(p.n_dup_spans, 0) * 2
              <= greatest(size(t.t) - 2, 0) AS keep
          FROM toks t LEFT JOIN per p ON p.doc_id = t.doc_id"""))

      // dedupAgainst twin (exact mode): the bare NOT EXISTS anti-join
      // the Bloom prefilter must preserve — on the dup-heavy
      // small-vocabulary corpus, where identical texts (including the
      // empty string) straddle the incoming/historical halves.
      check("dedupAgainst", seed,
        CorpusOps.dedupAgainst(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 =!= 0),
          "text", expectedItems = 1000L, fpp = 0.05),
        spark.sql("""
          SELECT i.* FROM rdocs i
          WHERE i.doc_id % 2 = 0
            AND NOT EXISTS (SELECT 1 FROM rdocs h
              WHERE h.doc_id % 2 != 0 AND h.text = i.text)"""))

      // chunkTokens twin, derived INDEPENDENTLY of the implementation
      // (which enumerates chunk starts and slices): here each TOKEN at
      // 0-based position p declares the chunks it belongs to — i in
      // [ceil((p-window+1)/stride), floor(p/stride)] clamped at 0 —
      // and chunks are reassembled by grouping tokens in position
      // order. A shared wrong assumption about the start-count
      // formula or slice clamping cannot pass both sides.
      check("chunkTokens", seed,
        CorpusOps.chunkTokens(docs, "doc_id", "text",
          window = 4, stride = 3),
        spark.sql("""
          WITH toks AS (SELECT doc_id, split(text, ' ') AS t
            FROM rdocs WHERE text IS NOT NULL),
          tok AS (SELECT doc_id, p, w FROM toks
            LATERAL VIEW posexplode(t) x AS p, w),
          m AS (SELECT doc_id, p, w, i FROM tok
            LATERAL VIEW explode(sequence(
              greatest(cast(ceil((p - 3) / 3.0) AS int), 0),
              cast(floor(p / 3.0) AS int))) y AS i)
          SELECT doc_id, cast(i AS int) AS chunk_id,
            concat_ws(' ', transform(
              array_sort(collect_list(struct(p, w))), s -> s.w))
              AS chunk_text,
            cast(count(*) AS bigint) AS n_tokens
          FROM m GROUP BY doc_id, i"""))

      // exactDedup twin: GROUP BY all fields + sorted id agg + dense
      // order-stated row_number (A1's SQL phrasing), on the same corpus
      // reshaped as entries. Null-first ordering must match.
      val entries = docs.select(col("doc_id").as("entry_id"),
        col("lang").as("f1"), col("source").as("f2"))
      entries.createOrReplaceTempView("rentries")
      check("exactDedup", seed,
        graft.ops.RelationalOps.exactDedup(entries, Seq("f1", "f2"),
            "entry_id")
          .withColumn("src_ids",
            array_join(col("src_ids").cast("array<string>"), ",")),
        spark.sql("""
          SELECT f1, f2,
            array_join(cast(sort_array(collect_list(entry_id))
              AS array<string>), ',') AS src_ids,
            row_number() OVER (ORDER BY f1 ASC NULLS FIRST,
              f2 ASC NULLS FIRST) AS _unique_id
          FROM rentries GROUP BY f1, f2"""))

      // dropBoilerplateLines twin at the token grain (the corpus has
      // empty-string tokens from "" words — double spaces — and the
      // planted boilerplate tail, both load-bearing): detect >5-doc
      // tokens, remove them everywhere, reassemble ORDER-stated.
      check("dropBoilerplateLines", seed,
        CorpusOps.dropBoilerplateLines(docs, "doc_id", "text",
          maxDocs = 5, delimiter = " "),
        spark.sql("""
          WITH nn AS (SELECT doc_id, text FROM rdocs
              WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          l AS (SELECT doc_id, i, line FROM nn
              LATERAL VIEW posexplode(split(text, ' ')) t AS i, line),
          boiler AS (SELECT line FROM l GROUP BY line
              HAVING count(DISTINCT doc_id) > 5),
          kept AS (SELECT doc_id, i, line FROM l
              WHERE line NOT IN (SELECT line FROM boiler)),
          agg AS (SELECT doc_id,
              concat_ws(' ', transform(
                array_sort(collect_list(struct(i, line))),
                x -> x.line)) AS t2
            FROM kept GROUP BY doc_id)
          SELECT d.doc_id, d.text2 AS text, d.lang, d.source
          FROM (SELECT r.*, CASE WHEN r.text IS NULL THEN NULL
                  ELSE coalesce(a.t2, '') END AS text2
                FROM rdocs r LEFT JOIN agg a ON r.doc_id = a.doc_id) d"""))

      // packSequences twin: the global token tape restated with a
      // WINDOW prefix sum (single-task, fine for a test) — an
      // implementation-independent check on the distributed two-pass
      // offset machinery; empty texts (one empty token) and negative
      // ids are load-bearing hostile inputs here.
      def seqCsv(df: DataFrame): DataFrame = df.select(
        col("seq_id"), col("text"),
        array_join(col("doc_ids").cast("array<string>"), ",")
          .as("doc_ids"),
        array_join(col("doc_starts").cast("array<string>"), ",")
          .as("doc_starts"),
        col("n_tokens"))
      check("packSequences", seed,
        seqCsv(CorpusOps.packSequences(docs, "doc_id", "text", 16)),
        spark.sql("""
          WITH d AS (SELECT doc_id, split(text, ' ') AS toks,
                CAST(size(split(text, ' ')) AS BIGINT) AS w
              FROM rdocs
              WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          c AS (SELECT doc_id, toks, w,
              coalesce(sum(w) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0L) AS cum
            FROM d),
          p AS (SELECT doc_id, toks, w, cum, seq_id
            FROM c
            LATERAL VIEW explode(sequence(cum div 16L,
              (cum + w - 1) div 16L)) t AS seq_id),
          s AS (SELECT seq_id, doc_id,
              greatest(cum, seq_id * 16) - seq_id * 16 AS pos,
              slice(toks,
                CAST(greatest(cum, seq_id * 16) - cum + 1 AS INT),
                CAST(least((seq_id + 1) * 16, cum + w)
                  - greatest(cum, seq_id * 16) AS INT)) AS piece
            FROM p),
          g AS (SELECT seq_id,
              array_sort(collect_list(struct(pos, doc_id, piece))) AS ps
            FROM s GROUP BY seq_id)
          SELECT seq_id,
            concat_ws(' ',
              flatten(transform(ps, x -> x.piece))) AS text,
            array_join(cast(transform(ps, x -> x.doc_id)
              AS array<string>), ',') AS doc_ids,
            array_join(cast(transform(ps, x -> x.pos)
              AS array<string>), ',') AS doc_starts,
            aggregate(ps, 0L, (acc, x) -> acc + size(x.piece))
              AS n_tokens
          FROM g"""))

      // buildVocab + encodeTokens twin: the whole vocab-then-encode
      // program restated (row_number vocab ids over the same
      // (count DESC, token ASC) order, positional re-encode). The
      // hostile corpus makes "" a HIGH-FREQUENCY token (~1/10 docs are
      // empty = one empty token each), so the empty string competes
      // for — and usually wins — a vocab slot on both sides; vocab
      // counting is id-blind (text-only filter) while encoding drops
      // null-id docs, and the twin restates BOTH filters.
      check("encodeTokens", seed,
        CorpusOps.encodeTokens(docs,
            CorpusOps.buildVocab(docs, "text", 5), "doc_id", "text",
            unkId = 5)
          .select(col("doc_id"),
            array_join(col("token_ids").cast("array<string>"), ",")
              .as("token_ids"),
            col("n_tokens"), col("n_unk")),
        spark.sql("""
          WITH cnt AS (SELECT token, count(*) AS n
              FROM (SELECT explode(split(text, ' ')) AS token
                    FROM rdocs WHERE text IS NOT NULL)
              GROUP BY token),
          vocab AS (SELECT token,
              CAST(row_number() OVER (ORDER BY n DESC, token) - 1
                AS INT) AS token_id
            FROM cnt ORDER BY n DESC, token LIMIT 5),
          d AS (SELECT doc_id, split(text, ' ') AS t FROM rdocs
                WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          e AS (SELECT doc_id, i, token FROM d
                LATERAL VIEW posexplode(t) x AS i, token),
          j AS (SELECT e.doc_id, e.i, coalesce(v.token_id, 5) AS tid
                FROM e LEFT JOIN vocab v ON e.token = v.token)
          SELECT doc_id,
            array_join(transform(array_sort(collect_list(struct(i, tid))),
              x -> cast(x.tid AS string)), ',') AS token_ids,
            count(*) AS n_tokens,
            sum(CASE WHEN tid = 5 THEN 1 ELSE 0 END) AS n_unk
          FROM j GROUP BY doc_id"""))

      // topTerms twin: the window row_number idiom over the same
      // (tf/df DESC, term ASC) order — equal scores are common here
      // (singleton terms in singleton docs all score 1.0), so the
      // term-ASC tie-break is load-bearing on both sides.
      check("topTerms", seed,
        CorpusOps.topTerms(docs, "doc_id", "text", k = 2),
        spark.sql("""
          WITH d AS (SELECT doc_id, split(text, ' ') AS t FROM rdocs
                WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          tok AS (SELECT doc_id, term FROM d
                LATERAL VIEW explode(t) x AS term),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
            GROUP BY doc_id, term),
          df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok
            GROUP BY term),
          s AS (SELECT tf.doc_id, tf.term, tf.tf,
              cast(tf.tf AS double) / df.df AS score
            FROM tf JOIN df ON tf.term = df.term),
          r AS (SELECT doc_id, term, tf, score,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score DESC, term) AS rank
            FROM s)
          SELECT doc_id, term, tf, score, cast(rank AS int) AS rank
          FROM r WHERE rank <= 2"""))

      // epochShuffle twin: global row_number over the same salted-md5
      // rank order (negative and huge ids are the hostile inputs — the
      // hash string is the DECIMAL rendering, which both sides must
      // agree on for negatives).
      check("epochShuffle", seed,
        CorpusOps.epochShuffle(docs, "doc_id", "ez")
          .select(col("doc_id"), col("shuffle_pos")),
        spark.sql("""
          WITH h AS (SELECT doc_id,
              cast(conv(substring(md5(concat('ez:',
                cast(doc_id AS string))), 1, 15), 16, 10) AS bigint)
                AS hk
            FROM rdocs WHERE doc_id IS NOT NULL)
          SELECT doc_id,
            cast(row_number() OVER (ORDER BY hk, doc_id) AS bigint)
              AS shuffle_pos
          FROM h"""))

      // bigramLmScore twin: the whole MLE-bigram/quantized-sum
      // program restated. The hostile corpus's ~1/10 empty docs land
      // in the NULL-score branch (one empty token, zero bigrams) and
      // its boilerplate tails create genuinely repeated bigrams.
      check("bigramLmScore", seed,
        CorpusOps.bigramLmScore(docs, "doc_id", "text"),
        spark.sql("""
          WITH d AS (SELECT doc_id, split(text, ' ') AS t FROM rdocs
                WHERE doc_id IS NOT NULL AND text IS NOT NULL),
          bg AS (SELECT doc_id, element_at(t, i) AS w1,
                element_at(t, i + 1) AS w2
            FROM (SELECT doc_id, t, explode(sequence(1, size(t) - 1))
                    AS i
                  FROM d WHERE size(t) >= 2)),
          c2 AS (SELECT w1, w2, count(*) AS n2 FROM bg
            GROUP BY w1, w2),
          c1 AS (SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1),
          p AS (SELECT bg.doc_id,
              CAST(round(CAST(n2 AS double) / n1 * 1e9, 0) AS bigint)
                AS q
            FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
          s AS (SELECT doc_id, count(*) AS nb, sum(q) AS sq FROM p
            GROUP BY doc_id)
          SELECT d.doc_id,
            cast(coalesce(s.nb, 0) AS bigint) AS n_bigrams,
            CAST(s.sq AS double) / (s.nb * 1000000000) AS lm_score
          FROM d LEFT JOIN s ON d.doc_id = s.doc_id"""))
    }
  }

  test("curation ops are invariant to input partitioning on random " +
      "corpora (incl. empty range partitions)") {
    val docs = corpus(77L, 300)
    def canon(df: DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq.sortBy(_.toString())
    def runAll(d: DataFrame): Seq[Seq[Seq[Any]]] = Seq(
      canon(CorpusOps.splitAssign(d, "doc_id", "pz")),
      canon(CorpusOps.domainCap(d, "doc_id", "source", 5, "pc")),
      canon(CorpusOps.packShards(d, "doc_id",
        size(split(col("text"), " ")), budget = 50L)),
      canon(CorpusOps.duplicateSpans(d, "doc_id", "text", 3, 2)),
      canon(CorpusOps.dropBoilerplateLines(d, "doc_id", "text",
        maxDocs = 5, delimiter = " ")),
      canon(CorpusOps.normalizeText(d, "text")),
      canon(CorpusOps.packSequences(d, "doc_id", "text", 16)
        .select(col("seq_id"), col("text"),
          col("doc_ids").cast("array<string>"),
          col("doc_starts"), col("n_tokens"))),
      canon(CorpusOps.encodeTokens(d,
        CorpusOps.buildVocab(d, "text", 5), "doc_id", "text", 5)),
      canon(CorpusOps.topTerms(d, "doc_id", "text", 3)),
      canon(CorpusOps.epochShuffle(d, "doc_id", "pz")
        .select(col("doc_id"), col("shuffle_pos"))),
      canon(CorpusOps.bigramLmScore(d, "doc_id", "text")))
    val base = runAll(docs)
    // 1-partition, many-partition, and skew-clustered layouts must all
    // produce identical answers (range partitioning on the skewed
    // domain column leaves some partitions empty).
    assert(runAll(docs.coalesce(1)) == base)
    assert(runAll(docs.repartition(17)) == base)
    assert(runAll(docs.repartitionByRange(13, col("source"))) == base)
  }
}
