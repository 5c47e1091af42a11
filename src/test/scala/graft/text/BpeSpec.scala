package graft.text

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Bpe]] — hand-computed learn (argmax tie-breaks, early stop),
  * greedy-pass adjacency semantics, encode three-way bit equality
  * (compiled expression vs higher-order-function column twin vs a
  * driver-side Scala reference), the zero-exchange encode plan, and
  * the SQL registry form.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  /** The classic low/lower corpus: every argmax is hand-checkable. */
  private def lowCorpus = Seq(
    (1L, "low low lower")).toDF("doc_id", "text")

  test("learnBpe: hand-computed merges with count-DESC pair-ASC " +
      "tie-breaks and minPairCount early stop") {
    // words: low x2 (l,o,w), lower x1 (l,o,w,e,r)
    // iter1: (l,o)=3 ties (o,w)=3 -> l ASC picks (l,o)
    // iter2: (lo,w)=3
    // iter3: (low,e)=1 ties (e,r)=1 -> l ASC picks (e,r)
    // iter4: (low,er)=1
    val m4 = Bpe.learnBpe(lowCorpus, "text", numMerges = 4,
      minPairCount = 1L)
    assert(m4 == Seq(
      Bpe.Merge(1, "l", "o", 3L),
      Bpe.Merge(2, "lo", "w", 3L),
      Bpe.Merge(3, "e", "r", 1L),
      Bpe.Merge(4, "low", "er", 1L)), m4.toString)
    // minPairCount = 2 stops after the two count-3 merges even though
    // numMerges allows more.
    val m2 = Bpe.learnBpe(lowCorpus, "text", numMerges = 10,
      minPairCount = 2L)
    assert(m2 == m4.take(2), m2.toString)
    intercept[IllegalArgumentException] {
      Bpe.learnBpe(lowCorpus, "text", numMerges = 0)
    }
    intercept[IllegalArgumentException] {
      Bpe.learnBpe(lowCorpus, "text", numMerges = 1, minPairCount = 0L)
    }
    ()
  }

  test("encodeBpe: chained merges, OOV chars stay codepoints, empty " +
      "text is one empty piece, null id/text excluded") {
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er"))
    val docs = Seq[(Option[Long], String)](
      (Some(1L), "low lower lowest"),
      (Some(2L), ""),
      (Some(3L), null),
      (None, "low")).toDF("doc_id", "text")
    val got = Bpe.encodeBpe(docs, merges, "doc_id", "text")
      .orderBy("doc_id")
      .select(col("doc_id"), array_join(col("pieces"), " ").as("p"),
        col("n_pieces"))
      .as[(Long, String, Long)].collect().toSeq
    // low -> [low]; lower -> [low, er] -> merge 4 -> [lower];
    // lowest -> [low, e, s, t] (s, t never merge)
    assert(got == Seq(
      (1L, "low lower low e s t", 6L),
      (2L, "", 1L)), // [""] joined = "", ONE empty piece
      got.toString)
  }

  test("greedy left-to-right adjacency: a collapsed symbol does not " +
      "re-pair within the same pass but chains across passes") {
    val docs = Seq((1L, "aaaa aaa abab")).toDF("doc_id", "text")
    val got = Bpe.encodeBpe(docs,
        Seq(("a", "a"), ("a", "b"), ("ab", "ab")), "doc_id", "text")
      .select(array_join(col("pieces"), " ")).as[String].head()
    // aaaa -> [aa, aa]; aaa -> [aa, a]; abab: pass (a,a) no-op,
    // pass (a,b) -> [ab, ab], pass (ab,ab) -> [abab]
    assert(got == "aa aa aa a abab", got)
  }

  test("three-way bit equality on randomized hostile words: compiled " +
      "expression == mergePassCol chain == driver-side reference " +
      "(3 seeds, unicode + surrogate pairs)") {
    val alphabet = Seq("a", "b", "c", "é", "字", "🚀")
    Seq(13L, 977L, 31337L).foreach { seed =>
      val r = new scala.util.Random(seed)
      val words = (0 until 300).map { i =>
        Seq.fill(r.nextInt(9))(alphabet(r.nextInt(alphabet.length)))
          .mkString
      } :+ "" :+ "aaaa" :+ "🚀🚀🚀"
      // A plausible random merge table, some chained.
      val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"), ("é", "字"),
        ("🚀", "🚀"), ("c", "aab"))
      val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "w")
      // 1: compiled expression
      val viaExpr = df.select(col("id"),
          graft.functions.GraftFunctions.bpeEncode(col("w"), merges)
            .as("p"))
        .select(col("id"), array_join(col("p"), "\u0001").as("p"))
        .as[(Long, String)].collect().toMap
      // 2: the HOF column-program chain (the learner's rewrite path)
      val viaCols = {
        var c = split(col("w"), "")
        merges.foreach { case (l, r) =>
          c = Bpe.mergePassCol(c, lit(l), lit(r))
        }
        df.select(col("id"), array_join(c, "\u0001").as("p"))
          .as[(Long, String)].collect().toMap
      }
      // 3: driver-side reference written from the CONTRACT
      def ref(w: String): Seq[String] = {
        var syms: Vector[String] =
          if (w.isEmpty) Vector("")
          else {
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < w.length) {
              val n = Character.charCount(w.codePointAt(i))
              b += w.substring(i, i + n); i += n
            }
            b.result()
          }
        merges.foreach { case (l, r) =>
          if (syms.length >= 2) {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { x =>
              if (out.nonEmpty && out.last == l && x == r)
                out(out.length - 1) = l + r
              else out += x
            }
            syms = out.toVector
          }
        }
        syms
      }
      val viaRef = words.zipWithIndex
        .map { case (w, i) => i.toLong -> ref(w).mkString("\u0001") }
        .toMap
      assert(viaExpr == viaCols,
        s"expression vs column twin diverged at seed $seed")
      assert(viaExpr == viaRef,
        s"expression vs driver reference diverged at seed $seed")
    }
  }

  test("encodeBpe runs UNCHANGED on a streaming frame (zero-shuffle " +
      "per-row program)") {
    implicit val sqlCtx = spark.sqlContext
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = Bpe.encodeBpe(input.toDF().toDF("doc_id", "text"),
      Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er")),
      "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("bpe_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "low lower lowest"), (2L, ""))
      q.processAllAvailable()
      val rows = spark.table("bpe_out")
        .select(col("doc_id"), array_join(col("pieces"), " ").as("p"),
          col("n_pieces"))
        .as[(Long, String, Long)].collect().toSet
      assert(rows == Set(
        (1L, "low lower low e s t", 6L),
        (2L, "", 1L)), rows.toString)
    } finally q.stop()
  }

  test("randomized learn differential: distributed learnBpe == " +
      "driver-side reference learn on hostile corpora, and the result " +
      "is partitioning-invariant (3 seeds)") {
    // Driver reference written from the CONTRACT: word counts ->
    // iterative (count DESC, l ASC, r ASC) argmax + greedy pass.
    def refLearn(texts: Seq[String], k: Int,
        minPair: Long): Seq[Bpe.Merge] = {
      def chars(w: String): Vector[String] =
        if (w.isEmpty) Vector("")
        else {
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < w.length) {
            val n = Character.charCount(w.codePointAt(i))
            b += w.substring(i, i + n); i += n
          }
          b.result()
        }
      var vocab: Map[Vector[String], Long] = texts
        .flatMap(_.split(" ", -1)).groupBy(identity)
        .map { case (w, ws) => chars(w) -> ws.size.toLong }
        .filter(_._1.size >= 2)
      val out = Vector.newBuilder[Bpe.Merge]
      var rank = 1
      var stop = false
      while (rank <= k && !stop) {
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, n) =>
          syms.sliding(2).foreach { p =>
            if (p.size == 2)
              pairs((p(0), p(1))) = pairs.getOrElse((p(0), p(1)), 0L) + n
          }
        }
        val best = pairs.toSeq
          .sortBy { case ((l, r), c) => (-c, l, r) }.headOption
        best match {
          case Some(((l, r), c)) if c >= minPair =>
            out += Bpe.Merge(rank, l, r, c)
            vocab = vocab.toSeq.map { case (syms, n) =>
              val o = scala.collection.mutable.ArrayBuffer.empty[String]
              syms.foreach { x =>
                if (o.nonEmpty && o.last == l && x == r)
                  o(o.length - 1) = l + r
                else o += x
              }
              (o.toVector, n)
            }.filter(_._1.size >= 2)
              .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
            rank += 1
          case _ => stop = true
        }
      }
      out.result()
    }
    val alphabet = Seq("a", "b", "ab", "ba", "é", "字", "🚀", "xx")
    Seq(5L, 401L, 9091L).foreach { seed =>
      val r = new scala.util.Random(seed)
      val texts = (0 until 150).map { _ =>
        Seq.fill(1 + r.nextInt(6))(
          Seq.fill(r.nextInt(5))(alphabet(r.nextInt(alphabet.length)))
            .mkString).mkString(" ")
      } :+ "" // empty text = one empty word
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val want = refLearn(texts, 6, 2L)
      val got = Bpe.learnBpe(docs, "text", numMerges = 6,
        minPairCount = 2L)
      assert(got == want, s"seed $seed: $got vs $want")
      val got1 = Bpe.learnBpe(docs.repartition(7), "text",
        numMerges = 6, minPairCount = 2L)
      assert(got1 == want, s"seed $seed not partitioning-invariant")
    }
  }

  test("driver-local fast path == distributed merge loop, bit-equal on " +
      "randomized hostile corpora (3 seeds); over-cap input falls back " +
      "to the distributed loop with the same answer; the distributed " +
      "loop releases every localCheckpoint block") {
    val alphabet = Seq("a", "b", "ab", "ba", "é", "字", "🚀", "xx")
    Seq(7L, 1234L, 777777L).foreach { seed =>
      val r = new scala.util.Random(seed)
      val texts = (0 until 120).map { _ =>
        Seq.fill(1 + r.nextInt(6))(
          Seq.fill(r.nextInt(5))(alphabet(r.nextInt(alphabet.length)))
            .mkString).mkString(" ")
      } :+ ""
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val fast = Bpe.learnBpe(docs, "text", numMerges = 6,
        minPairCount = 2L) // default cap >> vocab: driver kernel
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val dist = Bpe.learnBpe(docs, "text", numMerges = 6,
        minPairCount = 2L, driverVocabCap = 0L) // forced distributed
      assert(fast == dist, s"seed $seed: $fast vs $dist")
      // Explicit release: the distributed loop must leave NO
      // localCheckpoint blocks behind (ContextCleaner-on-GC alone let
      // blocks accumulate across long merge loops).
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert((after -- before).isEmpty,
        s"seed $seed leaked checkpoint RDDs: ${after -- before}")
      // Cap boundary: a cap smaller than the vocabulary falls back to
      // the distributed loop (loudly) with the identical answer.
      val overCap = Bpe.learnBpe(docs, "text", numMerges = 6,
        minPairCount = 2L, driverVocabCap = 1L)
      assert(overCap == fast, s"seed $seed over-cap fallback diverged")
    }
  }

  test("driver-local argmax tie-break is UTF-8 binary order (Spark's), " +
      "not UTF-16 compareTo: U+FFFF sorts below U+10000") {
    // One doc, two words, each a doubled codepoint: the (U+FFFF, U+FFFF)
    // and (U+10000, U+10000) pairs tie at count 1. UTF-8 bytes order
    // U+FFFF (EF BF BF) BELOW U+10000 (F0 90 80 80); Java's UTF-16
    // String.compareTo orders them the other way (surrogate D800 <
    // FFFF). Both kernels must pick the UTF-8 winner.
    val ffff = "￿"
    val supp = new String(Character.toChars(0x10000))
    val docs = Seq((1L, s"$ffff$ffff $supp$supp")).toDF("doc_id", "text")
    val want = Seq(Bpe.Merge(1, ffff, ffff, 1L))
    val fast = Bpe.learnBpe(docs, "text", numMerges = 1, minPairCount = 1L)
    val dist = Bpe.learnBpe(docs, "text", numMerges = 1, minPairCount = 1L,
      driverVocabCap = 0L)
    assert(fast == want, fast.toString)
    assert(dist == want, dist.toString)
  }

  test("BpeMergeTable equality is content-based: two bpe_encode calls " +
      "built from identical merge lists canonicalize equal (CSE / plan " +
      "reuse), different tables stay distinct") {
    import graft.functions.BpeMergeTable
    val ms = Seq(("l", "o"), ("lo", "w"))
    assert(BpeMergeTable(ms) == BpeMergeTable(ms.map(identity)))
    assert(BpeMergeTable(ms).hashCode == BpeMergeTable(ms).hashCode)
    assert(BpeMergeTable(ms) != BpeMergeTable(ms.reverse))
    // Expression-level equality through the analyzed plans: two
    // projections of the same bpe_encode call over identical tables
    // must produce semantically-equal expression trees (the CSE /
    // plan-reuse precondition reference-equality defeated).
    val df = Seq("low").toDF("w")
    def exprOf(c: org.apache.spark.sql.Column) =
      df.select(c.as("p")).queryExecution.analyzed.expressions.head
        .children.head
    val e1 = exprOf(graft.functions.GraftFunctions.bpeEncode(col("w"), ms))
    val e2 = exprOf(graft.functions.GraftFunctions.bpeEncode(col("w"), ms))
    assert(e1 == e2,
      "identical merge tables must make bpe_encode expressions equal")
  }

  test("plan: encodeBpe is zero-exchange, no ScalaUDF, the merge " +
      "table compiles into one bpe_encode call (no K-literal tree); " +
      "SQL registry form resolves") {
    // A parquet scan, not a local Seq: ConvertToLocalRelation would
    // constant-fold a LocalRelation input straight to a
    // LocalTableScan (which itself proves the expression's eval path).
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val enc = Bpe.encodeBpe(docs, Seq(("l", "o"), ("lo", "w")),
      "doc_id", "text")
    enc.collect()
    val plan = enc.queryExecution.executedPlan
    assert(planNodes(plan).collect {
      case s: ShuffleExchangeExec => s
    }.isEmpty, s"encode must not shuffle:\n$plan")
    val ps = plan.toString
    assert(!ps.contains("ScalaUDF"), ps)
    assert(ps.contains("bpe_encode"), ps)
    val viaSql = spark.sql(
      "SELECT bpe_encode('abab', array(array('a','b'), " +
        "array('ab','ab'))) AS p").head().getSeq[String](0)
    assert(viaSql == Seq("abab"), viaSql.toString)
    // Structural-arg guards: non-foldable / malformed merge tables.
    intercept[Exception] {
      spark.sql("SELECT bpe_encode('x', array(array('a'))) ").collect()
    }
    intercept[IllegalArgumentException] {
      graft.functions.GraftFunctions.bpeEncode(col("w"), Seq.empty)
    }
    intercept[Exception] {
      Bpe.encodeBpe(docs, Seq(("", "x")), "doc_id", "text").collect()
    }
    ()
  }
}
