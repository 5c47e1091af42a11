package graft.functions

import graft.SparkSpec
import graft.ann.Knn
import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.functions._

/** Gates the native cosine_sim Catalyst expression (CosineSimilarity) and
  * its SparkSessionExtensions registration:
  *  - three-way BIT equality against the two older tiers (the HOF Column
  *    form and the primitive-loop UDF) — oracle hashes depend on it;
  *  - whole-stage codegen: the verify projection must not break out to
  *    a ScalaUDF call;
  *  - SQL resolvability through the injected function registry;
  *  - loud analysis failure on wrong input types.
  */
class FunctionsSpec extends SparkSpec {

  /** The HOF Column form: `zip_with`/`aggregate` sums over the two
    * arrays. */
  private def cosine(a: Column, b: Column): Column =
    Knn.dot(a, b) / (Knn.l2Norm(a) * Knn.l2Norm(b))

  /** The primitive-loop UDF form, NULL on a length mismatch. */
  private val cosineUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
    if (a.length != b.length) null.asInstanceOf[java.lang.Double]
    else {
      var d = 0.0d; var na = 0.0d; var nb = 0.0d
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y
        i += 1
      }
      java.lang.Double.valueOf(d / (math.sqrt(na) * math.sqrt(nb)))
    }
  }

  private def randomVecs(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2f - 1f),
        Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }.toDF("id", "a", "b")
  }

  test("cosine_sim is bit-identical to the HOF form and the UDF") {
    val df = randomVecs(500, 64, seed = 11L)
      .withColumn("e_expr", GraftFunctions.cosineSim(col("a"), col("b")))
      .withColumn("e_hof", cosine(col("a"), col("b")))
      .withColumn("e_udf", cosineUdf(col("a"), col("b")))
    val rows = df.select("e_expr", "e_hof", "e_udf").collect()
    assert(rows.length === 500)
    rows.foreach { case Row(e: Double, h: Double, u: Double) =>
      assert(java.lang.Double.doubleToRawLongBits(e) ===
        java.lang.Double.doubleToRawLongBits(h), s"expr $e vs hof $h")
      assert(java.lang.Double.doubleToRawLongBits(e) ===
        java.lang.Double.doubleToRawLongBits(u), s"expr $e vs udf $u")
    }
  }

  test("cosine_sim stays inside whole-stage codegen (no ScalaUDF)") {
    // Over a real parquet scan (a literal-backed frame constant-folds to
    // a LocalTableScan and shows nothing). The Project carrying
    // cosine_sim must be inside a codegen span — `*(n) Project` in the
    // executed plan — and no ScalaUDF may appear anywhere.
    val emb = graft.Tables.load(spark, sf0001, "embeddings")
    val df = emb.select(GraftFunctions
      .cosineSim(col("embedding"), col("embedding")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    val codegenProject = plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("*(") && l.contains("cosine_sim"))
    assert(codegenProject,
      s"cosine_sim projection not in a WholeStageCodegen span:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"native expression must not plan as a UDF call:\n$plan")
    // And the generated code path actually runs: self-cosine ≡ 1.
    val vals = df.limit(20).collect().map(_.getDouble(0))
    assert(vals.nonEmpty && vals.forall(v => math.abs(v - 1.0d) < 1e-9))
  }

  test("cosine_sim resolves from SQL via the injected registry") {
    val one = spark.sql(
      """SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
        |                  array(cast(1.0 as float), cast(0.0 as float)))
        |       AS c""".stripMargin).head().getDouble(0)
    assert(math.abs(one - 1.0d) < 1e-12)
    val orth = spark.sql(
      """SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)),
        |                  array(cast(0.0 as float), cast(1.0 as float)))
        |       AS c""".stripMargin).head().getDouble(0)
    assert(math.abs(orth) < 1e-12)
  }

  test("cosine_sim null inputs yield null, not a crash") {
    import spark.implicits._
    val df = Seq((Some(Array(1f, 2f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
      .select(GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
    assert(df.head().isNullAt(0))
  }

  test("cosine_sim null ELEMENTS yield null in both eval paths, not a " +
      "silent 0.0 read") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, StructField,
      StructType}
    // Codegen path: a containsNull=true frame (exactly what a parquet
    // scan produces) with one null slot — the row must come back NULL,
    // and a null-free row through the SAME nullable schema must be
    // unaffected.
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq(1.0f, null, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
        Row(Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))),
      schema).select(GraftFunctions.cosineSim(col("a"), col("b")).as("c"))
    val got = df.collect()
    assert(got(0).isNullAt(0), "null element must yield NULL")
    assert(math.abs(got(1).getDouble(0) - 1.0) < 1e-9)
    // Interpreted path (nullSafeEval) directly.
    import org.apache.spark.sql.catalyst.expressions.Literal
    val at = ArrayType(FloatType, containsNull = true)
    assert(CosineSimilarity(
      Literal.create(Seq(1.0f, null, 3.0f), at),
      Literal.create(Seq(1.0f, 2.0f, 3.0f), at)).eval(null) == null)
    assert(math.abs(CosineSimilarity(
      Literal.create(Seq(3.0f, 4.0f), at),
      Literal.create(Seq(3.0f, 4.0f), at)).eval(null)
      .asInstanceOf[Double] - 1.0) < 1e-9)
  }

  test("cosine_sim LENGTH MISMATCH yields null in all three forms - a " +
      "truncated vector must not prefix-match as similarity 1.0") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f)),
      (Array(3f, 4f), Array(3f, 4f))).toDF("a", "b")
    val got = df.select(
      GraftFunctions.cosineSim(col("a"), col("b")).as("expr"),
      cosine(col("a"), col("b")).as("hof"),
      cosineUdf(col("a"), col("b")).as("udf")).collect()
    (0 until 3).foreach { c =>
      assert(got(0).isNullAt(c), s"mismatched lengths: column $c not null")
      assert(math.abs(got(1).getDouble(c) - 1.0) < 1e-9,
        s"equal-length row: column $c wrong")
    }
    // Interpreted path too.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val at = ArrayType(FloatType, containsNull = false)
    assert(CosineSimilarity(
      Literal.create(Seq(1.0f), at),
      Literal.create(Seq(1.0f, 2.0f), at)).eval(null) == null)
  }

  test("cosine_sim rejects non-float-array inputs at analysis") {
    val err = intercept[AnalysisException] {
      spark.sql("SELECT cosine_sim(array(1, 2), array(3, 4))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_sim") ||
      err.getMessage.contains("array<float>"),
      s"unexpected analysis error: ${err.getMessage}")
  }

  // ---- bounded_min_by_n (BoundedMinByN TypedImperativeAggregate) ----

  /** Skewed fixture: group 0 holds ~70% of rows (the hot-domain shape
    * the aggregate exists for), keys deliberately collide (mod 97) so
    * the payload tie-break is exercised, spread across 13 partitions so
    * partial buffers must serialize and merge.
    */
  private def skewedGroups(n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    import spark.implicits._
    (0 until n).map { i =>
      val g = if (rnd.nextDouble() < 0.7) 0L else rnd.nextInt(20).toLong
      (g, rnd.nextInt(97).toLong, i.toLong)
    }.toDF("g", "k", "id").repartition(13)
  }

  test("bounded_min_by_n equals the window row_number idiom on skewed " +
      "multi-partition data (partial merges exercised)") {
    import org.apache.spark.sql.expressions.Window
    val df = skewedGroups(10000, seed = 5L).cache()
    try {
      val viaAgg = df.groupBy("g")
        .agg(GraftFunctions.boundedMinByN(col("k"), col("id"), 7)
          .as("ids"))
        .select(col("g"), explode(col("ids")).as("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaWindow = df.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("k"), col("id"))))
        .where(col("rn") <= 7).select("g", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaAgg === viaWindow)
      // Ascending (key, payload) output order within each group.
      val ordered = df.groupBy("g")
        .agg(GraftFunctions.boundedMinByN(col("k"), col("id"), 7)
          .as("ids"))
        .collect().forall { r =>
          val keyOf = df.select("k", "id").where(col("g") === r.getLong(0))
            .collect().map(x => x.getLong(1) -> x.getLong(0)).toMap
          val ids = r.getSeq[Long](1)
          val pairs = ids.map(id => (keyOf(id), id))
          pairs == pairs.sorted
        }
      assert(ordered, "payloads must come back in (key, payload) order")
    } finally df.unpersist()
  }

  test("bounded_min_by_n: cap over group size returns the whole group; " +
      "null keys/payloads are skipped; empty input gives empty array") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(5L), Some(10L)), (1L, Some(3L), Some(11L)),
      (1L, None, Some(12L)), (1L, Some(1L), None)
    ).toDF("g", "k", "id")
    val out = df.groupBy("g")
      .agg(GraftFunctions.boundedMinByN(col("k"), col("id"), 100)
        .as("ids")).head().getSeq[Long](1)
    assert(out === Seq(11L, 10L), s"got $out")
    val empty = df.where(col("g") === 99).groupBy("g")
      .agg(GraftFunctions.boundedMinByN(col("k"), col("id"), 5).as("ids"))
    assert(empty.collect().isEmpty)
  }

  test("bounded_min_by_n resolves from SQL and plans partial+final " +
      "ObjectHashAggregate around one hash-partitioning Exchange") {
    // AQE off for this one assertion: the adaptive executedPlan string
    // prints Initial+Final plans and hides exchanges inside query-stage
    // leaves, so node-level counting is only meaningful on a plain plan.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      skewedGroups(2000, seed = 7L).createOrReplaceTempView("bmb_t")
      val df = spark.sql(
        "SELECT g, bounded_min_by_n(k, id, 3) AS ids FROM bmb_t GROUP BY g")
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan
      val p = plan.toString
      assert(p.contains("ObjectHashAggregate"),
        s"TypedImperativeAggregate should plan as ObjectHashAggregate:\n$p")
      assert(p.contains("partial_bounded_min_by_n"),
        s"no map-side partial aggregation — the skew story is gone:\n$p")
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      // Exactly one aggregation shuffle; the fixture's repartition(13)
      // contributes a round-robin exchange that must not be counted.
      val hashShuffles = plan.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashShuffles.size == 1,
        s"expected exactly one hash-partitioning shuffle:\n$p")
      // Groups are the hot 0 plus nextInt(20) ∈ [0,20) → 20 distinct.
      val rows = df.collect()
      assert(rows.length == 20 &&
        rows.forall(_.getSeq[Long](1).length == 3))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bounded_min_by_n survives the sort-based aggregation fallback " +
      "(buffer serialize/deserialize round-trip)") {
    // ObjectHashAggregate spills to sort-based merge past this
    // threshold; 1 forces EVERY group through serialize/deserialize.
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val df = skewedGroups(3000, seed = 9L)
      import org.apache.spark.sql.expressions.Window
      val viaAgg = df.groupBy("g")
        .agg(GraftFunctions.boundedMinByN(col("k"), col("id"), 5)
          .as("ids"))
        .select(col("g"), explode(col("ids")).as("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaWindow = df.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("k"), col("id"))))
        .where(col("rn") <= 5).select("g", "id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaAgg === viaWindow)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("bloom_might_contain matches the filter object, nulls stay " +
      "null, and the analyzed plan carries no giant binary literal") {
    import spark.implicits._
    val bloom = org.apache.spark.util.sketch.BloomFilter
      .create(1000, 0.01)
    (0L until 500L).foreach(i => bloom.putLong(i * 7L))
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val docs = graft.Tables.load(spark, sf0001, "documents")
      .select(xxhash64(col("text")).as("h")).limit(300)
      .unionByName(Seq((0L until 500L).map(_ * 7L): _*).toDF("h"))
    val got = docs
      .select(col("h"),
        GraftFunctions.bloomMightContain(bytes, col("h")).as("m"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    // Never a false negative; expect matches the object's own answer.
    got.foreach { case (h, m) =>
      assert(m == bloom.mightContainLong(h), s"hash $h")
    }
    assert(got.count(_._2) >= 500, "all inserted hashes must test true")
    // NULL hash -> NULL result.
    val nullRow = Seq[java.lang.Long](null).toDF("h")
      .select(GraftFunctions.bloomMightContain(bytes, col("h")))
      .collect().head
    assert(nullRow.isNullAt(0))
    // The bytes must NOT appear as a hex literal in the analyzed or
    // executed plan (the builder folds them into an expression field);
    // a 1 KB filter would already print ~2 KB of hex.
    val df = docs.select(
      GraftFunctions.bloomMightContain(bytes, col("h")).as("m"))
    val planStrings = Seq(
      df.queryExecution.analyzed.toString,
      df.queryExecution.executedPlan.toString)
    planStrings.foreach { p =>
      assert(p.contains("bloom_might_contain"), p)
      assert(p.length < 20000,
        s"plan string suspiciously large (${p.length}) — binary " +
          s"literal leaked into the plan?\n${p.take(500)}")
    }
    // Codegen: no ScalaUDF, and the filter Project sits in a
    // WholeStageCodegen span over the real parquet scan.
    val scanDf = graft.Tables.load(spark, sf0001, "documents")
      .select(GraftFunctions
        .bloomMightContain(bytes, xxhash64(col("text"))).as("m"))
    val plan = scanDf.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"),
      s"bloom_might_contain must not plan as a UDF:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("*(") &&
        l.contains("bloom_might_contain")),
      s"bloom_might_contain projection not in a codegen span:\n$plan")
    // SQL form resolves via the injected registry (hex literal form).
    val hex = bytes.map(b => f"${b & 0xff}%02X").mkString
    val viaSql = spark.sql(
      s"SELECT bloom_might_contain(X'$hex', ${7L * 3L}L) AS m")
      .collect().head.getBoolean(0)
    assert(viaSql == bloom.mightContainLong(21L))
    // Builder refuses a non-foldable or non-binary filter argument.
    docs.createOrReplaceTempView("bmc_docs")
    Seq(
      "SELECT bloom_might_contain(h, h) FROM bmc_docs",
      "SELECT bloom_might_contain(CAST(NULL AS BINARY), h) FROM bmc_docs"
    ).foreach { sql =>
      intercept[Throwable] { spark.sql(sql).collect() }
    }
  }

  test("affine_gap / affine_gap_sim are bit-identical three ways: " +
      "expression vs a ScalaUDF over the same DP vs driver Scala") {
    import graft.similarity.AffineGap
    import spark.implicits._
    val rnd = new scala.util.Random(23L)
    val alpha = "abcdefgh ÁÉí中文🎈-'."
    def randStr(): String =
      Array.fill(rnd.nextInt(24))(alpha(rnd.nextInt(alpha.length)))
        .mkString
    val pairs = (0 until 300).map { i =>
      val a = randStr()
      // Mix: unrelated, identical, near (one substitution), empty.
      val b = i % 4 match {
        case 0 => randStr()
        case 1 => a
        case 2 => if (a.isEmpty) "x"
          else a.updated(rnd.nextInt(a.length), 'z')
        case _ => ""
      }
      (i.toLong, a, b)
    }
    val udfD = udf((a: String, b: String) => AffineGap.normalized(a, b))
    val udfS = udf((a: String, b: String) => AffineGap.similarity(a, b))
    val got = pairs.toDF("id", "a", "b")
      .select(col("a"), col("b"),
        GraftFunctions.affineGap(col("a"), col("b")).as("ed"),
        udfD(col("a"), col("b")).as("ud"),
        GraftFunctions.affineGapSim(col("a"), col("b")).as("es"),
        udfS(col("a"), col("b")).as("us"))
      .collect()
    assert(got.length === 300)
    got.foreach { case Row(a: String, b: String, ed: Double, ud: Double,
        es: Double, us: Double) =>
      def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
      assert(bits(ed) === bits(ud) && bits(ed) ===
        bits(AffineGap.normalized(a, b)), s"dist('$a','$b'): $ed vs $ud")
      assert(bits(es) === bits(us) && bits(es) ===
        bits(AffineGap.similarity(a, b)), s"sim('$a','$b'): $es vs $us")
    }
    // Null semantics: the native expression is null-in-null-out (the
    // old UDFs returned NaN/0.0 — that edge is unreachable behind
    // fieldDistance's guard, and FunctionsSpec pins the new contract).
    val nulls = Seq((Option("x"), Option.empty[String]))
      .toDF("a", "b")
      .select(GraftFunctions.affineGap(col("a"), col("b")).as("d"),
        GraftFunctions.affineGapSim(col("a"), col("b")).as("s"))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("affine_gap stays inside whole-stage codegen (no ScalaUDF), " +
      "resolves from SQL, and rejects wrong types at analysis") {
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val df = docs.select(GraftFunctions
      .affineGap(col("source"), col("lang")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    val codegenProject = plan.linesIterator.exists(l =>
      l.contains("Project") && l.contains("*(") && l.contains("affine_gap"))
    assert(codegenProject,
      s"affine_gap projection not in a WholeStageCodegen span:\n$plan")
    assert(!plan.contains("ScalaUDF"),
      s"native expression must not plan as a UDF call:\n$plan")
    assert(df.limit(5).collect().forall(r => r.getDouble(0) >= 0.0))
    val viaSql = spark.sql(
      "SELECT affine_gap('abc', 'abc') AS d, " +
        "affine_gap_sim('abc', 'abc') AS s").head()
    assert(viaSql.getDouble(0) === 0.5 && viaSql.getDouble(1) === 1.0)
    intercept[AnalysisException] {
      spark.sql("SELECT affine_gap(1, 2)").collect()
    }
    ()
  }

  test("nfc_normalize matches java.text.Normalizer three ways, is " +
      "idempotent on randomized combining-mark strings, fast-paths " +
      "ASCII/normalized input, and stays in codegen") {
    import spark.implicits._
    import java.text.Normalizer
    // Hand-planted: decomposed e+combining-acute composes to é; the
    // composed form round-trips untouched; Hangul jamo compose; ASCII
    // unchanged; null passes through.
    val planted = Seq(
      "é decomposed", "é composed", "plain ascii",
      "각", // Hangul jamo -> composed syllable
      "ﬁ ligature stays", // NFC does NOT decompose compatibility forms
      "")
    val nfcUdf = udf((s: String) =>
      Normalizer.normalize(s, Normalizer.Form.NFC))
    val got = planted.toDF("s")
      .select(col("s"), GraftFunctions.nfcNormalize(col("s")).as("e"),
        nfcUdf(col("s")).as("u"))
      .collect()
    got.foreach { case Row(s: String, e: String, u: String) =>
      assert(e == u && e == Normalizer.normalize(s, Normalizer.Form.NFC),
        s"'$s' -> '$e' vs '$u'")
    }
    assert(got.map(_.getString(1)).take(2).toSeq ==
      Seq("é decomposed", "é composed"))
    // Randomized: strings mixing ASCII, combining marks, precomposed
    // chars, astral symbols — expression == Normalizer, and applying
    // it twice is a fixed point.
    val rnd = new scala.util.Random(31L)
    val pieces = Seq("a", "é", "é", "ö́", "中",
      "🎈", "́", " ", "ñ")
    val rows = (0 until 300).map { _ =>
      Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.length)))
        .mkString
    }
    val two = rows.toDF("s").select(col("s"),
        GraftFunctions.nfcNormalize(col("s")).as("once"),
        GraftFunctions.nfcNormalize(
          GraftFunctions.nfcNormalize(col("s"))).as("twice"))
      .collect()
    two.foreach { case Row(s: String, once: String, twice: String) =>
      assert(once == Normalizer.normalize(s, Normalizer.Form.NFC), s"'$s'")
      assert(once == twice, s"not idempotent on '$s'")
    }
    // Null and SQL registry.
    val n = Seq(Option.empty[String]).toDF("s")
      .select(GraftFunctions.nfcNormalize(col("s"))).head()
    assert(n.isNullAt(0))
    assert(spark.sql("SELECT nfc_normalize('é') AS x")
      .head().getString(0) == "é")
    intercept[AnalysisException] {
      spark.sql("SELECT nfc_normalize(1)").collect()
    }
    // Codegen span over a parquet scan; no ScalaUDF.
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val df = docs.select(GraftFunctions.nfcNormalize(col("text")).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("Project") &&
      l.contains("*(") && l.contains("nfc_normalize")), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    // ASCII fast path returns the very same instance (no allocation).
    import org.apache.spark.unsafe.types.UTF8String
    val ascii = UTF8String.fromString("plain")
    assert(graft.functions.NfcNormalize.nfc(ascii) eq ascii)
    val normalized = UTF8String.fromString("é")
    assert(graft.functions.NfcNormalize.nfc(normalized) eq normalized)
  }

  test("the q50 scorer's feature projection plans ZERO ScalaUDFs — " +
      "every comparator including affine-gap is codegen'd") {
    import spark.implicits._
    val cfg = graft.config.DedupeConfig(
      key = "id",
      fields = Seq(
        graft.config.FieldSpec("name", "String", hasMissing = true),
        graft.config.FieldSpec("city", "Categorical")),
      interactions = Seq(Seq("name", "city")))
    // Parquet-backed (a literal frame constant-folds to a
    // LocalTableScan and shows no expressions at all).
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val pairs = docs.select(
      col("source").as("l_name"), col("lang").as("r_name"),
      col("lang").as("l_city"), col("source").as("r_city"))
    val out = graft.similarity.Comparators.withFeatures(cfg, pairs)
    out.collect()
    val ps = out.queryExecution.executedPlan.toString
    assert(ps.contains("affine_gap"),
      s"feature projection lost the affine-gap comparator:\n$ps")
    assert(!ps.contains("ScalaUDF"),
      s"feature projection must be UDF-free:\n$ps")
  }

  test("bounded_min_by_n rejects bad types and a non-positive or " +
      "non-literal limit at analysis") {
    import spark.implicits._
    Seq((1L, 2L, 3L)).toDF("g", "k", "id")
      .createOrReplaceTempView("bmb_bad")
    Seq(
      "SELECT bounded_min_by_n(CAST(k AS STRING), id, 3) FROM bmb_bad " +
        "GROUP BY g",
      "SELECT bounded_min_by_n(k, id, 0) FROM bmb_bad GROUP BY g",
      "SELECT bounded_min_by_n(k, id, id) FROM bmb_bad GROUP BY g"
    ).foreach { sql =>
      intercept[AnalysisException] { spark.sql(sql).collect() }
    }
  }
}
