package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Gates for [[EditJoin.editDistancePairs]] and its
  * [[graft.functions.DeleteNeighborhood]] signature expression.
  */
class EditJoinSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame, k: Int,
      maxLen: Int = 128): Set[(Long, Long, Long)] =
    EditJoin.editDistancePairs(df, "id", "s", k, maxLen)
      .as[(Long, Long, Long)].collect().toSet

  test("hand-computed pairs: substitution, deletion, insertion, " +
      "transposition-as-2, exact dup at dist 0, empty strings, " +
      "nulls excluded") {
    val df = Seq(
      (1L, "martha"), (2L, "marhta"), // transposition = 2 subs
      (3L, "smith"), (4L, "smyth"),   // 1 substitution
      (5L, "jones"), (6L, "jone"),    // 1 deletion
      (7L, "jonese"),                 // 1 insertion vs 5, 2 vs 6
      (8L, ""), (9L, "a"), (10L, ""), // empty: d("","a")=1, d("","")=0
      (11L, null.asInstanceOf[String]),
      (12L, "completely different value")
    ).toDF("id", "s")
    val k1 = pairs(df, 1)
    assert(k1 == Set((3L, 4L, 1L), (5L, 6L, 1L), (5L, 7L, 1L),
      (8L, 9L, 1L), (9L, 10L, 1L), (8L, 10L, 0L)), k1.toString)
    val k2 = pairs(df, 2)
    assert(k2.contains((1L, 2L, 2L)) && k2.contains((6L, 7L, 2L)),
      k2.toString)
    assert(!k2.exists(p => p._1 == 11L || p._2 == 11L),
      "null string must form no pairs")
    // k = 0 is the exact-duplicate join.
    assert(pairs(df, 0) == Set((8L, 10L, 0L)))
  }

  test("CODEPOINT semantics: one emoji or accented-char edit is ONE " +
      "edit (not 2-4 bytes), matching Spark's levenshtein — the " +
      "soundness alphabet the DuckDB oracle cannot exercise") {
    val df = Seq(
      (1L, "héllo"), (2L, "hello"),      // é→e: 1 codepoint sub
      (3L, "ab🚀"), (4L, "ab"),          // 🚀: 1 codepoint del
      (5L, "日本語"), (6L, "日本")        // 1 codepoint del
    ).toDF("id", "s")
    assert(pairs(df, 1) ==
      Set((1L, 2L, 1L), (3L, 4L, 1L), (5L, 6L, 1L)))
  }

  test("randomized brute-force differential: planted edits on hostile " +
      "strings, operator == crossJoin + levenshtein twin (3 seeds)") {
    Seq(7L, 191L, 5077L).foreach { seed =>
      val r = new scala.util.Random(seed)
      val alphabet = "abcdeé字🚀 "
      def randStr(n: Int): String =
        Seq.fill(n)(alphabet(r.nextInt(alphabet.length))).mkString
      def mutate(s: String, edits: Int): String = {
        var cps = s.codePoints().toArray.toVector
        (0 until edits).foreach { _ =>
          val op = r.nextInt(3)
          if (cps.isEmpty || op == 0) // insert
            cps = cps.patch(r.nextInt(cps.length + 1),
              Seq(alphabet.codePointAt(r.nextInt(5))), 0)
          else if (op == 1) // delete
            cps = cps.patch(r.nextInt(cps.length), Nil, 1)
          else // substitute
            cps = cps.updated(r.nextInt(cps.length),
              alphabet.codePointAt(r.nextInt(5)))
        }
        new String(cps.toArray, 0, cps.length)
      }
      // 60 base strings; each gets 1-2 mutated twins at 0-4 edits, so
      // the k=2 boundary is populated on both sides.
      val rows = (0 until 60).flatMap { i =>
        val base = randStr(3 + r.nextInt(10))
        val twins = (0 until 1 + r.nextInt(2)).map { j =>
          (1000L + i * 10L + j, mutate(base, r.nextInt(5)))
        }
        (i.toLong, base) +: twins
      }
      val df = rows.toDF("id", "s")
      val got = pairs(df, 2)
      val l = df.select(col("id").as("id1"), col("s").as("s1"))
      val rr = df.select(col("id").as("id2"), col("s").as("s2"))
      val want = l.crossJoin(rr)
        .where(col("id1") < col("id2") &&
          levenshtein(col("s1"), col("s2"), 2) >= 0)
        .select(col("id1"), col("id2"),
          levenshtein(col("s1"), col("s2"), 2).cast("long").as("dist"))
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want, s"seed=$seed: got ${got.size} pairs, " +
        s"want ${want.size}; missing ${(want -- got).take(5)}, " +
        s"extra ${(got -- want).take(5)}")
    }
  }

  test("SET semantics: duplicated input rows emit each qualifying id " +
      "pair once (the brute-force join's DISTINCT), and a same-id " +
      "row set still pairs correctly") {
    val df = Seq(
      (5L, "abc"), (5L, "abc"), (5L, "abc"), // exact duplicate rows
      (7L, "abd"), (9L, "abc")
    ).toDF("id", "s")
    val got = pairs(df, 1)
    assert(got == Set((5L, 7L, 1L), (5L, 9L, 0L), (7L, 9L, 1L)), got)
  }

  test("guards: k out of range, idCol == strCol, over-long field " +
      "fails LOUDLY (no silent row drop)") {
    val df = Seq((1L, "ab")).toDF("id", "s")
    intercept[IllegalArgumentException] {
      EditJoin.editDistancePairs(df, "id", "s", maxDist = 3)
    }
    intercept[IllegalArgumentException] {
      EditJoin.editDistancePairs(df, "s", "s", maxDist = 1)
    }
    val long = Seq((1L, "x" * 50), (2L, "x" * 50)).toDF("id", "s")
    val e = intercept[Exception] {
      EditJoin.editDistancePairs(long, "id", "s", maxDist = 1,
        maxFieldLen = 10).count()
    }
    assert(e.getMessage != null)
    // Same data passes with a deliberate higher cap.
    assert(pairs(long, 1, maxLen = 64) == Set((1L, 2L, 0L)))
  }

  test("plan: delete_neighborhood + thresholded levenshtein are " +
      "codegen'd expressions (no ScalaUDF), no join, no CartesianProduct") {
    val docs = Seq((1L, "alpha"), (2L, "alphb"), (3L, "gamma"))
      .toDF("id", "s")
    val out = EditJoin.editDistancePairs(docs, "id", "s", 1)
    out.collect()
    val ps = out.queryExecution.executedPlan.toString
    assert(ps.contains("delete_neighborhood"), ps)
    assert(!ps.contains("ScalaUDF"), ps)
    assert(!ps.contains("CartesianProduct") && !ps.contains("BroadcastNestedLoop"),
      s"edit join must not plan a cross join:\n$ps")
    // Candidates come from the variant lists (RelationalOps' bucket →
    // pairs kernel): no join, and ONE execution of the explode subtree.
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BaseJoinExec]),
      s"edit join plans a join:\n$ps")
    assert(nodes.count {
      case g: org.apache.spark.sql.execution.GenerateExec =>
        g.generator.toString.contains("delete_neighborhood")
      case _ => false
    } == 1,
      s"the variant generation runs more than once:\n$ps")
    // The distance is computed once per pair, in the pair distinct's
    // final aggregate (the plan string does not print its result
    // expressions): no filter below the distinct repeats it.
    val levenshteins = nodes.flatMap(_.expressions).map(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Levenshtein => l
    }.size).sum
    assert(levenshteins == 1,
      s"levenshtein is evaluated $levenshteins times per pair:\n$ps")
    // SQL registry form resolves too.
    val viaSql = spark.sql(
      "SELECT delete_neighborhood('ab', 1, 16) AS v").head().getSeq[String](0)
    assert(viaSql.toSet == Set("ab", "b", "a"))
  }

  test("a call runs zero jobs and leaves nothing persisted") {
    val df = Seq((1L, "smith"), (2L, "smyth"), (3L, "jones"),
      (4L, "jone"), (5L, "unrelated value")).toDF("id", "s")
    val rdds0 = spark.sparkContext.getPersistentRDDs.keySet
    val (result, jobs) = withJobs(
      EditJoin.editDistancePairs(df, "id", "s", maxDist = 1))
    assert(jobs.isEmpty, s"the call ran jobs: $jobs")
    // The result is a plan, not a materialized handle, and no frontier
    // is cached behind it, before or after an action.
    assert(result.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    val got = result.as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (3L, 4L, 1L)), got.toString)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rdds0)
  }
}
