package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.quality.{Cleaner, Profile, Validator}

/** Property-based invariants from SURVEY.md §5, over generated
  * people-shaped frames (spaced column names, nulls, duplicates).
  * Plain ScalaCheck driven through Test.check; frames are kept tiny so
  * each property runs dozens of Spark jobs in seconds.
  */
class PropertySpec extends SparkSpec {

  private val cols = Seq("User Id", "Phone", "Job Title")

  private val cellGen: Gen[String] =
    Gen.frequency(
      4 -> Gen.oneOf("a", "b", "c", "x y", ""),
      1 -> Gen.const(null: String))

  private val rowGen: Gen[Seq[String]] = Gen.listOfN(cols.length, cellGen)

  private val framesGen: Gen[List[Seq[String]]] = for {
    base <- Gen.listOfN(6, rowGen)
    dups <- Gen.someOf(base) // duplicate a random subset
  } yield base ++ dups

  private def toDf(rows: List[Seq[String]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(rows.map(r => Row(r: _*)).asJava, schema)
  }

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, s"$name: $res")
  }

  test("dropDuplicates is idempotent") {
    check("dedup idempotent", Prop.forAll(framesGen) { rows =>
      val once = toDf(rows).dropDuplicates()
      once.count() == once.dropDuplicates().count()
    })
  }

  test("duplicate count is non-negative: count >= distinct.count") {
    check("dup count", Prop.forAll(framesGen) { rows =>
      val df = toDf(rows)
      df.count() >= df.distinct().count()
    })
  }

  test("targeted fillna eliminates nulls ONLY in the targeted column") {
    check("fillna targeted", Prop.forAll(framesGen) { rows =>
      val df = toDf(rows)
      val filled = df.na.fill(Map("Phone" -> "Unknown"))
      val phoneNulls = filled.filter(col("Phone").isNull).count()
      // other columns keep their null counts
      val othersSame = cols.filterNot(_ == "Phone").forall { c =>
        df.filter(col(c).isNull).count() == filled.filter(col(c).isNull).count()
      }
      phoneNulls == 0 && othersSame
    })
  }

  /** The reference's three-action profile (`count`, `count - distinct
    * count`, a null scan per column): the oracle of the one-pass one.
    */
  private def threeActionProfile(df: DataFrame): Profile = {
    val rows = df.count()
    Profile(rows, df.columns.length, rows - df.distinct().count(),
      df.columns.map(c => c -> df.filter(col(c).isNull).count()).toMap)
  }

  test("one-pass profile equals the three-action profile") {
    check("profile parity", Prop.forAll(framesGen) { rows =>
      val df = toDf(rows)
      Validator.profile(df) == threeActionProfile(df)
    })
  }

  test("one-pass profile equals the three-action profile on edge frames") {
    import spark.implicits._
    val nanAndZeros = Seq(Some(0.0), Some(-0.0), Some(Double.NaN), Some(Double.NaN),
      Some(1.0), None, None).toDF("x")
    val edges = Seq(
      "empty" -> spark.emptyDataFrame,
      "zero columns" -> spark.range(3).select(),
      "all-null row" -> toDf(List(Seq(null, null, null), Seq("a", null, "b"))),
      "NaN and -0.0" -> nanAndZeros)
    for ((name, df) <- edges)
      assert(Validator.profile(df) == threeActionProfile(df), name)
    assert(Validator.profile(spark.emptyDataFrame) == Profile(0, 0, 0, Map()))
    // 0.0 and -0.0 are one value, and so are the two NaNs
    assert(Validator.profile(nanAndZeros) == Profile(7, 1, 3, Map("x" -> 2L)))
  }

  test("clean = fill(Phone) then dropna then dropDuplicates, in that order") {
    check("clean order", Prop.forAll(framesGen) { rows =>
      val df = toDf(rows)
      val cleaned = Cleaner.clean(df)
      // rows null ONLY in Phone survive (as "Unknown"); rows null in any
      // other column are gone; result is exactly-duplicate-free
      val expectSurvivors = df
        .na.fill(Map("Phone" -> "Unknown")).na.drop().dropDuplicates().count()
      val noNulls = cols.forall(c => cleaned.filter(col(c).isNull).count() == 0)
      cleaned.count() == expectSurvivors && noNulls
    })
  }

  test("csv -> parquet -> csv round-trip preserves cleaned string data") {
    check("format round-trip", Prop.forAll(framesGen) { rows =>
      // cleaned: no nulls, no dups — the subset the reference pipeline
      // actually writes; empty string is EXCLUDED (Spark CSV cannot
      // distinguish "" from null on read — a real, documented limitation)
      val cleaned = Cleaner.clean(toDf(rows)).filter(cols.map(c => col(c) =!= "").reduce(_ && _))
      val dir = scratchDir("roundtrip").toString
      cleaned.write.option("header", "true").mode("overwrite").csv(s"$dir/c1")
      val c1 = spark.read.option("header", "true").csv(s"$dir/c1")
      c1.write.mode("overwrite").parquet(s"$dir/p")
      spark.read.parquet(s"$dir/p").write.option("header", "true").mode("overwrite").csv(s"$dir/c2")
      val c2 = spark.read.option("header", "true").csv(s"$dir/c2")
      c2.exceptAll(cleaned).count() == 0 && cleaned.exceptAll(c2).count() == 0
    })
  }

  test("chunk invariants hold across (nTokens, size, overlap) space") {
    import spark.implicits._
    val configs = for {
      (n, i) <- Seq(0, 1, 2, 5, 7, 19, 20, 21, 37, 60).zipWithIndex
      (size, overlap) <- Seq((5, 0), (5, 2), (8, 7), (20, 5), (3, 1))
    } yield (n, size, overlap, i)
    configs.foreach { case (n, size, overlap, _) =>
      val doc = (1 to n).map(i => s"w$i").mkString(" ")
      val df = Seq((1L, doc)).toDF("id", "text")
      val chunks = graft.operators.TextAnalysis.chunk(df, "id", "text", size, overlap)
        .orderBy("chunk_idx").collect()
      val ctx = s"n=$n size=$size overlap=$overlap"
      if (n == 0) assert(chunks.isEmpty, s"$ctx: empty doc yields no chunks")
      else {
        assert(chunks.nonEmpty, s"$ctx: non-empty doc yields >= 1 chunk")
        // indices are 0..k-1 dense
        assert(chunks.map(_.getLong(1)).toSeq == chunks.indices.map(_.toLong), ctx)
        // every chunk respects the window, and token counts match content
        chunks.foreach { c =>
          val toks = c.getString(3).split(" ")
          assert(toks.length == c.getInt(2) && toks.length <= size, ctx)
        }
        // COVERAGE: the chunks' tokens union to exactly the document
        val covered = chunks.flatMap(_.getString(3).split(" ")).toSet
        assert(covered == (1 to n).map(i => s"w$i").toSet, s"$ctx: coverage hole")
        // consecutive chunks overlap by exactly `overlap` tokens (except
        // a possibly-short final window)
        chunks.sliding(2).foreach {
          case Array(a, b) =>
            val at = a.getString(3).split(" ")
            val bt = b.getString(3).split(" ")
            if (at.length == size)
              assert(bt.startsWith(at.takeRight(overlap)), s"$ctx: overlap mismatch")
          case _ => ()
        }
      }
    }
  }

  test("repetitionRatio is bounded in [0, 1] and monotone in duplication") {
    import spark.implicits._
    val docs = Seq(
      (1 to 30).map(i => s"u$i").mkString(" "),       // all distinct
      Seq.fill(10)("a b c").mkString(" "),            // heavy repetition
      "a b c " + (1 to 20).map(i => s"u$i").mkString(" "),
      "", "x", "x x", "x x x x x x x x").toDF("text")
    val rs = docs.select(graft.operators.TextAnalysis.repetitionRatio(col("text"), 3))
      .collect().map(_.getDouble(0))
    assert(rs.forall(r => r >= 0.0 && r <= 1.0))
    assert(rs(0) == 0.0, "distinct tokens → ratio 0")
    assert(rs(1) > 0.8, s"heavy repetition → high ratio, got ${rs(1)}")
    assert(rs(1) > rs(2), "more duplication → higher ratio")
  }

  test("winsorize invariants hold across random value sets and percentile bands") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 5 + rnd.nextInt(40)
      val vals = Seq.fill(n)(math.round(rnd.nextDouble() * 1e6) / 100.0)
      val (lo, hi) = { val a = rnd.nextDouble() * 0.4; (a, 1.0 - rnd.nextDouble() * 0.4) }
      val df = vals.map(("g", _)).toDF("g", "v")
      val w = graft.quality.Outliers.winsorize(df, "v", Seq("g"), lo, hi)
        .select("v", "v_w").collect()
      val ctx = s"trial=$trial n=$n lo=$lo hi=$hi"
      assert(w.length == n, ctx)
      val clipped = w.map(_.getDouble(1))
      // bounds are data members; clipped values stay inside the exact
      // discrete-percentile band (percentile_disc index = ceil(p·n)−1)
      assert(clipped.forall(vals.toSet.contains), s"$ctx: non-member output")
      val sortedVals = vals.sorted
      val hiBound = sortedVals(math.min(n - 1, math.max(0, math.ceil(hi * n).toInt - 1)))
      val loBound = sortedVals(math.min(n - 1, math.max(0, math.ceil(lo * n).toInt - 1)))
      assert(clipped.max <= hiBound, s"$ctx: max ${clipped.max} > p$hi bound $hiBound")
      assert(clipped.min >= loBound, s"$ctx: min ${clipped.min} < p$lo bound $loBound")
      // order statistics: clipping never changes rank order
      val pairs = w.map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
      assert(pairs.map(_._2).sameElements(pairs.map(_._2).sorted), s"$ctx: rank flip")
    }
  }

  test("ngram count total equals sum over docs of max(tokens - n + 1, 0)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (1 to 30).map { i =>
      val n = rnd.nextInt(6)
      (i.toLong, (1 to n).map(k => s"t${rnd.nextInt(5)}").mkString(" "))
    }.toDF("doc_id", "text")
    val total = graft.operators.TextAnalysis.ngramCounts(docs, "text", n = 2, minCount = 1L)
      .agg(sum("n_occurrences")).head().getLong(0)
    val expected = docs.collect().map { r =>
      val t = r.getString(1).split(" ").filter(_.nonEmpty).length
      math.max(t - 1, 0)
    }.sum
    assert(total == expected)
  }

  test("removeBoilerplate invariants: output df < threshold, lines only ever removed, order kept") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // random multi-line docs over a small line alphabet so document
    // frequencies cross the threshold both ways
    val docs = (1 to 40).map { i =>
      val n = 1 + rnd.nextInt(5)
      (i.toLong, (1 to n).map(_ => s"L${rnd.nextInt(8)}").mkString("\n"))
    }.toDF("doc_id", "text")
    val minDocs = 10L
    val out = graft.operators.TextAnalysis
      .removeBoilerplate(docs, "doc_id", "text", minDocs)
    val outRows = out.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // recomputing document frequency over the OUTPUT: nothing at or
    // above the threshold may remain
    val residualDf = out
      .select(col("doc_id"), explode(split(col("clean_text"), "\n")).as("line"))
      .groupBy("line").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs).count()
    assert(residualDf == 0, "a boilerplate-frequency line survived")
    // every output doc's lines are a SUBSEQUENCE of its input lines
    docs.collect().foreach { r =>
      val id = r.getLong(0)
      val orig = r.getString(1).split("\n").toSeq
      outRows.get(id).foreach { cleaned =>
        val kept = cleaned.split("\n").toSeq
        // subsequence check preserves order and multiplicity
        val it = orig.iterator
        assert(kept.forall(l => it.contains(l)),
          s"doc $id: $kept is not an in-order subsequence of $orig")
      }
    }
  }
}
