package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class EntityResolutionSpec extends SparkSpec {

  import EntityResolution._

  test("levSim: identity scores 1, null scores 0, bounds hold") {
    import spark.implicits._
    val df = Seq(
      ("abc", "abc"),
      ("abc", null),
      (null, "abc"),
      ("abc", "xyz"),
      ("kitten", "sitting")).toDF("a", "b")
    val got = df.select(round(levSim(col("a"), col("b")), 6)).collect().map(_.getDouble(0))
    assert(got(0) == 1.0)
    assert(got(1) == 0.0 && got(2) == 0.0, "null field must score 0, not null")
    assert(got(3) == 0.0, "fully dissimilar same-length strings score 0")
    assert(got(4) == bdRound(BigDecimal(1.0 - 3.0 / 7.0), 6), "kitten/sitting: 3 edits over max len 7")
    got.foreach(s => assert(s >= 0.0 && s <= 1.0))
  }

  private def bdRound(x: BigDecimal, s: Int): Double =
    x.setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("linkPairs: candidates only form inside a block; threshold applies after rounding") {
    import spark.implicits._
    val df = Seq(
      (1L, "B1", "acme corp", "retail"),
      (2L, "B1", "acme corp", "retail"),   // identical to 1 — score 1.0
      (3L, "B2", "acme corp", "retail"),   // identical TEXT, different block
      (4L, "B1", "zzzzzzzzz", "finance")   // same block, dissimilar
    ).toDF("id", "blk", "name", "kind")
    val pairs = linkPairs(df, "id", Seq("blk"),
        Seq(("name", 0.6), ("kind", 0.4)), threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)),
      s"only the in-block identical pair qualifies: ${pairs.mkString(", ")}")
  }

  // replicate the engine's salt assignment (first 8 md5 hex chars of
  // the id string, mod s) so salt-level tests can derive the EXACT
  // expected pair set instead of hand-waving about buckets
  private def saltHome(id: Long, s: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % s
  }

  test("pairBudget: an unsplittable hot block salts into a bounded, exact pair set") {
    import spark.implicits._
    // every row shares an 8-char top-field head, so no prefix level can
    // split the over-budget group. Pre-round-8 semantics dropped it
    // wholesale (zero recall); the md5-salt final level now finds every
    // pair whose homes are equal or adjacent — s = ceil(20/5) = 4
    // buckets at budget 10 (rowCap 5) — and nothing else.
    val hot = (1 to 20).map(i => (i.toLong, "HOT", "same name", "same kind"))
    val cold = Seq((100L, "COLD", "twin", "x"), (101L, "COLD", "twin", "x"))
    val df = (hot ++ cold).toDF("id", "blk", "name", "kind")
    val pairs = linkPairs(df, "id", Seq("blk"),
        Seq(("name", 0.6), ("kind", 0.4)), threshold = 0.9, pairBudget = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.distinct.length,
      s"salt probes must never duplicate a pair: ${pairs.groupBy(identity).filter(_._2.length > 1).keys}")
    val hotPairs = pairs.filter(_._1 <= 20L).toSet
    val expected = (for {
      a <- 1L to 20L; b <- (a + 1) to 20L
      if math.abs(saltHome(a, 4) - saltHome(b, 4)) <= 1
    } yield (a, b)).toSet
    assert(hotPairs == expected,
      s"missing=${(expected -- hotPairs).take(5)} extra=${(hotPairs -- expected).take(5)}")
    assert(hotPairs.nonEmpty && hotPairs.size < 190,
      s"bounded recall, not zero and not quadratic: ${hotPairs.size}")
    assert(pairs.contains((100L, 101L)), "the cold block is untouched")
  }

  test("salt level: closure reassembles a boilerplate block into ONE entity under the pair bound") {
    import spark.implicits._
    // 60 identical rows, budget 50 (rowCap 10) -> s = 6 salt buckets.
    // The probe chain 0->1->...->5 keeps the block connected whenever
    // every bucket has a home row (verified below against the same md5
    // arithmetic the engine uses), so min-label closure must stitch the
    // buckets back into one entity — bounded recall recovering FULL
    // entity-level recall on the all-match block.
    val n = 60L
    val s = 6L
    val homes = (1L to n).map(saltHome(_, s)).toSet
    assume(homes == (0L until s).toSet, "fixture must populate every bucket")
    val df = (1L to n).map(i => (i, "HOT", "same name", "same kind"))
      .toDF("id", "blk", "name", "kind")
    val resolved = EntityResolution.resolve(df, "id", Seq("blk"),
      Seq(("name", 0.6), ("kind", 0.4)), threshold = 0.9, pairBudget = 50L)
    assert(resolved.select("entity_id").distinct().count() == 1L,
      "all 60 boilerplate rows must close into one entity")
    val nPairs = linkPairs(df, "id", Seq("blk"),
        Seq(("name", 0.6), ("kind", 0.4)), threshold = 0.9, pairBudget = 50L)
      .count()
    // per-bucket load ≤ home + probe ≈ 2·(n/s) rows -> pairs stay far
    // under the unsalted quadratic (60·59/2 = 1770)
    assert(nPairs < 900L, s"salted pair count must stay bounded, got $nPairs")
  }

  test("pairBudget: over-budget blocks sub-block on prefix cascade, retaining in-group recall") {
    import spark.implicits._
    // one 25-row block, budget 50 pairs (row cap 10). The round-5 row
    // cap would have refused the WHOLE block; the cascade splits it:
    // famA (10 rows, 'a') fits at the 1-char level; famB (15 rows, 'b')
    // is over budget at 1 char and splits at 2 chars into 'ba' (8) and
    // 'bu' (7). All in-group pairs survive; the only loss is the
    // documented cross-prefix case (basket~bucket qualifies at 0.92 in
    // an unbounded pass but differs at char 2).
    val famA = (1 to 10).map(i => (i.toLong, "HOT", "alpha unit one", "x"))
    val famB1 = (11 to 18).map(i => (i.toLong, "HOT", "basket unit one", "x"))
    val famB2 = (19 to 25).map(i => (i.toLong, "HOT", "bucket unit one", "x"))
    val df = (famA ++ famB1 ++ famB2).toDF("id", "blk", "name", "kind")
    def run(budget: Long) = linkPairs(df, "id", Seq("blk"),
        Seq(("name", 0.6), ("kind", 0.4)), threshold = 0.9, pairBudget = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sub = run(50L)
    val full = run(1000000L)
    val crossPrefix = for (a <- 11L to 18L; b <- 19L to 25L) yield (a, b)
    assert(full.size == 45 + 28 + 21 + 56,
      s"unbounded pass: all in-family pairs plus basket~bucket at 0.92: ${full.size}")
    assert(sub == full -- crossPrefix,
      "sub-blocking must retain every same-prefix pair and lose exactly the cross-prefix ones")
    assert(sub.count { case (a, b) => a <= 10 && b <= 10 } == 45,
      "famA — a block the old row cap refused wholesale — keeps all 45 pairs")
  }

  test("value-collapse + banded levenshtein == brute-force row-level scoring") {
    import spark.implicits._
    // adversarial mix for the round-8 scoring rework: heavy value
    // repetition (the collapse path), near-threshold pairs (the banded
    // cap must stay lossless through the rounding slack), nulls in one
    // or both fields (score 0 contribution, never dropped), and
    // dissimilar strings (the cap's −1 prune path)
    val rng = new scala.util.Random(42)
    val vocab = Seq("acme corporation", "acme corporatian", "acme corp",
      "zenith industries", "zzzzzzzzzzzzzzzz", null)
    val kinds = Seq("retail", "retaii", "finance", null)
    val rows = (1L to 120L).map { id =>
      (id, s"B${rng.nextInt(3)}", vocab(rng.nextInt(vocab.size)),
        kinds(rng.nextInt(kinds.size)))
    }
    val df = rows.toDF("id", "blk", "name", "kind")
    val fields = Seq(("name", 0.6), ("kind", 0.4))
    val got = linkPairs(df, "id", Seq("blk"), fields, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: every in-block id pair through the raw levSim sum
    val brute = df.as("a").join(df.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("score", round(
        lit(0.6) * levSim(col("a.name"), col("b.name")) +
          lit(0.4) * levSim(col("a.kind"), col("b.kind")), 6))
      .filter(col("score") >= 0.8)
      .select(col("a.id"), col("b.id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture must produce qualifying pairs")
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("linkPairsIncremental == full pass minus store-internal pairs") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .withColumn("name_noun", element_at(split(col("p_name"), " "), -1))
    val cut = parts.count() * 4 / 5
    val blocks = Seq("p_brand", "name_noun")
    val fields = Seq(("p_name", 0.6), ("p_type", 0.4))
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))

    val full = EntityResolution.linkPairs(parts, "p_partkey", blocks, fields, 0.85)
      .collect().map(key).toSet
    val expected = full.filterNot { case (a, b, _) => a <= cut && b <= cut }
    val got = EntityResolution.linkPairsIncremental(
        parts.filter(col("p_partkey") > cut), parts.filter(col("p_partkey") <= cut),
        "p_partkey", blocks, fields, 0.85)
      .collect().map(key).toSet
    assert(got == expected,
      s"${got.diff(expected).size} extra, ${expected.diff(got).size} missing")
    assert(expected.nonEmpty, "fixture should contain batch-touching pairs")
    assert(full.size > expected.size, "store-internal pairs must be withheld")
  }

  test("resolve: transitive closure assigns one entity id; singletons keep their own") {
    import spark.implicits._
    // a genuine chain: 1~2 and 2~3 are each ONE edit apart (score
    // 0.6·(1−1/19)+0.4 ≈ 0.968 ≥ 0.95) but 1~3 is TWO edits
    // (≈ 0.937 < 0.95) — only the closure can unite all three.
    // 9 is untouched.
    val df = Seq(
      (1L, "B", "aaaa bbbb cccc dddd", "mfg"),
      (2L, "B", "aaaa bbbb cccc dddz", "mfg"),
      (3L, "B", "aaaa bbbb cccc ddzz", "mfg"),
      (9L, "B", "omega logistics gmbh", "shipping")
    ).toDF("id", "blk", "name", "kind")
    val direct13 = linkPairs(df.filter($"id".isin(1L, 3L)), "id", Seq("blk"),
      Seq(("name", 0.6), ("kind", 0.4)), threshold = 0.95)
    assert(direct13.isEmpty, "1~3 must NOT link directly — the chain is the point")
    val got = resolve(df, "id", Seq("blk"),
        Seq(("name", 0.6), ("kind", 0.4)), threshold = 0.95)
      .select("id", "entity_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L,
      s"chain 1-2-3 must share entity 1: $got")
    assert(got(9L) == 9L, s"singleton keeps its own id: $got")
  }

  test("resolve: compact closure edges == closing the expanded row pairs") {
    import spark.implicits._
    // the round-8 closure rework: resolve no longer materializes the
    // row-pair expansion; it closes over representative + star edges.
    // This pin replays BOTH paths over fixtures hitting every proof
    // obligation: multi-member tuples (stars), identical tuples whose
    // null field keeps the self-score under threshold (no edges either
    // way — two rows with identical values must NOT merge then), an
    // edit-distance chain (closure required), an over-budget salted
    // block (probe-chain connectivity), and a random adversarial mix.
    // Note the structural invariant the compact path leans on: a cross
    // pair's score never exceeds either side's self-score (nulls cap
    // both identically), so a group touched by any passing pair always
    // has a passing self-pair — stars cannot be wrongly omitted.
    val rng = new scala.util.Random(11)
    val vocab = Seq("acme corp", "acme corb", "zenith ltd", null)
    val kinds = Seq("retail", "finance", null)
    val structured = Seq(
      (1L, "R", "acme corp", "retail"), (2L, "R", "acme corp", "retail"),
      (3L, "R", "acme corp", "retail"), (4L, "R", "acme corb", "retail"),
      (10L, "N", null, "retail"), (11L, "N", null, "retail"),
      (12L, "N", "zen", null), (13L, "N", "zen", null),
      (20L, "C", "aaaa bbbb cccc dddd", "mfg"),
      (21L, "C", "aaaa bbbb cccc dddz", "mfg"),
      (22L, "C", "aaaa bbbb cccc ddzz", "mfg"))
    val hot = (30L to 59L).map(i => (i, "HOT", "same name", "same kind"))
    val noise = (100L to 219L).map { id =>
      (id, s"B${rng.nextInt(3)}", vocab(rng.nextInt(vocab.size)),
        kinds(rng.nextInt(kinds.size)))
    }
    val df = (structured ++ hot ++ noise).toDF("id", "blk", "name", "kind")
    val fields = Seq(("name", 0.6), ("kind", 0.4))
    for (t <- Seq(0.8, 0.55); budget <- Seq(40L, 5000L)) {
      val viaRows = {
        val pairs = linkPairs(df, "id", Seq("blk"), fields, t, pairBudget = budget)
        val clusters = Dedup.nearDupClusters(pairs)
        df.join(clusters.withColumnRenamed("id", "cid"),
            col("id") === col("cid"), "left")
          .select(col("id"), coalesce(col("cluster"), col("id")).as("entity_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      }
      // compactClosureMinPairs = 0 FORCES the compact star topology —
      // this fixture is far below the default volume gate, which would
      // otherwise route resolve through the row path and leave this
      // equivalence pin vacuous
      val viaCompact = resolve(df, "id", Seq("blk"), fields, t, pairBudget = budget,
          compactClosureMinPairs = 0L)
        .select("id", "entity_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaCompact == viaRows,
        s"t=$t budget=$budget: ${viaCompact.toSet.diff(viaRows.toSet).take(5)} vs " +
          s"${viaRows.toSet.diff(viaCompact.toSet).take(5)}")
      // the GATED default (small fixture → row path) must agree too —
      // the gate may change the plan, never the entities
      val viaGate = resolve(df, "id", Seq("blk"), fields, t, pairBudget = budget)
        .select("id", "entity_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(viaGate == viaRows, s"t=$t budget=$budget: gated path diverged")
      if (t == 0.8) {
        assert(viaCompact(10L) == 10L && viaCompact(11L) == 11L,
          "identical null-field tuples under threshold must stay separate entities")
        assert(viaCompact(20L) == 20L && viaCompact(22L) == 20L,
          "the edit chain must close transitively")
        assert((30L to 59L).map(viaCompact).toSet.size == 1,
          "the salted hot block must reassemble into one entity")
      }
    }
  }

  test("resolve: a 30-node path closes into one entity") {
    import spark.implicits._
    // 30 names where name_i has its first i chars flipped to 'z': each
    // adjacent pair is ONE edit apart (score 0.6·39/40 + 0.4 = 0.985 ≥
    // 0.98) and every distance-2 pair is two edits (0.97 < 0.98) — the
    // pair graph is a 30-node PATH, diameter 29, the shape a salted
    // boilerplate block's bucket chain takes. Both closure topologies
    // must close the whole chain into entity 1.
    val base = "a" * 40
    val df = (1 to 30).map(i => (i.toLong, "B", "z" * i + base.drop(i), "mfg"))
      .toDF("id", "blk", "name", "kind")
    val fields = Seq(("name", 0.6), ("kind", 0.4))
    val pairs = linkPairs(df, "id", Seq("blk"), fields, 0.98)
    assert(pairs.count() == 29L, "the fixture must be exactly the adjacent-pair path")
    for (gate <- Seq(Long.MaxValue, 0L)) { // row path AND forced compact path
      val got = resolve(df, "id", Seq("blk"), fields, 0.98,
          compactClosureMinPairs = gate)
        .select("id", "entity_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == (1L to 30L).map(_ -> 1L).toMap,
        s"gate=$gate: the whole chain must close into entity 1: " +
          s"${got.toSeq.sortBy(_._1).take(6)}...")
    }
  }

  test("goldenRecord: every tie resolves deterministically; nulls never survive mode/longest") {
    import spark.implicits._
    // one 4-row entity engineered so every policy hits its tie rule,
    // plus a singleton and an all-null-field entity
    val resolved = Seq(
      // (id, entity, kind, name, price, version)
      (1L, 10L, "beta", "aaaa", 5.0, 1L),
      (2L, 10L, "alpha", "bbbb", 7.0, 3L),
      (3L, 10L, "beta", "cc", 6.0, 2L),
      (4L, 10L, "alpha", null.asInstanceOf[String], 9.0, 0L),
      (5L, 50L, "solo", "x", 1.0, 9L),
      (6L, 60L, null.asInstanceOf[String], null.asInstanceOf[String], 2.0, 5L)
    ).toDF("id", "entity_id", "kind", "name", "price", "version")
    val g = goldenRecord(resolved, "entity_id",
      modeFields = Seq("kind"), longestFields = Seq("name"),
      newestFields = Seq(("price", "version")))
      .collect().map(r => r.getLong(0) -> r).toMap

    val e10 = g(10L)
    assert(e10.getLong(1) == 4L, "n_members counts every member row")
    // mode tie: alpha x2 vs beta x2 → smallest value wins
    assert(e10.getString(2) == "alpha", s"mode count tie must break to smallest value: $e10")
    // longest tie: aaaa vs bbbb (len 4) → smallest value; null never competes
    assert(e10.getString(3) == "aaaa", s"longest length tie must break to smallest value: $e10")
    // newest: version 3 row carries price 7.0 (not the max price 9.0)
    assert(e10.getDouble(4) == 7.0, s"newest must follow the order column, not the value: $e10")

    assert(g(50L).getLong(1) == 1L && g(50L).getString(2) == "solo" &&
      g(50L).getString(3) == "x" && g(50L).getDouble(4) == 1.0)
    // all-null fields: survivors null, entity still present
    assert(g(60L).isNullAt(2) && g(60L).isNullAt(3) && g(60L).getDouble(4) == 2.0)

    // determinism under reshuffled input order
    val shuffled = goldenRecord(resolved.orderBy(rand(7)).repartition(5), "entity_id",
      modeFields = Seq("kind"), longestFields = Seq("name"),
      newestFields = Seq(("price", "version")))
    assert(shuffled.orderBy("entity_id").collect().toSeq ==
      goldenRecord(resolved, "entity_id", Seq("kind"), Seq("name"),
        Seq(("price", "version"))).orderBy("entity_id").collect().toSeq)
  }

  test("goldenRecord state: split-merge equals the batch operator; appends advance without history") {
    import spark.implicits._
    val spark2 = spark
    import spark2.implicits._
    val resolved = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"), (col("p_partkey") % 37).as("entity_id"),
        col("p_type"), col("p_name"), col("p_retailprice"))
    val mode = Seq("p_type"); val long = Seq("p_name")
    val newest = Seq(("p_retailprice", "p_partkey"))

    val full = goldenRecord(resolved, "entity_id", mode, long, newest)
      .orderBy("entity_id").collect().toSeq

    // arbitrary split; merged state must reproduce the batch result
    val (a, b) = (resolved.filter(col("p_partkey") % 3 === 0),
      resolved.filter(col("p_partkey") % 3 =!= 0))
    val merged = goldenRecordMerge(
      goldenRecordState(a, "entity_id", mode, long, newest),
      goldenRecordState(b, "entity_id", mode, long, newest))
    val viaState = goldenRecordFromState(merged, resolved, "entity_id", mode, long, newest)
      .orderBy("entity_id").collect().toSeq
    assert(viaState == full, "state split-merge must equal the one-shot operator")

    // merge is commutative
    val swapped = goldenRecordFromState(
      goldenRecordMerge(
        goldenRecordState(b, "entity_id", mode, long, newest),
        goldenRecordState(a, "entity_id", mode, long, newest)),
      resolved, "entity_id", mode, long, newest).orderBy("entity_id").collect().toSeq
    assert(swapped == viaState)

    // the daily-ingest shape: only batch-touched entities need re-picking,
    // and their re-picked rows match the full recompute
    val touched = b.select(col("entity_id").as("__ent")).distinct()
    val incremental = goldenRecordFromState(
      merged.join(touched, Seq("__ent"), "left_semi"),
      resolved, "entity_id", mode, long, newest)
      .orderBy("entity_id").collect().toSeq
    val fullTouched = full.filter(r =>
      touched.collect().map(_.getLong(0)).toSet.contains(r.getLong(0)))
    assert(incremental == fullTouched)
  }

  test("goldenRecordAdvance: a bridging batch row merges two entities' golden records") {
    import spark.implicits._
    // two store entities that do NOT link to each other (f1 and f2 both
    // fully dissimilar across them), plus a singleton
    val storeRows = Seq(
      (1L, "B", "aaaaaaaa", "xxxxxxxx", 10.0, 1L),
      (2L, "B", "aaaaaaaa", "xxxxxxxz", 11.0, 2L),
      (5L, "B", "bbbbbbbb", "yyyyyyyy", 50.0, 3L),
      (6L, "B", "bbbbbbbb", "yyyyyyyz", 51.0, 4L),
      (7L, "B", "cccccccc", "wwwwwwww", 70.0, 5L)
    ).toDF("id", "blk", "f1", "f2", "price", "ver")
    val fields = Seq(("f1", 0.5), ("f2", 0.5))
    val mode = Seq("f1"); val long = Seq("f2"); val newest = Seq(("price", "ver"))
    val resolvedStore = resolve(storeRows, "id", Seq("blk"), fields, threshold = 0.5)
    val ents = resolvedStore.select("id", "entity_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ents == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L),
      s"fixture precondition: two 2-row entities + a singleton, got $ents")
    val state = goldenRecordState(resolvedStore, "entity_id", mode, long, newest)

    // the bridge: f1 matches entity 1's rows exactly, f2 matches row 5
    // exactly — each pair scores exactly at threshold, E1↔E2 never do
    val batch = Seq((9L, "B", "aaaaaaaa", "yyyyyyyy", 90.0, 6L))
      .toDF("id", "blk", "f1", "f2", "price", "ver")
    val (newState, remap) = goldenRecordAdvance(
      resolvedStore, state, batch, "id", Seq("blk"), fields, threshold = 0.5,
      modeFields = mode, longestFields = long, newestFields = newest)
    val remapMap = remap.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(remapMap == Map(5L -> 1L, 9L -> 1L),
      s"entity 5 and the bridge row must fold into entity 1: $remapMap")

    // the composed advance equals a from-scratch rebuild of everything
    val fullResolved = resolve(storeRows.unionByName(batch), "id", Seq("blk"),
      fields, threshold = 0.5)
    val want = goldenRecord(fullResolved, "entity_id", mode, long, newest)
      .orderBy("entity_id").collect().toSeq
    val got = goldenRecordFromState(newState, storeRows, "entity_id", mode, long, newest)
      .orderBy("entity_id").collect().toSeq
    assert(got == want, s"advance must equal the rebuild:\n got=$got\nwant=$want")
  }
}
