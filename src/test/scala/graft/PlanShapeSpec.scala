package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.queries.Inventory

/** Physical-plan shape assertions — the optimizer properties the 100 TB
  * story depends on, pinned so a refactor cannot silently regress them:
  * filter pushdown into the parquet scan, column pruning, broadcast of
  * dimension sides, top-k via TakeOrderedAndProject (no global sort),
  * and single-shuffle window queries.
  */
class PlanShapeSpec extends SparkSpec {

  private def run(name: String): DataFrame =
    Inventory.all.find(_.name == name).get.run(spark, sf)

  private def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def leaves(df: DataFrame): Seq[SparkPlan] =
    df.queryExecution.executedPlan.collectLeaves().toSeq

  test("q03: BETWEEN range predicate is pushed into the parquet scan") {
    val scans = leaves(run("q03_between")).map(_.toString)
    assert(scans.exists(s =>
      s.contains("PushedFilters") && s.contains("GreaterThanOrEqual(l_shipdate")),
      s"range filter not pushed:\n${scans.mkString("\n")}")
  }

  test("q02: scan reads only the projected columns (column pruning)") {
    val scan = leaves(run("q02_proj_filter")).head.toString
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>")
      || (!scan.contains("l_comment") && scan.contains("l_orderkey")),
      s"scan not pruned:\n$scan")
  }

  test("q11: all four dimension joins broadcast (no shuffle join)") {
    val plan = planString(run("q11_join_multi5"))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts == 4, s"expected 4 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("q40: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planString(run("q40_topk"))
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
  }

  test("q99: sessionize shuffles once on user_id before both window passes") {
    val plan = planString(run("q99_sessionize"))
    // one partitioning exchange for the windows + (possibly) the final
    // presentation sort — never one exchange per window function
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("entry: flagship filter is pushed down and scan is pruned") {
    val df = SparkEntry.entry(spark)
    val scan = leaves(df).head.toString
    assert(scan.contains("PushedFilters") && scan.toLowerCase.contains("l_shipdate"),
      s"flagship pushdown missing:\n$scan")
  }

  test("q93: knn join pairs via the cell equi-join, never a nested loop") {
    val plan = planString(run("q93_knn_join"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"knn join degenerated to an all-pairs join:\n$plan")
  }

  test("q102/q104: text scrub and repetition gates are map-only before the sort") {
    for (name <- Seq("q102_pii_redact", "q104_repetition")) {
      val plan = planString(run(name))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 0,
        s"$name should be map-only up to the presentation range sort:\n$plan")
    }
  }

  test("q103: chunking's only row amplification is the explode itself") {
    val plan = planString(run("q103_chunking"))
    assert(plan.contains("Generate explode"), s"no explode in plan:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 0,
      s"chunking should not shuffle before the presentation sort:\n$plan")
  }

  test("q109: packing's only shuffle is the per-shard window") {
    val plan = planString(run("q109_pack_sequences"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"packConcat should shuffle once (shard window), got $exchanges:\n$plan")
    // the exchange's input schema carries (shard, id, n) only — the text
    // column is consumed by the token-count projection BELOW the shuffle
    // and never crosses the wire (checked on the real nodes: the printed
    // Project line mentions text# as an expression INPUT, so strings
    // can't distinguish)
    val root = run("q109_pack_sequences").queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, s"no ShuffleExchangeExec found:\n$unwrapped")
    shuffles.foreach { e =>
      assert(e.child.output.forall(_.name != "text"),
        s"exchange input carries the text payload: ${e.child.output.mkString(", ")}")
    }
  }

  test("q110: line dedup shuffles twice (keep-first window, reassembly agg)") {
    val plan = planString(run("q110_line_dedup"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2,
      s"dedupLines should shuffle exactly twice, got $exchanges:\n$plan")
    // reassembly partial-aggregates map-side before the id shuffle
    assert(plan.contains("partial_"),
      s"no map-side partial aggregation in reassembly:\n$plan")
  }

  test("q115: tfidf shuffles carry ids and counts, never document text") {
    val root = run("q115_tfidf").queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"no ShuffleExchangeExec found:\n$unwrapped")
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"tfidf exchange carries the text payload: ${e.child.output.mkString(", ")}")
    }
  }

  test("q177: prefix-join shuffles carry hashes/ids/sizes, never document text") {
    // the exact-join complement of the q115 pin: after the map-side
    // shingling, every exchange in the AllPairs pipeline is
    // (hash, id, size)- or id-pair-width
    val root = run("q177_jaccard_prefix_join").queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"no ShuffleExchangeExec found:\n$unwrapped")
    exchanges.foreach { e =>
      assert(!e.child.output.exists(_.name == "text"),
        s"prefix-join exchange carries the text payload: ${e.child.output.mkString(", ")}")
    }
  }

  test("q137: six-table TPC-H Q5 shape joins without a cartesian product") {
    val plan = planString(run("q137_tpch_q5_local_volume"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q137 must stay equi-join only:\n$plan")
    assert("BroadcastExchange".r.findAllIn(plan).length >= 3,
      s"dimension sides (supplier/nation/region at least) should broadcast:\n$plan")
  }

  test("q144: substring dedup shuffles carry hashes and ids, never text or tokens") {
    val root = run("q144_substring_dedup").queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // hash exchanges only: the final presentation orderBy necessarily
    // range-shuffles the OUTPUT rows (which include the rebuilt text) —
    // the claim is about the operator's INTERNAL shuffles
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(exchanges.nonEmpty, s"no hash ShuffleExchangeExec found:\n$unwrapped")
    exchanges.foreach { e =>
      val names = e.child.output.map(_.name)
      assert(!names.contains("text") && !names.contains("__t") && !names.contains("text_dedup"),
        s"substring-dedup exchange carries a payload column: ${names.mkString(", ")}")
    }
  }

  test("q148: simhash banding shuffles carry ids and fingerprints, never text") {
    val root = run("q148_simhash_md5").queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, s"no ShuffleExchangeExec found:\n$unwrapped")
    shuffles.foreach { e =>
      assert(e.child.output.forall(_.name != "text"),
        s"exchange input carries the text payload: ${e.child.output.mkString(", ")}")
    }
  }

  test("q164: semantic-dedup pair stage joins on cell with id-only inputs (vectors re-attach later)") {
    // pin semanticNearDupPairs itself: the declared q164 runs the
    // clustering loop eagerly, so its FINAL plan only shows the
    // survivor anti-join against materialized labels — the quadratic
    // pair stage to audit lives in the pairs frame
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.operators.Similarity.centroids(e, "vec_id", "embedding", c = 8)
    val root = graft.operators.Dedup
      .semanticNearDupPairs(e, "vec_id", "embedding", cents, threshold = 0.45)
      .queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val plan = unwrapped.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup must stay equi-join only:\n$plan")
    val cellJoins = unwrapped.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.references.exists(_.name == "cell")) => j
    }
    assert(cellJoins.nonEmpty, s"no cell-keyed pair join found:\n$plan")
    cellJoins.foreach { j =>
      val vectors = (j.left.output ++ j.right.output)
        .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(vectors.isEmpty,
        s"quadratic pair stage must not carry embedding payloads: ${vectors.mkString(", ")}")
    }
  }

  test("q151: heavy-hitter verify pass filters to sketch candidates before the shuffle") {
    val plan = planString(run("q151_heavy_tokens"))
    // the exact pass's aggregation keys on <=k candidate items: the IN
    // prune must sit BELOW the agg exchange (printed after it, deeper in
    // the tree) so the shuffle carries only candidate keys, not the
    // vocabulary
    // OptimizeIn rewrites the literal isin to INSET past the threshold
    val inIdx = math.max(plan.indexOf(" INSET "), plan.indexOf(" IN "))
    val exIdx = plan.indexOf("Exchange hashpartitioning")
    assert(inIdx >= 0, s"candidate IN prune missing from the exact pass:\n$plan")
    assert(exIdx >= 0 && inIdx > exIdx,
      s"IN prune must sit below the agg exchange:\n$plan")
    // partial aggregation keeps the per-partition shuffle input at <=k rows
    assert(plan.contains("partial_count"),
      s"no map-side partial aggregation in the exact pass:\n$plan")
  }

  test("q113: bloom probe runs inside whole-stage codegen (no UDF boundary)") {
    val df = run("q113_bloom_semi")
    df.collect()
    val plan = planString(df)
    val probeLine = plan.linesIterator.find(_.contains("bloom_might_contain"))
    assert(probeLine.isDefined, s"native bloom probe missing from plan:\n$plan")
    // codegen'd operators print with the "*(n)" stage marker; a fallback
    // (or a lingering UDF) would drop it from the Filter line
    assert(probeLine.get.contains("*("),
      s"bloom probe fell out of whole-stage codegen:\n${probeLine.get}")
    assert(!plan.contains("UDF"), s"UDF present in bloom plan:\n$plan")
  }

  test("q153: perplexity scoring is map-only — no join, no exchange") {
    // the model build pays its one explode+groupBy when lmScorer
    // collects it; the RETURNED scoring frame must stay scan→project→
    // filter (broadcast native expression), never regress to the
    // explode+join+agg it replaced
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scored = graft.operators.TextAnalysis.selfPerplexity(docs)
    val plan = planString(scored)
    assert(!plan.contains("Join"), s"perplexity scoring re-grew a join:\n$plan")
    assert(!plan.contains("Exchange"), s"perplexity scoring re-grew a shuffle:\n$plan")
    assert(plan.contains("lm_score"), s"native scorer missing:\n$plan")
  }

  test("q187: html extraction is map-only — no join, no exchange, no UDF") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val extracted = docs.select(
      org.apache.spark.sql.functions.col("doc_id"),
      graft.operators.HtmlText.extractText(
        org.apache.spark.sql.functions.col("text")).as("t"))
    val plan = planString(extracted)
    assert(!plan.contains("Exchange"), s"extraction must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"extraction must not join:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"extraction must stay in native expressions:\n$plan")
  }

  test("q206/q207: C4 line cleaning and blocklist filtering are map-only — no exchange, no explode, no UDF") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cleaned = graft.operators.TextAnalysis.c4Clean(
      docs.select(col("doc_id"), col("text")), "doc_id", "text")
    val blocked = graft.operators.WebOps.blockDomains(
      docs.select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/x")).as("url")),
      "url", Seq("blocked.example.org"))
    for ((name, frame) <- Seq("c4Clean" -> cleaned, "blockDomains" -> blocked)) {
      val plan = planString(frame)
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
      assert(!plan.contains("Generate"), s"$name must not explode (in-row arrays only):\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$name must stay in native expressions:\n$plan")
    }
  }

  test("q213/q214: script profile is map-only; ccnet bucketing has no window and joins only broadcasts") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // script_profile: one native kernel call per row, nothing else
    val profiled = docs.select(col("doc_id"),
      org.apache.spark.sql.graft.NativeExprs.scriptProfile(col("text")).as("p"))
      .select(col("doc_id"), col("p.*"))
    val pPlan = planString(profiled)
    assert(!pPlan.contains("Exchange"), s"script profile must not shuffle:\n$pPlan")
    assert(!pPlan.contains("Join") && !pPlan.contains("Generate"),
      s"script profile must not join or explode:\n$pPlan")
    assert(!pPlan.contains("ScalaUDF"), s"script profile must stay native:\n$pPlan")
    // ccnetBuckets: the tercile cut must be a bounded aggregate
    // broadcast back into a compare — a rank/ntile window would funnel
    // each language through one reducer at corpus scale
    val bPlan = planString(graft.operators.TextAnalysis.ccnetBuckets(docs))
    assert(!bPlan.contains("Window"), s"ccnetBuckets must not use a window:\n$bPlan")
    assert(bPlan.contains("BroadcastHashJoin") || bPlan.contains("BroadcastNestedLoopJoin"),
      s"the percentile cuts must attach by broadcast:\n$bPlan")
    assert(!bPlan.contains("SortMergeJoin"),
      s"no corpus-wide sort-merge join in the bucket attach:\n$bPlan")
  }

  test("q215/q216: data card and PR curve collapse the corpus in ONE aggregation pass each") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // data card: the only row-level window would be a (source, lang)
    // mode computed the wrong way; the card's window must run over the
    // bounded aggregate, i.e. AFTER an Aggregate node — assert no
    // window sits directly on the scan side by counting corpus-wide
    // exchanges instead: two aggregations (base + lang counts) and the
    // tiny joins, nothing quadratic, no Generate over rows
    val card = graft.quality.DataCard.perSource(docs)
    val cPlan = planString(card)
    assert(!cPlan.contains("SortMergeJoin"),
      s"card joins are aggregate-sized and must broadcast:\n$cPlan")
    assert(!cPlan.contains("Generate"), s"no row explosion in the card:\n$cPlan")
    // PR curve: the corpus collapses to the histogram BEFORE the
    // threshold cross join — the cross join must sit above an
    // Aggregate, never against the raw scan
    val scored = docs.select((col("lang") === "en").as("y"),
      round(graft.operators.TextAnalysis.stopwordRatio(col("text")), 4).as("s"))
    val curve = graft.operators.Classify.prCurve(scored, "y", "s", Seq(0.1, 0.2))
    curve.write.format("noop").mode("overwrite").save() // materialize AQE's final plan
    val root = curve.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val joins = root.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec =>
        Seq(j.left, j.right)
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec =>
        Seq(j.left, j.right)
    }
    assert(joins.nonEmpty, s"threshold sweep should be a nested-loop cross join:\n$root")
    joins.foreach { sides =>
      assert(sides.exists(_.toString.contains("HashAggregate")),
        s"the cross join must consume the HISTOGRAM aggregate, not the raw corpus:\n$root")
    }
  }

  test("q217: the shard cumsum windows are per-partition — never one global window") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val plan = planString(
      graft.operators.ScaleOps.shardByTokenBudget(docs, "doc_id", "n_tok", 4000L))
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty, s"expected the per-partition cumsum window:\n$plan")
    winSpecs.foreach { spec =>
      assert(spec.contains("__pid"),
        s"every window must partition by __pid (a global window funnels the corpus " +
          s"through one task): windowspecdefinition($spec)\n$plan")
    }
  }

  test("q218/q220: blocklist gate and paragraph dedup are map-only — no exchange, no explode, no UDF") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val gated = graft.operators.TextAnalysis.wordBlocklistGate(
      docs, "text", Seq("slow", "hash", "vector"))
    val deduped = graft.operators.TextAnalysis.dropRepeatedParagraphs(docs, "text")
    for ((name, frame) <- Seq("wordBlocklistGate" -> gated,
        "dropRepeatedParagraphs" -> deduped)) {
      val plan = planString(frame)
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
      assert(!plan.contains("Generate"), s"$name must not explode (in-row arrays only):\n$plan")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$name must stay in native expressions:\n$plan")
    }
  }

  test("q219/q221: temperature realization windows per-stratum; DP release is one aggregation, no window") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // the A-ES cutoff window must partition by the stratum column — a
    // global (unpartitioned) window would funnel the corpus through one
    // task; per-language partitions are bounded by the pre-gate contract
    val mixPlan = planString(graft.operators.ScaleOps.temperatureSample(
      docs, "doc_id", "lang", "n_chars", 0.3, 50000L))
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(mixPlan).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty, s"expected the per-stratum cumsum window:\n$mixPlan")
    winSpecs.foreach { spec =>
      assert(spec.contains("lang"),
        s"the sampler window must partition by the stratum: windowspecdefinition($spec)")
    }
    // DP noised counts: groupBy + map-only noise — no window, no join
    val dpPlan = planString(graft.quality.Privacy.dpNoisedCounts(
      docs, Seq("lang", "source"), epsilon = 0.5, seed = 7L))
    assert(!dpPlan.contains("Window"), s"DP release must not use a window:\n$dpPlan")
    assert(!dpPlan.contains("Join"), s"DP release must not join:\n$dpPlan")
    assert(dpPlan.contains("HashAggregate"),
      s"DP release should be one hash aggregation:\n$dpPlan")
  }

  test("q186: golden-record shuffles carry (entity, field, value) triples, never full rows") {
    // the stacked frame drops every non-surviving column BEFORE its
    // count aggregation — the exchange that sizes with values must not
    // haul the table's other fields
    val root = run("q186_golden_record").queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"no ShuffleExchangeExec found:\n$unwrapped")
    val stacked = exchanges.filter(_.child.output.exists(_.name == "__value"))
    assert(stacked.nonEmpty, s"stacked survivorship exchange missing:\n$unwrapped")
    stacked.foreach { e =>
      val names = e.child.output.map(_.name).toSet
      assert(names.forall(n => n.startsWith("__") || n.startsWith("_w") || n == "count"),
        s"stacked exchange must carry only the survivorship triple, got $names")
    }
  }

  test("q193: mergeable df store removes the per-batch recount over the fp history") {
    // the boilerplate prune must be served from summed (fp, df) deltas:
    // no count(distinct ...) anywhere in the plan (the recount variant
    // aggregates countDistinct(doc_id) over store ∪ batch — verified
    // below so this pin cannot rot into vacuity), and the history fps
    // are pruned to batch-touched fingerprints via a semi-join before
    // any pairing work.
    val plan = planString(run("q193_winnow_incremental")).toLowerCase
    assert(!plan.contains("count(distinct"),
      s"mergeable prune must not recount dfs over the history:\n$plan")
    assert(plan.contains("leftsemi"),
      s"history must be pruned to touched fps via a semi-join:\n$plan")
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val legacy = graft.operators.TextAnalysis.winnowNearDupsIncremental(
      docs.filter(col("doc_id") % 5 === 4),
      graft.operators.TextAnalysis.winnowFingerprints(
        docs.filter(col("doc_id") % 5 =!= 4), "doc_id", "text"),
      "doc_id", "text")
    assert(planString(legacy).toLowerCase.contains("count(distinct"),
      "sentinel: the recount variant should show count(distinct) — " +
        "if this fails the pin above is checking the wrong marker")
  }

  test("q195x: emission sort is ONE range-partitioned total sort on (bin, shuffle_key64)") {
    // the trainer's read path: after the broadcast percentile binning,
    // ordering the corpus must cost exactly one range exchange — a hash
    // exchange or a second sort pass here would dominate emission at
    // 100 TB
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sorted = graft.operators.ScaleOps
      .curriculumOrder(docs, "doc_id", "n_chars", nBins = 4, seed = 42L)
      .orderBy(col("bin"), col("shuffle_key64"))
    val plan = planString(sorted)
    val ranges = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(ranges == 1, s"expected 1 range exchange, got $ranges:\n$plan")
    assert("Sort \\[bin".r.findFirstIn(plan).isDefined &&
      plan.contains("shuffle_key64"),
      s"global sort keys must be (bin, shuffle_key64):\n$plan")
    // the only permitted hash exchange is the percentile-boundary
    // aggregate's singleton-key exchange (3 rows, feeds a broadcast) —
    // never one over the corpus itself
    val hashes = "Exchange hashpartitioning\\(([^,#]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(hashes.forall(_ == "1"),
      s"corpus-width hash exchange on the emission path (keys=$hashes):\n$plan")
  }

  test("q198: duplicate-span shuffles carry (hash, id, pos) — never text or token arrays") {
    val root = run("q198_duplicate_spans").queryExecution.executedPlan
    val unwrapped = root match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val shuffles = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty, s"no ShuffleExchangeExec found:\n$unwrapped")
    shuffles.foreach { e =>
      val names = e.child.output.map(_.name)
      assert(!names.contains("text") && !names.contains("__t"),
        s"span-dedup exchange carries a payload column: ${names.mkString(", ")}")
    }
  }

  test("partitioned fact join prunes partitions DYNAMICALLY from the dim filter") {
    // the 100 TB lake shape: a fact table laid out by a partition
    // column is joined to a dimension with a selective filter the
    // planner cannot see statically. Dynamic partition pruning must
    // inject the dim's filter result into the fact scan's partition
    // filters, so only the matching directories are read — without it
    // the scan reads EVERY partition and the layout is wasted.
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      val orders = spark.read.parquet(s"$sf/orders.parquet")
        .withColumn("om", date_format(col("o_orderdate").cast("date"), "yyyy-MM"))
      orders.write.mode("overwrite").partitionBy("om").parquet(s"$dir/fact")
      val fact = spark.read.parquet(s"$dir/fact")
      import spark.implicits._
      // the dim carries a filter the planner can see is SELECTIVE but
      // whose surviving om values it cannot enumerate statically — the
      // DPP pattern (join on partition column + filtered build side).
      // The dim must be FILE-backed: an in-memory relation would fold
      // the filter away and leave no selective predicate for the rule.
      Seq(("1995-01", 1), ("1995-06", 1), ("1996-03", 0))
        .toDF("om", "keep").write.mode("overwrite").parquet(s"$dir/dim")
      val dim = spark.read.parquet(s"$dir/dim").filter($"keep" === 1)
      val joined = fact.join(broadcast(dim), Seq("om")).groupBy("om")
        .agg(count(lit(1)).as("n"))
      val scan = joined.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).find(_.contains("fact")).getOrElse("")
      assert(scan.contains("dynamicpruning"),
        s"fact scan has no dynamic partition filter:\n$scan")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("min/max/count roll up from parquet FOOTERS when aggregate pushdown is on") {
    // at 100 TB, min/max/count over a raw table should read statistics,
    // not data. The v2 parquet source pushes these aggregates into the
    // scan (PushedAggregation) when no filter blocks it; pin the plan
    // and the values against the v1 computed twin.
    val dir = java.nio.file.Files.createTempDirectory("graft_aggpd").toString
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    try {
      spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/t")
      val exact = spark.read.parquet(s"$dir/t")
        .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey")).head()
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      val pushed = spark.read.parquet(s"$dir/t")
        .agg(count(lit(1)), min("o_orderkey"), max("o_orderkey"))
      val plan = pushed.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*)")
        || plan.contains("PushedAggregation: [MIN("),
        s"aggregates not pushed into the scan:\n$plan")
      assert(pushed.head() == exact, "footer statistics disagree with data")
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("q203: Gumbel-top-k selection plans as TakeOrderedAndProject — no corpus-wide sort") {
    // importanceResample ends in orderBy(sel_key desc, id).limit(k); a
    // range exchange here would mean the whole raw corpus was
    // total-sorted to emit a k-row selection
    val plan = planString(run("q203_importance_resample"))
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"a range exchange means the corpus sorted globally for a 200-row result:\n$plan")
  }

  test("q205: the gazetteer dictionary joins as a broadcast; candidate slices never shuffle") {
    // the (position × term-length) slice strings are built map-side and
    // must be consumed by the broadcast dictionary join in the same
    // stage — no exchange may carry __term (per-token string payload)
    val df = run("q205_gazetteer_redact")
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), s"dictionary join must broadcast:\n$plan")
    val unwrapped = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty, s"expected the span-merge window exchange:\n$unwrapped")
    exchanges.foreach { e =>
      val names = e.child.output.map(_.name).toSet
      assert(!names.contains("__term") && !names.contains("__t"),
        s"slice strings/token arrays must be pruned before any exchange, got $names")
    }
  }

  test("q208: the store advance re-ranks only batch-touched domains (semi/anti prune)") {
    val plan = planString(run("q208_domain_cap_incremental")).toLowerCase
    assert(plan.contains("leftsemi"),
      s"store slice must be pruned to touched domains via a semi-join:\n$plan")
    assert(plan.contains("leftanti"),
      s"untouched store rows must bypass the re-rank via the anti side:\n$plan")
  }

  private def withoutAqe[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q223: the split advance closes over the ENTITY graph and ships no text") {
    import spark.implicits._
    // contraction: a 60-row store cluster touched by 60 row-level pairs
    // must enter the closure as ONE entity edge — the fixpoint stage's
    // input is bounded by touched clusters, not their row counts
    val store = (1L to 60L).map(i => (i, 1L, "train"))
      .toDF("doc_id", "cluster_rep", "split")
    val batch = Seq(1001L).toDF("doc_id")
    val pairs = (1L to 60L).map(i => (i, 1001L)).toDF("id_a", "id_b")
    val idToEnt = store.select(col("doc_id").as("__id"),
        col("cluster_rep").as("__e"))
      .unionByName(batch.select(col("doc_id").as("__id"),
        col("doc_id").as("__e")))
    val ep = graft.operators.Dedup.entityPairGraph(pairs, idToEnt).collect()
    assert(ep.length == 1 && ep.head.getLong(0) == 1L && ep.head.getLong(1) == 1001L,
      s"60 row pairs must contract to the single (1, 1001) entity edge, got ${ep.mkString(",")}")
    // declared q223: the advance moves governance metadata only — no
    // exchange of any kind may carry document text
    val df = run("q223_split_advance_incremental")
    val unwrapped = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
    }
    exchanges.foreach { e =>
      val names = e.output.map(_.name).toSet
      assert(!names.contains("text"),
        s"split advance must prune text before any exchange, got $names")
    }
  }

  test("q224: the 1-bit screen gates the shingle-array verify join") {
    withoutAqe {
      val plan = run("q224_dedup_minhash_bbit").queryExecution.executedPlan
      val verifyJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.output.map(_.name).contains("sh_b") => j
      }
      assert(verifyJoins.nonEmpty, s"shingle verify join missing:\n$plan")
      verifyJoins.foreach { j =>
        // the screen is the bit_count estimate over the packed sketches —
        // Catalyst may keep it as a Filter or fuse it into the bb-attach
        // join's condition; either way it must sit in the verify join's
        // SUBTREE (rejected candidates never haul shingle arrays)
        val screens = j.collect {
          case f: org.apache.spark.sql.execution.FilterExec
              if f.condition.toString.contains("bit_count") => f
          case bj: org.apache.spark.sql.execution.joins.BaseJoinExec
              if bj.condition.exists(_.toString.contains("bit_count")) => bj
        }
        assert(screens.nonEmpty,
          s"the 16-byte sketch screen must filter candidates BELOW the " +
            s"shingle-array join (rejected pairs never haul shingles):\n$j")
      }
    }
  }

  test("q227: the pairwise overlap stage joins only (group, sketch) frames") {
    withoutAqe {
      val df = run("q227_kmv_overlap_matrix")
      val plan = df.queryExecution.executedPlan
      val pairJoins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(pairJoins.nonEmpty, s"grp_a < grp_b pair join missing:\n$plan")
      pairJoins.foreach { j =>
        val names = j.output.map(_.name).toSet
        assert(names == Set("grp_a", "sa", "grp_b", "sb"),
          s"pairwise stage must consume only the k-long sketch frame, got $names")
      }
      assert(!plan.toString.contains("text"),
        s"corpus text must never reach the pairwise stage:\n$plan")
    }
  }

  test("q228: the matrix advance touches history only through (grp, sk) sketch rows") {
    import spark.implicits._
    withoutAqe {
      // the persisted-store path: history round-trips through parquet as
      // k-long sketches — text is structurally unreachable by the advance
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val dir = java.nio.file.Files.createTempDirectory("graft-kmvstore").toString
      try {
        graft.operators.ScaleOps.kmvSketches(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), "source", "text",
            w = 5, k = 64)
          .write.mode("overwrite").parquet(dir)
        val store = spark.read.parquet(dir)
        assert(store.schema.fieldNames.toSeq == Seq("grp", "sk"),
          "the persisted history surface is sketches only")
        val (newStore, matrix) = graft.operators.ScaleOps.kmvOverlapMatrixAdvance(
          store, docs.filter(pmod(col("doc_id"), lit(2)) === 1), "source", "text",
          w = 5, k = 64)
        assert(newStore.schema.fieldNames.toSeq == Seq("grp", "sk"))
        val plan = matrix.queryExecution.executedPlan
        // the pairwise stage runs over the merged-checkpoint RDD: no file
        // scan (in particular no documents re-scan) may appear in it
        val fileScans = plan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        assert(fileScans.isEmpty,
          s"matrix stage must read merged sketches, not rescan files:\n$plan")
        assert(matrix.count() > 0)
      } finally
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("q233/q234: manifest windows stay per-partition; novelty never rejoins the shingle stream") {
    // q233 rides shardByTokenBudget: its cumsum windows must partition
    // by __pid (the partition-offset technique) — a global window here
    // would serialize the corpus through one task
    val manPlan = planString(run("q233_shard_manifest"))
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(manPlan).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty, s"expected the per-partition cumsum window:\n$manPlan")
    winSpecs.foreach { spec =>
      assert(spec.contains("__pid"),
        s"manifest cumsum must window per-partition: windowspecdefinition($spec)")
    }
    // q234's heavy exploded frame feeds ONE aggregation chain; the only
    // join is the doc-level totals/novel merge — no join may consume
    // the per-shingle __h stream (the 50M-row rejoin the sf10 rehearsal
    // caught and the reformulation removed)
    withoutAqe {
      val plan = run("q234_ngram_novelty").queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.nonEmpty, "the doc-level totals/novel join must exist")
      joins.foreach { j =>
        val names = (j.left.output ++ j.right.output).map(_.name)
        assert(!names.contains("__h"),
          s"no join may consume the exploded shingle stream, got $names")
      }
    }
  }

  test("q229: the ledger replay guard is an anti-join and reads fingerprints only") {
    import spark.implicits._
    // a real on-disk ledger: the filterNew plan must (a) reject replays
    // via LeftAnti against the ledger scan and (b) read ONLY the fp
    // column from it — the ledger's doc_id/batch metadata (and a fortiori
    // any history text, which the ledger never stores) stays out of the
    // replay guard's scan
    val root = java.nio.file.Files.createTempDirectory("graft-q229pin").toString
    val dir = root + "/ledger" // must not pre-exist (empty-dir parquet read)
    try {
      val day1 = Seq((1L, "alpha text one"), (2L, "beta text two"))
        .toDF("doc_id", "text")
      graft.operators.DedupLedger.ingest(spark, dir, day1, "day1")
      val day2 = Seq((3L, "alpha text one"), (4L, "gamma text three"))
        .toDF("doc_id", "text")
      val guarded = graft.operators.DedupLedger.filterNew(spark, dir, day2)
      val plan = guarded.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      assert(plan.toString.toLowerCase.contains("leftanti"),
        s"replay guard must be an anti-join:\n$plan")
      // the only file scan in the guard is the ledger itself, and it reads
      // exactly ONE column — the fingerprint
      val ledgerScans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(ledgerScans.nonEmpty, s"ledger scan missing:\n$plan")
      ledgerScans.foreach { s =>
        val names = s.output.map(_.name)
        assert(names == Seq("fingerprint"),
          s"the replay guard must read only the fingerprint column, got $names")
      }
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("q230: IVF append touches only assigned cells; the probe prunes partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q230pin").toString
    try {
      // four fixed cells on the unit circle; base covers all of them
      val cents = Array(
        0 -> Array(1.0, 0.0), 1 -> Array(-1.0, 0.0),
        2 -> Array(0.0, 1.0), 3 -> Array(0.0, -1.0))
      val base = Seq(
        (1L, Array(0.9f, 0.1f)), (2L, Array(-0.8f, 0.1f)),
        (3L, Array(0.1f, 0.9f)), (4L, Array(-0.1f, -0.9f)),
        (5L, Array(0.95f, -0.05f))).toDF("vec_id", "embedding")
      graft.operators.Similarity.writeIvfIndex(
        graft.operators.Similarity.ivfIndex(base, "vec_id", "embedding", cents), dir)
      def cellFiles(cell: Int): Map[String, Long] = {
        val d = new java.io.File(s"$dir/cell=$cell")
        if (!d.exists()) Map.empty
        else d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> f.length()).toMap
      }
      val before = (0 to 3).map(cellFiles)
      // the batch lands ENTIRELY in cell 0 — the other three cell
      // directories must be byte-identical after the append (history is
      // never read or rewritten: O(batch) work)
      val batch = Seq((10L, Array(0.99f, 0.01f)), (11L, Array(0.97f, -0.02f)))
        .toDF("vec_id", "embedding")
      graft.operators.Similarity.appendIvfIndex(
        batch, "vec_id", "embedding", cents, dir)
      val after = (0 to 3).map(cellFiles)
      (1 to 3).foreach { c =>
        assert(after(c) == before(c),
          s"append must not touch unassigned cell $c: ${before(c)} -> ${after(c)}")
      }
      assert(after(0).size > before(0).size,
        s"the batch's cell must gain files: ${before(0)} -> ${after(0)}")
      // probe with nprobe=1: the post-append read plans a partition prune
      // to the single probed cell — history cells never enter the scan
      val probe = graft.operators.Similarity.readIvfTopK(
        spark, dir, "vec_id", "embedding", cents, Array(1.0f, 0.0f),
        k = 3, nprobe = 1)
      val scan = probe.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("probe scan missing"))
      assert(scan.toString.contains("PartitionFilters: ["),
        s"probe must prune by cell partition:\n$scan")
      assert(scan.toString.contains("cell"),
        s"partition filter must be on the cell column:\n$scan")
      assert(probe.collect().map(_.getLong(0)).toSet == Set(1L, 5L, 10L)
        || probe.count() == 3)
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("q231: the golden-record advance closes over the ENTITY graph") {
    import spark.implicits._
    // store: two resolved entities {1,2,3}->1 and {4,5}->4; the batch row
    // 100 links to members of BOTH ("aleta" scores 0.6 >= 0.5 to "alpha"
    // and to "beta"; alpha-beta score 0.2 stays below). The advance must
    // contract row-level pairs to entity edges before the closure: the
    // remap is exactly the ENTITY-level merge {(4 -> 1), (100 -> 1)} —
    // never the 5 row-level pairs the batch actually touched.
    val store = Seq(
      (1L, "b1", "alpha", 1L), (2L, "b1", "alpha", 1L), (3L, "b1", "alpha", 1L),
      (4L, "b1", "beta", 4L), (5L, "b1", "beta", 4L))
      .toDF("id", "blk", "name", "entity_id")
    val state = graft.operators.EntityResolution.goldenRecordState(
      store, "entity_id", modeFields = Seq("name"))
    val batch = Seq((100L, "b1", "aleta")).toDF("id", "blk", "name")
    val (newState, remap) = graft.operators.EntityResolution.goldenRecordAdvance(
      store, state, batch, "id",
      blockCols = Seq("blk"), fields = Seq(("name", 1.0)), threshold = 0.5,
      modeFields = Seq("name"))
    val got = remap.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((4L, 1L), (100L, 1L)),
      s"remap must be entity-level (contracted), got $got")
    assert(newState.filter(col("__ent") === 4L).isEmpty,
      "merged-away entity 4 must not survive in the advanced state")
  }

  test("q232: the mix realization is map-only per-stratum (no data-side join)") {
    val df = run("q232_mix_realization")
    val unwrapped = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the solver's plan is a driver-bounded |strata|-row collect whose
    // allocations ride back as LITERALS — the realized emission has no
    // join of any kind on the data path
    val joins = unwrapped.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(joins.isEmpty,
      s"realization must attach allocations as literals, not joins:\n$unwrapped")
    // the down-sample arm ranks inside each stratum: every window
    // partitions by the stratum column (a global window would serialize
    // the corpus through one task)
    val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(unwrapped.toString).map(_.group(1)).toSeq
    assert(winSpecs.nonEmpty, s"expected the per-stratum A-ES window:\n$unwrapped")
    winSpecs.foreach { spec =>
      assert(spec.contains("src"),
        s"A-ES ranking must window per-stratum: windowspecdefinition($spec)")
    }
    // the up-sample arm fans out copies via explode (map-side), never a join
    assert(unwrapped.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.nonEmpty, s"upsample copies must come from a Generate:\n$unwrapped")
  }

  test("q235: attribution consumes the pair list — no second shingle pass") {
    val df = run("q235_dup_attribution")
    val unwrapped = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the source-attach side reads (doc_id, source) ONLY: no scan in the
    // attribution stage may re-read text (the pair producer's own text
    // scan sits behind its checkpoint; re-shingling here would double the
    // corpus-width work the pair list already paid for)
    val textScans = unwrapped.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.output.exists(_.name == "text") => s
    }
    assert(textScans.isEmpty,
      s"attribution must not re-read text (pair list + (id, source) only):\n$unwrapped")
    // no exchange past the pair producer carries shingles or signatures
    unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e
    }.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.exists(n => n.contains("sh") && n.startsWith("__")),
        s"no exchange may carry shingle/signature columns, got $names")
    }
  }

  test("q236: the histogram is a closure over pairs — id/label widths only") {
    val df = run("q236_dup_cluster_histogram")
    val unwrapped = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the histogram consumes the pair closure's (id, cluster) labels: no
    // text scan, and every exchange is id/label/count-width
    val textScans = unwrapped.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.output.exists(_.name == "text") => s
    }
    assert(textScans.isEmpty,
      s"histogram must consume pairs/labels, never text:\n$unwrapped")
    val allowed = // "count" is the partial-aggregate buffer column
      Set("id", "cluster", "cluster_size", "n_clusters", "n_docs", "count")
    unwrapped.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.foreach { e =>
      val names = e.output.map(_.name.replaceAll("#.*", ""))
      assert(names.forall(n => allowed.contains(n) || n.startsWith("__")),
        s"histogram exchanges must be id/label/count-width, got $names")
    }
  }

  test("q237: history is (hash, first_id) rows; the semi-join pushes below the winner count") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val store = graft.operators.Dedup.noveltyStore(
      docs.filter(col("doc_id") < 250), "doc_id", "text", w = 8)
    val (newStore, res) = graft.operators.Dedup.ngramNoveltyIncremental(
      store, docs.filter(col("doc_id") >= 250), "doc_id", "text", w = 8)
    // (a) the persisted-history surface is exactly (__h, __first) — 16
    // bytes a row; the advance structurally cannot re-read history text
    assert(newStore.schema.fieldNames.toSeq == Seq("__h", "__first"),
      "the novelty store surface must stay (hash, first_id)")
    // (b) Catalyst pushes the batch-id semi-join BELOW the winner-count
    // aggregate (its key IS the grouping key): non-batch winners are
    // filtered before counting, so the aggregate's state is batch-sized
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val winnerAggs = res.queryExecution.optimizedPlan.collect {
      case a: Aggregate
          if a.aggregateExpressions.exists(_.name == "n_novel") ||
            a.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty => a
    }
    val pushed = winnerAggs.exists(a =>
      a.collect { case j: Join if j.joinType == LeftSemi => j }.nonEmpty)
    assert(pushed,
      s"the batch semi-join must sit BELOW the winner aggregate:\n${res.queryExecution.optimizedPlan}")
  }

  test("q247/q248: ONE moments aggregate is the only shuffle; projection is map-only") {
    // q247: the covariance surface derives from a single global
    // aggregate (partial per partition, one SinglePartition exchange) —
    // d(d+1)/2 longs of state, never a d²-row explode before the agg
    val cov = run("q247_embedding_covariance")
    val covPlan = planString(cov)
    assert("Exchange SinglePartition".r.findAllIn(covPlan).length == 1,
      s"q247 must aggregate exactly once:\n$covPlan")
    assert(!covPlan.contains("Exchange hashpartitioning"),
      s"q247 must not hash-shuffle rows:\n$covPlan")
    // column pruning: the scan reads only the vector column
    val scan = leaves(cov).map(_.toString).find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("embedding") && !scan.contains("label"),
      s"q247 scan not pruned to the vector column:\n$scan")
    // q248: the component solve is a bounded driver-side planning step
    // (like k-means centroids); the RETURNED projection plan is pure
    // map-only compute — no aggregate, no hash exchange, the fused
    // quant_dot kernel per (row, component), plus the presentation sort
    val proj = run("q248_pca_projection")
    val projPlan = planString(proj)
    assert(projPlan.contains("quant_dot"),
      s"q248 must project through the fused QuantDotExpr kernel:\n$projPlan")
    assert(!projPlan.contains("Exchange hashpartitioning")
      && !projPlan.contains("Exchange SinglePartition")
      && !projPlan.contains("HashAggregate"),
      s"q248's projection must be map-only:\n$projPlan")
  }

  test("q249/q250: drift aggregates on the group key; diff shuffles fingerprints, not text") {
    val drift = run("q249_embedding_drift")
    val dPlan = planString(drift)
    // two grouped aggregates (grp-moments, then the 64-row pivot) →
    // at most two hash exchanges plus the presentation sort; the heavy
    // stage state is 2 × (d(d+1)/2) longs, not row-wise
    val hashEx = "Exchange hashpartitioning".r.findAllIn(dPlan).length
    assert(hashEx <= 2, s"q249 must shuffle at most twice, got $hashEx:\n$dPlan")
    // q250: every exchange in the diff carries (id, md5, carry) — the
    // raw payload text must be projected away BELOW the shuffle
    val diff = run("q250_corpus_diff")
    // AQE defers physical exchange insertion, so pin at the logical
    // level: the full-outer join's INPUTS must already be projected to
    // (id, fingerprint, carry) — raw text never reaches the join (and
    // therefore never crosses its shuffle)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.FullOuter
    val joins = diff.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == FullOuter => j
    }
    assert(joins.nonEmpty, "q250 should full-outer join the two versions")
    joins.foreach { j =>
      val inAttrs = (j.left.output ++ j.right.output).map(_.name)
      assert(!inAttrs.contains("text"),
        s"q250's join input carries raw text: $inAttrs")
      assert(inAttrs.exists(_.startsWith("__fp")),
        s"q250's join input should carry fingerprints: $inAttrs")
    }
  }

  test("q251/q256: planning estimators gather per-partition heaps, never sort data") {
    // q251: the KMV sample is per-partition top-k + a k-heap merge
    val sq = planString(run("q251_sample_quantiles"))
    assert(sq.contains("TakeOrderedAndProject"),
      s"q251's sample must plan as TakeOrdered:\n$sq")
    assert(!sq.contains("SortMergeJoin"), s"q251 must not join:\n$sq")
    // q256: two global sketch aggregates (one per side) and a 1x1
    // nested-loop of the finished rows — no data-side shuffle join
    val jc = planString(run("q256_join_cardinality"))
    assert(!jc.contains("SortMergeJoin") && !jc.contains("ShuffledHashJoin"),
      s"q256 must never shuffle-join data rows:\n$jc")
    assert("Exchange SinglePartition".r.findAllIn(jc).length <= 2,
      s"q256 is two O(k)-state aggregates:\n$jc")
  }

  test("q252/q254: drift/skew reports aggregate once on the key, totals broadcast") {
    // the per-key counts aggregate feeds BOTH the report and the totals
    // frame, so the initial plan prints its hash exchange once per
    // consumer (AQE reuses the shuffle at runtime) — what must NOT
    // appear is a shuffle JOIN or a third data pass
    val sk = planString(run("q252_skew_advisor"))
    assert("Exchange hashpartitioning".r.findAllIn(sk).length <= 2,
      s"q252's only hash shuffle is the key aggregate (x2 consumers):\n$sk")
    assert(!sk.contains("SortMergeJoin") && !sk.contains("ShuffledHashJoin"),
      s"q252's totals must broadcast, not shuffle-join:\n$sk")
    assert(sk.contains("BroadcastNestedLoopJoin") || sk.contains("BroadcastExchange"),
      s"q252's totals must broadcast:\n$sk")
    val psi = planString(run("q254_psi_drift"))
    assert("Exchange hashpartitioning".r.findAllIn(psi).length <= 2,
      s"q254's only hash shuffle is the category aggregate:\n$psi")
    assert(!psi.contains("SortMergeJoin") && !psi.contains("ShuffledHashJoin"),
      s"q254's totals must broadcast, not shuffle-join:\n$psi")
  }

  test("q257: per-group quantiles are ONE BottomKValues aggregate — no per-group window or sort") {
    val p = planString(run("q257_group_quantiles"))
    // one hash exchange: the group aggregate whose 2k-long mergeable
    // state replaces the ORDER BY + LIMIT that cannot run per group
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"q257 must shuffle exactly once (the group aggregate):\n$p")
    assert(!p.contains("Window"), s"q257 must not plan a per-group window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q257 must not join:\n$p")
    // the only sort is the presentation ORDER BY (range exchange)
    assert("Exchange rangepartitioning".r.findAllIn(p).length <= 1, s"q257 sorts once:\n$p")
  }

  test("profile: one scan, one hash shuffle, then the one-row gather") {
    val p = planString(
      graft.quality.Validator.profileRow(spark.read.parquet(s"$sf/lineitem.parquet")))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the profile must scan its input exactly once:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"the profile must shuffle once (the group by all columns):\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1,
      s"the profile's other exchange is the one-row fold's gather:\n$p")
    assert(!p.contains("Join") && !p.contains("Union"),
      s"the profile must not combine separate passes:\n$p")
  }

  test("q258: the correlation matrix is ONE aggregation over ONE scan — no second pass") {
    val p = planString(run("q258_correlation_matrix"))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"q258 must scan lineitem exactly once (18 decimal sums in one aggregate):\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length == 1,
      s"q258's only exchange is the global-aggregate gather:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q258 must not join:\n$p")
  }

  test("q259: margins/totals/MI all derive from the checkpointed cell frame — corpus scanned once") {
    val p = planString(run("q259_mutual_information"))
    // the cell frame is a lazy localCheckpoint: every downstream
    // consumer (two margins, totals, MI, entropies) reads the
    // category-product-bounded RDD, and NO consumer re-scans parquet
    assert(!p.contains("Scan parquet"),
      s"q259's consumers must read the checkpointed cells, not re-scan the corpus:\n$p")
    assert("ExistingRDD".r.findAllIn(p).length >= 3,
      s"q259's margins/totals must derive from the shared cell frame:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q259's cell-frame joins stay in-memory width, never a data sort-merge:\n$p")
  }

  test("q260: tokenizer fertility is map-only into ONE language aggregate — no explode") {
    val p = planString(run("q260_tokenizer_fertility"))
    // per-document counters fold the word array in place (aggregate
    // HOFs + the native bpe kernel) — no word-stream explode, so the
    // only data shuffle is the |languages|-bounded aggregate
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"q260 must shuffle once (the lang aggregate):\n$p")
    assert(!p.contains("Generate"), s"q260 must not explode the word stream:\n$p")
    assert(p.contains("bpe_encode"),
      s"q260 must encode through the native bpe kernel:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q260 must not join:\n$p")
  }

  test("q261: per-group KS shuffles samples twice, argmax is a struct-minimum — no window, no join") {
    val p = planString(run("q261_group_ks_drift"))
    // exchange 1: the (group, side) BottomKValues sample aggregate —
    // the ONLY shuffle that sees data rows; exchange 2: the group
    // pivot over |groups|×2 sample rows. The candidate expansion and
    // the (−ad, v) struct-minimum argmax reuse the group partitioning.
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"q261 is two bounded exchanges (sample agg + pivot):\n$p")
    assert(!p.contains("Window"), s"q261's argmax must not plan a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q261 must not join:\n$p")
  }

  test("q262: confusion margins derive from the checkpointed cell frame; one data shuffle") {
    val p = planString(run("q262_langid_confusion"))
    // langId is map-only expressions; the cell aggregate is the one
    // data shuffle, and the label margins re-read the checkpointed
    // cells (the q259 idiom), never the corpus
    assert(!p.contains("Scan parquet"),
      s"q262's margins must read the checkpointed cells, not re-scan the corpus:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"q262 shuffles only cell-width frames:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q262's margin join is broadcast-width:\n$p")
  }

  test("q263: binned PSI inlines driver-resolved boundaries — no boundary re-execution per branch") {
    val p = planString(run("q263_psi_binned"))
    // the B−1 quantile boundaries are literals (a bounded planning
    // step); each side is scanned once per perCat consumer statically
    // and AQE reuses the category exchange at runtime (q254's shape).
    // A 1×1-frame attach instead re-executed the boundary aggregate
    // under every union branch (8 scans, 5 single-partition gathers).
    assert("Scan parquet".r.findAllIn(p).length <= 4,
      s"q263 must not re-execute the boundary aggregate per branch:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1,
      s"q263's only gather is the totals frame:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"q263's totals must broadcast:\n$p")
  }

  test("q264: the threshold sweep consumes ONE checkpointed pair frame — no per-threshold re-run") {
    val p = planString(run("q264_threshold_sensitivity"))
    // the minhash+verify pass runs once inside the checkpoint; both
    // consumers (pair stats, distinct-doc counts) read the pair RDD —
    // zero corpus re-scans, no banding join in the outer plan. The
    // remaining joins assemble |grid|-row frames (AQE broadcasts them
    // at runtime).
    assert(!p.contains("Scan parquet"),
      s"q264 must not re-run the pair pipeline per threshold:\n$p")
    assert("ExistingRDD".r.findAllIn(p).length >= 2,
      s"q264's two consumers must share the checkpointed pairs:\n$p")
    assert(!p.contains("Window"), s"q264 must not plan a window:\n$p")
  }

  test("q265: vocab coverage is map-only into ONE language aggregate — q260's shape") {
    val p = planString(run("q265_vocab_coverage"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"q265 must shuffle once (the lang aggregate):\n$p")
    assert(!p.contains("Generate"), s"q265 must not explode the token stream:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q265 must not join:\n$p")
  }

  test("q266: per-group PSI derives totals from the checkpointed cell frame — one data shuffle") {
    val p = planString(run("q266_group_psi_drift"))
    assert(!p.contains("Scan parquet"),
      s"q266's totals/report must read the checkpointed cells, not re-scan the corpus:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"q266 shuffles only cell-width frames (cells agg + totals agg):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q266's totals join is broadcast-width:\n$p")
  }

  test("q267: grouped correlation is ONE grouped aggregate over ONE scan — q258's shape per slice") {
    val p = planString(run("q267_group_correlation"))
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"q267 must scan lineitem exactly once:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"q267's exchanges are the group aggregate (+ presentation sort):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q267 must not join:\n$p")
  }

  test("q269: per-group quantile drift is two bounded exchanges, no window — q261's shape") {
    val p = planString(run("q269_group_quantile_drift"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      s"q269 is two bounded exchanges (sample agg + pivot):\n$p")
    assert(!p.contains("Window"), s"q269 must not plan a window:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q269 must not join:\n$p")
  }

  test("q270: unigram encode+roundtrip is map-only up to the presentation sort") {
    val p = planString(run("q270_unigram_roundtrip"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 0,
      s"q270 is per-document arithmetic — no hash shuffle:\n$p")
    assert(p.contains("unigram_encode"),
      s"q270 must encode through the native unigram kernel:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q270 must not join:\n$p")
  }

  test("q271: unigram fertility is map-only into ONE language aggregate — q260's shape") {
    val p = planString(run("q271_unigram_fertility"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"q271 must shuffle once (the lang aggregate):\n$p")
    assert(!p.contains("Generate"), s"q271 must not explode the word stream:\n$p")
    assert(p.contains("unigram_encode"),
      s"q271 must encode through the native unigram kernel:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q271 must not join:\n$p")
  }

  test("q272: the crawl-to-shards composition shards via the partition-offset cumsum") {
    // the final plan starts at shardByTokenBudget's checkpoint boundary
    // (upstream stages materialize into the checkpointed frame and are
    // pinned by their own stage queries) — what must hold HERE is the
    // emission shape: the cumsum window is per-__pid, never a global
    // single-partition window, and nothing degenerates to all-pairs
    val p = planString(run("q272_crawl_to_shards"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q272 has an all-pairs join:\n$p")
    assert(p.contains("windowspecdefinition(__pid"),
      s"q272's shard cumsum must ride the partition-offset window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"q272 must not plan a global single-partition exchange:\n$p")
  }

  test("q279: the incremental flagship shares q272's emission shape — no global window") {
    // the per-day advances live behind store barriers (each stage's
    // joins pinned by DedupSpec's incremental ≡ full arms); the final
    // plan is the ledger-driven mix + partition-offset shard cumsum,
    // exactly q272's pinned emission
    val p = planString(run("q279_crawl_advance"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q279 has an all-pairs join:\n$p")
    assert(p.contains("windowspecdefinition(__pid"),
      s"q279's shard cumsum must ride the partition-offset window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"q279 must not plan a global single-partition exchange:\n$p")
  }

  test("q273: warc parse + extract chain never degenerates to an all-pairs join") {
    val p = planString(run("q273_warc_ingest"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q273 has an all-pairs join:\n$p")
    assert(p.contains("Generate"),
      s"q273 must explode parsed records executor-side:\n$p")
  }

  test("q274: the robots rule table broadcasts; the corpus never shuffles for policy") {
    val p = planString(run("q274_robots_gate"))
    assert(p.contains("BroadcastHashJoin"),
      s"q274's rule join must broadcast (config-sized rules vs the corpus):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q274 must not shuffle the corpus for policy:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q274 must not plan an all-pairs join:\n$p")
  }

  test("q275: outlink chain is map-only behind the dst barrier — no shuffle, no join") {
    // the canonical chain (extract → explode → resolve → canonicalize)
    // evaluates ONCE behind a lazy localCheckpoint (the q272 composition
    // rule — without it the dst filter pushdown + the range-sort's
    // sampling pass re-ran it ~4×), so the final plan starts at the
    // barrier leaf; the in-row explode is pinned on the chain itself in
    // WebOpsSpec/HtmlTextSpec and by the q275 hash oracle
    val p = planString(run("q275_outlink_graph"))
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"q275's dst frame must sit behind the checkpoint barrier:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 0,
      s"q275 is per-document arithmetic — no hash shuffle:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"q275 must not join:\n$p")
  }

  test("q276: frontier composition — broadcast rule gate, anti-join, no all-pairs") {
    val p = planString(run("q276_crawl_frontier"))
    assert(p.contains("BroadcastHashJoin"),
      s"q276's robots rule join must broadcast:\n$p")
    assert(p.contains("LeftAnti"),
      s"q276's crawled-set exclusion must plan as an anti-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q276 must not plan an all-pairs join:\n$p")
  }

  test("q277: frontier advance emits from the store barrier — per-host window, no all-pairs") {
    // the two advances materialize behind lazy checkpoints (the q272
    // boundary judgment: each advance's joins are pinned by the
    // operator spec); what must hold HERE is the emission shape — the
    // politeness cap is a per-host window over the barrier leaf, never
    // a global single-partition window, and nothing degenerates
    val p = planString(run("q277_frontier_advance"))
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"q277 must emit from the checkpointed store:\n$p")
    assert(p.contains("windowspecdefinition(host"),
      s"q277's politeness cap must be a per-host window:\n$p")
    assert(!p.contains("SinglePartition"),
      s"q277 must not plan a global single-partition exchange:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q277 must not plan an all-pairs join:\n$p")
  }

  test("q278: rank-joined frontier — no all-pairs, no global single-partition window") {
    // the link-graph chain and each PageRank iteration live behind
    // GC-tracked checkpoints (GraphOps' constant-size-plan discipline);
    // the final plan joins the gated candidates to the rank leaf
    // r14: the whole gate/anti-join/rank-join subtree now sits below an
    // emission barrier (the q275 composition rule — the range sort's
    // sampling pass must not re-run it), so the declared plan is
    // checkpoint-read → range sort. The anti-join + no-all-pairs shape
    // of the subtree itself stays pinned through q276 (same chain).
    val p = planString(run("q278_pagerank_frontier"))
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"q278 must read the checkpointed (gated ⋈ rank) frame:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q278 must not plan an all-pairs join:\n$p")
    assert(!p.contains("SinglePartition"),
      s"q278 must not plan a global single-partition exchange:\n$p")
  }

  test("q280: sitemap walk — broadcast rule gate, no all-pairs, no global window") {
    val p = planString(run("q280_sitemap_seeds"))
    assert(p.contains("BroadcastHashJoin"),
      s"q280's robots rule join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q280 must not plan an all-pairs join:\n$p")
    assert(!p.contains("SinglePartition") || !p.contains("windowspecdefinition"),
      s"q280 must not plan a global single-partition window:\n$p")
  }

  test("q281: sidecar parse joins WET to WAT on url — no all-pairs, explode in-row") {
    val p = planString(run("q281_wet_wat_sidecars"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q281 must not plan an all-pairs join:\n$p")
    assert(p.contains("Generate"),
      s"q281 must explode parsed records executor-side:\n$p")
  }

  test("q282: polite schedule — broadcast rule gate, per-host budget window, no all-pairs") {
    val p = planString(run("q282_polite_fetch_schedule"))
    assert(p.contains("BroadcastHashJoin"),
      s"q282's robots rule join must broadcast:\n$p")
    assert(p.contains("windowspecdefinition(host"),
      s"q282's budget cap must be a per-host window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q282 must not plan an all-pairs join:\n$p")
  }

  test("whole-stage codegen covers the aggregation pipeline of q01") {
    // AQE only materializes codegen spans in the FINAL plan — execute
    // first (4-row result), then inspect the same QueryExecution
    val df = run("q01_pricing_summary")
    df.collect()
    val plan = planString(df)
    assert(plan.contains("isFinalPlan=true"), s"plan did not finalize:\n$plan")
    // codegen'd operators print as "*(n) Op" in the final plan
    assert(plan.contains("*("), s"no codegen spans:\n$plan")
  }
}
