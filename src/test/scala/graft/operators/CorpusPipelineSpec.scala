package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusPipelineSpec extends SparkSpec {

  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  lazy val cleaned = CorpusPipeline.clean(docs)

  test("every survivor passes all gates") {
    val cfg = CorpusPipeline.Config()
    val bad = cleaned.filter(
      col("n_tokens") < cfg.minTokens ||
        col("quality") < cfg.minQuality ||
        !col("lang_pred").isin(cfg.langs: _*)).count()
    assert(bad == 0)
    assert(cleaned.count() > 0)
  }

  test("no two survivors share a fingerprint") {
    val dupFps = cleaned.groupBy("fingerprint").count().filter(col("count") > 1).count()
    assert(dupFps == 0)
  }

  test("cleaning is idempotent: a second pass removes nothing") {
    val again = CorpusPipeline.clean(cleaned.drop(
      "n_tokens", "n_subwords", "stopword_ratio", "quality", "lang_pred", "fingerprint"))
    assert(again.count() == cleaned.count())
  }

  test("prepare composes repetition gate, decontamination, scrub, chunking") {
    import spark.implicits._
    val evalSet = docs.orderBy("doc_id").limit(3)
      .select(col("doc_id") + 1000000, col("text")).toDF("doc_id", "text")

    val chunks = CorpusPipeline.prepare(
      docs, evalDocs = Some(evalSet), chunk = Some((40, 10)))
    val rows = chunks.collect()
    assert(rows.nonEmpty)
    // carry columns ride onto every chunk
    assert(chunks.columns.toSeq ==
      Seq("doc_id", "chunk_idx", "chunk_tokens", "chunk", "lang_pred", "quality"))
    // decontamination: the eval docs' sources (verbatim text) are gone
    val evalIds = docs.orderBy("doc_id").limit(3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!rows.exists(r => evalIds.contains(r.getLong(0))),
      "docs verbatim-overlapping the eval set must be decontaminated away")

    // whole-doc mode: no chunk columns, repetition gate enforced
    val whole = CorpusPipeline.prepare(docs, maxRepetition = 0.5)
    val maxRep = whole
      .select(TextAnalysis.repetitionRatio(col("text")).as("r"))
      .agg(max("r")).head.getDouble(0)
    assert(maxRep <= 0.5)
    // PII scrub ran (idempotent on clean corpus text, so just well-formed)
    assert(whole.columns.contains("quality"))
  }

  test("prepare htmlInput=true: markup is extracted before every text stage") {
    import spark.implicits._
    val body = "the quick brown fox jumps over the lazy dog and keeps " +
      "running through the open field toward the river every single morning"
    val pages = Seq(
      (1L, s"<html><body><nav><a href='/'>Home page link row</a></nav><p>$body</p></body></html>"),
      (2L, "<html><body><div><a href='/x'>only boilerplate links live here on this page</a></div></body></html>")
    ).toDF("doc_id", "text")
    val out = CorpusPipeline.prepare(pages, htmlInput = true,
      cfg = CorpusPipeline.Config(minTokens = 5, minQuality = 0.0, langs = Seq("en", "und")))
    val rows = out.select("doc_id", "text").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L), "all-boilerplate page vanishes at stage 0")
    assert(rows.head.getString(1) == body, "markup stripped before annotation saw the text")
  }

  test("prepare with splitBy: chunks inherit the group's split, no straddling") {
    val chunks = CorpusPipeline.prepare(docs, chunk = Some((64, 8)),
      splitBy = Some(("source", Seq("train" -> 0.5, "test" -> 0.5))))
    assert(chunks.columns.contains("split") && chunks.columns.contains("source"))
    // every chunk of a source carries one split — the leakage guard
    // extends through chunking
    val straddle = chunks.groupBy("source")
      .agg(org.apache.spark.sql.functions.countDistinct(col("split")).as("n"))
      .filter(col("n") > 1)
    assert(straddle.count() == 0)
  }

  test("prepare with splitBy on the id column itself (split by document) works") {
    // idCol is chunk's own output; carrying it again used to make the
    // split stage hit an ambiguous-column AnalysisException
    val chunks = CorpusPipeline.prepare(docs, chunk = Some((64, 8)),
      splitBy = Some(("doc_id", Seq("train" -> 0.8, "test" -> 0.2))))
    assert(chunks.columns.count(_ == "doc_id") == 1, "doc_id must appear once")
    assert(chunks.columns.contains("split"))
    val straddle = chunks.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.countDistinct(col("split")).as("n"))
      .filter(col("n") > 1)
    assert(straddle.count() == 0, "all chunks of a document share one split")
  }

  test("prepare with blocklist: blocked docs vanish before any stage, audit columns don't ride") {
    // 'slow' appears in many fixture docs; the blocklist arm must (1)
    // drop every doc containing it, (2) leave the survivor set exactly
    // equal to prepare() of the pre-filtered input (gate placement is
    // BEFORE all text stages), (3) not leak gate columns into prepare's
    // output contract
    val gated = CorpusPipeline.prepare(docs, blocklist = Seq("slow"))
    assert(!gated.columns.contains("blocked") && !gated.columns.contains("bad_terms"),
      "prepare returns the corpus, not the rejection report")
    val survivors = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    val manual = CorpusPipeline.prepare(
      docs.filter(!col("text").rlike("(^|[^a-z0-9'])slow($|[^a-z0-9'])")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == manual, "blocklist gate ≡ pre-filtering the input")
    assert(survivors.nonEmpty, "the fixture must keep some clean docs")
  }

  /** prepare as a chain of plain filters, one per gate, with no fence
    * and no partition floor — the formulation the optimizer rewrites
    * into per-conjunct kernel copies. The reference for the fenced path.
    */
  private def unfencedPrepare(in: org.apache.spark.sql.DataFrame, maxRepetition: Double,
      htmlInput: Boolean, blocklist: Seq[String], evalDocs: Option[org.apache.spark.sql.DataFrame],
      chunk: Option[(Int, Int)]): org.apache.spark.sql.DataFrame = {
    val cfg = CorpusPipeline.Config()
    val textual =
      if (!htmlInput) in
      else in.withColumn("text", HtmlText.extractText(col("text")))
        .filter(length(col("text")) > 0)
    val admitted =
      if (blocklist.isEmpty) textual
      else TextAnalysis.wordBlocklistGate(textual, "text", blocklist)
        .filter(!col("blocked")).drop("bad_terms", "n_bad_tokens", "blocked")
    val scrubbed = admitted.withColumn("text", TextAnalysis.redactPii(col("text")))
      .filter(TextAnalysis.repetitionRatio(col("text")) <= maxRepetition)
    val gated = TextAnalysis.annotate(scrubbed, "text")
      .filter(col("n_tokens") >= cfg.minTokens && col("quality") >= cfg.minQuality &&
        col("lang_pred").isin(cfg.langs: _*))
    val exact = Dedup.exactKeepMin(gated, Seq("fingerprint"), "doc_id")
    val cleaned = Dedup.minHashDedup(exact, "doc_id", "text", threshold = cfg.nearDupThreshold)
    val decontaminated = evalDocs
      .map(e => Dedup.decontaminate(cleaned, e, "doc_id", "text")).getOrElse(cleaned)
    chunk match {
      case Some((size, overlap)) => TextAnalysis.chunk(decontaminated, "doc_id", "text",
        size, overlap, carry = Seq("lang_pred", "quality"))
      case None => decontaminated
    }
  }

  test("prepare keeps the ids of the unfenced filter-by-filter formulation on every arm") {
    val evalSet = docs.orderBy("doc_id").limit(3)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
    // the fixture is plain text: wrap it in markup (with a nav block
    // extraction must drop) so the html arm keeps documents
    val pages = docs.withColumn("text", concat(
      lit("<html><body><nav><a href='/'>home</a></nav><p>"), col("text"), lit("</p></body></html>")))
    val arms = Seq(
      ("default", docs, 0.9, false, Nil, None, None),
      ("htmlInput", pages, 0.9, true, Nil, None, None),
      ("blocklist", docs, 0.9, false, Seq("slow"), None, None),
      ("maxRepetition = 0.5", docs, 0.5, false, Nil, None, None),
      // the fixture's repetition ratios stay under 0.05, so only a
      // tighter bound makes the repetition conjunct drop documents
      ("maxRepetition = 0.01", docs, 0.01, false, Nil, None, None),
      ("evalDocs + chunk", docs, 0.9, false, Nil, Some(evalSet), Some((40, 10))))
    for ((arm, in, maxRep, html, block, evalDocs, chunk) <- arms) {
      def keys(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
        df.select(col("doc_id"),
            (if (chunk.isDefined) col("chunk_idx") else lit(0)).cast("int"))
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
      val got = keys(CorpusPipeline.prepare(in, maxRepetition = maxRep, htmlInput = html,
        blocklist = block, evalDocs = evalDocs, chunk = chunk))
      val want = keys(unfencedPrepare(in, maxRep, html, block, evalDocs, chunk))
      assert(want.nonEmpty, s"$arm: the fixture must keep some documents")
      assert(got == want, s"$arm: fenced prepare kept different rows")
    }
  }

  test("clean() pins nothing in the CacheManager (leak-free composition)") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val out = CorpusPipeline.clean(docs)
    out.count() // materialize fully
    assert(cm.isEmpty,
      "corpus pipeline must not leave CacheManager entries behind " +
        "(intermediates are shared via GC-tracked localCheckpoint blocks)")
  }
}
