package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Barrier
import graft.operators.{CorpusPipeline, TextAnalysis}

/** Streaming twin of graft.operators.CorpusPipeline: continuous
  * ingestion of documents with the same annotation, quality/language/
  * length gates, and EXACT dedup — expressed over an unbounded stream.
  *
  * Dedup semantics differ from batch by necessity and by design:
  *  - exact dedup keys on the content fingerprint via
  *    `dropDuplicatesWithinWatermark` — state is bounded by the
  *    watermark horizon, so a duplicate arriving a year later is NOT
  *    caught here (unbounded-state exact dedup cannot stream);
  *  - MinHash NEAR-dup removal stays a batch concern: it is a growing
  *    self-join, so production systems run it as periodic compaction
  *    over the accumulated output (CorpusPipeline.clean on the sink
  *    directory), not in the hot path.
  *
  * Everything before the dedup is map-only (TextProfileExpr), and the
  * gates are the batch path's own fenced `CorpusPipeline.gated`, so the
  * stream scales exactly like the batch annotate stage.
  */
object StreamingCorpus {

  /** @param docs      unbounded frame with (idCol, textCol, tsCol)
    * @param tsCol     event-time column driving the watermark
    * @param watermark dedup horizon (state retention bound)
    */
  def clean(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      watermark: String = "1 hour",
      cfg: CorpusPipeline.Config = CorpusPipeline.Config()): DataFrame =
    CorpusPipeline.gated(docs, textCol, cfg)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming twin of the crawl-ingest front door
    * ([[graft.operators.CorpusPipeline.prepare]]'s `htmlInput=true`
    * stage 0 plus the round-6 text gates): HTML→text extraction,
    * encoding-noise (mojibake) gate, checksum-verified card redaction.
    * Every stage is STATELESS map-only column work — no watermark, no
    * state store — so this runs at input rate and composes BEFORE
    * [[clean]], which is where the stateful dedup begins.
    *
    * `repairEncoding` inserts the round-9 mojibake REPAIR
    * (`fix_mojibake`) between extraction and the noise gate:
    * double-decoded ghost runs unwind to their intended text and the
    * gate then drops only what repair could NOT save — recovering
    * documents the gate alone throws away, at zero cost on clean text
    * (the kernel's ASCII fast path returns the input buffer). Off by
    * default: the repaired twin is a different corpus contract, opt in
    * per deployment.
    */
  def ingestCrawl(
      pages: DataFrame,
      textCol: String = "text",
      maxNoise: Double = 5.0,
      repairEncoding: Boolean = false,
      blocklist: Seq[String] = Nil): DataFrame = {
    // every gate sits on its own fence (graft.Fence's gate rule), so
    // extraction, repair and the blocklist kernel each run once per row
    val extracted = CorpusPipeline.extracted(pages, textCol)
    val repaired =
      if (repairEncoding)
        extracted.withColumn(textCol,
          org.apache.spark.sql.graft.NativeExprs.fixMojibake(col(textCol)))
      else extracted
    // doc-level bad-words gate (the batch prepare's round-9 arm):
    // stateless whole-token filter, same placement — right after
    // extraction/repair, before anything spends work on the page
    val admitted = CorpusPipeline.unblocked(repaired, textCol, blocklist)
    CorpusPipeline.gate(admitted, "noise",
        TextAnalysis.encodingNoiseScore(col(textCol)) <= maxNoise)
      .withColumn(textCol, TextAnalysis.redactCards(col(textCol)))
  }

  /** The WARC crawl-CONTAINER front door, streaming: an unbounded
    * stream of segment FILES in (`spark.readStream.format("binaryFile")`
    * — the file source's exactly-once checkpointing applies per
    * segment), one text/html 200 response per row out, with the URL
    * canonicalized and the domain blocklist applied — the container
    * stage of the batch chain q273 pins, continuously. Everything is
    * STATELESS map-only work (the `recordsCol` parse runs once per
    * segment row, executor-side; canonicalize/blocklist are column
    * predicates), so this composes BEFORE [[ingestCrawl]] (extraction,
    * repair, gates) which composes before [[clean]] (stateful dedup) —
    * the full crawl chain warc → extract → canonical → blocklist as
    * one unbroken stream. Non-html records, non-200 responses, and
    * URL-less records are dropped here by contract (the crawl chain
    * wants pages); read the container through [[graft.io.Sources.warc]]
    * batch-side when every record matters.
    */
  def ingestWarc(
      segments: DataFrame,
      textCol: String = "text",
      blockedDomains: Seq[String] = Nil): DataFrame = {
    val recs = segments
      .select(col("path"),
        explode(graft.io.WarcParse.recordsCol(col("content"))).as("r"))
      .select(col("path"),
        col("r.url").as("__url"),
        col("r.fetch_ts").as("fetch_ts"),
        col("r.mime").as("mime"),
        col("r.http_status").as("http_status"),
        col("r.payload").cast("string").as(textCol))
      .filter(col("mime") === "text/html" && col("http_status") === 200 &&
        col("__url").isNotNull)
      .withColumn("canonical_url",
        graft.operators.WebOps.canonicalizeUrl(col("__url")))
      .drop("__url")
    if (blockedDomains.isEmpty) recs
    else graft.operators.WebOps.blockDomains(recs, "canonical_url", blockedDomains)
  }

  /** Streaming scrub-and-chunk: PII redaction then token-window
    * chunking, continuously. Both stages are STATELESS (regexp chains
    * and a per-row explode — no watermark, no state store), so this
    * composes after [[clean]] or runs standalone at input rate; the
    * explode multiplies rows exactly like the batch operator, and
    * repetition/gate columns survive onto every chunk row for
    * downstream mixing decisions.
    */
  def scrubAndChunk(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      chunkSize: Int = 512,
      overlap: Int = 64): DataFrame = {
    val scrubbed = docs.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
      .withColumn("rep_ratio", TextAnalysis.repetitionRatio(col(textCol)))
    TextAnalysis.chunk(scrubbed, idCol, textCol, chunkSize, overlap,
      carry = Seq("rep_ratio"))
  }

  /** Streaming twin of [[graft.operators.TextAnalysis.dedupLines]]:
    * corpus-wide keep-first LINE dedup over an unbounded stream. Emits
    * the surviving lines as (idCol, pos, line, tsCol) rows.
    *
    * Necessary semantic shifts vs batch (same reasoning as [[clean]]):
    * "first" means first ARRIVAL inside the watermark horizon, not
    * globally smallest (id, pos) — a duplicate arriving after state
    * expiry is re-emitted; and documents are NOT reassembled here (a
    * per-doc gather would pin every open document in the state store) —
    * reassembly is the sink-side compaction `dedupLines` already
    * handles. State is one entry per distinct line inside the horizon,
    * the same bound `dropDuplicatesWithinWatermark` gives exact dedup.
    */
  def dedupLinesStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      sep: String = "\n",
      watermark: String = "1 hour"): DataFrame =
    docs
      .select(col(idCol), col(tsCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .filter(length(trim(col("line"))) > 0)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("line")

  /** Streaming twin of [[graft.operators.Dedup.substringDedup]] at the
    * tile stage: corpus-wide keep-first dedup of w-token tiles over an
    * unbounded stream. Emits surviving tiles as (idCol, tile_no, h,
    * tsCol) rows — the stream-side feed for a persisted
    * [[graft.operators.Dedup.tileHashStore]].
    *
    * Same semantic shifts as [[dedupLinesStream]], for the same
    * reasons: "first" is first ARRIVAL within the watermark horizon
    * (state = one entry per distinct tile hash in the horizon), and
    * documents are not rebuilt in the hot path — text reconstruction
    * stays the batch-side `substringDedupIncremental` compaction over
    * the accumulated store. Tiling itself is map-only, identical
    * arithmetic to the batch operator (md5 over the same slice/join).
    */
  def dedupTilesStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      w: Int = 20,
      watermark: String = "1 hour"): DataFrame = {
    val toks = split(col(textCol), " ")
    val nTiles = floor(size(toks) / w).cast("int")
    docs
      .select(col(idCol), col(tsCol), toks.as("__t"), nTiles.as("__n"))
      .where(col("__n") >= 1)
      .select(col(idCol), col(tsCol), col("__t"),
        explode(sequence(lit(0), col("__n") - 1)).as("tile_no"))
      .select(col(idCol), col(tsCol), col("tile_no"),
        md5(array_join(slice(col("__t"), col("tile_no") * w + 1, lit(w)), " ")).as("h"))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("h")
  }

  /** Streaming twin of the CCNet perplexity filter: score each arriving
    * document's char n-grams against a broadcast REFERENCE model (built
    * batch-side by TextAnalysis.charNgramModel over a trusted corpus)
    * and keep documents at or above `minAvgLogp`. The scorer is a
    * map-only native expression — no explode, no join, no aggregation
    * state, no watermark — so the gate adds zero streaming state and
    * composes with [[clean]] before the dedup. Unseen grams take the
    * model's add-half smoothing, so scoring is total on novel text.
    */
  def lmGate(
      docs: DataFrame,
      model: DataFrame,
      minAvgLogp: Double,
      textCol: String = "text",
      n: Int = 3): DataFrame = {
    val scorer = graft.operators.TextAnalysis.lmScorer(model, n)
    docs
      .withColumn("avg_logp", scorer(col(textCol)))
      .filter(col("avg_logp").isNotNull && col("avg_logp") >= minAvgLogp)
  }

  /** Streaming twin of the model-based quality/language filter: score
    * each arriving document with a broadcast Naive Bayes model (trained
    * batch-side by Classify.nbTrain on a labeled corpus) and keep
    * documents whose predicted label is in `keep`. Like [[lmGate]], the
    * scorer is a map-only native expression — no explode, no join, no
    * aggregation state, no watermark — so the gate adds zero streaming
    * state; prediction and score stay attached as `pred` / `pred_score`
    * for downstream routing.
    */
  def nbGate(
      docs: DataFrame,
      model: graft.operators.Classify.NbModel,
      keep: Set[String],
      textCol: String = "text"): DataFrame = {
    require(keep.nonEmpty, "nbGate needs at least one label to keep")
    val scorer = graft.operators.Classify.nbScorer(model)
    docs
      .withColumn("__nb", scorer(col(textCol)))
      .withColumn("pred", col("__nb.pred"))
      .withColumn("pred_score", col("__nb.score"))
      .drop("__nb")
      .filter(col("pred").isin(keep.toSeq: _*))
  }

  /** Streaming SemDeDup against a persisted cell-partitioned vector
    * store (the IVF-index layout): each micro-batch
    *
    *  1. drops ids already ingested (exact-id replay guard — a
    *     checkpoint-recovered batch finds all its ids in the store and
    *     becomes a no-op, the transactional-writer idempotence this
    *     plain-parquet store can offer);
    *  2. finds near-dup pairs against the store and within itself under
    *     the FROZEN quantizer
    *     ([[graft.operators.Dedup.semanticNearDupsIncremental]] — the
    *     store read is semi-joined to the batch's touched cells, so a
    *     partitioned store is dynamically pruned);
    *  3. drops batch losers by the GREEDY rule (any batch vector
    *     pairing with history; the larger id of each batch-internal
    *     pair — [[graft.operators.Dedup.minHashDedup]]'s documented
    *     greedy semantics, chosen here because a per-batch transitive
    *     closure would add an iterative job to the hot path);
    *  4. appends the survivors' cell assignments to the store — the
    *     store stays dedup-clean and serves the next batch as history —
    *     and hands the survivor rows to `onSurvivors` (e.g. a lake
    *     upsert; batchId is passed through for idempotent sinks).
    *
    * Retrain boundary: the quantizer is frozen for the stream's life —
    * pair it with [[graft.operators.Similarity.appendIvfIndex]]'s drift
    * report on a schedule, and rebuild store + centroids when drift
    * gates retrain (pause-the-stream maintenance, like compaction).
    *
    * CONCURRENCY: single writer, like [[graft.operators.DedupLedger]] —
    * plain parquet appends are not transactional.
    */
  def semanticDedupStream(
      vecs: DataFrame,
      storePath: String,
      cents: Array[(Int, Array[Double])],
      threshold: Double,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      probes: Int = 1,
      onSurvivors: (DataFrame, Long) => Unit = (_, _) => ()): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val store = readStoreOrEmpty(spark, storePath, batch.toDF(), idCol, vecCol)
        val fresh = batch.toDF().join(
          store.select(col(idCol)), Seq(idCol), "left_anti")
        val pairs = graft.operators.Dedup.semanticNearDupsIncremental(
          fresh, store, idCol, vecCol, cents, threshold)
          .select(col("id_a"), col("id_b"))
        val bids = fresh.select(col(idCol).cast("long").as("__bid"))
        val losers = pairs
          .join(bids.select(col("__bid").as("__a_in")),
            col("id_a") === col("__a_in"), "left")
          .join(bids.select(col("__bid").as("__b_in")),
            col("id_b") === col("__b_in"), "left")
          .select(
            when(col("__a_in").isNotNull && col("__b_in").isNull, col("id_a"))
              .otherwise(col("id_b")).as("__loser"))
          .distinct()
        // one materialization: the append AND onSurvivors read it
        val survivors = Barrier(
          fresh.join(losers, fresh(idCol).cast("long") === col("__loser"), "left_anti"),
          "StreamingCorpus.semanticSurvivors")
        graft.operators.Similarity
          .ivfIndex(survivors, idCol, vecCol, cents)
          .write.mode("append").partitionBy("cell").parquet(storePath)
        onSurvivors(survivors, batchId)
      }
      .start()

  /** Streaming winnowing (MOSS passage) dedup with EXACTLY-ONCE store
    * maintenance: the fingerprint store and its mergeable df-delta
    * store ([[graft.operators.TextAnalysis
    * .winnowNearDupsIncrementalMergeable]]) are
    * [[graft.lake.VersionedTable]]s advanced by `appendIfNew` under
    * (appId, batchId) txn markers, so the append and replay detection
    * are ATOMIC — the r7 raw-parquet version had an at-most-once
    * emission window (a crash between the store append and the
    * checkpoint commit made the replayed batch's survivors invisible
    * to `onSurvivors`) and a torn-job hazard (partial fingerprint rows
    * behind the id-presence guard); the manifest commit closes both.
    *
    * Each micro-batch ([[winnowAdvanceBatch]], public for
    * driver-orchestrated daily jobs):
    *
    *  1. if the fp-store marker already covers the batch (checkpoint
    *     replay), the batch's own committed rows are read back from
    *     the files THAT version added, the df-delta store is completed
    *     if its commit was the one that crashed, and the SAME
    *     survivors re-deliver to `onSurvivors` — at-least-once
    *     emission with exactly-once state, the StreamingEr contract;
    *  2. otherwise: drop ids already in the store (exact-id guard),
    *     fingerprint ONLY the batch, pair it against the store with
    *     the boilerplate prune served from SUMMED df deltas (the
    *     mergeable-state path — no per-batch recount over history),
    *     drop batch losers by the greedy rule, then commit survivors'
    *     (id, fp) rows and their (fp, df) delta — fp store FIRST, so a
    *     crash between the two commits is repaired from the fp
    *     version diff on replay.
    *
    * CONCURRENCY: single writer, like [[semanticDedupStream]].
    */
  def winnowDedupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 25,
      w: Int = 10,
      minShared: Long = 3L,
      maxDf: Long = 1000L,
      onSurvivors: (DataFrame, Long) => Unit = (_, _) => (),
      appId: String = "winnow-dedup"): org.apache.spark.sql.streaming.StreamingQuery = {
    val fps = winnowFpTable(storePath, idCol)
    val dfs = winnowDfTable(storePath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        winnowAdvanceBatch(fps, dfs, batch.toDF(), idCol, textCol,
          k, w, minShared, maxDf, appId, batchId, onSurvivors)
      }
      .start()
  }

  /** The winnow stream's fingerprint store handle — public so batch
    * jobs and audits read the same table the stream maintains.
    */
  def winnowFpTable(storePath: String, idCol: String = "doc_id"): graft.lake.VersionedTable =
    graft.lake.VersionedTable(s"$storePath/fps", idCol)

  /** The mergeable (fp, df) delta store (keyed on df only for the
    * manifest's numeric-zone slot; reads always aggregate per fp).
    */
  def winnowDfTable(storePath: String): graft.lake.VersionedTable =
    graft.lake.VersionedTable(s"$storePath/df", "df")

  /** Apply ONE winnow-dedup batch exactly once (the foreachBatch body;
    * see [[winnowDedupStream]] for the protocol).
    */
  def winnowAdvanceBatch(
      fps: graft.lake.VersionedTable,
      dfs: graft.lake.VersionedTable,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minShared: Long,
      maxDf: Long,
      appId: String,
      batchId: Long,
      onSurvivors: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    if (fps.lastTxn(appId).exists(_ >= batchId)) {
      // fp commit already applied (replay): repair the df store if its
      // commit was the one that crashed, then re-deliver the batch's
      // own survivors from the rows that exact version added
      val v = committedVersionFor(fps, appId, batchId)
      val added = addedFilePaths(fps, v)
      val insFps =
        if (added.isEmpty)
          batch.select(col(idCol), lit("").as("fp")).limit(0)
        else spark.read.parquet(added: _*)
      if (!dfs.lastTxn(appId).exists(_ >= batchId))
        dfs.appendIfNew(
          TextAnalysis.winnowDfStore(insFps, idCol), appId, batchId): Unit
      val survivors = batch
        .join(insFps.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      onSurvivors(survivors, batchId)
      return
    }
    val storeFps =
      if (fps.currentVersion() == 0)
        batch.select(col(idCol), lit("").as("fp")).limit(0)
      else fps.read(spark)
    val storeDf =
      if (dfs.currentVersion() == 0)
        batch.select(lit("").as("fp"), lit(0L).as("df")).limit(0)
      else dfs.read(spark)
    val fresh = batch.join(
      storeFps.select(col(idCol)).distinct(), Seq(idCol), "left_anti")
    val pairs = TextAnalysis.winnowNearDupsIncrementalMergeable(
      fresh, storeFps, storeDf, idCol, textCol, k, w, minShared, maxDf)
    val bids = fresh.select(col(idCol).cast("long").as("__bid"))
    val losers = pairs
      .join(bids.select(col("__bid").as("__a_in")),
        col("id_a") === col("__a_in"), "left")
      .join(bids.select(col("__bid").as("__b_in")),
        col("id_b") === col("__b_in"), "left")
      .select(
        when(col("__a_in").isNotNull && col("__b_in").isNull, col("id_a"))
          .otherwise(col("id_b")).as("__loser"))
      .distinct()
    // one materialization: both commits AND onSurvivors read it
    val survivors = Barrier(
      fresh.join(losers, fresh(idCol).cast("long") === col("__loser"), "left_anti"),
      "StreamingCorpus.winnowSurvivors")
    // fingerprint once; feeds both table commits
    val survFps = Barrier(TextAnalysis.winnowFingerprints(survivors, idCol, textCol, k, w),
      "StreamingCorpus.winnowFingerprints")
    fps.appendIfNew(survFps, appId, batchId): Unit
    dfs.appendIfNew(
      TextAnalysis.winnowDfStore(survFps, idCol), appId, batchId): Unit
    onSurvivors(survivors, batchId)
  }

  /** Streaming duplicate-SPAN dedup (the q198–q202 family's stream
    * twin): each micro-batch is span-cut against everything ingested
    * before it ([[graft.operators.Dedup.removeDuplicateSpansIncremental]]
    * — history shingle-hash store plus earlier-in-batch), then the
    * batch's own shingle delta ([[graft.operators.Dedup.spanHashStore]])
    * appends to the store exactly once under an (appId, batchId) txn
    * marker.
    *
    * EXACTLY-ONCE protocol — deliberately simpler than
    * [[winnowDedupStream]]'s two-table dance, because this state is ONE
    * table and the batch output is a DETERMINISTIC function of (batch,
    * pre-commit store): on checkpoint replay the batch recomputes
    * against the TIME-TRAVELED snapshot from before its own commit
    * (`read(asOf = v−1)`) and re-delivers bit-identical cleaned rows —
    * at-least-once emission, exactly-once state, with no reconstruction
    * bookkeeping. Every operator in the path is deterministic (md5
    * shingles, min first-keys, per-doc windows over unique positions),
    * which is what makes the recompute sound.
    *
    * The store is hash-level state: deltas append blindly and readers
    * re-take min(first_key) per hash (the merge-associative
    * [[graft.operators.Dedup.spanHashStore]] contract). A re-ingested
    * document (source replay beyond the checkpoint) is NOT an error:
    * all its shingles are already in the store, so it cleans to an
    * empty text — the correct treatment of an exact re-crawl.
    *
    * CONCURRENCY: single writer, like the other streams here.
    */
  def spanDedupStream(
      docs: DataFrame,
      storePath: String,
      checkpoint: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 8,
      onCleaned: (DataFrame, Long) => Unit = (_, _) => (),
      appId: String = "span-dedup"): org.apache.spark.sql.streaming.StreamingQuery = {
    val store = spanStoreTable(storePath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        spanAdvanceBatch(store, batch.toDF(), idCol, textCol, w, appId, batchId, onCleaned)
      }
      .start()
  }

  /** The span stream's shingle-store handle — public so batch jobs
    * (q202's daily shape) and audits read the same table the stream
    * maintains.
    */
  def spanStoreTable(storePath: String): graft.lake.VersionedTable =
    graft.lake.VersionedTable(s"$storePath/shingles", "first_key")

  /** Apply ONE span-dedup batch exactly once (the foreachBatch body;
    * see [[spanDedupStream]] for the protocol).
    */
  def spanAdvanceBatch(
      store: graft.lake.VersionedTable,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      appId: String,
      batchId: Long,
      onCleaned: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    val replay = store.lastTxn(appId).exists(_ >= batchId)
    val preVersion: Option[Int] =
      if (replay) Some(committedVersionFor(store, appId, batchId) - 1) else None
    val empty = preVersion.map(_ <= 0).getOrElse(store.currentVersion() == 0)
    // guard twice: version 0 AND a version whose snapshot has no data
    // files (an all-short-docs batch appends nothing) — read() returns
    // a schema-less emptyDataFrame for the latter
    val raw = if (empty) None else Some(store.read(spark, preVersion))
    val storeDf = raw
      .filter(_.columns.contains("h"))
      .map(_.groupBy("h").agg(min(col("first_key")).as("first_key")))
      .getOrElse(batch.select(lit("").as("h"), lit(0L).as("first_key")).limit(0))
    val cleaned = graft.operators.Dedup.removeDuplicateSpansIncremental(
      batch, storeDf, idCol, textCol, w)
    if (!replay)
      store.appendIfNew(
        graft.operators.Dedup.spanHashStore(batch, idCol, textCol, w),
        appId, batchId): Unit
    onCleaned(cleaned, batchId)
  }

  /** Smallest version whose txn marker for `appId` covers `batchId` —
    * the commit that batch produced (markers are monotone; streaming
    * serializes batches, so the scan walks at most a step or two).
    */
  private def committedVersionFor(
      t: graft.lake.VersionedTable, appId: String, batchId: Long): Int = {
    var v = t.currentVersion()
    while (v > 1 && t.snapshot(v - 1).txns.get(appId).exists(_ >= batchId)) v -= 1
    v
  }

  /** Data files version `v` ADDED relative to `v - 1` — for an
    * append-only table, exactly the rows that commit wrote.
    */
  private def addedFilePaths(t: graft.lake.VersionedTable, v: Int): Seq[String] = {
    val prev = if (v <= 1) Set.empty[String]
      else t.snapshot(v - 1).files.map(_.path).toSet
    t.snapshot(v).files.map(_.path).filterNot(prev)
  }

  /** Read the vector store, or an empty (idCol, vecCol, cell) frame when
    * none exists yet — first-batch bootstrap, same pattern as
    * [[graft.operators.DedupLedger.read]].
    */
  private def readStoreOrEmpty(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hadoopPath))
      spark.read.parquet(path)
    else
      batch.select(col(idCol), col(vecCol), lit(0).as("cell")).limit(0)
  }
}
