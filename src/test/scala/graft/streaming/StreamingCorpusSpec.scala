package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class StreamingCorpusSpec extends SparkSpec {

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$min%02d:00")

  private val goodText =
    "the quick brown fox jumps over the lazy dog and the cat watches it with great interest today"

  test("gates + watermark-bounded exact dedup on a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingCorpus.clean(in.toDF.toDF("doc_id", "text", "ts"))
      .select("doc_id")
      .writeStream.format("memory").queryName("sc_out").outputMode("append").start()
    try {
      in.addData(
        (1L, goodText, ts(0)),
        (2L, goodText, ts(1)),    // same fingerprint as 1 → deduped
        (3L, "too short", ts(2)), // fails the token gate
        (4L, goodText + " extra trailing words here", ts(3))) // distinct fp
      q.processAllAvailable()
      val ids = spark.table("sc_out").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 4L))
    } finally q.stop()
  }

  test("ingestCrawl: stateless html + noise + card gates equal the batch composition") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val body = "the quick brown fox keeps running through the open field toward " +
      "the river every single morning pay 4111111111111111 now thanks"
    val mojibake = "caf\u00C3\u00A9 " * 12 + "padding words to reach a length"
    val pages = Seq(
      (1L, s"<html><body><nav><a href='/'>Home page nav row</a></nav><p>$body</p></body></html>"),
      (2L, "<div><a href='/x'>only boilerplate anchors live on this page</a></div>"),
      (3L, s"<p>$mojibake</p>")) // extraction succeeds, noise gate rejects
    val in = MemoryStream[(Long, String)]
    val q = StreamingCorpus.ingestCrawl(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("crawl_out").outputMode("append").start()
    try {
      in.addData(pages: _*)
      q.processAllAvailable()
      val got = spark.table("crawl_out").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.keySet == Set(1L), s"boilerplate and mojibake pages must drop: $got")
      assert(got(1L).contains("pay <CARD> now"), "card redaction ran on the stream")
      assert(!got(1L).contains("Home page nav"), "nav boilerplate stripped")
      // batch equivalence: the same frame through the batch operators
      val batch = StreamingCorpus.ingestCrawl(pages.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batch == got, "stateless gates must be batch/stream invariant")
      // repairEncoding=true SAVES the mojibake page: the ghosts unwind
      // to caf\u00E9 and the gate then passes the clean text (still
      // stateless — batch form checked; the stream twin is the same
      // column expression)
      val repaired = StreamingCorpus.ingestCrawl(
        pages.toDF("doc_id", "text"), repairEncoding = true)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(repaired.keySet == Set(1L, 3L),
        s"repair must recover the ghost page: ${repaired.keySet}")
      assert(repaired(3L).contains("caf\u00E9") && !repaired(3L).contains("caf\u00C3"),
        "ghost pair must decode back to the accented character")
      assert(repaired(1L) == got(1L), "clean pages are untouched by repair")
    } finally q.stop()
  }

  test("ingestWarc: segment files stream in, canonical blocklisted html pages come out; batch-equal") {
    import spark.implicits._
    def http(body: String) =
      s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n$body"
    def rec(url: String, block: String,
        ctype: String = "application/http; msgtype=response",
        status: String = "") = {
      val clen = block.getBytes("UTF-8").length
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"WARC-Date: 2026-01-02T03:04:05Z\r\nWARC-Record-ID: <urn:uuid:x>\r\n" +
        s"Content-Type: $ctype\r\nContent-Length: $clen\r\n\r\n$block\r\n\r\n"
    }
    val seg1 =
      rec("HTTPS://News.Example.COM:443/a?utm_source=m",
        http("<p>page one body carries enough visible words to clear the block gate.</p>")) +
        rec("https://ads.bad.net/x", http("<p>blocked page</p>")) +
        rec("https://news.example.com/img",
          "HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\nPNG") // non-html drops
    val seg2 = rec("https://other.example.com/b",
      http("<p>page two body carries enough visible words to clear the block gate.</p>"))
    val dir = scratchDir("warcstreamspec").toFile
    val ckpt = scratchDir("warcstreamckpt").toFile
    java.nio.file.Files.write(new java.io.File(dir, "seg1.warc").toPath,
      seg1.getBytes("UTF-8"))
    // the binaryFile STREAMING source requires the schema up front
    // (same physical schema the batch source infers)
    val binSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
    val q = StreamingCorpus.ingestWarc(
        spark.readStream.format("binaryFile").schema(binSchema)
          .load(dir.getAbsolutePath),
        blockedDomains = Seq("bad.net"))
      .writeStream.format("memory").queryName("warc_stream_out")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second segment arrives later: the file source picks it up
      java.nio.file.Files.write(new java.io.File(dir, "seg2.warc").toPath,
        seg2.getBytes("UTF-8"))
      q.processAllAvailable()
      val got = spark.table("warc_stream_out")
        .select("canonical_url", "text", "mime", "http_status")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(got.keySet == Set(
        "https://news.example.com/a", // scheme/host lowercased, :443 and utm dropped
        "https://other.example.com/b"),
        s"blocklisted + non-html records must drop: ${got.keySet}")
      assert(got("https://news.example.com/a").startsWith("<p>page one body"))
      // batch equivalence: ingestWarc consumes SEGMENT bytes, so the
      // honest batch twin is the binaryFile read of the same dir
      val batch2 = StreamingCorpus.ingestWarc(
          graft.io.Sources.binaryFiles(spark, dir.getAbsolutePath),
          blockedDomains = Seq("bad.net"))
        .select("canonical_url", "text")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(batch2 == got, "stateless container stage must be batch/stream invariant")
      // and it composes into ingestCrawl: extraction runs on the body
      val chained = StreamingCorpus.ingestCrawl(
          StreamingCorpus.ingestWarc(
            graft.io.Sources.binaryFiles(spark, dir.getAbsolutePath),
            blockedDomains = Seq("bad.net")),
          maxNoise = 1000.0)
        .select("canonical_url", "text")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(chained.values.toSet == Set(
        "page one body carries enough visible words to clear the block gate.",
        "page two body carries enough visible words to clear the block gate."),
        s"warc -> extract chain must yield visible text: $chained")
    } finally q.stop()
  }

  test("ingestCrawl: the blocklist arm drops bad-word pages statelessly, batch-equal") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clean = "the quick brown fox keeps running through the open field toward the river"
    val dirty = s"$clean and then a casino advert interrupts everything"
    val pages = Seq(
      (1L, s"<p>$clean every single morning</p>"),
      (2L, s"<p>$dirty</p>"),
      (3L, s"<p>$clean casinos plural should not fire the whole-token rule</p>"))
    val in = MemoryStream[(Long, String)]
    val q = StreamingCorpus.ingestCrawl(
        in.toDF.toDF("doc_id", "text"), blocklist = Seq("casino"))
      .writeStream.format("memory").queryName("crawl_bl_out").outputMode("append").start()
    try {
      in.addData(pages: _*)
      q.processAllAvailable()
      val got = spark.table("crawl_bl_out").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 3L), s"only the whole-token casino page drops: $got")
      val batch = StreamingCorpus.ingestCrawl(
          pages.toDF("doc_id", "text"), blocklist = Seq("casino"))
        .collect().map(_.getLong(0)).toSet
      assert(batch == got, "the blocklist gate must be batch/stream invariant")
    } finally q.stop()
  }

  test("c4CleanStream: line/document rules stream statelessly, carry survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = (1 to 5).map(i => s"sentence number $i stands entirely on its own.")
      .mkString("\n")
    val docs = Seq(
      (1L, good, new java.sql.Timestamp(1000L)),
      (2L, good + "\nno punctuation here", new java.sql.Timestamp(2000L)),
      (3L, "short { brace } doc.", new java.sql.Timestamp(3000L)))
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.operators.TextAnalysis.c4Clean(
        in.toDF.toDF("doc_id", "text", "ts"), "doc_id", "text", carry = Seq("ts"))
      .writeStream.format("memory").queryName("c4_out").outputMode("append").start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("c4_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getTimestamp(4)))
      assert(got.map(_._1).toSet == Set(1L, 2L), s"brace doc must drop: ${got.toSeq}")
      val byId = got.map(g => g._1 -> g).toMap
      assert(byId(1L)._2 == good && byId(1L)._3 == 0L)
      assert(byId(2L)._3 == 1L, "the punct-less line drops on the stream too")
      assert(byId(2L)._4 == new java.sql.Timestamp(2000L),
        "the carried ts column must survive for downstream watermarks")
      // batch equivalence through the same operator
      val batch = graft.operators.TextAnalysis.c4Clean(
          docs.toDF("doc_id", "text", "ts"), "doc_id", "text", carry = Seq("ts"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getTimestamp(4)))
      assert(batch.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    } finally q.stop()
  }

  test("dedupLinesStream keeps the first arrival of each line, drops repeats") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingCorpus.dedupLinesStream(in.toDF.toDF("doc_id", "text", "ts"))
      .select("doc_id", "pos", "line")
      .writeStream.format("memory").queryName("ldl_out").outputMode("append").start()
    try {
      // separate micro-batches pin arrival order: WITHIN one batch the
      // winner among equal lines is not specified by
      // dropDuplicatesWithinWatermark (state-store iteration order)
      in.addData((1L, "alpha\nbeta", ts(0)))
      q.processAllAvailable()
      in.addData((2L, "beta\ngamma\n  \nalpha", ts(1))) // beta/alpha repeat, blank dropped
      q.processAllAvailable()
      in.addData((3L, "gamma", ts(2))) // fully duplicate doc → nothing
      q.processAllAvailable()
      val rows = spark.table("ldl_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(rows == Set((1L, 0, "alpha"), (1L, 1, "beta"), (2L, 1, "gamma")))
    } finally q.stop()
  }

  test("dedupTilesStream keeps first-arrival tiles; hashes match the batch store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w4 = 4
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // two aligned tiles
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingCorpus.dedupTilesStream(
      in.toDF.toDF("doc_id", "text", "ts"), w = w4)
      .select("doc_id", "tile_no", "h")
      .writeStream.format("memory").queryName("tds_out").outputMode("append").start()
    try {
      in.addData((1L, shared + " a b c d", ts(0)))
      q.processAllAvailable()
      in.addData((2L, shared + " e f g h", ts(1))) // first two tiles repeat doc 1's
      q.processAllAvailable()
      val rows = spark.table("tds_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      // doc 1 contributes all 3 tiles; doc 2 only its novel third tile
      assert(rows.map(t => (t._1, t._2)).toSet ==
        Set((1L, 0), (1L, 1), (1L, 2), (2L, 2)))
      // tile hashes are the batch operator's md5s — the stream can feed
      // a persisted tileHashStore directly
      val batchHashes = graft.operators.Dedup.tileHashStore(
        Seq((1L, shared + " a b c d")).toDF("doc_id", "text"), "doc_id", "text", w = w4)
        .collect().map(_.getString(0)).toSet
      assert(rows.filter(_._1 == 1L).map(_._3).toSet == batchHashes)
    } finally q.stop()
  }

  test("scrubAndChunk streams statelessly: redaction + chunking + carried ratio") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val longDoc = (1 to 70).map(i => s"tok$i").mkString(" ") + " write to a1@b.io now"
    val in = MemoryStream[(Long, String)]
    val q = StreamingCorpus.scrubAndChunk(
      in.toDF.toDF("doc_id", "text"), chunkSize = 30, overlap = 5)
      .writeStream.format("memory").queryName("sc_chunks").outputMode("append").start()
    try {
      in.addData((10L, longDoc), (11L, "go go go go go go"))
      q.processAllAvailable()
      val rows = spark.table("sc_chunks").collect()
      // doc 10: 74 tokens, starts 1, 26, 51 → 3 chunks; doc 11: 1 chunk
      assert(rows.count(_.getLong(0) == 10L) == 3)
      assert(rows.count(_.getLong(0) == 11L) == 1)
      // the PII survived into no chunk
      assert(!rows.exists(_.getAs[String]("chunk").contains("a1@b.io")))
      assert(rows.filter(_.getLong(0) == 10L).map(_.getAs[String]("chunk"))
        .exists(_.contains("<EMAIL>")))
      // repetition ratio carried onto every chunk, computed post-scrub
      assert(rows.filter(_.getLong(0) == 11L).forall(_.getAs[Double]("rep_ratio") > 0.5))
      // streaming output equals the batch operator on the same data
      val batch = StreamingCorpus.scrubAndChunk(
        Seq((10L, longDoc), (11L, "go go go go go go")).toDF("doc_id", "text"),
        chunkSize = 30, overlap = 5).collect()
      assert(rows.map(_.toSeq).toSet == batch.map(_.toSeq).toSet)
    } finally q.stop()
  }

  test("lmGate: streaming perplexity filter equals the batch scorer, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference model from a trusted batch corpus
    val reference = Seq((0L, goodText), (1L, goodText + " more of the same style"))
      .toDF("doc_id", "text")
    val model = graft.operators.TextAnalysis.charNgramModel(reference)

    val inDocs = Seq(
      (10L, goodText + " still looks like the reference"),
      (11L, "zzxqv wkjq ppfzt bbqx vnmz qqpz")) // OOD → gated out
    // pick a threshold between the two batch scores
    val scores = graft.operators.TextAnalysis.ngramLogProbScore(
      inDocs.toDF("doc_id", "text"), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val threshold = (scores(10L) + scores(11L)) / 2

    val in = MemoryStream[(Long, String)]
    val q = StreamingCorpus.lmGate(in.toDF.toDF("doc_id", "text"), model, threshold)
      .select("doc_id", "avg_logp")
      .writeStream.format("memory").queryName("lm_out").outputMode("append").start()
    try {
      in.addData(inDocs: _*)
      q.processAllAvailable()
      val rows = spark.table("lm_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows.keySet == Set(10L), s"got $rows")
      // the streamed score is the batch score, bit for bit
      assert(rows(10L) == scores(10L))
    } finally q.stop()
  }

  test("nbGate: streaming classifier filter equals the batch scorer, zero state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val labeled = Seq(
      (0L, "en", "the quick brown fox jumps over the lazy dog"),
      (1L, "en", "the dog and the fox are quick"),
      (2L, "xx", "zzxqv wkjq ppfzt bbqx vnmz qqpz"),
      (3L, "xx", "ppfzt zzxqv bbqx wkjq")).toDF("doc_id", "lang", "text")
    val model = graft.operators.Classify.nbTrain(labeled, "lang", "text")

    val inDocs = Seq(
      (10L, "the fox is quick and brown"),
      (11L, "vnmz qqpz zzxqv wkjq")) // off-vocabulary → 'xx', gated out
    val batch = graft.operators.Classify.nbScore(
        inDocs.toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(batch(10L)._1 == "en" && batch(11L)._1 == "xx")

    val in = MemoryStream[(Long, String)]
    val q = StreamingCorpus.nbGate(in.toDF.toDF("doc_id", "text"), model, Set("en"))
      .select("doc_id", "pred", "pred_score")
      .writeStream.format("memory").queryName("nb_out").outputMode("append").start()
    try {
      in.addData(inDocs: _*)
      q.processAllAvailable()
      val rows = spark.table("nb_out").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(rows.keySet == Set(10L), s"got $rows")
      // the streamed prediction and score are the batch values, bit for bit
      assert(rows(10L) == batch(10L))
    } finally q.stop()
  }

  test("file-source pipeline survives checkpointed restart without duplicating output") {
    val srcDir = scratchDir("sc_src").toString
    val outDir = scratchDir("sc_out").toString
    val ckpt = scratchDir("sc_ckpt").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("ts", TimestampType)))

    import spark.implicits._
    def writeBatch(rows: Seq[(Long, String, Timestamp)], name: String): Unit =
      rows.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("append").parquet(s"$srcDir/$name")

    def startQuery() =
      StreamingCorpus.clean(
        spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(srcDir))
        .select("doc_id", "fingerprint")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()

    writeBatch(Seq((1L, goodText, ts(0)), (2L, goodText + " tail one two three", ts(1))), "b1")
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // restart from the same checkpoint; add one new doc + one duplicate
    writeBatch(Seq(
      (3L, goodText + " completely different continuation of words", ts(2)),
      (4L, goodText, ts(3))), "b2") // same fingerprint as doc 1 → deduped
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L), s"got ${out.toSeq}")
  }

  test("semanticDedupStream: store-dedup across micro-batches; replayed ids are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    val dir = scratchDir("semstream").toFile.getAbsolutePath
    val store = s"$dir/store"
    val seeds = Seq((0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("id", "v")
    val cents = Similarity.centroids(seeds, "id", "v", c = 2)
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingCorpus.semanticDedupStream(
      in.toDF.toDF("vec_id", "embedding"), store, cents,
      threshold = 0.9, checkpoint = s"$dir/ckpt",
      onSurvivors = (df, bid) => emitted.synchronized {
        df.select("vec_id").collect().foreach(r => emitted += (bid -> r.getLong(0)))
      })
    try {
      // batch A: 10/11 are near-identical in cell 0 → greedy drops 11;
      // 20 alone in cell 1
      in.addData(
        (10L, Array(1f, 0f, 0f, 0f)),
        (11L, Array(0.99f, 0.01f, 0f, 0f)),
        (20L, Array(0f, 1f, 0f, 0f)))
      q.processAllAvailable()
      // batch B: 12 dups history 10, 21 dups history 20 → both drop;
      // 30 is orthogonal to everything → survives
      in.addData(
        (12L, Array(0.98f, 0.02f, 0f, 0f)),
        (21L, Array(0.01f, 0.99f, 0f, 0f)),
        (30L, Array(0f, 0f, 1f, 0f)))
      q.processAllAvailable()
      // batch C: replay of an already-ingested id → exact-id guard, no-op
      in.addData((10L, Array(1f, 0f, 0f, 0f)))
      q.processAllAvailable()
    } finally q.stop()
    val storeIds = spark.read.parquet(store)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(storeIds == Set(10L, 20L, 30L), s"store holds $storeIds")
    assert(emitted.map(_._2).toSet == Set(10L, 20L, 30L) && emitted.size == 3,
      s"each survivor must be emitted exactly once: $emitted")
  }

  test("winnowDedupStream: passage dedup vs the fp store; replayed ids are no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = scratchDir("winstream").toFile.getAbsolutePath
    val store = s"$dir/store"
    val passage = "the copied passage rides along unchanged through every plagiarized document"
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val in = MemoryStream[(Long, String)]
    val q = StreamingCorpus.winnowDedupStream(
      in.toDF.toDF("doc_id", "text"), store, s"$dir/ckpt",
      k = 8, w = 4, minShared = 2L,
      onSurvivors = (df, bid) => emitted.synchronized {
        df.select("doc_id").collect().foreach(r => emitted += (bid -> r.getLong(0)))
      })
    try {
      // batch A: 10/11 share the passage → greedy drops 11; 20 is clean
      in.addData(
        (10L, s"intro one $passage outro alpha"),
        (11L, s"intro two $passage outro beta"),
        (20L, "completely different prose with no repeated span at all here"))
      q.processAllAvailable()
      // batch B: 12 copies history 10's passage → drops; 30 is clean
      in.addData(
        (12L, s"fresh framing yet $passage again"),
        (30L, "zebra quartz flamingo vortex kiwi mango glyph nothing matches"))
      q.processAllAvailable()
      // batch C: replay of an ingested id → exact-id guard, no-op
      in.addData((10L, s"intro one $passage outro alpha"))
      q.processAllAvailable()
    } finally q.stop()
    val fpsTable = StreamingCorpus.winnowFpTable(store)
    val storeFps = fpsTable.read(spark)
    val storeIds = storeFps
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(storeIds == Set(10L, 20L, 30L), s"store holds $storeIds")
    assert(emitted.map(_._2).toSet == Set(10L, 20L, 30L) && emitted.size == 3,
      s"each survivor must be emitted exactly once: $emitted")
    // the df-delta store tracks the fp store exactly (mergeable state
    // ≡ recompute — the TextAnalysisSpec associativity, live here)
    val dfTable = StreamingCorpus.winnowDfTable(store)
    val fromDeltas = graft.operators.TextAnalysis.winnowDfCompact(dfTable.read(spark))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val recomputed = graft.operators.TextAnalysis.winnowDfStore(storeFps, "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fromDeltas == recomputed, "df deltas must sum to the store's true dfs")
    // the survivors' store serves the batch twin identically: a new day
    // against it flags the same passage
    val nextDay = Seq((40L, s"day two reuse $passage here")).toDF("doc_id", "text")
    val pairs = graft.operators.TextAnalysis.winnowNearDupsIncremental(
      nextDay, storeFps, "doc_id", "text",
      k = 8, w = 4, minShared = 2L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 40L)), s"batch twin over the stream's store: $pairs")
  }

  test("winnowAdvanceBatch: every crash/replay interleaving recovers exactly once") {
    import spark.implicits._
    val dir = scratchDir("winreplay").toFile.getAbsolutePath
    val fps = StreamingCorpus.winnowFpTable(s"$dir/store")
    val dfs = StreamingCorpus.winnowDfTable(s"$dir/store")
    val passage = "the copied passage rides along unchanged through every plagiarized document"
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val deliver = (df: org.apache.spark.sql.DataFrame, bid: Long) =>
      df.select("doc_id").collect().foreach(r => emitted += (bid -> r.getLong(0)))
    def advance(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      StreamingCorpus.winnowAdvanceBatch(fps, dfs, batch, "doc_id", "text",
        8, 4, 2L, 1000L, "app", bid, deliver)

    val b0 = Seq(
      (10L, s"intro one $passage outro alpha"),
      (11L, s"intro two $passage outro beta"),
      (20L, "completely different prose with no repeated span at all here"))
      .toDF("doc_id", "text")
    advance(b0, 0L)
    assert(emitted.toSet == Set(0L -> 10L, 0L -> 20L), s"batch 0 survivors: $emitted")

    // interleaving 1: full replay of an applied batch (checkpoint loss
    // AFTER both commits) — state unchanged, survivors re-delivered
    val v1 = (fps.currentVersion(), dfs.currentVersion())
    advance(b0, 0L)
    assert((fps.currentVersion(), dfs.currentVersion()) == v1,
      "replay must not re-commit either store")
    assert(emitted.count(_ == (0L -> 10L)) == 2 && emitted.count(_ == (0L -> 20L)) == 2,
      s"replay re-delivers the SAME survivors (at-least-once emission): $emitted")

    // interleaving 2: crash BETWEEN the fp commit and the df commit —
    // simulate by committing only the fp leg of batch 1, then replaying
    val b1 = Seq(
      (12L, s"fresh framing yet $passage again"),
      (30L, "zebra quartz flamingo vortex kiwi mango glyph nothing matches"))
      .toDF("doc_id", "text")
    val freshFps = graft.operators.TextAnalysis.winnowFingerprints(
      // 12 loses to history's 10 — only 30 survives batch 1
      b1.filter($"doc_id" === 30L), "doc_id", "text", 8, 4)
    fps.appendIfNew(freshFps, "app", 1L)
    assert(!dfs.lastTxn("app").exists(_ >= 1L), "df leg deliberately missing")
    advance(b1, 1L) // the replay must repair the df store AND deliver 30
    assert(dfs.lastTxn("app").exists(_ >= 1L), "replay completes the df commit")
    assert(emitted.count(_ == (1L -> 30L)) == 1 && !emitted.exists(_._2 == 12L),
      s"repair delivers exactly batch 1's survivors: $emitted")
    val fromDeltas = graft.operators.TextAnalysis.winnowDfCompact(dfs.read(spark))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val recomputed = graft.operators.TextAnalysis.winnowDfStore(fps.read(spark), "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fromDeltas == recomputed, "repaired df deltas must equal the recompute")

    // interleaving 3: a later batch proceeds normally over the repaired
    // state — 40 shares the passage with history and drops
    val b2 = Seq((40L, s"day three reuse $passage here"),
      (50L, "quiet unrelated final document closing the fixture")).toDF("doc_id", "text")
    advance(b2, 2L)
    assert(emitted.count(_._1 == 2L) == 1 && emitted.contains(2L -> 50L),
      s"batch 2 keeps only the clean doc: $emitted")
    assert(fps.read(spark).select("doc_id").distinct().count() == 4L,
      "store ends with 10, 20, 30, 50")
  }

  test("spanAdvanceBatch: span-cut vs history; time-traveled replay re-delivers identically") {
    import spark.implicits._
    val dir = scratchDir("spanstream").toFile.getAbsolutePath
    val store = StreamingCorpus.spanStoreTable(s"$dir/store")
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens = one w=8 shingle+
    val cleanedLog = scala.collection.mutable.ArrayBuffer[(Long, Long, String)]()
    val deliver = (df: org.apache.spark.sql.DataFrame, bid: Long) =>
      df.orderBy("doc_id").collect().foreach(r =>
        cleanedLog += ((bid, r.getLong(0), r.getString(3))))
    def advance(batch: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      StreamingCorpus.spanAdvanceBatch(
        store, batch, "doc_id", "text", 8, "app", bid, deliver)

    // batch 0: doc 2 repeats doc 1's run INSIDE the batch — the
    // intra-batch path must cut it; doc 1 (first occurrence) survives
    val b0 = Seq(
      (1L, s"$run original tail words one two three four five six seven"),
      (2L, s"unrelated head words $run and a different ending here now")
    ).toDF("doc_id", "text")
    advance(b0, 0L)
    val afterB0 = cleanedLog.toList
    assert(afterB0.exists(e => e._2 == 1L && e._3.contains("alpha")),
      s"first occurrence keeps its text: $afterB0")
    assert(afterB0.exists(e => e._2 == 2L && !e._3.contains("alpha")),
      s"intra-batch repeat is cut: $afterB0")

    // batch 1: doc 3 repeats the run AGAINST HISTORY (the store)
    val b1 = Seq(
      (3L, s"later document also contains $run in the middle of itself"),
      (4L, "totally fresh content with no overlap at all whatsoever today")
    ).toDF("doc_id", "text")
    advance(b1, 1L)
    val b1Rows = cleanedLog.filter(_._1 == 1L).toList
    assert(b1Rows.exists(e => e._2 == 3L && !e._3.contains("alpha")),
      s"history span is cut: $b1Rows")
    assert(b1Rows.exists(e => e._2 == 4L && e._3.contains("fresh")),
      s"clean doc passes untouched: $b1Rows")

    // replay batch 1 (checkpoint loss): the store version must not
    // advance, and the SAME cleaned rows re-deliver bit-identically —
    // the time-traveled recompute contract
    val vBefore = store.currentVersion()
    advance(b1, 1L)
    assert(store.currentVersion() == vBefore, "replay must not re-commit")
    val replayRows = cleanedLog.filter(_._1 == 1L).drop(b1Rows.size).toList
    assert(replayRows.map(e => (e._2, e._3)) == b1Rows.map(e => (e._2, e._3)),
      s"replay must re-deliver identical output:\n$b1Rows\nvs\n$replayRows")

    // a re-ingested document (source replay beyond the checkpoint)
    // cleans to empty — every shingle is already history
    val b2 = Seq((1L, s"$run original tail words one two three four five six seven"))
      .toDF("doc_id", "text")
    advance(b2, 2L)
    val reIngested = cleanedLog.filter(_._1 == 2L).head
    assert(reIngested._3.isEmpty, s"full re-ingest cuts to empty: $reIngested")

    // the stream's store serves the batch twin identically (q202 shape)
    val nextDay = Seq((9L, s"day four copy of $run appears once more here"))
      .toDF("doc_id", "text")
    val compact = store.read(spark)
      .groupBy("h").agg(min(col("first_key")).as("first_key"))
    val spans = graft.operators.Dedup.duplicateSpansIncremental(
      nextDay, compact, "doc_id", "text", 8).collect()
    assert(spans.length == 1 && spans.head.getLong(0) == 9L,
      s"batch twin over the stream's store: ${spans.mkString}")
  }
}
