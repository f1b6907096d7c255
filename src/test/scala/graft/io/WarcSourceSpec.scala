package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class WarcSourceSpec extends SparkSpec {

  // -- fixture builders: byte-accurate ISO 28500 framing ----------------

  private def httpBlock(body: String, mime: String = "text/html; charset=utf-8",
      status: String = "200 OK"): String =
    s"HTTP/1.1 $status\r\nContent-Type: $mime\r\n\r\n$body"

  private def record(
      wtype: String,
      url: Option[String],
      block: String,
      ctype: String = "application/http; msgtype=response",
      date: String = "2026-01-02T03:04:05Z"): String = {
    val clen = block.getBytes(UTF_8).length
    val uri = url.map(u => s"WARC-Target-URI: $u\r\n").getOrElse("")
    s"WARC/1.0\r\nWARC-Type: $wtype\r\n" + uri +
      s"WARC-Date: $date\r\nWARC-Record-ID: <urn:uuid:$wtype-1>\r\n" +
      s"Content-Type: $ctype\r\nContent-Length: $clen\r\n\r\n$block\r\n\r\n"
  }

  private def writeFile(dir: java.io.File, name: String, bytes: Array[Byte]): Unit =
    Files.write(new java.io.File(dir, name).toPath, bytes)

  test("multi-record file: http responses unwrap, non-http records pass through") {
    val dir = scratchDir("warcspec").toFile
    // multibyte body: content-length counts BYTES, not chars
    val bodyA = "<html><body>café € page</body></html>"
    val warc =
      record("response", Some("https://a.example.com/x"), httpBlock(bodyA)) +
        record("request", Some("https://a.example.com/x"),
          "GET /x HTTP/1.1\r\nHost: a.example.com\r\n\r\n",
          ctype = "application/http; msgtype=request") +
        record("metadata", Some("https://a.example.com/x"),
          "fetchDurationMs: 12", ctype = "application/warc-fields")
    writeFile(dir, "seg.warc", warc.getBytes(UTF_8))

    val rows = Sources.warc(spark, dir.getAbsolutePath)
      .orderBy("warc_type").collect()
    assert(rows.map(_.getAs[String]("warc_type")).toSeq ==
      Seq("metadata", "request", "response"))
    val resp = rows(2)
    assert(resp.getAs[String]("url") == "https://a.example.com/x")
    assert(resp.getAs[String]("fetch_ts") == "2026-01-02T03:04:05Z")
    assert(resp.getAs[String]("mime") == "text/html")
    assert(resp.getAs[Int]("http_status") == 200)
    assert(new String(resp.getAs[Array[Byte]]("payload"), UTF_8) == bodyA)
    val meta = rows(0)
    assert(meta.getAs[String]("mime") == "application/warc-fields")
    assert(meta.isNullAt(meta.fieldIndex("http_status")))
    assert(new String(meta.getAs[Array[Byte]]("payload"), UTF_8) ==
      "fetchDurationMs: 12")
    // request records are application/http too: they unwrap (empty
    // body here) but carry NO status — the start line is "GET ... HTTP/1.1"
    val req = rows(1)
    assert(req.isNullAt(req.fieldIndex("http_status")))
    assert(req.getAs[Array[Byte]]("payload").isEmpty)
  }

  test("a block that is neither response nor request throws the typed framing error") {
    val warc = record("response", Some("https://a.example.com/x"),
      "NONSENSE\r\nHost: a.example.com\r\n\r\n")
    val e = intercept[IllegalArgumentException] {
      WarcParse.records(warc.getBytes(UTF_8))
    }
    assert(e.getMessage.contains("http start line"))
  }

  test(".warc.gz: concatenated per-record gzip members decode as one stream") {
    val dir = scratchDir("warcgz").toFile
    def gz(s: String): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(s.getBytes(UTF_8)); g.close()
      bo.toByteArray
    }
    val r1 = record("response", Some("https://b.example.com/1"),
      httpBlock("<p>one</p>"))
    val r2 = record("response", Some("https://b.example.com/2"),
      httpBlock("<p>two</p>"))
    writeFile(dir, "seg.warc.gz", gz(r1) ++ gz(r2))
    val rows = Sources.warc(spark, dir.getAbsolutePath).orderBy("url").collect()
    assert(rows.length == 2)
    assert(new String(rows(0).getAs[Array[Byte]]("payload"), UTF_8) == "<p>one</p>")
    assert(new String(rows(1).getAs[Array[Byte]]("payload"), UTF_8) == "<p>two</p>")
  }

  test("malformed framing throws with the byte offset, never silently drops") {
    val overrun = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999\r\n\r\nshort"
    val e1 = intercept[IllegalArgumentException] {
      WarcParse.records(overrun.getBytes(UTF_8))
    }
    assert(e1.getMessage.contains("Content-Length 999"))
    val noColon = "WARC/1.0\r\nWARC-Type response\r\n\r\n"
    val e2 = intercept[IllegalArgumentException] {
      WarcParse.records(noColon.getBytes(UTF_8))
    }
    assert(e2.getMessage.contains("no colon"))
    val notWarc = "HELLO/1.0\r\n\r\n"
    val e3 = intercept[IllegalArgumentException] {
      WarcParse.records(notWarc.getBytes(UTF_8))
    }
    assert(e3.getMessage.contains("version line"))
    val noLen = "WARC/1.0\r\nWARC-Type: metadata\r\n\r\n"
    val e4 = intercept[IllegalArgumentException] {
      WarcParse.records(noLen.getBytes(UTF_8))
    }
    assert(e4.getMessage.contains("no Content-Length"))
  }

  test("recordsCol: in-plan parse of synthesized warc bytes round-trips") {
    import spark.implicits._
    val r1 = record("response", Some("https://c.example.com/9"),
      httpBlock("<p>in-plan café</p>"))
    val df = Seq(("f1", r1)).toDF("f", "w")
      .select(col("f"), WarcParse.recordsCol(col("w").cast("binary")).as("recs"))
      .select(col("f"), explode(col("recs")).as("r"))
      .select(col("r.url"), col("r.mime"), col("r.http_status"),
        col("r.payload").cast("string").as("body"))
    val row = df.head()
    assert(row.getString(0) == "https://c.example.com/9")
    assert(row.getString(1) == "text/html")
    assert(row.getInt(2) == 200)
    assert(row.getString(3) == "<p>in-plan café</p>")
  }

  test("warcStreamed: constant-memory path emits byte-identical rows to warc (plain + gz)") {
    val dir = scratchDir("warcstream").toFile
    def gz(s: String): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(s.getBytes(UTF_8)); g.close()
      bo.toByteArray
    }
    writeFile(dir, "a.warc",
      (record("response", Some("https://s.example.com/1"), httpBlock("<p>one café</p>")) +
        record("metadata", Some("https://s.example.com/1"),
          "k: v", ctype = "application/warc-fields")).getBytes(UTF_8))
    writeFile(dir, "b.warc.gz",
      gz(record("response", Some("https://s.example.com/2"), httpBlock("<p>two</p>"))) ++
        gz(record("response", Some("https://s.example.com/3"), httpBlock("<p>three</p>"))))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("warc_type"), col("url"), col("fetch_ts"), col("record_id"),
        col("mime"), col("http_status"), col("payload").cast("string").as("body"))
      .orderBy("url", "warc_type")
      .collect().map(_.toString).toSeq
    val eager = canon(Sources.warc(spark, dir.getAbsolutePath))
    val streamed = canon(Sources.warcStreamed(spark, dir.getAbsolutePath))
    assert(eager.size == 4 && streamed == eager,
      s"streamed $streamed\nvs eager $eager")
    // the listing must NOT read file contents: content is pruned from
    // the binaryFile scan (the property that makes this path constant-
    // memory at any archive size)
    val scan = Sources.warcStreamed(spark, dir.getAbsolutePath)
      .queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema: struct<path:string>"),
      s"warcStreamed's listing scan must prune content:\n$scan")
  }

  test("framing errors through the sources name the offending FILE") {
    val dir = scratchDir("warcbadfile").toFile
    writeFile(dir, "ok.warc",
      record("response", Some("https://e.example.com/1"),
        httpBlock("<p>fine</p>")).getBytes(UTF_8))
    writeFile(dir, "corrupt.warc", "HELLO/1.0\r\n\r\n".getBytes(UTF_8))
    def rootMessages(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    val e1 = intercept[Exception] {
      Sources.warc(spark, dir.getAbsolutePath).count()
    }
    assert(rootMessages(e1).exists(m =>
      m.contains("corrupt.warc") && m.contains("version line")),
      s"eager path must name the file: ${rootMessages(e1)}")
    val e2 = intercept[Exception] {
      Sources.warcStreamed(spark, dir.getAbsolutePath).count()
    }
    assert(rootMessages(e2).exists(m =>
      m.contains("corrupt.warc") && m.contains("version line")),
      s"streamed path must name the file: ${rootMessages(e2)}")
  }

  test("warcStreamed: an abandoned iterator (limit plan) completes cleanly") {
    val dir = scratchDir("warcabandon").toFile
    // many records in one file so a limit(1) abandons the stream mid-file;
    // the task-completion hook owns the close — no error, no hang
    val many = (1 to 50).map(i =>
      record("response", Some(s"https://l.example.com/$i"),
        httpBlock(s"<p>rec $i</p>"))).mkString("")
    writeFile(dir, "many.warc", many.getBytes(UTF_8))
    val one = Sources.warcStreamed(spark, dir.getAbsolutePath).limit(1).collect()
    assert(one.length == 1)
  }

  test("format dispatch: 'warc' routes, unknown still fails typed") {
    val dir = scratchDir("warcdisp").toFile
    writeFile(dir, "seg.warc",
      record("response", Some("https://d.example.com/1"),
        httpBlock("<p>x</p>")).getBytes(UTF_8))
    assert(Sources.read(spark, "warc", dir.getAbsolutePath).count() == 1)
    intercept[UnsupportedFormatException] {
      Sources.read(spark, "avro", dir.getAbsolutePath)
    }
  }
}
