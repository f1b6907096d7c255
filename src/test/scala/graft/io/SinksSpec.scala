package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SinksSpec extends SparkSpec {

  test("partitioned parquet write prunes partitions at planning time") {
    val dir = scratchDir("part_sink").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("lang_part", coalesce(col("lang"), lit("und")))
    Sinks.parquetPartitioned(docs, dir, Seq("lang_part"))

    // hive layout on disk
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("lang_part=")))
    assert(dirs.length > 1)

    // a filter on the partition column must reach PartitionFilters and
    // scan only the matching directory
    val q = spark.read.parquet(dir).filter(col("lang_part") === "en")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang_part"),
      s"partition filter missing from scan:\n$scan")
    val expect = docs.filter(col("lang_part") === "en").count()
    assert(q.count() == expect && expect > 0)
  }

  test("format flip: row formats -> parquet, columnar formats -> csv") {
    import spark.implicits._
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val d1 = scratchDir("flip1").toString
    val d2 = scratchDir("flip2").toString
    val d3 = scratchDir("flip3").toString
    val d4 = scratchDir("flip4").toString
    assert(Sinks.writeFlipped(df, "csv", d1) == "parquet")
    assert(Sinks.writeFlipped(df, "parquet", d2) == "csv")
    assert(Sinks.writeFlipped(df, "json", d3) == "parquet")
    assert(Sinks.writeFlipped(df, "orc", d4) == "csv")
    assert(spark.read.parquet(d1).count() == 2)
    assert(spark.read.option("header", "true").csv(d2).count() == 2)
    intercept[UnsupportedFormatException](Sinks.writeFlipped(df, "avro", d1))
  }

  test("json and orc sources/sinks round-trip through the format dispatch") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1.5), ("b", 2L, 2.5)).toDF("k", "v", "x")
    val dj = scratchDir("io_json").toString
    val do_ = scratchDir("io_orc").toString
    Sinks.json(df, dj)
    Sinks.orc(df, do_)
    val viaJson = Sources.read(spark, "json", dj)
      .select("k", "v", "x").orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val viaOrc = Sources.read(spark, "orc", do_)
      .select("k", "v", "x").orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(viaJson.toSeq == Seq(("a", 1L, 1.5), ("b", 2L, 2.5)))
    assert(viaOrc.toSeq == viaJson.toSeq)
    intercept[UnsupportedFormatException](Sources.read(spark, "xml", dj))
  }

  test("text and binary sources: raw-corpus lines and whole-file bytes through the dispatch") {
    import java.nio.file.{Files => JFiles, Paths}
    val d = scratchDir("io_raw").toString
    JFiles.write(Paths.get(d, "a.txt"), "line one\nline two\n".getBytes("UTF-8"))
    JFiles.write(Paths.get(d, "b.txt"), "line three\n".getBytes("UTF-8"))
    val lines = Sources.read(spark, "text", d)
    assert(lines.columns.toSeq == Seq("value"), "one string column per line")
    assert(lines.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("line one", "line three", "line two"))
    val bin = Sources.read(spark, "binary", d)
    assert(bin.columns.contains("content") && bin.columns.contains("path"),
      s"binaryFile schema: ${bin.columns.toSeq}")
    assert(bin.count() == 2, "one row per FILE, not per line")
    val byName = bin.collect()
      .map(r => (r.getAs[String]("path").split('/').last,
        new String(r.getAs[Array[Byte]]("content"), "UTF-8"))).toMap
    assert(byName("a.txt") == "line one\nline two\n" && byName("b.txt") == "line three\n",
      "content bytes must round-trip exactly")
  }

  test("compact rewrites a fragmented directory to the target file count, data intact") {
    val dir = scratchDir("compact").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.repartition(64).write.mode("overwrite").parquet(dir)
    def dataFiles() = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(dataFiles() == 64)
    val before = docs.orderBy("doc_id").collect().map(_.getLong(0)).toSeq

    val parts = Sinks.compact(spark, dir, "parquet", targetBytes = 8L * 1024 * 1024)
    assert(parts >= 1 && dataFiles() == parts && parts < 8,
      s"expected few compacted files, got ${dataFiles()} (parts=$parts)")
    val after = spark.read.parquet(dir).orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(after == before)
    assert(!new java.io.File(dir + "__compact_tmp").exists(), "temp dir must be swapped away")
  }
}
