package graft.lake

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.logging.log4j.Level
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BlockProbe

import graft.SparkSpec

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): VersionedTable = {
    val root = scratchDir("graft-lake-spec").toString
    VersionedTable(root, "k")
  }

  private def rows(n: Range, tag: String) =
    n.map(i => (i.toLong, tag, i * 10.0)).toDF("k", "tag", "v")

  test("append creates versions; each snapshot is immutable and replayable") {
    val t = freshTable()
    t.append(rows(1 to 100, "a").repartition(2))
    t.append(rows(101 to 150, "b").repartition(2))
    assert(t.currentVersion() == 2)
    assert(t.read(spark, asOf = Some(1)).count() == 100)
    assert(t.read(spark).count() == 150)
    // version 1 unchanged by the later commit
    assert(t.read(spark, asOf = Some(1)).agg(max("k")).as[Long].head() == 100L)
  }

  test("merge upserts: matched keys replaced, unmatched inserted; old version intact") {
    val t = freshTable()
    t.append(rows(1 to 100, "base"))
    val updates = (90 to 110).map(i => (i.toLong, "upd", -1.0)).toDF("k", "tag", "v")
    t.merge(updates)

    val cur = t.read(spark)
    assert(cur.count() == 110) // 100 base − 11 replaced + 21 upserts ⇒ 89 + 21
    assert(cur.filter($"tag" === "upd").count() == 21)
    assert(cur.filter($"k" === 95 && $"tag" === "base").count() == 0)
    // time travel still sees pre-merge state
    assert(t.read(spark, asOf = Some(1)).filter($"tag" === "upd").count() == 0)
  }

  test("merge rewrites only files whose zone overlaps an update key") {
    val t = freshTable()
    // two disjoint key zones in separate files via repartitionByRange
    t.append(rows(1 to 100, "lo").repartitionByRange(2, $"k"))
    val before = t.liveFiles().toSet
    assert(before.size >= 2)

    val loMax = t.snapshot(1).files.map(_.maxKey).min // end of the low zone
    val updates = Seq((1L, "upd", 0.0)).toDF("k", "tag", "v")
    t.merge(updates)

    val after = t.liveFiles().toSet
    val carried = before.intersect(after)
    // the file(s) whose zone excludes key 1 are carried by reference
    assert(carried.nonEmpty, s"no file carried: zones up to $loMax should be untouched")
    assert(t.read(spark).count() == 100)
  }

  test("readRange prunes non-overlapping files before Spark lists them") {
    val t = freshTable()
    t.append(rows(1 to 1000, "a").repartitionByRange(4, $"k"))
    val all = t.liveFiles()
    assert(all.size == 4)

    val pruned = t.readRange(spark, 990, 995)
    // the scan's input files are a strict subset of the snapshot
    val scanned = pruned.inputFiles.toSet
    assert(scanned.size < all.size, s"expected pruning, scanned ${scanned.size}/${all.size}")
    assert(pruned.count() == 6)

    // fully-disjoint range: empty result, schema preserved
    val none = t.readRange(spark, 5000, 6000)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "tag", "v"))
  }

  test("compact rewrites layout, not data; vacuum drops only unreferenced files") {
    val t = freshTable()
    t.append(rows(1 to 50, "a").repartition(4))
    t.append(rows(51 to 60, "b").repartition(3))
    val beforeData = t.read(spark).orderBy("k").collect().toSeq
    t.compact(spark, targetFiles = 1)
    assert(t.liveFiles().size == 1)
    assert(t.read(spark).orderBy("k").collect().toSeq == beforeData)

    val deleted = t.vacuum(retainVersions = 1)
    assert(deleted >= 7) // v1's 4 + v2's 3 data files are unreferenced
    // latest still fully readable; dropped version is gone
    assert(t.read(spark).count() == 60)
    intercept[IllegalArgumentException](t.snapshot(1))
  }

  test("vacuum keeps only retained files and unpublished writes in grace") {
    val t = freshTable()
    t.append(rows(1 to 20, "a").repartition(2)) // v1
    t.deleteRange(spark, 1, 20) // v2: delete-all, a schema-only file
    t.overwrite(rows(1 to 0, "e")) // v3: empty overwrite, the same
    t.append(rows(30 to 40, "b")) // v4
    val data = Paths.get(t.root, "data").toAbsolutePath
    def put(dir: String, name: String): java.nio.file.Path =
      Files.writeString(Files.createDirectories(data.resolve(dir)).resolve(name), "x")
    put(VersionDirs.attemptName(4), "part-lost-race.parquet") // a racer that lost v4's publish
    val crashed = put(VersionDirs.attemptName(5), "part-crashed.parquet") // never published
    val stale = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - VersionedTable.VacuumGraceMs - 60000L)
    Files.setLastModifiedTime(crashed, stale)
    Files.setLastModifiedTime(crashed.getParent, stale)
    val inFlight = put(VersionDirs.attemptName(6), "part-in-flight.parquet") // fresh: still writing
    t.vacuum(retainVersions = 1)
    val live = t.liveFiles().map(p => Paths.get(new java.net.URI(p).getPath)).toSet
    val left = Files.walk(data)
    val onDisk = try left.iterator().asScala.filter(_ != data).toSet finally left.close()
    val sidecars = live.map(p => p.resolveSibling(s".${p.getFileName}.crc"))
    val want = live ++ sidecars ++ live.map(_.getParent) + inFlight + inFlight.getParent
    assert(onDisk == want, s"left behind: ${(onDisk -- want).toSeq.sorted.mkString(", ")}; " +
      s"gone: ${(want -- onDisk).toSeq.sorted.mkString(", ")}")
    assert(t.read(spark).count() == 11)
  }

  test("additive schema evolution: old files read back with nulls, no rewrite") {
    val t = freshTable()
    t.append(rows(1 to 10, "a")) // (k, tag, v)
    val v1Files = t.liveFiles().toSet

    val widened = (11 to 15).map(i => (i.toLong, "b", i * 10.0, s"extra$i"))
      .toDF("k", "tag", "v", "note")
    t.append(widened)
    // evolution did not rewrite version-1 data files
    assert(v1Files.subsetOf(t.liveFiles().toSet))

    val cur = t.read(spark)
    assert(cur.columns.toSeq == Seq("k", "tag", "v", "note"))
    assert(cur.filter($"k" <= 10 && $"note".isNull).count() == 10)
    assert(cur.filter($"k" > 10 && $"note".isNotNull).count() == 5)
    // time travel predates the evolution: no `note` column at v1
    assert(t.read(spark, asOf = Some(1)).columns.toSeq == Seq("k", "tag", "v"))

    // merge with evolved updates keeps working (old files gain nulls)
    t.merge(Seq((1L, "upd", 0.0, "n1")).toDF("k", "tag", "v", "note"))
    val merged = t.read(spark)
    assert(merged.filter($"k" === 1 && $"note" === "n1").count() == 1)
    assert(merged.count() == 15)

    // a type change is rejected loudly
    intercept[IllegalArgumentException] {
      t.append(Seq((99, "x", 1.0)).toDF("k", "tag", "v")) // k int, table k bigint
    }
  }

  test("tableCount answers count(*) from manifest stats alone") {
    val t = freshTable()
    t.append(rows(1 to 123, "a").repartition(3))
    t.merge(rows(120 to 130, "b"))
    assert(t.tableCount() == t.read(spark).count())
    assert(t.tableCount(asOf = Some(1)) == 123)
    assert(VersionedTable(
      scratchDir("graft-lake-empty").toString, "k").tableCount() == 0L)
  }

  test("compactByRange restores pruning power after interleaved appends") {
    val t = freshTable()
    // interleaved key ranges: every file's zone spans ~the whole keyspace
    t.append((1 to 1000 by 4).map(i => (i.toLong, "a", 0.0)).toDF("k", "tag", "v"))
    t.append((2 to 1000 by 4).map(i => (i.toLong, "b", 0.0)).toDF("k", "tag", "v"))
    t.append((3 to 1000 by 4).map(i => (i.toLong, "c", 0.0)).toDF("k", "tag", "v"))
    t.append((4 to 1000 by 4).map(i => (i.toLong, "d", 0.0)).toDF("k", "tag", "v"))
    val smearedScan = t.readRange(spark, 10, 40).inputFiles.length
    assert(smearedScan >= 4, "interleaved zones should defeat pruning")

    val data = t.read(spark).orderBy("k").collect().toSeq
    t.compactByRange(spark, targetFiles = 4)
    assert(t.read(spark).orderBy("k").collect().toSeq == data) // layout only

    val clusteredScan = t.readRange(spark, 10, 40).inputFiles.length
    assert(clusteredScan == 1,
      s"disjoint zones should prune to one file, scanned $clusteredScan")
    assert(t.readRange(spark, 10, 40).count() == 31)
  }

  test("compactZOrder + declared stats: zone pruning works on BOTH dimensions") {
    val root = scratchDir("graft-lake-z").toString
    val t = VersionedTable(root, "k", statsCols = Seq("v"))
    // k and v deliberately anti-correlated so one-dimensional range
    // clustering cannot serve both
    val data = (1 to 4096).map(i => (i.toLong, "x", (4097 - i) * 1.0))
      .toDF("k", "tag", "v")
    t.append(data.repartition(8)) // random layout: zones span everything
    val before = t.readRangeOn(spark, "v", 1.0, 256.0).inputFiles.length
    assert(before == 8, "random layout must defeat value pruning")

    t.compactZOrder(spark, Seq("k", "v"), targetFiles = 16)
    assert(t.read(spark).count() == 4096)
    val filesK = t.readRange(spark, 1, 256).inputFiles.length
    val filesV = t.readRangeOn(spark, "v", 1.0, 256.0).inputFiles.length
    assert(filesK < 16 && filesV < 16,
      s"z-order must narrow both dimensions: k=$filesK v=$filesV of 16")
    assert(t.readRangeOn(spark, "v", 1.0, 256.0).count() == 256)

    // range clustering on k: perfect on k, smeared on v
    t.compactByRange(spark, targetFiles = 16)
    assert(t.readRange(spark, 1, 256).inputFiles.length == 1)
    assert(t.readRangeOn(spark, "v", 1.0, 256.0).count() == 256)
  }

  test("stats columns absent from a batch (pre-evolution) scan conservatively") {
    val root = scratchDir("graft-lake-st").toString
    val t = VersionedTable(root, "k", statsCols = Seq("w"))
    t.append(rows(1 to 50, "a")) // (k, tag, v): no `w` column yet
    t.append((51 to 60).map(i => (i.toLong, "b", 0.0, i * 1.0))
      .toDF("k", "tag", "v", "w"))
    // old files carry no `w` zone → conservatively scanned, not dropped
    val out = t.readRangeOn(spark, "w", 55.0, 58.0)
    assert(out.count() == 4)
    assert(out.inputFiles.nonEmpty)
  }

  test("bloom index: point reads skip files the value never landed in") {
    val root = scratchDir("graft-lake-bloom").toString
    val t = VersionedTable(root, "k", bloomCols = Seq("tag"))
    // 4096 rows over 1024 distinct tags in a random 8-file layout:
    // each tag lands in at most 4 files, but every file's key/value
    // zones span everything — only a bloom can prune equality here
    t.append((1 to 4096).map(i => (i.toLong, s"u${i % 1024}", i * 1.0))
      .toDF("k", "tag", "v").repartition(8))

    val out = t.readEquals(spark, "tag", "u17")
    assert(out.count() == 4)
    assert(out.inputFiles.length <= 4,
      s"bloom must prune the random layout: ${out.inputFiles.length} of 8 files")
    // definitely-absent value: no file survives the probe
    assert(t.readEquals(spark, "tag", "no-such-tag").count() == 0)
    assert(t.readEquals(spark, "tag", "no-such-tag").inputFiles.isEmpty)

    // files committed before the bloom declaration scan conservatively
    val root2 = scratchDir("graft-lake-bloom2").toString
    VersionedTable(root2, "k").append(rows(1 to 50, "old"))
    val t2 = VersionedTable(root2, "k", bloomCols = Seq("tag"))
    t2.append(rows(51 to 60, "new"))
    assert(t2.readEquals(spark, "tag", "old").count() == 50)
    // bloomless v1 files must all stay in the scan set; the bloom'd v2
    // file is pruned for an absent value
    val preFiles = t2.liveFiles(asOf = Some(1)).length
    assert(t2.readEquals(spark, "tag", "none").inputFiles.length == preFiles,
      "exactly the bloomless pre-declaration files must be scanned")
  }

  test("refreshMix: budgets attained, idempotent, re-attained across upserts") {
    val root = scratchDir("graft-lake-mix").toString
    val t = VersionedTable(root, "k")
    // two strata with token counts 10..~400; budgets well under supply
    def feed(r: Range) = r.map { i =>
      (i.toLong, if (i % 3 == 0) "fr" else "en", (i % 40 + 1) * 10L)
    }.toDF("k", "lang", "toks")
    t.append(feed(1 to 300))
    val targets = Map("en" -> 4000L, "fr" -> 2500L)
    t.refreshMix(spark, "lang", "toks", targets)

    def attained(tbl: VersionedTable) = tbl.read(spark)
      .groupBy("lang").agg(sum("toks").as("got"))
      .as[(String, Long)].collect().toMap
    val got1 = attained(t)
    val maxDoc = 400L
    targets.foreach { case (lang, tgt) =>
      assert(got1(lang) >= tgt && got1(lang) < tgt + maxDoc,
        s"$lang: got ${got1(lang)} for target $tgt (overshoot must be < one doc)")
    }
    // idempotent: a second refresh keeps exactly the same rows
    val keys1 = t.read(spark).select("k").as[Long].collect().sorted.toSeq
    t.refreshMix(spark, "lang", "toks", targets)
    assert(t.read(spark).select("k").as[Long].collect().sorted.toSeq == keys1)

    // upsert a fresh batch, refresh again: budgets re-attained, and the
    // survivors are exactly the weighted sample of the live rows
    t.merge(feed(301 to 450))
    val live = t.read(spark)
    val expect = graft.operators.ScaleOps
      .weightedTokenSample(live, "k", "lang", "toks", targets)
      .select("k").as[Long].collect().sorted.toSeq
    t.refreshMix(spark, "lang", "toks", targets)
    val got2 = attained(t)
    targets.foreach { case (lang, tgt) =>
      assert(got2(lang) >= tgt && got2(lang) < tgt + maxDoc)
    }
    assert(t.read(spark).select("k").as[Long].collect().sorted.toSeq == expect)
    // the full pre-mix corpus is still one time-travel away
    assert(t.tableCount(asOf = Some(1)) == 300)
  }

  test("changes: merge feeds inserts+updates, compaction feeds nothing, mix feeds deletes") {
    val t = freshTable()
    t.append(rows(1 to 100, "base"))
    // update 90..100 with DIFFERENT values, insert 101..110; rows the
    // rewrite carries verbatim must not appear in the feed
    t.merge((90 to 110).map(i => (i.toLong, "upd", -1.0)).toDF("k", "tag", "v"))

    val feed = t.changes(spark, 1, 2).cache()
    assert(feed.filter($"_change_type" === "insert").select("k").as[Long]
      .collect().sorted.toSeq == (101L to 110L))
    assert(feed.filter($"_change_type" === "update").select("k").as[Long]
      .collect().sorted.toSeq == (90L to 100L))
    assert(feed.filter($"_change_type" === "delete").count() == 0)
    // updates carry the NEW values
    assert(feed.filter($"_change_type" === "update").select("v").as[Double]
      .collect().forall(_ == -1.0))

    // layout-only commit: empty feed even though every file changed
    t.compactByRange(spark, targetFiles = 4)
    assert(t.changes(spark, 2, 3).isEmpty)

    // an update that nulls a field surfaces the null, not the old value
    t.merge(Seq((5L, null.asInstanceOf[String], 5.0)).toDF("k", "tag", "v"))
    val nulled = t.changes(spark, 3, 4).filter($"k" === 5)
    assert(nulled.count() == 1)
    assert(nulled.head().isNullAt(nulled.columns.indexOf("tag")))

    // refreshMix drops rows → the feed reports them as deletes, with
    // the OLD values readable
    t.refreshMix(spark, "tag", "v", Map("base" -> 100L))
    val mixFeed = t.changes(spark, 4, 5)
    assert(mixFeed.filter($"_change_type" === "delete").count() > 0)
    assert(mixFeed.filter($"_change_type" === "insert").count() == 0)
  }

  test("incremental aggregate: maintained state equals the recompute exactly") {
    val t = freshTable()
    t.append(rows(1 to 100, "a"))
    val g = Seq("tag"); val s = Seq("v")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select($"tag", $"cnt", $"sum_v".cast("double"))
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
    var state = IncrementalAgg.init(t.read(spark), g, s)

    // merge: updates (some switching group) + inserts
    t.merge((90 to 120).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", i * 3.0)).toDF("k", "tag", "v"))
    state = IncrementalAgg.maintain(state, t.changes(spark, 1, 2, preImages = true), g, s)
    assert(snap(state) == snap(IncrementalAgg.init(t.read(spark), g, s)))

    // deletes (mix refresh drops rows) maintain through too
    t.refreshMix(spark, "tag", "v", Map("a" -> 2000L, "b" -> 500L))
    state = IncrementalAgg.maintain(state, t.changes(spark, 2, 3, preImages = true), g, s)
    assert(snap(state) == snap(IncrementalAgg.init(t.read(spark), g, s)))

    // a postimage-only feed cannot subtract update preimages — rejected
    // loudly at execution, never a silently wrong aggregate
    val thrown = intercept[Exception](
      IncrementalAgg.maintain(state, t.changes(spark, 1, 2), g, s).collect())
    assert(thrown.getMessage.contains("preImages"))
  }

  test("CHECK constraints: violating commits abort with no version and no orphans") {
    val root = scratchDir("graft-lake-ck").toString
    val t = VersionedTable(root, "k", checks = Seq("v >= 0", "length(tag) > 0"))
    t.append(rows(1 to 50, "ok"))
    assert(t.currentVersion() == 1)

    // a violating append: loud failure naming the check, version
    // unchanged, data dir cleaned up
    val bad = Seq((51L, "x", -5.0), (52L, "x", 3.0)).toDF("k", "tag", "v")
    val e = intercept[IllegalArgumentException](t.append(bad))
    assert(e.getMessage.contains("v >= 0") && e.getMessage.contains("1 rows"))
    assert(t.currentVersion() == 1)
    assert(t.read(spark).count() == 50)
    assert(dataVersions(t) == Seq(1))

    // a violating MERGE aborts the same way (survivor rewrite included)
    val e2 = intercept[IllegalArgumentException](
      t.merge(Seq((10L, "", 1.0)).toDF("k", "tag", "v")))
    assert(e2.getMessage.contains("length(tag) > 0"))
    assert(t.currentVersion() == 1)

    // NULL passes (SQL CHECK semantics) — and a later valid commit
    // proves the aborted attempts left no residue in the version chain
    t.append(Seq((60L, "t", null.asInstanceOf[java.lang.Double]))
      .toDF("k", "tag", "v"))
    assert(t.currentVersion() == 2)
    assert(t.read(spark).count() == 51)
  }

  test("changes reads only changed files: no Spark job builds a feed over 40 files") {
    val t = freshTable()
    t.append(spark.range(1, 401, 1, 40)
      .select($"id".as("k"), lit("a").as("tag"), ($"id" * 10.0).as("v")))
    assert(t.liveFiles().size == 40)
    t.merge(rows(5 to 5, "m")) // touches the one file holding keys 1..10
    var feed: DataFrame = null
    val jobs = logJobs { feed = t.changes(spark, 1, 2) }
    assert(jobs.isEmpty, s"building the feed ran: ${jobs.mkString(", ")}")
    assert(feed.select("_change_type", "k", "tag").collect().map(_.toString).toSeq == Seq("[update,5,m]"))
  }

  test("materialized aggregate: incremental refresh tracks the table exactly") {
    val t = freshTable()
    val aggRoot = scratchDir("graft-lake-magg").toString
    val m = new MaterializedAgg(t, aggRoot, Seq("tag"), Seq("v"))
    def recompute() = IncrementalAgg.init(t.read(spark), Seq("tag"), Seq("v"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select($"tag", $"cnt", $"sum_v".cast("double"))
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq

    t.append(rows(1 to 100, "a"))
    m.refresh(spark) // first refresh: full aggregate
    assert(snap(m.read(spark)) == snap(recompute()))

    t.merge((50 to 130).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b", i * 2.0)).toDF("k", "tag", "v"))
    t.append(rows(200 to 220, "c"))
    m.refresh(spark) // catches up across BOTH commits in one feed
    assert(snap(m.read(spark)) == snap(recompute()))
    assert(m.currentVersion() == t.currentVersion())

    // replayed refresh (crash recovery): cursor already current, no-op
    val before = snap(m.read(spark))
    m.refresh(spark)
    assert(snap(m.read(spark)) == before)
  }

  test("deleteRange rewrites only overlapping files; feed and time travel agree") {
    val root = scratchDir("graft-lake-del").toString
    val t = VersionedTable(root, "k")
    t.append(rows(1 to 100, "a").repartitionByRange(4, $"k")
      .sortWithinPartitions($"k"))
    val before = t.liveFiles().toSet

    t.deleteRange(spark, 10, 40)
    assert(t.read(spark).count() == 69) // 31 keys removed
    assert(t.read(spark).filter($"k".between(10, 40)).count() == 0)
    // files whose zones miss [10,40] carried by reference, not rewritten
    val after = t.liveFiles().toSet
    assert((before intersect after).nonEmpty, "non-overlapping files must carry over")
    // the change feed reports exactly the deleted keys
    val feed = t.changes(spark, 1, 2)
    assert(feed.filter($"_change_type" =!= "delete").count() == 0)
    assert(feed.select("k").as[Long].collect().sorted.toSeq == (10L to 40L))
    // time travel still sees the pre-delete state
    assert(t.read(spark, asOf = Some(1)).count() == 100)
    // an out-of-range delete is a no-op WITHOUT a new version
    val v = t.currentVersion()
    t.deleteRange(spark, 500, 600)
    assert(t.currentVersion() == v)
  }

  test("history lists every version's files, rows, and txn markers") {
    val t = freshTable()
    t.append(rows(1 to 100, "a").repartition(2))
    t.upsertIfNew(rows(101 to 110, "b"), "writer-x", 7L)
    t.deleteRange(spark, 1, 50)
    val h = t.history(spark).orderBy("version")
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getString(3)))
    assert(h.length == 3)
    assert(h(0)._2 == 100 && h(1)._2 == 110 && h(2)._2 == 60)
    assert(h(1)._3 == "writer-x=7" && h(2)._3 == "writer-x=7",
      "txn markers must carry forward in history")
  }

  test("racing commits: exactly one winner, loser fails cleanly") {
    val t = freshTable()
    t.append(rows(1 to 10, "a"))
    // both writers resolved version 2; the first publish wins the link
    val racingManifest = java.nio.file.Paths.get(t.root, "_log", "v00002.json")
    Files.writeString(racingManifest, "")
    intercept[java.util.ConcurrentModificationException] {
      t.commit(2, Seq.empty)
    }
    // the losing commit left no manifest damage: v2 is still the racer's
    assert(Files.readString(racingManifest).isEmpty)
    // and the loser's retry against a fresh read succeeds as version 3
    // (the racer's v2 was an empty overwrite, so v3 = its files + the new 10)
    t.append(rows(11 to 20, "b"))
    assert(t.currentVersion() == 3 && t.read(spark).count() == 10)
  }

  test("zero-file snapshots keep the manifest schema on every read") {
    val t = VersionedTable(scratchDir("graft-lake-zero").toString, "k",
      statsCols = Seq("v"), bloomCols = Seq("tag"))
    assert(intercept[IllegalArgumentException](t.read(spark)).getMessage
      .contains("no version has been committed"))
    t.append(rows(1 to 20, "a").repartition(2))
    val cols = t.read(spark).columns.toSeq
    def assertEmptyWithSchema(when: String): Unit = {
      assert(t.liveFiles().isEmpty, s"$when: no file should stay live")
      Seq(
        "read" -> t.read(spark),
        "readRange" -> t.readRange(spark, 1, 100),
        "readRangeOn" -> t.readRangeOn(spark, "v", 0.0, 1000.0),
        "readEquals" -> t.readEquals(spark, "tag", "a")).foreach { case (name, df) =>
        assert(df.columns.toSeq == cols, s"$when: $name lost the manifest schema")
        assert(df.select("k").count() == 0, s"$when: $name returned rows")
      }
    }
    def deletedKeys(fromV: Int): Seq[Long] = {
      val feed = t.changes(spark, fromV, fromV + 1)
      assert(feed.filter($"_change_type" =!= "delete").count() == 0)
      feed.select("k").as[Long].collect().sorted.toSeq
    }

    t.deleteRange(spark, 1, 20) // v2: every key removed
    assertEmptyWithSchema("after deleteRange")
    assert(deletedKeys(1) == (1L to 20L))
    t.append(rows(21 to 25, "b")) // v3
    assert(t.read(spark).select("k").as[Long].collect().sorted.toSeq == (21L to 25L))

    t.overwrite(rows(1 to 0, "x")) // v4: an empty frame
    assertEmptyWithSchema("after an empty overwrite")
    assert(deletedKeys(3) == (21L to 25L))
    t.append(rows(30 to 32, "c")) // v5
    assert(t.read(spark).select("k", "tag").as[(Long, String)].collect().sorted.toSeq ==
      Seq((30L, "c"), (31L, "c"), (32L, "c")))
  }

  test("commit barriers release their cached blocks when the commit ends") {
    // RDDs holding blocks that the commits added: earlier suites' cached
    // RDDs may be cleaned meanwhile, but never added
    def cachedRdds(): Set[Int] =
      org.apache.spark.sql.graft.BlockProbe.cachedRdds(spark.sparkContext)
    val t = freshTable()
    t.append(rows(1 to 50, "a")) // Spark's logging is set up by now
    // `RDD.unpersist` warns about the RDD a frame's localCheckpoint keeps
    val rddLog = "org.apache.spark.rdd.MapPartitionsRDD"
    val control = logged(rddLog, Level.WARN) {
      val cp = rows(1 to 5, "c").localCheckpoint(eager = true)
      cp.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get.unpersist(blocking = true)
    }
    assert(control.exists(_.contains("was locally checkpointed")), s"not captured: $control")
    val before = cachedRdds()
    def kept(): Set[Int] = cachedRdds() -- before
    val warned = logged(rddLog, Level.WARN)(t.merge(rows(40 to 60, "m").repartition(2)))
    assert(warned.isEmpty, s"the merge warned: ${warned.mkString("; ")}")
    assert(kept().isEmpty, "merge kept its barrier's blocks")
    t.upsertIfNew(rows(55 to 70, "u").repartition(2), "up", 1L)
    assert(kept().isEmpty, "upsertIfNew kept its barrier's blocks")
    t.appendIfNew(rows(100 to 110, "x").repartition(2), "ap", 1L)
    assert(kept().isEmpty, "appendIfNew kept its barrier's blocks")
    t.appendIfNew(rows(1 to 0, "e"), "ap", 2L) // empty: probed, not committed
    assert(kept().isEmpty, "an empty batch kept its probe's blocks")
    // a commit that throws after materializing (a column type change)
    intercept[IllegalArgumentException](t.merge(rows(1 to 5, "bad").withColumn("v", lit("s"))))
    assert(kept().isEmpty, "a failed merge kept its barrier's blocks")
    assert(t.read(spark).count() == 81)
  }

  test("empty update batch and merge-into-empty are rejected loudly") {
    val t = freshTable()
    intercept[IllegalArgumentException](t.merge(rows(1 to 5, "u")))
    t.append(rows(1 to 5, "a"))
    intercept[IllegalArgumentException](t.merge(rows(1 to 0, "u")))
  }

  /** The stats pass commits ran before they read footers, kept as the
    * oracle: one grouped scan of the files in `version`'s data dir.
    */
  private def scannedEntries(t: VersionedTable, version: Int, statsCols: Seq[String]): Seq[FileEntry] = {
    val Seq(dir) = dataEntries(t).filter(_.startsWith(f"v$version%05d-"))
    val listed = spark.read.parquet(Paths.get(t.root, "data", dir).toString)
    val present = statsCols.filter(listed.columns.contains)
    val aggs = Seq(count(lit(1)), min(col("k").cast("long")), max(col("k").cast("long"))) ++
      present.flatMap(c => Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    listed.groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect()
      .filter(_.getLong(1) > 0)
      .map { r =>
        val stats = present.zipWithIndex.collect {
          case (c, i) if !r.isNullAt(4 + 2 * i) => c -> (r.getDouble(4 + 2 * i), r.getDouble(5 + 2 * i))
        }
        FileEntry(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), stats.toMap)
      }
      .toSeq.sortBy(_.path)
  }

  /** The entries `version` committed for the files it wrote. */
  private def written(t: VersionedTable, version: Int): Seq[FileEntry] =
    t.snapshot(version).files.filter(_.path.contains(f"/data/v$version%05d-"))

  private def assertFooterStatsEqualScan(t: VersionedTable, statsCols: Seq[String]): Unit =
    (1 to t.currentVersion()).foreach { v =>
      assert(written(t, v) == scannedEntries(t, v, statsCols), s"version $v")
    }

  test("footer stats equal a scan of the new files: keys, doubles with NULLs, decimals") {
    val t = VersionedTable(scratchDir("graft-lake-fs").toString, "k", statsCols = Seq("v", "w"))
    // v1: negative keys, `v` all NULL in the one file
    t.append((-60 to -41).map(i => (i.toLong, "n", None: Option[Double], i * 0.5)).toDF("k", "tag", "v", "w"))
    // v2: keys beyond 2^53 (a double would round them), `v` partly NULL,
    // several files
    val big = (1L << 60) + 1
    t.append((Seq(-3L, 7L, big, big + 2, Long.MaxValue - 1) ++ (1L to 40L)).map(k =>
      (k, "p", if (k % 3 == 0) None else Some(k * 1.25), k.toDouble)).toDF("k", "tag", "v", "w")
      .repartition(3))
    // v3: a schema-evolved append that lacks the stats column `w`
    t.append((41 to 50).map(i => (i.toLong, "e", Some(i * 2.0))).toDF("k", "tag", "v"))
    // v4: an empty overwrite writes only a schema file
    t.overwrite((1 to 0).map(i => (i.toLong, "x", Some(1.0), 1.0)).toDF("k", "tag", "v", "w"))
    assertFooterStatsEqualScan(t, Seq("v", "w"))
    assert(written(t, 1).forall(_.colStats.keySet == Set("w")))
    assert(written(t, 2).map(_.maxKey).max == Long.MaxValue - 1)
    assert(written(t, 3).forall(_.colStats.keySet == Set("v")))
    assert(written(t, 4).isEmpty)

    // int keys and decimal stats columns stored as INT32, INT64 and
    // fixed-length binary
    val d = VersionedTable(scratchDir("graft-lake-fs").toString, "k", statsCols = Seq("d5", "d12", "d24"))
    d.append((-30 to 30).map(i => (i, i * 1.37)).toDF("k", "x")
      .select($"k", $"x".cast("decimal(5,2)").as("d5"), ($"x" * 1000).cast("decimal(12,3)").as("d12"),
        ($"x" * 1e9).cast("decimal(24,4)").as("d24"))
      .repartition(2))
    assertFooterStatsEqualScan(d, Seq("d5", "d12", "d24"))
    assert(written(d, 1).forall(_.colStats.keySet == Set("d5", "d12", "d24")))
    assert(written(d, 1).map(_.minKey).min == -30L)
  }

  test("footer stats span every row group of a file") {
    val t = VersionedTable(scratchDir("graft-lake-rg").toString, "k", statsCols = Seq("v"))
    spark.conf.set("parquet.block.size", "2048")
    try t.append((1 to 3000).map(i => (i.toLong, s"t$i", (i % 977) * 0.5 - 100)).toDF("k", "tag", "v")
      .coalesce(1).sortWithinPartitions($"tag"))
    finally spark.conf.unset("parquet.block.size")
    val Seq(file) = written(t, 1)
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.path), conf))
    val rowGroups = try reader.getFooter.getBlocks.size finally reader.close()
    assert(rowGroups > 3, s"expected several row groups, got $rowGroups")
    assertFooterStatsEqualScan(t, Seq("v"))
    assert(file.minKey == 1L && file.maxKey == 3000L && file.colStats("v") == ((-100.0, 388.0)))
  }

  test("a NaN in a stats column leaves the file without a zone, so it is always scanned") {
    val t = VersionedTable(scratchDir("graft-lake-nan").toString, "k", statsCols = Seq("v"))
    t.append(Seq((1L, "a", 1.0), (2L, "a", Double.NaN), (3L, "a", 5.0)).toDF("k", "tag", "v").coalesce(1))
    val Seq(file) = written(t, 1)
    val Seq(scanned) = scannedEntries(t, 1, Seq("v"))
    assert(file == scanned.copy(colStats = Map.empty), "only the NaN zone may differ")
    assert(!file.colStats.contains("v"))
    // the scan's zone for this file is [1.0, NaN], which prunes it from
    // every range; without a zone it is scanned and the rows come back
    val hit = t.readRangeOn(spark, "v", 0.5, 2.0)
    assert(hit.inputFiles.length == 1)
    assert(hit.select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("a batch whose keys are all NULL commits, and no range or merge selects it") {
    val t = freshTable()
    t.append(rows(1 to 10, "a").repartition(2))
    val nullKeys = Seq((None: Option[Long], "n", 1.0), (None, "n", 2.0)).toDF("k", "tag", "v")
    t.append(nullKeys.coalesce(1))
    assert(t.currentVersion() == 2)
    val Seq(nullFile) = written(t, 2)
    assert(nullFile.rows == 2)
    assert(nullFile.minKey == Long.MaxValue && nullFile.maxKey == Long.MinValue)
    val keyed = written(t, 1).size
    assert(t.readRange(spark, -1000, 1000).inputFiles.length == keyed)
    assert(t.readRange(spark, 1, 10).count() == 10)
    t.merge(rows(5 to 12, "m"))
    assert(t.liveFiles().contains(nullFile.path), "merge rewrote the NULL-key file")
    val all = t.read(spark)
    assert(all.count() == 14)
    assert(all.filter($"k".isNull).select("v").as[Double].collect().sorted.toSeq == Seq(1.0, 2.0))
  }

  test("an append runs one Spark job; a merge runs none after its write") {
    val t = VersionedTable(scratchDir("graft-lake-jobs").toString, "k",
      statsCols = Seq("v"), checks = Seq("v >= 0"))
    t.append(rows(1 to 100, "a"))
    val append = logJobs(t.append(rows(101 to 200, "b")))
    assert(append.count(_ == "job") == 1, s"append ran: ${append.mkString(", ")}")
    // the key collect, then the write
    val merge = logJobs(t.merge(rows(90 to 110, "m")))
    assert(merge == Seq("job", "job", "write"), s"merge ran: ${merge.mkString(", ")}")
    assert(t.read(spark).count() == 200)
    // the checks' counts come from the write job even when it writes no row
    val empty = logJobs(t.overwrite(rows(1 to 0, "e")))
    assert(empty.count(_ == "job") == 1, s"empty overwrite ran: ${empty.mkString(", ")}")
    assert(t.tableCount() == 0)
  }

  test("upsertIfNew into a committed table probes emptiness with its key collect") {
    val t = freshTable()
    t.append(rows(1 to 100, "a"))
    val upsert = logJobs(t.upsertIfNew(rows(90 to 110, "u"), "up", 1L))
    assert(upsert == Seq("job", "job", "write"), s"upsert ran: ${upsert.mkString(", ")}")
    val empty = logJobs(t.upsertIfNew(rows(1 to 0, "e"), "up", 2L))
    assert(empty == Seq("job"), s"empty upsert ran: ${empty.mkString(", ")}")
    assert(t.currentVersion() == 2 && t.lastTxn("up").contains(1L))
    assert(t.read(spark).count() == 110)
  }

  private def nullableRows(keys: Seq[Option[Long]], tag: String) =
    keys.zipWithIndex.map { case (k, i) => (k, tag, i.toDouble) }.toDF("k", "tag", "v")

  test("NULL update keys are plain inserts, in a mixed batch and in an all-NULL one") {
    val t = freshTable()
    t.append(rows(1 to 10, "a").repartitionByRange(2, $"k"))
    t.merge(nullableRows(Seq(Some(5L), None, Some(20L)), "m"))
    val cur = t.read(spark)
    assert(cur.count() == 12)
    assert(cur.filter($"k".isNull).select("tag").as[String].collect().toSeq == Seq("m"))
    assert(cur.filter($"k" === 5).select("tag").as[String].collect().toSeq == Seq("m"))

    // no key to prune with: every file is carried, the batch is inserted
    val before = t.liveFiles().toSet
    t.merge(nullableRows(Seq(None, None), "n"))
    assert(t.currentVersion() == 3 && before.subsetOf(t.liveFiles().toSet))
    assert(t.read(spark).filter($"k".isNull).count() == 3)
  }

  test("deleteRange keeps the NULL-key rows of the files it rewrites") {
    val t = freshTable()
    t.append(nullableRows(Seq(Some(1L), None, Some(5L)), "a").coalesce(1))
    t.deleteRange(spark, 1, 2)
    assert(t.read(spark).select("k", "v").as[(Option[Long], Double)].collect().sortBy(_._2).toSeq ==
      Seq((None, 1.0), (Some(5L), 2.0)))
  }

  /** The merge as its rewrite once ran it, over the whole table: a left
    * anti-join on the batch's distinct keys drops the replaced rows, and
    * the batch is added. Rows come back as strings in `columns` order.
    */
  private def antiJoinMerge(before: DataFrame, updates: DataFrame, columns: Seq[String]): Seq[String] =
    before.join(updates.select("k").distinct(), Seq("k"), "left_anti")
      .unionByName(updates, allowMissingColumns = true)
      .select(columns.map(col): _*).collect().map(_.toString).sorted.toSeq

  /** Merges `updates` into `t` and checks the table against the anti-join
    * formulation, and that the rewrite plan has no exchange and no join.
    */
  private def assertMergeParity(t: VersionedTable, updates: DataFrame): Unit = {
    val before = t.read(spark, asOf = Some(t.currentVersion()))
    val Seq(plan) = logWritePlans(t.merge(updates))
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
    val after = t.read(spark)
    assert(after.collect().map(_.toString).sorted.toSeq ==
      antiJoinMerge(before, updates, after.columns.toSeq))
  }

  test("merge matches the anti-join formulation: long, int, double and NULL keys, evolution, no touch") {
    val long = freshTable()
    long.append(rows(1 to 100, "a").repartitionByRange(4, $"k"))
    assertMergeParity(long, rows(20 to 30, "m").union(rows(500 to 505, "n")))
    // keys beyond every zone: no file is touched, every one is carried
    val carried = long.liveFiles().toSet
    assertMergeParity(long, rows(1000 to 1005, "far"))
    assert(carried.subsetOf(long.liveFiles().toSet))
    // an evolved batch: old rows read back with the new column NULL
    assertMergeParity(long, rows(40 to 45, "w").withColumn("w", $"k" * 2))

    val int = VersionedTable(scratchDir("graft-lake-int").toString, "k")
    int.append((1 to 50).map(i => (i, "a", i.toDouble)).toDF("k", "tag", "v").repartition(2))
    assertMergeParity(int, (45 to 60).map(i => (i, "m", -1.0)).toDF("k", "tag", "v"))

    // NULL keys on both sides: a NULL matches nothing, so both stay
    val nulls = freshTable()
    nulls.append(nullableRows(Seq(Some(1L), None, Some(3L), Some(4L)), "a").repartition(2))
    assertMergeParity(nulls, nullableRows(Seq(None, Some(3L), Some(9L)), "m"))

    // double keys match as join keys do: -0.0 is 0.0, and NaN is NaN
    val dbl = VersionedTable(scratchDir("graft-lake-double").toString, "k")
    dbl.append(Seq((0.0, "a", 1.0), (1.5, "a", 2.0), (Double.NaN, "a", 3.0)).toDF("k", "tag", "v"))
    assertMergeParity(dbl, Seq((-0.0, "m", 4.0), (Double.NaN, "m", 5.0)).toDF("k", "tag", "v"))
  }

  /** Runs `body` with `hook` called on each logical plan node the
    * session plans, on the driver, before Spark's own strategies.
    */
  private def duringPlanning[T](hook: LogicalPlan => Unit)(body: => T): T = {
    val strategy = new SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = { hook(plan); Nil }
    }
    val experimental = spark.sessionState.experimentalMethods
    experimental.extraStrategies = experimental.extraStrategies :+ strategy
    try body
    finally experimental.extraStrategies = experimental.extraStrategies.filterNot(_ eq strategy)
  }

  /** Is `plan` the write of a commit of `t`? */
  private def writesTo(t: VersionedTable, plan: LogicalPlan): Boolean = plan match {
    case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString.contains(t.root)
    case _ => false
  }

  /** The entries of `dir`, by name. */
  private def entries(dir: java.nio.file.Path): Seq[String] = {
    val names = Files.list(dir)
    try names.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally names.close()
  }

  private def dataEntries(t: VersionedTable): Seq[String] = entries(Paths.get(t.root, "data"))

  /** The version of each attempt dir in `t`'s data dir, ascending. */
  private def dataVersions(t: VersionedTable): Seq[Int] = dataEntries(t).map(_.slice(1, 6).toInt)

  test("a merge that loses its barrier's blocks before the write fails, and a retry commits") {
    val t = freshTable()
    t.append(rows(1 to 100, "a").repartition(2))
    val sc = spark.sparkContext
    val cachedBefore = BlockProbe.cachedRdds(sc)
    @volatile var dropped = Set.empty[Int]
    val updates = rows(90 to 110, "m").repartition(2)
    val before = t.read(spark, asOf = Some(1))
    // the write's planning runs on the driver between the key collect
    // (which materialized the barrier) and the write job
    val failure = intercept[Exception](duringPlanning { plan =>
      if (dropped.isEmpty && writesTo(t, plan)) {
        dropped = BlockProbe.cachedRdds(sc) -- cachedBefore
        dropped.foreach(BlockProbe.dropRdd(sc, _))
      }
    }(t.merge(updates)))
    assert(dropped.nonEmpty, "the merge materialized no barrier before its write")
    assert(ExceptionUtils.getStackTrace(failure).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"))
    assert(t.currentVersion() == 1, s"a failed merge committed: $failure")
    t.merge(updates)
    assert(t.currentVersion() == 2)
    val after = t.read(spark)
    assert(after.collect().map(_.toString).sorted.toSeq == antiJoinMerge(before, updates, after.columns.toSeq))
  }

  test("a write job that fails leaves no data dir, so a retry takes its version") {
    // a CHECK that raises, instead of being counted, fails the write job
    val t = VersionedTable(scratchDir("graft-lake-failed-write").toString, "k",
      checks = Seq("assert_true(v >= 0) IS NULL"))
    t.append(rows(1 to 10, "a"))
    intercept[Exception](t.append(rows(11 to 12, "bad").withColumn("v", lit(-1.0))))
    assert(t.currentVersion() == 1 && dataVersions(t) == Seq(1))
    t.append(rows(11 to 12, "ok"))
    assert(t.currentVersion() == 2 && t.read(spark).count() == 12)
  }

  test("a bloom pass that fails after the write leaves no data dir, so a retry takes its version") {
    val t = VersionedTable(scratchDir("graft-lake-failed-bloom").toString, "k", bloomCols = Seq("tag"))
    t.append(rows(1 to 10, "a"))
    // the bloom pass is the one Spark read of the files a commit wrote
    val failure = intercept[Exception](duringPlanning(_.foreach {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.location.rootPaths.exists(_.toString.contains("/data/v00002-")) =>
          throw new IllegalStateException("bloom pass lost")
        case _ =>
      }
      case _ =>
    })(t.append(rows(11 to 20, "b"))))
    assert(ExceptionUtils.getStackTrace(failure).contains("bloom pass lost"))
    assert(t.currentVersion() == 1 && dataVersions(t) == Seq(1))
    t.append(rows(11 to 20, "b"))
    assert(t.currentVersion() == 2 && t.read(spark).count() == 20)
    // the entries name the files where the attempt wrote them
    val written = t.snapshot(2).files.filter(_.path.contains("/data/v00002-"))
    assert(written.nonEmpty && written.forall(f => f.blooms.contains("tag") &&
      Files.exists(Paths.get(new java.net.URI(f.path)))))
    assert(t.readEquals(spark, "tag", "b").count() == 10)
  }

  test("racing writers of one version: the loser fails cleanly at the manifest") {
    val t = freshTable()
    t.append(rows(1 to 10, "a"))
    // a racer whose manifest lands while this commit writes: the write
    // succeeds, the manifest publish fails, and the attempt dir goes
    val manifest = Paths.get(t.root, "_log", "v00002.json")
    intercept[java.util.ConcurrentModificationException](duringPlanning { plan =>
      if (writesTo(t, plan) && !Files.exists(manifest)) Files.writeString(manifest, "")
    }(t.append(rows(11 to 20, "b"))))
    assert(t.currentVersion() == 2 && dataVersions(t) == Seq(1))
    t.append(rows(11 to 20, "b"))
    assert(t.currentVersion() == 3 && t.read(spark).count() == 10)
  }

  test("a commit whose driver died after its write blocks no retry of its version") {
    val t = freshTable()
    t.append(rows(1 to 10, "a"))
    // the driver died after writing v2's files and before publishing its
    // manifest: the files stay, the manifest never appears
    t.append(rows(11 to 20, "dead"))
    Files.delete(Paths.get(t.root, "_log", "v00002.json"))
    assert(t.currentVersion() == 1)
    t.append(rows(11 to 15, "retry"))
    assert(t.currentVersion() == 2)
    assert(t.read(spark).select("k", "tag").as[(Long, String)].collect().sorted.toSeq ==
      (1 to 10).map(i => (i.toLong, "a")) ++ (11 to 15).map(i => (i.toLong, "retry")))
    assert(dataVersions(t) == Seq(1, 2, 2) && dataEntries(t).forall(_.matches("v\\d{5}-[0-9a-f-]{36}")))
    // no manifest names the dead attempt's dir, so vacuum drops it at once
    t.vacuum(retainVersions = 2)
    assert(dataVersions(t) == Seq(1, 2) && t.read(spark).count() == 15)
  }

  test("racing refreshers: the loser leaves the winner's published state untouched") {
    val t = freshTable()
    t.append(rows(1 to 50, "a").union(rows(51 to 60, "b")))
    val aggRoot = scratchDir("graft-lake-magg-race").toString
    val winner = new MaterializedAgg(t, aggRoot, Seq("tag"), Seq("v"))
    val loser = new MaterializedAgg(t, aggRoot, Seq("tag"), Seq("v"))
    def recompute() = IncrementalAgg.init(t.read(spark), Seq("tag"), Seq("v"))
    def snap(df: DataFrame) = df.select("tag", "cnt", "sum_v").collect().map(_.toString).sorted.toSeq
    // each file a frame reads, with a hash of its bytes
    def files(df: DataFrame): Map[String, Int] = df.inputFiles.map(f =>
      f -> java.util.Arrays.hashCode(Files.readAllBytes(Paths.get(new java.net.URI(f))))).toMap
    var raced = false
    var published = Map.empty[String, Int]
    // the winner refreshes the same table version while the loser's
    // write is planned, after the loser has computed its state
    val fromLoser = duringPlanning {
      case w: InsertIntoHadoopFsRelationCommand if !raced && w.outputPath.toString.contains(aggRoot) =>
        raced = true // before the winner's own write is planned
        published = files(winner.refresh(spark))
      case _ =>
    }(loser.refresh(spark))
    assert(published.nonEmpty, "the winner did not refresh")
    assert(files(winner.read(spark)) == published, "the loser changed the winner's files")
    assert(snap(fromLoser) == snap(recompute()) && snap(loser.read(spark)) == snap(recompute()))
    def marked(v: Int): Seq[String] =
      Seq(Files.readString(Paths.get(aggRoot, f"v$v%05d.ok")), f"v$v%05d.ok")
    assert(entries(Paths.get(aggRoot)) == marked(1).sorted, "the loser left its attempt dir")

    // a crashed refresher's attempt dir is pruned once its version falls
    // below the oldest kept marker
    Files.createDirectories(Paths.get(aggRoot, VersionDirs.attemptName(1)))
    t.append(rows(61 to 70, "c"))
    winner.refresh(spark)
    t.merge(rows(1 to 5, "d"))
    winner.refresh(spark)
    assert(entries(Paths.get(aggRoot)) == (marked(2) ++ marked(3)).sorted)
    assert(snap(loser.read(spark)) == snap(recompute()))
  }

  test("lake data dirs hold no _SUCCESS marker") {
    val t = freshTable()
    t.overwrite(rows(1 to 50, "a").repartition(2))
    t.merge(rows(40 to 60, "m"))
    t.append(rows(100 to 110, "b"))
    val data = Paths.get(t.root, "data")
    val markers = Files.walk(data)
    val found = try markers.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS").toList
    finally markers.close()
    assert(found.isEmpty, s"markers: ${found.mkString(", ")}")
    assert(t.read(spark).count() == 71)
  }
}
