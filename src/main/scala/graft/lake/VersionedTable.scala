package graft.lake

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{NativeExprs, SparkBridge}
import org.apache.spark.sql.types.StructType

import graft.Barrier

/** One data file of a table snapshot, with its zone-map stats: the key
  * zone always, plus optional [lo, hi] zones for the table's declared
  * numeric stats columns (cast to double — zone maps need ordering, not
  * exactness), plus optional bloom bitsets (base64) for the declared
  * bloom columns — the equality-predicate twin of the zone maps.
  */
final case class FileEntry(
    path: String,
    rows: Long,
    minKey: Long,
    maxKey: Long,
    colStats: Map[String, (Double, Double)] = Map.empty,
    blooms: Map[String, String] = Map.empty)

/** An immutable table version: the full file list (not a delta), plus
  * the latest committed transaction id per writer application — the
  * idempotence state for exactly-once streaming upserts. Both are
  * SNAPSHOT state (carried forward whole into every commit), so any
  * version is resolved from exactly one manifest and vacuum cannot
  * amputate a writer's progress marker.
  */
final case class Snapshot(
    version: Int,
    files: Seq[FileEntry],
    txns: Map[String, Long] = Map.empty,
    schemaDdl: Option[String] = None)

/** Versioned lake table: snapshot isolation, time travel, file-level
  * zone-map skipping, copy-on-write MERGE, compaction and vacuum over
  * plain parquet — the modern extension of the reference's lake
  * construction loop (read → clean → write parquet → re-crawl catalog,
  * `scripts/...pyspark.py:104-132`), where every write clobbered the
  * single `output/result.parquet` and history was gone.
  *
  * Layout:
  * {{{
  *   <root>/_log/v00001.json      one JSON-lines manifest per version,
  *                                each line one FileEntry — a FULL
  *                                snapshot, so readers resolve any
  *                                version from exactly one file
  *   <root>/data/v00001-<uuid>/   parquet written by one commit attempt
  *     part-*                     for that version (never renamed or
  *                                mutated); the manifest names its files
  * }}}
  *
  * Scale design:
  *   - The manifest is metadata: O(live files), read on the driver. At
  *     100 TB with ~1 GB files that is ~10⁵ lines of JSON — megabytes.
  *   - MERGE is copy-on-write with file pruning: only files whose
  *     [minKey, maxKey] zone contains an update key are rewritten; the
  *     untouched majority is carried by reference. Cost is
  *     O(affected files + update batch), not O(table).
  *   - `readRange` prunes files by zone map BEFORE Spark lists them —
  *     the same trick as parquet row-group skipping, one level up. The
  *     residual per-row filter is still pushed to the scan.
  *   - Commits are atomic via one create-if-absent publish: each attempt
  *     writes its files into a data dir of its own, and the manifest's
  *     hard link is the one step that commits a version. Two racing
  *     writers produce ONE winner and one clean
  *     ConcurrentModificationException — optimistic concurrency, no torn
  *     manifest; a lost or crashed attempt blocks no retry, and
  *     [[vacuum]] deletes its dir. (Nothing is renamed, so on an object
  *     store only the manifest needs a conditional PUT or a catalog
  *     service; the protocol is unchanged.)
  *   - A commit's file stats come from the parquet footers it just
  *     wrote (row counts, per-row-group min/max), never from reading the
  *     data back: at 100 TB an overwrite of ~10⁵ files costs one listing
  *     and ~10⁵ footer reads of a few KB on the driver, 8 in flight —
  *     O(new files) in metadata. `writeFiles` says where each field
  *     comes from and what is conservative.
  *
  * The key column should be a plain integer — the usual shape for an
  * upsert key — for its zone to prune. Any other numeric key still works
  * but its files carry the full zone, so every merge rewrites and every
  * range read scans them: zones and the merge's file prune use the key
  * cast to long, while the merge's row match compares keys in their own
  * type.
  */
final class VersionedTable private (
    val root: String,
    val keyCol: String,
    val statsCols: Seq[String],
    val bloomCols: Seq[String],
    val bloomBits: Int,
    val checks: Seq[String]) {

  private val mapper = new ObjectMapper()
  private def logDir: Path = Paths.get(root, "_log")
  private def manifestPath(v: Int): Path = logDir.resolve(f"v$v%05d.json")

  // ------------------------------------------------------------ manifest

  /** Latest committed version, 0 if the table is empty of commits. */
  def currentVersion(): Int = VersionDirs.versions(logDir, ".json").lastOption.getOrElse(0)

  /** The file list and txn state of a committed version. Manifest lines
    * are discriminated by field: `path` → a FileEntry, `txns` → the
    * writer-progress map.
    */
  def snapshot(version: Int): Snapshot = {
    require(version >= 1, s"version $version: versions start at 1")
    val p = manifestPath(version)
    require(Files.exists(p), s"version $version does not exist under $root")
    var txns = Map.empty[String, Long]
    var schemaDdl = Option.empty[String]
    val files = Seq.newBuilder[FileEntry]
    Files.readAllLines(p).asScala.filter(_.nonEmpty).foreach { line =>
      val n = mapper.readTree(line)
      if (n.has("path")) {
        val stats = entries(n, "stats").map { case (c, lohi) =>
          c -> (lohi.get(0).asDouble(), lohi.get(1).asDouble())
        }
        val blooms = entries(n, "blooms").map { case (c, b64) => c -> b64.asText() }
        files += FileEntry(n.get("path").asText(), n.get("rows").asLong(),
          n.get("minKey").asLong(), n.get("maxKey").asLong(), stats.toMap, blooms.toMap)
      }
      else {
        txns ++= entries(n, "txns").map { case (app, id) => app -> id.asLong() }
        if (n.has("schemaDdl")) schemaDdl = Some(n.get("schemaDdl").asText())
      }
    }
    Snapshot(version, files.result(), txns, schemaDdl)
  }

  /** A manifest line's object field as (name, value) pairs; none if absent. */
  private def entries(line: JsonNode, field: String): Seq[(String, JsonNode)] =
    Option(line.get(field)).toSeq.flatMap(o => o.fieldNames().asScala.map(k => k -> o.get(k)))

  /** Write a map as an object field, keys sorted so a manifest renders
    * deterministically; an empty map writes no field.
    */
  private def putSorted[V](line: ObjectNode, field: String, m: Map[String, V])(
      put: (ObjectNode, String, V) => Unit): Unit =
    if (m.nonEmpty) {
      val o = line.putObject(field)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => put(o, k, v) }
    }

  /** `version`'s snapshot, or the empty version 0 that the first commit
    * builds on.
    */
  private def snapshotOrEmpty(version: Int): Snapshot =
    if (version == 0) Snapshot(0, Seq.empty) else snapshot(version)

  /** The latest snapshot — the base of every write. */
  private def latest(): Snapshot = snapshotOrEmpty(currentVersion())

  /** The snapshot a read sees: `asOf`, or the latest commit. */
  private def resolve(asOf: Option[Int]): Snapshot = asOf match {
    case Some(v) => snapshot(v)
    case None =>
      val snap = latest()
      require(snap.version >= 1, s"no version has been committed under $root")
      snap
  }

  /** Atomic commit: render the manifest to a temp file, publish it with
    * a hard link (fails atomically if the version was taken), clean up.
    * Package-private so the spec can drive the two-writers-one-version
    * race against the primitive itself.
    */
  private[lake] def commit(
      version: Int,
      files: Seq[FileEntry],
      txns: Map[String, Long] = Map.empty,
      schemaDdl: Option[String] = None): Snapshot = {
    val metaLine =
      if (txns.isEmpty && schemaDdl.isEmpty) Seq.empty
      else {
        val o = mapper.createObjectNode()
        putSorted(o, "txns", txns)((t, app, id) => t.put(app, id))
        schemaDdl.foreach(s => o.put("schemaDdl", s))
        Seq(o.toString)
      }
    val body = (metaLine ++ files.map { f =>
      val o = mapper.createObjectNode()
      o.put("path", f.path); o.put("rows", f.rows)
      o.put("minKey", f.minKey); o.put("maxKey", f.maxKey)
      putSorted(o, "stats", f.colStats) { case (st, c, (lo, hi)) => st.putArray(c).add(lo).add(hi) }
      putSorted(o, "blooms", f.blooms)((bl, c, b64) => bl.put(c, b64))
      o.toString
    }).mkString("", "\n", "\n")
    if (!VersionDirs.publish(manifestPath(version), body))
      throw new java.util.ConcurrentModificationException(
        s"version $version was committed by another writer")
    Snapshot(version, files, txns, schemaDdl)
  }

  /** Commit the version after `base`: the `carried` files by reference
    * plus `df` written as new files into a fresh attempt dir. Every
    * write commits through here. The attempt dir holds only this
    * attempt's files, so a failed write or a lost manifest publish
    * deletes it. No retry needs that delete: the next attempt writes to
    * a dir of its own, and [[vacuum]] removes what a crash leaves.
    */
  private def commitNext(
      base: Snapshot,
      carried: Seq[FileEntry],
      df: DataFrame,
      txn: Option[(String, Long)],
      schemaDdl: Option[String]): Snapshot = {
    val next = base.version + 1
    val dir = Paths.get(root, "data", VersionDirs.attemptName(next))
    try commit(next, carried ++ writeFiles(df, dir), base.txns ++ txn, schemaDdl)
    catch { case e: Throwable => VersionDirs.deleteTree(dir); throw e }
  }

  /** Additive schema evolution: existing fields keep their position and
    * type (a type CHANGE is rejected loudly); fields new in `incoming`
    * append at the end. Old data files simply lack the new columns —
    * reads fill them with null via the manifest schema, no file is
    * rewritten.
    */
  private def evolveSchema(
      prev: Option[String],
      incoming: StructType): String = {
    prev match {
      case None => incoming.toDDL
      case Some(ddl) =>
        val base = StructType.fromDDL(ddl)
        val byName = incoming.fields.map(f => f.name -> f).toMap
        base.fields.foreach { f =>
          byName.get(f.name).foreach { inc =>
            require(inc.dataType == f.dataType,
              s"schema evolution cannot change column '${f.name}' from " +
                s"${f.dataType.sql} to ${inc.dataType.sql}")
          }
        }
        val known = base.fieldNames.toSet
        StructType(base.fields ++ incoming.fields.filterNot(f => known(f.name))).toDDL
    }
  }

  /** Write `df` as data files into the attempt dir `dir` and build their
    * entries there from the parquet footers that write just produced —
    * file metadata only, never a re-read of the data:
    *  - `path`: the file's URL-encoded location, the form
    *    `input_file_name()` gives, which `changes` and `vacuum` key on.
    *  - `rows`: the sum of the file's row-group row counts. A 0-row file
    *    (the schema-only file of an empty write) gets no entry.
    *  - `minKey`/`maxKey`: min/max of the key column's row-group
    *    statistics, read as longs (exact beyond 2^53). A file whose keys
    *    are all NULL gets the empty zone [Long.MaxValue, Long.MinValue],
    *    which no merge or range selects — a NULL key matches neither. A
    *    footer with no usable key bounds (no statistics, or a key that
    *    is not a plain integer) gets the full zone, so every merge and
    *    range read takes the file: conservative, never wrong.
    *  - `colStats`: the declared stats columns' footer min/max as doubles
    *    (integers, floats, decimals scaled). A column with no usable bound
    *    in some row group — no statistic, all NULL, NaN, or a type whose
    *    footer order is not Spark's numeric order — gets no entry, and
    *    the file is always scanned for it.
    *  - `blooms`: the one part that still reads the new data, a grouped
    *    pass over the new files, run only when bloom columns are
    *    declared and present in `df`.
    * CHECK constraints ride the write job itself: an `observe` counts
    * the violations of each check (SQL semantics: only `check IS FALSE`
    * violates, NULL passes). Any failure — a violation, a failed write
    * job, a failed footer or bloom read — aborts before a manifest
    * exists, and [[commitNext]] deletes `dir`: no version, and a retry
    * can take the same version. (Files that a failed job's cancelled
    * tasks write afterwards stay until [[vacuum]]'s grace period ends.)
    */
  private def writeFiles(df: DataFrame, dir: Path): Seq[FileEntry] = {
    val checked = if (checks.isEmpty) None else Some(Observation())
    val violations = checks.zipWithIndex.map { case (c, i) =>
      count(when(expr(c) <=> lit(false), 1)).as(s"__ck_$i")
    }
    checked.fold(df)(o => df.observe(o, violations.head, violations.tail: _*))
      .write.mode("errorifexists")
      // the manifest is the commit record: no `_SUCCESS` marker
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir.toString)
    checked.foreach { o =>
      val counted = o.get
      val violated = checks.zipWithIndex
        .map { case (c, i) => c -> counted(s"__ck_$i").asInstanceOf[Long] }
        .filter(_._2 > 0)
      if (violated.nonEmpty)
        throw new IllegalArgumentException(
          "CHECK constraint violation, commit aborted: " +
            violated.map { case (c, n) => s"'$c' ($n rows)" }.mkString(", "))
    }
    fileEntries(df, dir.toString)
  }

  /** The entries of the files `df` was just written as in `dir`. */
  private def fileEntries(df: DataFrame, dir: String): Seq[FileEntry] = {
    import VersionedTable.{doubleBound, footerZone, longBound}
    // stats columns the written frame actually has (schema evolution: a
    // pre-evolution batch legitimately lacks late-added columns)
    val present = statsCols.filter(df.columns.contains)
    val blooms = bloomsByPath(df, dir)
    VersionedTable.footers(df.sparkSession, dir).map { case (path, meta) =>
      val (minKey, maxKey) = footerZone(meta, keyCol)(longBound) match {
        case None => (Long.MinValue, Long.MaxValue) // unknown: every merge and range takes it
        case Some(None) => (Long.MaxValue, Long.MinValue) // all NULL: none does
        case Some(Some(zone)) => zone
      }
      val stats = present.flatMap(c => footerZone(meta, c)(doubleBound).flatten.map(c -> _))
      FileEntry(path, VersionedTable.rows(meta), minKey, maxKey, stats.toMap, blooms(path))
    }
  }

  /** Bloom bitsets of each new file in `dir`, by path — the one grouped
    * pass over freshly written data left in a commit, run only when a
    * declared bloom column is present in `df`. It reads just those
    * columns, under `df`'s types (no schema inference).
    */
  private def bloomsByPath(df: DataFrame, dir: String): String => Map[String, String] = {
    val present = bloomCols.filter(df.columns.contains)
    if (present.isEmpty) _ => Map.empty
    else {
      import graft.functions.BloomSketch
      val sketches = present.map(c => BloomSketch.sketch(col(c).cast("string"), bloomBits).as(c))
      df.sparkSession.read
        .schema(StructType(present.map(c => df.schema(c).copy(nullable = true))))
        .parquet(dir)
        .groupBy(input_file_name().as("path"))
        .agg(sketches.head, sketches.tail: _*)
        .collect() // bounded: one row per file just written
        .map(r => r.getString(0) -> present.zipWithIndex.map { case (c, j) =>
          c -> BloomSketch.toBase64(r.getSeq[Long](j + 1).toArray)
        }.toMap)
        .toMap
    }
  }

  // ------------------------------------------------------------- writes

  /** Append-commit: previous snapshot's files plus the new ones. */
  def append(df: DataFrame): Snapshot = appendTxn(df, None)

  private def appendTxn(df: DataFrame, txn: Option[(String, Long)]): Snapshot = {
    val base = latest()
    commitNext(base, base.files, df, txn, Some(evolveSchema(base.schemaDdl, df.schema)))
  }

  /** Overwrite-commit: the new files replace everything (prior versions
    * stay readable until vacuumed). Writer txn markers survive — they
    * track writer progress, not data. The schema RESETS to the new
    * frame's (overwrite replaces the table; evolution rules apply to
    * append/merge).
    */
  def overwrite(df: DataFrame): Snapshot = overwriteTxn(df, None)

  private def overwriteTxn(df: DataFrame, txn: Option[(String, Long)]): Snapshot =
    commitNext(latest(), Seq.empty, df, txn, Some(df.schema.toDDL))

  /** Copy-on-write MERGE (upsert, latest-wins by whole row): rows of
    * `updates` replace current rows with the same key; unmatched update
    * keys are inserted, and so is every update row whose key is NULL (a
    * NULL key matches nothing).
    *
    * One job before the write, with no shuffle: every update row's key
    * is collected to the driver, once, and deduplicated there. The keys
    * serve twice:
    *  - File pruning, on the keys cast to long (the zone type): only
    *    data files whose [minKey, maxKey] zone contains at least one
    *    update key are rewritten, and the untouched files are carried
    *    into the new snapshot by reference. A non-NULL key with no long
    *    form says nothing about zones, so it touches every file.
    *  - Removing the replaced rows from the touched files, by an exact
    *    membership test in the key's own type (`NativeExprs.notInKeys`):
    *    a filter, not a join, so the rewrite plan holds no exchange.
    * The collect is bounded by the update batch, which in the
    * daily-upsert shape is orders of magnitude smaller than the table.
    * A batch of 10^6 rows with long keys holds ~100 MB of collected rows
    * on the driver while the commit runs, plus a key set of ~50 MB of
    * heap. That set rides in the write plan: each executor fetches it
    * once, and each running write task deserializes its own copy. A
    * batch too large for that is a full rewrite anyway — call
    * `overwrite`.
    */
  def merge(updates: DataFrame): Snapshot = Barrier.scoped(updates, "VersionedTable.merge") { u =>
    mergeTxn(u, None).getOrElse(throw new IllegalArgumentException("empty update batch"))
  }

  /** [[merge]]'s commit, or None for an empty batch (nothing committed). */
  private def mergeTxn(updates: DataFrame, txn: Option[(String, Long)]): Option[Snapshot] = {
    val spark = updates.sparkSession
    val base = latest()
    require(base.version >= 1, "merge into an empty table — use append")

    val collected = updates.select(col(keyCol), col(keyCol).cast("long")).collect()
    if (collected.isEmpty) return None
    val updKeys = collected.filterNot(_.isNullAt(1)).map(_.getLong(1)).distinct.sorted
    val unzoned = collected.exists(r => !r.isNullAt(0) && r.isNullAt(1))

    def overlaps(f: FileEntry): Boolean = {
      // any update key within the file's zone? binary search the sorted
      // batch for the first key >= minKey
      var lo = 0; var hi = updKeys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (updKeys(mid) < f.minKey) lo = mid + 1 else hi = mid
      }
      lo < updKeys.length && updKeys(lo) <= f.maxKey
    }

    val (touched, untouched) = base.files.partition(f => unzoned || overlaps(f))
    val schema = Some(evolveSchema(base.schemaDdl, updates.schema))
    val survivors =
      if (touched.isEmpty) updates
      else {
        // touched files are read under the EVOLVED schema (columns the
        // old files lack come back null), and evolved updates likewise
        // fill columns they lack — additive evolution without rewrites
        readFiles(spark, touched, schema)
          .filter(NativeExprs.notInKeys(col(keyCol), updates.schema(keyCol).dataType,
            collected.iterator.map(_.get(0))))
          .unionByName(updates, allowMissingColumns = true)
      }
    Some(commitNext(base, untouched, survivors, txn, schema))
  }

  /** Copy-on-write range DELETE: remove all rows with key in [lo, hi].
    * Zone-pruned like [[merge]] — only files whose [minKey, maxKey]
    * overlaps the range are rewritten (without the deleted rows); the
    * untouched majority carries by reference, so the commit costs
    * O(overlapping files), not O(table). A file that ends up empty
    * simply contributes no entry. The deleted rows appear as `delete`
    * rows in [[changes]] and remain readable by time travel until
    * [[vacuum]] — for a hard erasure, vacuum after deleting.
    */
  def deleteRange(spark: SparkSession, lo: Long, hi: Long): Snapshot = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val base = latest()
    require(base.version >= 1, "delete from an empty table")
    val (touched, untouched) = base.files.partition(f => f.maxKey >= lo && f.minKey <= hi)
    if (touched.isEmpty) return base // nothing in range: no new version
    // a NULL key (or one with no long form) is in no range: it stays
    val survivors = readFiles(spark, touched, base.schemaDdl)
      .filter(!coalesce(col(keyCol).cast("long").between(lo, hi), lit(false)))
    commitNext(base, untouched, survivors, None, base.schemaDdl)
  }

  /** Compaction-commit: rewrite the CURRENT snapshot as `targetFiles`
    * files (small-file mitigation after many appends/merges). Data is
    * unchanged — only the file layout.
    */
  def compact(spark: SparkSession, targetFiles: Int): Snapshot =
    relayout(spark)(_.repartition(targetFiles))

  /** Layout-maintenance compaction: rewrite the current snapshot RANGE-
    * partitioned on the key, so file zones come out (nearly) disjoint
    * again. Appends and merges interleave key ranges over time — zones
    * widen, overlap, and `readRange`/`merge` pruning decays toward
    * scanning everything; this commit restores it (the Delta/Iceberg
    * "optimize + cluster" move). Plain [[compact]] fixes file COUNT;
    * this fixes pruning POWER.
    */
  def compactByRange(spark: SparkSession, targetFiles: Int): Snapshot =
    relayout(spark)(
      _.repartitionByRange(targetFiles, col(keyCol)).sortWithinPartitions(col(keyCol)))

  /** Layout-only commit: the latest snapshot's rows rewritten through
    * `layout`; txn markers and schema carry over unchanged.
    */
  private def relayout(spark: SparkSession)(layout: DataFrame => DataFrame): Snapshot = {
    val base = resolve(None)
    commitNext(base, Seq.empty, layout(readFiles(spark, base.files, base.schemaDdl)),
      None, base.schemaDdl)
  }

  /** Metadata-only row count: the sum of per-file row stats in the
    * manifest — answers `count(*)` without scanning a byte of data
    * (the zone-map trick applied to the most common query there is).
    */
  def tableCount(asOf: Option[Int] = None): Long =
    snapshotOrEmpty(asOf.getOrElse(currentVersion())).files.map(_.rows).sum

  // ------------------------------------------------- idempotent upsert

  /** Latest committed transaction id for a writer application, from the
    * CURRENT manifest only (txn state is snapshot state, carried
    * forward by every commit).
    */
  def lastTxn(appId: String): Option[Long] = latest().txns.get(appId)

  /** The replay guard of the `*IfNew` writes: a batch at or below the
    * writer's committed marker was already applied, so the latest
    * snapshot returns without a commit; a new batch goes to `write`
    * with its marker.
    */
  private def ifNew(appId: String, batchId: Long)(
      write: Option[(String, Long)] => Snapshot): Snapshot = {
    require(appId.nonEmpty, "appId must be non-empty")
    val base = latest()
    if (base.txns.get(appId).exists(_ >= batchId)) base // replay — already applied
    else write(Some(appId -> batchId))
  }

  /** [[ifNew]] for batches that may be empty. The barrier comes BEFORE
    * the emptiness probe: probe and write both read the one
    * materialization. Without it the whole upstream chain — often an
    * expensive incremental-advance computation — re-executes once per
    * action (measured on q238_streaming_governance: the split/novelty
    * advance chains ran 2-3× per commit); [[merge]] shares its barrier
    * between the key collect and the write the same way. Only the
    * commit reads the rows, so each barrier is [[graft.Barrier.scoped]]:
    * losing an executor before the write fails the commit loudly and
    * leaves the manifest unchanged and no data dir behind (see
    * [[commitNext]]), so a retry commits. An empty batch applied zero
    * times IS exactly once; skipping the commit keeps the log free of
    * no-op versions and leaves the marker where it was.
    */
  private def ifNewNonEmpty(df: DataFrame, appId: String, batchId: Long)(
      write: (DataFrame, Option[(String, Long)]) => Snapshot): Snapshot =
    ifNew(appId, batchId) { txn =>
      Barrier.scoped(df, "VersionedTable.commit")(d => if (d.isEmpty) latest() else write(d, txn))
    }

  /** Idempotent upsert: apply `updates` as a MERGE (or the first append
    * into an empty table) EXACTLY ONCE per (appId, batchId). A replayed
    * batch — the at-least-once delivery of Structured Streaming's
    * foreachBatch after a checkpoint recovery — is detected by the txn
    * marker and skipped without a commit, making the table an
    * exactly-once streaming sink (the transactional-writer pattern:
    * progress marker and data change in the SAME atomic commit). The
    * merge's key collect is its emptiness probe: an empty batch runs
    * that one job and commits nothing, as [[ifNewNonEmpty]] does.
    *
    * Returns the resulting (or unchanged) snapshot.
    */
  def upsertIfNew(updates: DataFrame, appId: String, batchId: Long): Snapshot =
    if (currentVersion() == 0) ifNewNonEmpty(updates, appId, batchId)(appendTxn)
    else ifNew(appId, batchId) { txn =>
      Barrier.scoped(updates, "VersionedTable.merge")(u => mergeTxn(u, txn).getOrElse(latest()))
    }

  /** Idempotent append: add `df`'s rows EXACTLY ONCE per
    * (appId, batchId) — the append-only twin of [[upsertIfNew]] for
    * stores whose maintenance is a blind union (winnowing fingerprint
    * state, df-delta streams). No merge key is consulted; rows are
    * never rewritten. An empty batch skips the commit (zero
    * applications IS exactly once) without advancing the marker.
    */
  def appendIfNew(df: DataFrame, appId: String, batchId: Long): Snapshot =
    ifNewNonEmpty(df, appId, batchId)(appendTxn)

  /** Idempotent overwrite: replace the table EXACTLY ONCE per
    * (appId, batchId) — the overwrite-shaped twin of [[upsertIfNew]]
    * for state frames that are recomputed whole per micro-batch (the
    * ER survivorship state in StreamingEr). The txn marker rides the
    * same atomic manifest commit as the data files, so a replayed
    * batch after checkpoint recovery is recognized and skipped.
    */
  def overwriteIfNew(df: DataFrame, appId: String, batchId: Long): Snapshot =
    ifNew(appId, batchId)(overwriteTxn(df, _))

  // -------------------------------------------------------------- reads

  /** Snapshot read: the latest version, or `asOf` for time travel. */
  def read(spark: SparkSession, asOf: Option[Int] = None): DataFrame = {
    val snap = resolve(asOf)
    readFiles(spark, snap.files, snap.schemaDdl)
  }

  /** Reads under the MANIFEST schema when present: files predating an
    * additive evolution return null for columns they lack, and no
    * footer-merging pass (`mergeSchema`) is ever needed — the manifest
    * is the single source of schema truth, resolved on the driver. It
    * also gives an empty file list the table's columns, so a snapshot
    * with no files, or one pruned to none, reads as 0 rows of them.
    * (Every write records the schema; only a manifest committed without
    * one falls back to the files' footers.)
    */
  private def readFiles(
      spark: SparkSession,
      files: Seq[FileEntry],
      schemaDdl: Option[String]): DataFrame =
    schemaDdl.fold(spark.read)(ddl => spark.read.schema(StructType.fromDDL(ddl)))
      .parquet(files.map(_.path): _*)

  /** Every pruned read: the files of the snapshot that `keep` admits,
    * then the `residual` row filter, which still pushes down into the
    * surviving scans.
    */
  private def readPruned(
      spark: SparkSession,
      asOf: Option[Int],
      keep: FileEntry => Boolean,
      residual: Column): DataFrame = {
    val snap = resolve(asOf)
    readFiles(spark, snap.files.filter(keep), snap.schemaDdl).filter(residual)
  }

  /** Zone-map-pruned range read: files whose [minKey, maxKey] zone is
    * disjoint from [lo, hi] are never handed to Spark at all; the
    * residual row filter still pushes down into the surviving scans.
    */
  def readRange(spark: SparkSession, lo: Long, hi: Long, asOf: Option[Int] = None): DataFrame =
    readPruned(spark, asOf, f => f.maxKey >= lo && f.minKey <= hi,
      col(keyCol).cast("long").between(lo, hi))

  /** Zone-map-pruned range read on a DECLARED stats column: files whose
    * recorded [lo, hi] for `column` is disjoint from the range never
    * reach Spark. Files with no stats for the column (pre-declaration
    * commits, or all-null in that file) are conservatively scanned.
    * The key column routes to [[readRange]]'s dedicated zone.
    */
  def readRangeOn(
      spark: SparkSession,
      column: String,
      lo: Double,
      hi: Double,
      asOf: Option[Int] = None): DataFrame =
    if (column == keyCol)
      readRange(spark, math.ceil(lo).toLong, math.floor(hi).toLong, asOf)
    else
      readPruned(spark, asOf,
        f => f.colStats.get(column).forall { case (flo, fhi) => fhi >= lo && flo <= hi },
        col(column).cast("double").between(lo, hi))

  /** Bloom-pruned point read on a DECLARED bloom column: files whose
    * bitset says the value is DEFINITELY absent never reach Spark —
    * the equality complement of [[readRangeOn]]'s zone maps, and the
    * one that works on a high-cardinality column in a RANDOM layout
    * (zones only prune once data is clustered; a bloom prunes any
    * file the value simply never landed in). Files without a bitset
    * for the column (pre-declaration commits) are conservatively
    * scanned. `value` is matched against the column's STRING form —
    * the form the bitset was built on.
    */
  def readEquals(
      spark: SparkSession,
      column: String,
      value: String,
      asOf: Option[Int] = None): DataFrame = {
    require(value != null, "a bloom cannot answer IS NULL — filter read() instead")
    import graft.functions.BloomSketch.{fromBase64, mightContain}
    readPruned(spark, asOf,
      f => f.blooms.get(column).forall(b64 => mightContain(fromBase64(b64), value)),
      col(column).cast("string") === value)
  }

  /** Multi-dimensional clustering compaction: rewrite the current
    * snapshot in z-order over `cols` (graft.operators.ScaleOps.zOrderBy
    * — bit-interleaved space-filling curve), so the per-file zones
    * NARROW ON EVERY LISTED DIMENSION AT ONCE. Range clustering
    * ([[compactByRange]]) makes one dimension's zones disjoint and
    * leaves the others smeared; z-order trades a little of that
    * single-dimension sharpness for usable zone maps on all of them —
    * pair with `statsCols` so the narrowed zones are actually recorded
    * and [[readRangeOn]] can prune.
    */
  def compactZOrder(
      spark: SparkSession,
      cols: Seq[String],
      targetFiles: Int,
      bits: Int = 8): Snapshot =
    relayout(spark)(graft.operators.ScaleOps.zOrderBy(_, cols, bits, numPartitions = targetFiles))

  /** Mix-refresh maintenance commit: overwrite the CURRENT snapshot
    * with its token-budgeted weighted sample
    * ([[graft.operators.ScaleOps.weightedTokenSample]] — A-ES keyed-hash
    * priorities, exact cumulative cutoff per stratum). The training-mix
    * shape: upserts land the raw feed via [[merge]]/[[upsertIfNew]],
    * and each refresh re-ranks ALL live rows so the table converges
    * back to budget — achieved tokens overshoot each stratum's target
    * by at most one document.
    *
    * Priorities are a pure function of the key (md5-derived), so:
    *  - refresh is IDEMPOTENT: re-running without new data keeps
    *    exactly the same rows (the survivors were the top-priority set
    *    already);
    *  - a new batch displaces only rows it genuinely outranks.
    * The mix is computed over LIVE rows only — a document dropped by an
    * earlier refresh returns only if upserted again. The full pre-mix
    * corpus stays readable by time travel until [[vacuum]].
    */
  def refreshMix(
      spark: SparkSession,
      strataCol: String,
      tokenCol: String,
      targets: Map[String, Long]): Snapshot =
    overwrite(graft.operators.ScaleOps.weightedTokenSample(
      read(spark), keyCol, strataCol, tokenCol, targets))

  /** Row-level change feed between two committed versions: what a
    * reader of `fromV` must apply to arrive at `toV`, as one row per
    * changed key with `_change_type` ∈ insert / update / delete
    * (update and insert carry the NEW values, delete the old ones).
    *
    * Cost is O(changed data), not O(table): the manifests are diffed
    * first (files are immutable, so a path present in both versions
    * cannot differ in content and is skipped wholesale), and only the
    * added/removed files are read. Rows carried verbatim into a
    * rewritten file — the copy-on-write residue of MERGE, or a whole
    * [[compact]]/[[compactByRange]]/[[compactZOrder]] — compare equal
    * (null-safe, all columns) and drop out: a layout-only commit has
    * an EMPTY feed. Both sides are read under the `toV` schema, so an
    * additive evolution alone produces no phantom updates.
    *
    * Assumes the MERGE invariant (one row per key per version);
    * duplicate keys within a version would multiply through the join.
    *
    * With `preImages = true`, each update emits TWO rows —
    * `update_preimage` (old values) then `update_postimage` (new) —
    * the shape downstream DELTA CONSUMERS need: an incremental
    * aggregate ([[IncrementalAgg.maintain]]) must subtract the old row
    * before adding the new one. Still one pass (the two images explode
    * from one joined row).
    */
  def changes(
      spark: SparkSession,
      fromV: Int,
      toV: Int,
      preImages: Boolean = false): DataFrame = {
    val from = snapshot(fromV)
    val to = snapshot(toV)
    val fromPaths = from.files.map(_.path).toSet
    val toPaths = to.files.map(_.path).toSet
    val removed = from.files.filterNot(f => toPaths(f.path))
    val added = to.files.filterNot(f => fromPaths(f.path))

    // from the manifest schema: listing the files would be O(table)
    val dataCols = to.schemaDdl.fold(readFiles(spark, to.files, None).schema)(StructType.fromDDL)
      .fieldNames.toSeq
    def side(files: Seq[FileEntry], name: String): DataFrame =
      readFiles(spark, files, to.schemaDdl) // toV schema: evolution-aligned
        .select(col(keyCol).cast("long").as("__k"), struct(dataCols.map(col): _*).as(name))
    def tagged(tag: String, row: Column): Column =
      struct(lit(tag).as("_change_type"), row.as("__row"))
    val updateImages =
      if (preImages)
        array(tagged("update_preimage", col("__old")),
          tagged("update_postimage", col("__new")))
      else array(tagged("update", col("__new")))
    side(removed, "__old")
      .join(side(added, "__new"), Seq("__k"), "full_outer")
      .filter(!(col("__old") <=> col("__new"))) // carried rows drop out
      .select(explode(
        when(col("__new").isNull, array(tagged("delete", col("__old"))))
          .when(col("__old").isNull, array(tagged("insert", col("__new"))))
          .otherwise(updateImages)).as("__c"))
      .select(col("__c._change_type").as("_change_type") +:
        dataCols.map(c => col(s"__c.__row.$c").as(c)): _*)
  }

  /** Table history as a frame — one row per committed version with its
    * file count, row count, and byte-free manifest stats (all driver
    * metadata; no data file is touched). The audit surface a reader
    * checks before time-traveling or vacuuming.
    */
  def history(spark: SparkSession): DataFrame = {
    val rows = (1 to currentVersion()).map { v =>
      val s = snapshot(v)
      (v, s.files.size.toLong, s.files.map(_.rows).sum,
        s.txns.toSeq.sortBy(_._1).map { case (a, b) => s"$a=$b" }.mkString(","))
    }
    spark.createDataFrame(rows).toDF("version", "n_files", "n_rows", "txns")
  }

  /** Files referenced by the version (for plan/pruning assertions). */
  def liveFiles(asOf: Option[Int] = None): Seq[String] = resolve(asOf).files.map(_.path)

  // ------------------------------------------------------------- vacuum

  /** Drop the versions older than the last `retainVersions`: delete
    * their manifests, and every file under `data/` that no retained
    * manifest names. That covers the files only dropped versions name,
    * the schema-only file of an empty write, the attempt dirs of commits
    * that lost the publish race or crashed before publishing, and the
    * attempt dirs left empty. A file in an attempt dir of a version not
    * yet published may belong to a writer still at work: it goes only
    * once it is older than [[VersionedTable.VacuumGraceMs]].
    * Time travel to dropped versions is gone; the retained window stays
    * fully readable. Returns the deleted file count.
    */
  def vacuum(retainVersions: Int = 1): Int = {
    val cur = currentVersion()
    val keepFrom = math.max(1, cur - retainVersions + 1)
    val keep = (keepFrom to cur).flatMap(snapshot(_).files)
      .map(f => Paths.get(new java.net.URI(f.path).getPath).normalize).toSet
    val data = Paths.get(root, "data").toAbsolutePath.normalize
    def published(p: Path): Boolean = VersionDirs.attemptVersion(data, p).exists(_ <= cur)
    val cutoff = System.currentTimeMillis() - VersionedTable.VacuumGraceMs
    // a kept file keeps its checksum sidecar `.<name>.crc` too
    def kept(p: Path): Boolean = keep(p) || {
      val n = p.getFileName.toString
      n.startsWith(".") && n.endsWith(".crc") && keep(p.resolveSibling(n.drop(1).dropRight(4)))
    }
    val deleted = VersionDirs.prune(data) { (p, attrs) =>
      !kept(p) && (published(p) || attrs.lastModifiedTime.toMillis < cutoff)
    }
    VersionDirs.versions(logDir, ".json").filter(_ < keepFrom)
      .foreach(v => Files.deleteIfExists(manifestPath(v)))
    deleted
  }
}

object VersionedTable {
  /** How old a file with no published version must be before
    * [[VersionedTable.vacuum]] deletes it: longer than any commit's write
    * takes, so a writer that has not published yet keeps its files.
    */
  val VacuumGraceMs: Long = 24L * 60 * 60 * 1000

  /** Open (or lazily create on first commit) a table rooted at `root`.
    * `statsCols` declares additional numeric columns (integer, float,
    * double or decimal) to zone-map per file (beyond the key, which is
    * always mapped) — each costs two doubles per file in the manifest,
    * read from the footers, and buys file-level pruning via
    * [[VersionedTable.readRangeOn]]; pair with [[VersionedTable.compactZOrder]]
    * to make the zones tight on every declared dimension at once.
    * `bloomCols` declares columns to bloom-index per file for
    * [[VersionedTable.readEquals]] point reads — each costs
    * `bloomBits/8` bytes per file in the manifest (the default 2^16
    * bits = 8 KiB holds ~6.5k distinct values per file at ~1% false
    * positives; size bits ≈ 10× the expected per-file distinct count).
    * `checks` are SQL boolean CHECK constraints enforced on every
    * commit's written rows (NULL passes, as in SQL); a violating batch
    * aborts BEFORE the manifest is published — no version, no orphan
    * files. The counting rides the write job: zero extra jobs.
    */
  def apply(
      root: String,
      keyCol: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      bloomBits: Int = 1 << 16,
      checks: Seq[String] = Seq.empty): VersionedTable =
    new VersionedTable(root, keyCol, statsCols, bloomCols, bloomBits, checks)

  /** The data files in `dir` that hold rows, as (path, footer) sorted by
    * path. One directory listing plus one footer read per file, on the
    * driver, 8 at a time; the path is the form `input_file_name()` gives.
    */
  private def footers(spark: SparkSession, dir: String): Seq[(String, ParquetMetadata)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new HadoopPath(dir)
    val parts = d.getFileSystem(conf).listStatus(d)
      .filter(_.getPath.getName.startsWith("part-")).toSeq
    parts.map(SparkPath.fromFileStatus(_).urlEncoded)
      .zip(SparkBridge.readFooters(conf, parts))
      .filter { case (_, meta) => rows(meta) > 0 }
      .sortBy(_._1)
  }

  private def rows(meta: ParquetMetadata): Long = meta.getBlocks.asScala.map(_.getRowCount).sum

  /** `column`'s [min, max] over the file's row groups, each bound
    * converted by `bound`. None when some row group gives no usable
    * bound (no statistic, or a value `bound` rejects): the file's values
    * are then unknown. Some(None) when every value is NULL.
    */
  private def footerZone[T: Ordering](meta: ParquetMetadata, column: String)(
      bound: (PrimitiveType, Any) => Option[T]): Option[Option[(T, T)]] = {
    val path = ColumnPath.get(column)
    val groups = meta.getBlocks.asScala.toSeq.map { rg =>
      rg.getColumns.asScala.find(_.getPath == path).flatMap { chunk =>
        val st: Statistics[_] = chunk.getStatistics
        val t = chunk.getPrimitiveType
        if (st == null || st.isEmpty) None
        else if (st.hasNonNullValue)
          for (lo <- bound(t, st.genericGetMin); hi <- bound(t, st.genericGetMax))
            yield Some(lo -> hi)
        else if (st.isNumNullsSet && st.getNumNulls == rg.getRowCount) Some(None)
        else None
      }
    }
    if (groups.exists(_.isEmpty)) None
    else {
      val zones = groups.flatMap(_.get)
      Some(if (zones.isEmpty) None else Some((zones.map(_._1).min, zones.map(_._2).max)))
    }
  }

  private def signedInt(t: PrimitiveType): Boolean = t.getLogicalTypeAnnotation match {
    case null => true
    case i: IntLogicalTypeAnnotation => i.isSigned
    case _ => false // dates, times, timestamps, decimals
  }

  /** A footer bound as an exact long: plain signed integer columns only. */
  private def longBound(t: PrimitiveType, v: Any): Option[Long] = v match {
    case i: java.lang.Integer if signedInt(t) => Some(i.longValue)
    case l: java.lang.Long if signedInt(t) => Some(l.longValue)
    case _ => None
  }

  /** A footer bound as the double Spark's `cast(c as double)` gives, for
    * integers, floats and decimals; NaN has no place in an order, so it
    * is no bound.
    */
  private def doubleBound(t: PrimitiveType, v: Any): Option[Double] = {
    val d = (t.getLogicalTypeAnnotation, v) match {
      case (dec: DecimalLogicalTypeAnnotation, u) =>
        val unscaled = u match {
          case i: java.lang.Integer => Some(java.math.BigInteger.valueOf(i.longValue))
          case l: java.lang.Long => Some(java.math.BigInteger.valueOf(l))
          case b: Binary => Some(new java.math.BigInteger(b.getBytes))
          case _ => None
        }
        unscaled.map(new java.math.BigDecimal(_, dec.getScale).doubleValue)
      case (_, f: java.lang.Float) => Some(f.doubleValue)
      case (_, x: java.lang.Double) => Some(x.doubleValue)
      case _ => longBound(t, v).map(_.toDouble)
    }
    d.filterNot(_.isNaN)
  }
}
