package graft.lake

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A persisted MATERIALIZED count/sum aggregate over a
  * [[VersionedTable]], refreshed incrementally: the first refresh
  * aggregates the snapshot once; every later refresh applies only the
  * change feed between the last materialized table version and the
  * current one ([[IncrementalAgg]]). The state on disk is versioned by
  * the TABLE version it reflects and published by the table's own
  * write-once protocol ([[VersionDirs]]), so:
  *
  *  - a replayed refresh (streaming recovery, crashed driver) sees the
  *    cursor already at the table version and no-ops — exactly-once
  *    maintenance for free;
  *  - racing refreshers compute identical state (the cursor and feed
  *    are deterministic) and exactly one publishes; a loser deletes
  *    only its own attempt dir, never state a reader may be reading;
  *  - a torn write without its marker is invisible and blocks nothing.
  *
  * At scale this is the materialized-view contract: a dashboard
  * aggregate over a 100 TB table stays fresh for the cost of each
  * commit's change set, never a rescan.
  *
  * Layout: `<root>/v00007-<uuid>/part-*` (one refresh attempt's state
  * as of table version 7) + `<root>/v00007.ok` (atomic marker whose body
  * names the published attempt dir). The latest two states are retained
  * (current + previous, for readers mid-swap); older ones are pruned.
  */
final class MaterializedAgg(
    val table: VersionedTable,
    val root: String,
    val groupCols: Seq[String],
    val sumCols: Seq[String]) {

  private def marker(v: Int): Path = Paths.get(root, f"v$v%05d.ok")

  /** The state of version `v`: the attempt dir its marker names. */
  private def state(spark: SparkSession, v: Int): DataFrame =
    spark.read.parquet(Paths.get(root, Files.readString(marker(v))).toString)

  /** The TABLE version the materialized state reflects (0 = none). */
  def currentVersion(): Int =
    VersionDirs.versions(Paths.get(root), ".ok").lastOption.getOrElse(0)

  /** Read the current materialized state (one row per group with `cnt`
    * and `sum_<col>` columns). Requires at least one [[refresh]].
    */
  def read(spark: SparkSession): DataFrame = {
    val v = currentVersion()
    require(v >= 1, s"no materialized state under $root — call refresh() first")
    state(spark, v)
  }

  /** Bring the state up to the table's current version and return it.
    * Incremental past the first call; no-op when already current.
    */
  def refresh(spark: SparkSession): DataFrame = {
    val tv = table.currentVersion()
    require(tv >= 1, "the table has no committed version to aggregate")
    val sv = currentVersion()
    if (sv == tv) return read(spark)
    val next =
      if (sv == 0)
        IncrementalAgg.init(table.read(spark, Some(tv)), groupCols, sumCols)
      else
        IncrementalAgg.maintain(
          state(spark, sv),
          table.changes(spark, sv, tv, preImages = true),
          groupCols, sumCols)
    val attempt = VersionDirs.attemptName(tv)
    val dir = Paths.get(root, attempt)
    // a lost publish means a racer published the same state: drop ours
    val won =
      try { next.write.parquet(dir.toString); VersionDirs.publish(marker(tv), attempt) }
      catch { case e: Throwable => VersionDirs.deleteTree(dir); throw e }
    if (!won) VersionDirs.deleteTree(dir)
    prune()
    state(spark, tv)
  }

  /** Keep current + previous state. Older markers go first, so a
    * concurrent reader never sees a marked version vanish mid-read; then
    * every attempt dir below the oldest kept marker: the state those
    * markers named, and the attempts of refreshers that lost a publish
    * or crashed.
    */
  private def prune(): Unit = {
    val dir = Paths.get(root)
    val marked = VersionDirs.versions(dir, ".ok")
    marked.dropRight(2).foreach(v => Files.deleteIfExists(marker(v)))
    marked.takeRight(2).headOption.foreach { oldest =>
      VersionDirs.prune(dir)((p, _) => VersionDirs.attemptVersion(dir, p).exists(_ < oldest))
    }
  }
}
