package graft.lake

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A persisted MATERIALIZED count/sum aggregate over a
  * [[VersionedTable]], refreshed incrementally: the first refresh
  * aggregates the snapshot once; every later refresh applies only the
  * change feed between the last materialized table version and the
  * current one ([[IncrementalAgg]]). The state on disk is versioned by
  * the TABLE version it reflects and published with the same atomic
  * hard-link marker as the table's manifests, so:
  *
  *  - a replayed refresh (streaming recovery, crashed driver) sees the
  *    cursor already at the table version and no-ops — exactly-once
  *    maintenance for free;
  *  - racing refreshers compute identical state (the cursor and feed
  *    are deterministic) and exactly one publishes;
  *  - a torn parquet write without its marker is invisible to readers
  *    and simply overwritten by the next attempt.
  *
  * At scale this is the materialized-view contract: a dashboard
  * aggregate over a 100 TB table stays fresh for the cost of each
  * commit's change set, never a rescan.
  *
  * Layout: `<root>/v00007/part-*` (state as of table version 7) +
  * `<root>/v00007.ok` (atomic marker). The latest two state dirs are
  * retained (current + previous, for readers mid-swap); older ones are
  * pruned on publish.
  */
final class MaterializedAgg(
    val table: VersionedTable,
    val root: String,
    val groupCols: Seq[String],
    val sumCols: Seq[String]) {

  private def dir(v: Int): String = s"$root/v${"%05d".format(v)}"
  private def marker(v: Int): Path = Paths.get(root, f"v$v%05d.ok")

  /** The TABLE version the materialized state reflects (0 = none). */
  def currentVersion(): Int =
    VersionDirs.versions(Paths.get(root), ".ok").lastOption.getOrElse(0)

  /** Read the current materialized state (one row per group with `cnt`
    * and `sum_<col>` columns). Requires at least one [[refresh]].
    */
  def read(spark: SparkSession): DataFrame = {
    val v = currentVersion()
    require(v >= 1, s"no materialized state under $root — call refresh() first")
    spark.read.parquet(dir(v))
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
          spark.read.parquet(dir(sv)),
          table.changes(spark, sv, tv, preImages = true),
          groupCols, sumCols)
    // overwrite tolerates a torn prior attempt's leftovers; only the
    // marker makes the state visible
    next.write.mode("overwrite").parquet(dir(tv))
    VersionDirs.publish(marker(tv), "") // false: a racer won with the same state
    prune()
    spark.read.parquet(dir(tv))
  }

  /** Keep current + previous state; drop older (markers first, so a
    * concurrent reader never sees a marked version vanish mid-read).
    */
  private def prune(): Unit =
    VersionDirs.versions(Paths.get(root), ".ok").dropRight(2).foreach { v =>
      Files.deleteIfExists(marker(v))
      VersionDirs.deleteTree(Paths.get(dir(v)))
    }
}
