package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.VersionedTable
import graft.operators.{Dedup, ScaleOps}

/** The streaming twin of the leakage-free split advance (q223's
  * operator): batch≡stream assignment parity including the three
  * advance arms (inherit / hash / bridging-conflict quarantine), split
  * STABILITY across batches, and the exactly-once interleavings
  * foreachBatch replay can produce — full replay, and the crash window
  * between the conflicts append and the store merge.
  */
class StreamingSplitSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = StreamingSplit.SplitConfig("doc_id")

  private def b1: DataFrame = (1L to 60L).toDF("doc_id")

  /** Chain pairs (i, i+1) for i % 10 in {1,2,3} among the known ids,
    * restricted to pairs touching the batch (the incremental-pairs
    * contract). Deterministic in (batch, rows) — the replay requirement.
    */
  private def chainPairs(batch: DataFrame, rows: DataFrame): DataFrame = {
    val ids = batch.select(col("doc_id"))
      .unionByName(rows.select(col("doc_id"))).distinct()
    val chains = ids.select(col("doc_id").as("id_a"))
      .filter(pmod(col("id_a"), lit(10)).isin(1, 2, 3))
      .join(ids.select(col("doc_id").as("id_b")),
        col("id_b") === col("id_a") + 1)
    chains.join(batch.select(col("doc_id").as("__b")),
      col("id_a") === col("__b") || col("id_b") === col("__b"), "left_semi")
  }

  /** Chain pairs plus crafted store-bridging pairs, activated only via
    * their batch-side endpoint (a pair must touch the batch THROUGH the
    * batch row — at day 0 the bridge targets don't exist yet).
    */
  private def bridgedPairs(bridges: Seq[(Long, Long)])(
      batch: DataFrame, rows: DataFrame): DataFrame =
    chainPairs(batch, rows).unionByName(
      bridges.toDF("id_a", "id_b")
        .join(batch.select(col("doc_id").as("__b")),
          col("id_b") === col("__b"), "left_semi"))

  private def freshTables(): (VersionedTable, VersionedTable) = (
    VersionedTable(scratchDir("graft-ssp-store").toString, "doc_id"),
    VersionedTable(scratchDir("graft-ssp-conf").toString, "cluster_rep"))

  /** Day-0 assignment (what the stream's bootstrap batch must produce)
    * and three reps chosen so batch 2 can exercise every arm: repA/repB
    * with DIFFERENT splits (bridging them is a conflict), repC distinct
    * from both (bridging it alone inherits its split).
    */
  private def day0Fixture(): (Map[Long, (Long, String)], Long, Long, Long) = {
    val assigned = Dedup.splitByCluster(b1, "doc_id", chainPairs(b1, b1.limit(0)))
      .select("doc_id", "cluster_rep", "split")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val repSplit = assigned.values.groupBy(_._1).map { case (rep, vs) =>
      rep -> vs.head._2
    }
    val repA = repSplit.keys.min
    val repB = repSplit.collect {
      case (rep, s) if s != repSplit(repA) => rep
    }.min
    val repC = (repSplit.keySet - repA - repB).max
    (assigned, repA, repB, repC)
  }

  test("streamed batches equal the batch twin across all three advance arms") {
    implicit val sqlCtx = spark.sqlContext
    val (assigned1, repA, repB, repC) = day0Fixture()
    assert(assigned1.nonEmpty && repA != repB && repC != repA && repC != repB)

    // batch-2 pair source: the conflict bridge (repA, repB via 1005),
    // the inherit bridge (repC via 1007); 1009 arrives pair-less (hash arm)
    val bridges = Seq((repA, 1005L), (repB, 1005L), (repC, 1007L))
    val pairsOf: (DataFrame, DataFrame) => DataFrame = bridgedPairs(bridges)

    val (store, conflicts) = freshTables()
    val ckpt = scratchDir("graft-ssp-ckpt").toString
    val in = MemoryStream[Long]
    val q = StreamingSplit.splitStream(
      in.toDF.toDF("doc_id"), store, conflicts, pairsOf, cfg, "split-stream", ckpt)
    try {
      in.addData(1L to 60L: _*)
      q.processAllAvailable()
      val got1 = store.read(spark).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(got1 == assigned1, "bootstrap must equal the batch operator")

      in.addData(Seq(1005L, 1007L, 1009L): _*)
      q.processAllAvailable()
    } finally q.stop()

    val after = store.read(spark).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap

    // STABILITY: every day-0 row keeps its split verbatim
    assigned1.foreach { case (id, (_, split)) =>
      assert(after(id)._2.contains(split), s"store row $id moved splits")
    }
    // conflict arm: 1005 quarantined, both bridged clusters re-keyed to
    // the merged canon, conflicts ledger carries (canon, 2, batchId)
    val canonAB = math.min(repA, repB)
    assert(after(1005L)._1 == canonAB && after(1005L)._2.isEmpty,
      s"bridging conflict must quarantine: ${after(1005L)}")
    assigned1.collect { case (id, (rep, _)) if rep == repA || rep == repB =>
      assert(after(id)._1 == canonAB, s"store row $id missed the canon re-key")
    }
    val confRows = conflicts.read(spark)
      .select("cluster_rep", "n_splits", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(confRows == Seq((canonAB, 2L, 1L)), s"conflict ledger: $confRows")
    // inherit arm: 1007 joins repC's cluster and inherits its split
    assert(after(1007L)._1 == math.min(repC, 1007L) &&
      after(1007L)._2.contains(assigned1.collectFirst {
        case (_, (rep, s)) if rep == repC => s
      }.get), s"inherit arm: ${after(1007L)}")
    // hash arm: a pair-less batch doc hashes exactly as the batch operator
    val hashSplit = ScaleOps.splitByGroup(
        Seq(1009L).toDF("doc_id").withColumn("cluster_rep", col("doc_id")),
        "cluster_rep", cfg.splits)
      .select("split").head().getString(0)
    assert(after(1009L) == ((1009L, Some(hashSplit))), s"hash arm: ${after(1009L)}")
    // quarantine reader surfaces exactly the conflicted batch row
    val quarantined = StreamingSplit.quarantined(spark, store)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(quarantined == Seq(1005L))
  }

  test("full replay of an applied batch is a no-op on both tables") {
    val (assigned1, repA, repB, _) = day0Fixture()
    assert(assigned1.nonEmpty)
    val bridges = Seq((repA, 1005L), (repB, 1005L))
    val pairsOf: (DataFrame, DataFrame) => DataFrame = bridgedPairs(bridges)
    val (store, conflicts) = freshTables()
    StreamingSplit.advanceBatch(store, conflicts, b1, pairsOf, cfg, "split-w", 0L)
    StreamingSplit.advanceBatch(store, conflicts,
      Seq(1005L).toDF("doc_id"), pairsOf, cfg, "split-w", 1L)
    val (vs, vc) = (store.currentVersion(), conflicts.currentVersion())
    val want = store.read(spark).orderBy("doc_id").collect().toSeq

    StreamingSplit.advanceBatch(store, conflicts,
      Seq(1005L).toDF("doc_id"), pairsOf, cfg, "split-w", 1L) // replay
    assert(store.currentVersion() == vs && conflicts.currentVersion() == vc,
      "replay must not commit new versions")
    assert(store.read(spark).orderBy("doc_id").collect().toSeq == want)
  }

  test("crash between the conflicts append and the store merge recovers exactly once") {
    val (assigned1, repA, repB, _) = day0Fixture()
    assert(assigned1.nonEmpty)
    val bridges = Seq((repA, 1005L), (repB, 1005L))
    val pairsOf: (DataFrame, DataFrame) => DataFrame = bridgedPairs(bridges)
    val batch2 = Seq(1005L).toDF("doc_id")

    val (store, conflicts) = freshTables()
    StreamingSplit.advanceBatch(store, conflicts, b1, pairsOf, cfg, "split-w", 0L)

    // simulate the crash window: apply ONLY the conflicts half of batch
    // 1 (conflicts commit first by protocol), leaving the store pre-batch
    val rows = store.read(spark)
    val (_, confRows) = Dedup.splitByClusterIncremental(
      rows, batch2, cfg.idCol, pairsOf(batch2, rows), cfg.splits)
    conflicts.appendIfNew(
      confRows.withColumn("batch_id", lit(1L)), "split-w", 1L)
    val confVersion = conflicts.currentVersion()

    // recovery replay: the store half must apply once, the conflicts
    // append must skip on its marker (no duplicate ledger rows)
    StreamingSplit.advanceBatch(store, conflicts, batch2, pairsOf, cfg, "split-w", 1L)
    assert(conflicts.currentVersion() == confVersion,
      "replayed conflicts append must skip on the txn marker")
    assert(conflicts.read(spark).count() == 1L)
    val after = store.read(spark).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    val canonAB = math.min(repA, repB)
    assert(after(1005L) == ((canonAB, None)), s"store half not applied: ${after.get(1005L)}")
    assigned1.foreach { case (id, (_, split)) =>
      assert(after(id)._2.contains(split), s"store row $id moved splits in recovery")
    }
  }
}
