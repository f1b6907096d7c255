package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Barrier

/** Distributed as-of join — for each left row, attach the single most
  * recent right row with `rightTs <= leftTs` within the same key (the
  * time-series "latest value as of" operator; Spark has no built-in).
  * EXTENSION beyond the reference (which is batch ETL only, no joins in
  * its 237 LoC) — declared per the arbitrary-SQL surface contract,
  * oracle-checked against DuckDB's native ASOF JOIN (q17).
  *
  * Implementation is the union-window pattern, NOT a range join:
  * tag and union both inputs, sort each key's timeline once, and carry
  * the latest right values forward with `last(_, ignoreNulls=true)` over
  * an unbounded-preceding window; then keep the left rows. One shuffle
  * (by key), no candidate explosion — a theta/range join would shuffle
  * |left|×|right per key| pairs, this shuffles |left|+|right| rows, so
  * it survives 100 TB where a range join cannot. Ties (equal key+ts):
  * right rows sort before left rows (a right row AT the left timestamp
  * is visible to it), multiple right rows at one ts resolve to the last
  * by `rightId` for determinism.
  *
  * SLIM SHUFFLE: only (key, ts, side, rid, lid, packed values+ts) rides
  * the union-window exchange and its per-key sort — left payload columns are
  * re-attached AFTER the window by an equi-join on a stamped per-row id
  * (the same id-only pattern as Dedup's band join). On a wide left table
  * this keeps the window sort buffers narrow and never null-pads right
  * rows out to the left schema; the payload crosses the wire once, in
  * the re-attach join, with no sort behind it. Asserted in AsofJoinSpec:
  * the key-partitioned exchange's schema contains no left payload column.
  */
object AsofJoin {

  /** @param left      left (probe) rows
    * @param right     right (reference) rows; `valueCols` are attached
    * @param keyCols   equi-join keys present in both
    * @param leftTs    left timestamp column (numeric or timestamp)
    * @param rightTs   right timestamp column
    * @param rightId   right tie-break column (unique within key+ts)
    * @param valueCols right columns to attach (null when no right row is
    *                  at-or-before — "backward" — or at-or-after —
    *                  "forward" — the left row)
    * @param direction "backward" (default: latest right with
    *                  rightTs <= leftTs) or "forward" (earliest right
    *                  with rightTs >= leftTs). Forward is the same
    *                  union-window walked in DESCENDING timestamp order —
    *                  "last right seen so far" then means "lowest ts
    *                  at-or-after" — so cost and shuffle shape are
    *                  identical to backward.
    * @param tolerance max allowed |leftTs − matchedRightTs| (same unit
    *                  as the — numeric — ts columns); a match further
    *                  away nulls the attached values instead. Carried as
    *                  one extra slim column (the matched right ts) plus
    *                  a map-side post-filter — shuffle shape unchanged.
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      rightId: String,
      valueCols: Seq[String],
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    require(direction == "backward" || direction == "forward",
      s"direction must be 'backward' or 'forward', got '$direction'")
    require(valueCols.forall(v => !keyCols.contains(v)),
      s"valueCols ${valueCols.mkString(",")} must be disjoint from keyCols")
    require(tolerance.forall(_ >= 0), "tolerance must be non-negative")
    require(tolerance.isEmpty ||
      right.schema(rightTs).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      "tolerance requires numeric timestamp columns (e.g. epoch seconds)")

    // Stamp a per-row id and share the stamped frame as lazy
    // executor-local blocks: monotonically_increasing_id is only stable
    // within one materialization, and BOTH branches below (the slim
    // window input and the payload re-attach) must see identical ids —
    // block sharing guarantees they read the same materialized rows.
    val stamped = Barrier(left
      .withColumn("__lid", monotonically_increasing_id()), "AsofJoin.stamped")

    // Identical column order on both union branches:
    //   keys…, __ts, __side, __rid, __lid, __pack
    // Right rows carry null __lid; left rows carry a null __rid and a
    // null __pack. __pack is ONE struct of (values…, matched right ts):
    // packing makes the right row atomic under the ignoreNulls walk —
    // a right row whose VALUE field is null still registers as "the
    // match" (null value attached, as DuckDB ASOF does), instead of the
    // walk skipping past it to an older row's value; it also keeps the
    // matched ts and its values from ever coming from different rows
    // (the tolerance gate depends on that alignment).
    import org.apache.spark.sql.types.{StructField, StructType}
    val packType = StructType(
      valueCols.map(v => StructField(v, right.schema(v).dataType)) :+
        StructField("__rts", right.schema(rightTs).dataType))
    val slimLeft = stamped.select(
      (keyCols.map(col) ++ Seq(
        col(leftTs).as("__ts"),
        lit(1).as("__side"),
        lit(null).cast("long").as("__rid"),
        col("__lid"),
        lit(null).cast(packType).as("__pack")))
        .toIndexedSeq: _*)
    val slimRight = right.select(
      (keyCols.map(col) ++ Seq(
        col(rightTs).as("__ts"),
        lit(0).as("__side"),
        col(rightId).cast("long").as("__rid"),
        lit(null).cast("long").as("__lid"),
        struct((valueCols.map(col) :+ col(rightTs).as("__rts")).toIndexedSeq: _*)
          .as("__pack")))
        .toIndexedSeq: _*)
    val unioned = slimLeft.union(slimRight)

    // right rows (__side=0) sort before left rows at the same ts; the
    // carried value is the latest non-null right value seen so far
    // (walking ts ascending for backward, descending for forward)
    val tsOrd =
      if (direction == "backward") col("__ts").asc else col("__ts").desc
    val w = Window
      .partitionBy(keyCols.map(col).toIndexedSeq: _*)
      .orderBy(tsOrd, col("__side").asc, col("__rid").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val carried = unioned
      .withColumn("__asof", last(col("__pack"), ignoreNulls = true).over(w))

    // tolerance gate: null the values when the matched right row is
    // further than `tolerance` from the left ts (map-side, post-window)
    val withinTol = tolerance match {
      case Some(tol) => abs(col("__ts") - col("__asof.__rts")) <= tol
      case None => lit(true)
    }
    val asofVals = carried
      .filter(col("__side") === 1)
      .select((col("__lid") +:
        valueCols.map(v =>
          when(withinTol, col(s"__asof.$v")).otherwise(lit(null)).as(s"asof_$v")))
        .toIndexedSeq: _*)

    // Payload re-attach: every left row appears exactly once on each side
    // of this inner join (__lid is unique), so left multiplicity is
    // preserved exactly.
    stamped
      .join(asofVals, Seq("__lid"))
      .select((leftCols.map(col) ++
        valueCols.map(v => col(s"asof_$v"))).toIndexedSeq: _*)
  }
}
