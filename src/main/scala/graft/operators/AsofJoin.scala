package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Backward as-of join — Spark has no built-in (SURVEY.md §2.C), so it is
  * composed from a union + one window pass, the shuffle-minimal
  * formulation:
  *
  *   - tag right rows 0 and left rows 1, union them,
  *   - one window partitioned by the join keys ordered by (time, tag),
  *   - `last(payload, ignoreNulls)` over an unbounded-preceding frame
  *     carries the most recent right payload forward onto each left row.
  *
  * One shuffle total (the window partition), versus the naive
  * range-join + aggregation which shuffles both sides twice and
  * explodes matching ranges. Ties (left.time == right.time) match the
  * right row — i.e. the inclusive `left.time >= right.time` semantics of
  * DuckDB's ASOF JOIN.
  *
  * At 100 TB: the single shuffle keys on the join keys, so skew follows
  * key skew (salt upstream if one key dominates); state per window frame
  * is O(1) (only the running last payload), so Spark's window exec
  * streams each partition without materializing it.
  */
object AsofJoin {

  /** For each left row, attach the payload columns of the right row with
    * the greatest `rightTime` ≤ `leftTime` within the same `keys` group
    * (NULLs when no prior right row exists — left-outer semantics).
    *
    * Right payload columns (everything except keys + time) are emitted
    * with `rightPrefix` prepended.
    */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightPrefix: String = ""): DataFrame =
    asof(left, right, keys, leftTime, rightTime, rightPrefix, forward = false)

  /** Forward twin: the right row with the SMALLEST `rightTime` ≥
    * `leftTime` — "next quote after the order" / "next rotation after
    * the event" semantics (DuckDB's `ASOF JOIN ... ON l.t <= r.t`).
    * Inclusive like the backward form: an equal-time right row matches.
    * Same single-shuffle union + one-window-pass plan, with the frame
    * reversed (`first(payload, ignoreNulls)` over current-row →
    * unbounded-following) and the tie order flipped so the tied right
    * row falls INSIDE the left row's frame. */
  def asofForward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightPrefix: String = ""): DataFrame =
    asof(left, right, keys, leftTime, rightTime, rightPrefix, forward = true)

  private def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightPrefix: String,
      forward: Boolean): DataFrame = {
    val payloadCols = right.columns.filterNot(c => keys.contains(c) || c == rightTime).toSeq
    val payloadStruct = struct(payloadCols.map(col): _*)

    // tie order puts the right row inside the left row's frame: BEFORE
    // the left row for the backward (preceding) frame, AFTER it for the
    // forward (following) frame
    val (rightTag, leftTag) = if (forward) (1, 0) else (0, 1)
    val r = right.select(
      keys.map(col) ++ Seq(
        col(rightTime).as("__asof_t"),
        payloadStruct.as("__asof_p"),
        lit(rightTag).as("__asof_tag"),
        lit(null).cast(structTypeOf(left)).as("__asof_l")): _*)
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTime).as("__asof_t"),
        lit(null).cast(r.schema("__asof_p").dataType).as("__asof_p"),
        lit(leftTag).as("__asof_tag"),
        struct(left.columns.toIndexedSeq.map(col): _*).as("__asof_l")): _*)

    val base = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__asof_t"), col("__asof_tag"))
    val w = if (forward) base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      else base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry =
      if (forward) first(col("__asof_p"), ignoreNulls = true)
      else last(col("__asof_p"), ignoreNulls = true)

    val joined = r.unionByName(l)
      .withColumn("__asof_match", carry.over(w))
      .filter(col("__asof_tag") === lit(leftTag))

    val leftOut = left.columns.map(c => col("__asof_l").getField(c).as(c))
    val rightOut = payloadCols.map(c => col("__asof_match").getField(c).as(rightPrefix + c))
    joined.select((leftOut ++ rightOut).toIndexedSeq: _*)
  }

  private def structTypeOf(df: DataFrame): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(df.schema.fields)
}
