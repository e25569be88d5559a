package graft.integrate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join: attach to each left row the payload of
  * the most recent right row with the same key at or before the left
  * row's time — the standard financial "state as of event time" lookup
  * (trades->quotes, events->latest order). Spark has no native as-of
  * operator (the builder brief names it explicitly); DuckDB replays the
  * same semantics natively with `ASOF LEFT JOIN`, which is what the
  * correctness oracle uses.
  *
  * Scale design: NOT a per-row range probe and NOT a range join
  * (`l.key = r.key AND r.t <= l.t` as a join condition degenerates to a
  * per-key cartesian that Spark filters after the fact). Both sides are
  * tagged and unioned, shuffled ONCE on the key, and each partition is
  * sorted by (time, side) so a running `last(payload, ignoreNulls)`
  * carries the newest right payload forward into the left rows — the
  * same one-exchange + one-sorted-pass shape as the `w_*` window
  * features, linear in |left| + |right| per key. Right rows sort before
  * left rows at equal times, giving inclusive (<=) semantics.
  *
  * Caveats callers own: rows with a null key or null time on the right
  * are dropped (they can never match under SQL equality/inequality);
  * left rows with a null key get a null payload. If the right side has
  * several rows at the same (key, time), the carried payload is the
  * last in the partition's sort order — dedup the right side first for
  * a deterministic pick (the catalog query keeps the max order key).
  */
object AsOfJoin {

  /** @param payloadCols right-side columns to attach (null when no
    *                    right row is at or before the left time)
    */
  def asofBackward(left: DataFrame, right: DataFrame,
                   leftKey: String, leftTime: String,
                   rightKey: String, rightTime: String,
                   payloadCols: Seq[String]): DataFrame = {
    // left side 1: right rows sort first at equal times (inclusive <=)
    val (u, ordered) = taggedUnion(left, right, leftKey, leftTime, rightKey, rightTime,
      struct(payloadCols.map(col): _*), leftSide = 1, _.asc)
    u.withColumn("__match", last(col("__p"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__side") === 1)
      .select(left.columns.toSeq.map(col) ++
        payloadCols.map(c => col(s"__match.$c").as(c)): _*)
  }

  /** The family's one-exchange tagged union: the left rows (side
    * `leftSide`, a null payload typed from `payload`) and the right rows
    * with a non-null key and time (the other side, every left column a
    * typed null, `payload` as `__p`), with the window order over it:
    * partitioned on the key, sorted by (`timeOrder` of the time, side).
    * The side tags and the time's null order are each variant's
    * contract; see their scaladocs.
    */
  private def taggedUnion(left: DataFrame, right: DataFrame,
                          leftKey: String, leftTime: String,
                          rightKey: String, rightTime: String,
                          payload: Column, leftSide: Int,
                          timeOrder: Column => Column): (DataFrame, WindowSpec) = {
    val leftCols = left.columns.toSeq
    val l = left.select(
      col(leftKey).as("__k") +: col(leftTime).as("__t") +: lit(leftSide).as("__side") +:
        leftCols.map(col) :+
        lit(null).cast(right.select(payload).schema.head.dataType).as("__p"): _*)
    val r = right
      .filter(col(rightKey).isNotNull && col(rightTime).isNotNull)
      .select(
        col(rightKey).as("__k") +: col(rightTime).as("__t") +: lit(1 - leftSide).as("__side") +:
          leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+ payload.as("__p"): _*)
    (l.unionByName(r),
      Window.partitionBy("__k").orderBy(timeOrder(col("__t")), col("__side").asc))
  }

  /** The FORWARD as-of join: attach the EARLIEST right row with the
    * same key at or after the left row's time — "next state after the
    * event" (trade -> next quote, signup -> first purchase). Identical
    * one-exchange tagged-union plan as [[asofBackward]], mirrored: the
    * window frame runs current-row to unbounded FOLLOWING and carries
    * the first non-null payload backward; at equal times the right row
    * sorts after the left one, giving inclusive (>=) semantics.
    *
    * Null caveats mirror the backward variant, and the forward sort
    * must spell them explicitly: the partition orders with
    * `asc_nulls_last` on the time column, because Spark's plain `asc`
    * sorts nulls FIRST — under the forward (current-row to unbounded
    * following) frame a null-time left row at the head of the
    * partition would otherwise see every right row and pick up the
    * EARLIEST payload instead of null, diverging from both the
    * backward variant and SQL inequality semantics (a null time
    * satisfies no `>=`). With nulls last, a null-time left row's frame
    * holds only other null-payload rows, so it gets a null payload —
    * exactly what the DuckDB ASOF oracle produces.
    */
  def asofForward(left: DataFrame, right: DataFrame,
                  leftKey: String, leftTime: String,
                  rightKey: String, rightTime: String,
                  payloadCols: Seq[String]): DataFrame = {
    // left side 0: left rows sort BEFORE right rows at equal times (the
    // right row is then inside the forward frame = inclusive >=);
    // asc_nulls_last (NOT plain asc): see the scaladoc null contract.
    val (u, ordered) = taggedUnion(left, right, leftKey, leftTime, rightKey, rightTime,
      struct(payloadCols.map(col): _*), leftSide = 0, _.asc_nulls_last)
    u.withColumn("__match", first(col("__p"), ignoreNulls = true)
        .over(ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("__side") === 0)
      .select(left.columns.toSeq.map(col) ++
        payloadCols.map(c => col(s"__match.$c").as(c)): _*)
  }

  /** [[asofBackward]] with a TOLERANCE horizon — pandas
    * `merge_asof(tolerance=...)` semantics: the most recent at-or-
    * before match counts only while `leftTime - rightTime <=
    * tolerance`; a staler match nulls out exactly like no match.
    * The standard staleness guard on point-in-time lookups (a quote
    * from last month must not price today's trade).
    *
    * Plan: IDENTICAL one-exchange tagged-union window as the backward
    * join — the matched right time rides the carried payload struct
    * and the horizon check is one row-local comparison after the
    * window, so tolerance costs nothing at any scale. `timeCol`s must
    * be numeric (integer subtraction). Output: left columns + payload
    * columns (null when unmatched OR stale).
    */
  def asofBackwardTolerance(left: DataFrame, right: DataFrame,
                            leftKey: String, leftTime: String,
                            rightKey: String, rightTime: String,
                            payloadCols: Seq[String],
                            tolerance: Long): DataFrame =
    withinTolerance(left, right, rightTime, payloadCols, tolerance,
      col(leftTime) - col("__rt_tol")) { (rt, cols) =>
      asofBackward(left, rt, leftKey, leftTime, rightKey, rightTime, cols)
    }

  /** [[asofForward]] with the mirrored tolerance horizon: the next
    * at-or-after match counts only while `rightTime - leftTime <=
    * tolerance` ("the next quote, but only if it arrives within the
    * window"). Same zero-cost row-local guard as
    * [[asofBackwardTolerance]].
    */
  def asofForwardTolerance(left: DataFrame, right: DataFrame,
                           leftKey: String, leftTime: String,
                           rightKey: String, rightTime: String,
                           payloadCols: Seq[String],
                           tolerance: Long): DataFrame =
    withinTolerance(left, right, rightTime, payloadCols, tolerance,
      col("__rt_tol") - col(leftTime)) { (rt, cols) =>
      asofForward(left, rt, leftKey, leftTime, rightKey, rightTime, cols)
    }

  /** The tolerance variants' row-local guard: `join` runs on the right
    * side with its time carried as `__rt_tol` in the payload, and a
    * payload column survives only while `staleness` (the gap between
    * the left time and `__rt_tol`) is within `tolerance`.
    */
  private def withinTolerance(left: DataFrame, right: DataFrame, rightTime: String,
                              payloadCols: Seq[String], tolerance: Long,
                              staleness: Column)(
                              join: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    require(tolerance >= 0L, s"tolerance must be >= 0, got $tolerance")
    val joined = join(right.withColumn("__rt_tol", col(rightTime)), payloadCols :+ "__rt_tol")
    val fresh = col("__rt_tol").isNotNull && staleness <= tolerance
    joined.select(left.columns.map(col).toSeq ++
      payloadCols.map(c => when(fresh, col(c)).otherwise(lit(null)).as(c)): _*)
  }

  /** The NEAREST as-of join: attach the right row whose time is
    * CLOSEST to the left row's time in either direction, ties going
    * backward (the at-or-before row) — the sensor-fusion / label-
    * alignment variant of the family ("the reading nearest this
    * event"). Completes the backward/forward pair.
    *
    * Plan: the SAME one-exchange tagged union, but both directional
    * windows run over ONE sort — `last(ignoreNulls)` over the
    * preceding frame carries the latest at-or-before match,
    * `first(ignoreNulls)` over the following frame the earliest
    * strictly-after one, and a row-local comparison of the two time
    * deltas picks the winner. Right rows sort before left rows at
    * equal times, so an equal-time match lands in the BACKWARD frame
    * with delta 0 and wins every tie, which is why the forward frame
    * excluding it is harmless. `timeCol`s must be numeric (the delta
    * arithmetic is integer subtraction).
    *
    * Null contract (explicit, like [[asofForward]]): a left row with a
    * null key or null time gets a null match — the final projection
    * gates on `leftTime IS NOT NULL` because under `asc_nulls_last`
    * a null-time row's preceding frame would otherwise span every
    * right row.
    *
    * Output: left columns + payload columns + `asof_t` (matched right
    * time), `asof_dt` (absolute delta), `asof_dir`
    * ('backward' | 'forward', null when unmatched).
    */
  def asofNearest(left: DataFrame, right: DataFrame,
                  leftKey: String, leftTime: String,
                  rightKey: String, rightTime: String,
                  payloadCols: Seq[String]): DataFrame = {
    // right side 0: sorts before left at equal times (inclusive <=
    // into the backward frame)
    val (u, ordered) = taggedUnion(left, right, leftKey, leftTime, rightKey, rightTime,
      struct(col(rightTime).as("__rt") +: payloadCols.map(col): _*),
      leftSide = 1, _.asc_nulls_last)
    val wBack = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    val dBack = col("__t") - col("__b.__rt")
    val dFwd = col("__f.__rt") - col("__t")
    val useBack = col("__b").isNotNull &&
      (col("__f").isNull || dBack <= dFwd)
    val chosen = when(col("__t").isNull, lit(null))
      .when(useBack, col("__b"))
      .otherwise(col("__f")) // null when both directions are empty

    u.withColumn("__b", last(col("__p"), ignoreNulls = true).over(wBack))
      .withColumn("__f", first(col("__p"), ignoreNulls = true).over(wFwd))
      .filter(col("__side") === 1)
      .withColumn("__m", chosen)
      .select(left.columns.toSeq.map(col) ++
        payloadCols.map(c => col(s"__m.$c").as(c)) ++ Seq(
          col("__m.__rt").as("asof_t"),
          abs(col("__t") - col("__m.__rt")).as("asof_dt"),
          when(col("__m").isNull, lit(null))
            .when(useBack, lit("backward"))
            .otherwise(lit("forward")).as("asof_dir")): _*)
  }
}
