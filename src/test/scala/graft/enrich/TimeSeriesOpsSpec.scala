package graft.enrich

import graft.SparkSpec

class TimeSeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  // --------------------------------------------------- resampleOhlc

  private def bars(rows: (Long, Long, Double, Long)*) =
    TimeSeriesOps.resampleOhlc(
        rows.toDF("k", "t", "v", "id"), "k", "t", "v", "id", bucket = 10L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getLong(7))))
      .toMap

  test("ohlc: open/close picked by (time, tie) struct order, not value") {
    val out = bars(
      // same timestamp -> the tiebreak id decides open vs close
      (1L, 5L, 10.0, 1L), (1L, 5L, 99.0, 0L),
      (1L, 15L, 7.0, 2L))
    assert(out((1L, 0L)) == ((99.0, 99.0, 10.0, 10.0, 109.0, 2L)))
    assert(out((1L, 1L)) == ((7.0, 7.0, 7.0, 7.0, 7.0, 1L)))
  }

  test("ohlc: buckets split on the floor boundary; keys are independent") {
    val out = bars(
      (1L, 9L, 1.0, 1L), (1L, 10L, 2.0, 2L),
      (2L, 9L, 5.0, 3L))
    assert(out((1L, 0L))._1 == 1.0 && out((1L, 1L))._1 == 2.0)
    assert(out((2L, 0L)) == ((5.0, 5.0, 5.0, 5.0, 5.0, 1L)))
  }

  test("ohlc: negative (pre-1970) times bucket by FLOOR division") {
    // ADVICE r13 #3: Spark's `div` truncates toward zero while the
    // DuckDB oracles' `//` floors — floorDivCol makes both floor, so
    // t = -95 lands in bucket -10 (floor(-9.5)), not -9
    val out = bars(
      (1L, -95L, 1.0, 1L), (1L, -5L, 2.0, 2L), (1L, 5L, 3.0, 3L))
    assert(out.keySet == Set((1L, -10L), (1L, -1L), (1L, 0L)), out)
  }

  test("rateSpikes: negative times bucket by FLOOR division too") {
    val df = Seq((1L, -95L), (1L, -5L), (1L, 5L)).toDF("k", "t")
    val buckets = TimeSeriesOps.rateSpikes(df, "k", "t", bucket = 10L)
      .select("bucket").as[Long].collect().sorted.toSeq
    assert(buckets == Seq(-10L, -1L, 0L), buckets)
  }

  // -------------------------------------------------------- gapFill

  test("gapFill: synthesizes the missing buckets and forward-fills") {
    val series = Seq((1L, 3L, 1.5), (1L, 6L, 2.5)).toDF("k", "b", "v")
    val out = TimeSeriesOps.gapFill(series, "k", "b", "v")
      .orderBy("k", "b")
      .collect()
      .map(r => (r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (3L, false, 1.5), (4L, true, 1.5), (5L, true, 1.5), (6L, false, 2.5)))
  }

  test("gapFill: a key with one observation emits exactly that bucket") {
    val series = Seq((7L, 42L, 9.0)).toDF("k", "b", "v")
    val out = TimeSeriesOps.gapFill(series, "k", "b", "v").collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 42L && !out.head.getBoolean(2)
      && out.head.getDouble(3) == 9.0)
  }

  // ------------------------------------------------------ rateSpikes

  private def spikes(rows: (Long, Long)*) =
    TimeSeriesOps.rateSpikes(rows.toDF("k", "t"), "k", "t",
        bucket = 10L, window = 7, factor = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .toMap

  test("rateSpikes: a burst past 3x the trailing average flags") {
    // buckets 0..6 one event each, bucket 7 has four: 4*7 > 7*3
    val rows = (0L to 6L).map(b => (1L, b * 10L)) ++
      Seq((1L, 70L), (1L, 71L), (1L, 72L), (1L, 73L))
    val out = spikes(rows: _*)
    assert(out((1L, 7L)) == ((4L, 7L, true)))
    assert(out((1L, 6L)) == ((1L, 6L, false)))
  }

  test("rateSpikes: RANGE frame means absent buckets count zero") {
    // bucket 0 is heavy, bucket 9 is 9 buckets later: the trailing
    // 7-bucket window (2..8) is empty -> no trail, no spike (a ROWS
    // frame would wrongly compare against bucket 0)
    val rows = (0 until 10).map(i => (2L, i.toLong)) ++
      Seq((2L, 90L), (2L, 91L))
    val out = spikes(rows: _*)
    assert(out((2L, 9L)) == ((2L, 0L, false)))
    // first-ever bucket never spikes against an empty trail
    assert(out((2L, 0L)) == ((10L, 0L, false)))
  }

  // ---------------------------------------------------- plan shapes

  test("plan shape: resampleOhlc is ONE map-side-combined aggregate exchange, no window") {
    val plan = TimeSeriesOps.resampleOhlc(
        Seq((1L, 5L, 1.0, 1L)).toDF("k", "t", "v", "id"),
        "k", "t", "v", "id", bucket = 10L)
      .queryExecution.executedPlan.toString
    // struct-ordered min_by/max_by plan as a SortAggregate (partition-
    // local sort), but the scale properties hold: partial aggregation
    // before the single exchange, and no per-key window pass
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("partial_min_by"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("plan shape: gapFill has no whole-frame window and no cartesian") {
    val series = Seq((1L, 3L, 1.5), (1L, 6L, 2.5)).toDF("k", "b", "v")
    val plan = TimeSeriesOps.gapFill(series, "k", "b", "v")
      .queryExecution.executedPlan.toString
    // the fill window is keyed; the calendar join broadcasts at test
    // size and becomes a co-partitioned shuffle join at scale
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("seasonalProfile: hand-placed hours/dows, exact shares, pre-epoch parity") {
    val h = 3600000000L
    val d = 86400000000L
    // key "a": three events at hour 5 (two on epoch day 0 = Thursday,
    // one on day 1 = Friday), one at hour 9 on day 1
    // key "b": ONE pre-epoch event 30 min before 1970 -> hour 23, Wed
    val ev = Seq(
      ("a", 5 * h), ("a", 5 * h + 1L), ("a", d + 5 * h), ("a", d + 9 * h),
      ("b", -30L * 60000000L))
      .toDF("k", "t")
    val out = TimeSeriesOps.seasonalProfile(ev, "k", "t").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(("a", "hour", 5L)) == ((3L, 750000L, true)))
    assert(out(("a", "hour", 9L)) == ((1L, 250000L, false)))
    assert(out(("a", "dow", 4L)) == ((2L, 500000L, true)))  // Thu, tie-low peak
    assert(out(("a", "dow", 5L)) == ((2L, 500000L, false)))
    // pre-epoch: floor-div + positive-mod put -30min at hour 23, Wednesday
    assert(out(("b", "hour", 23L)) == ((1L, 1000000L, true)))
    assert(out(("b", "dow", 3L)) == ((1L, 1000000L, true)))
    assert(out.size == 6)
  }

  // --------------------------------------------- histogramQuantiles

  test("histogramQuantiles: out-of-range values land in the edge buckets") {
    val tiny = Seq((9L, -100.0), (9L, 1e9), (9L, 55.0))
    val out = TimeSeriesOps.histogramQuantiles(
        tiny.toDF("group", "value"), "group", "value",
        lo = 0.0, hi = 100.0, nBuckets = 10, qs = Seq(1, 50, 100))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(out(1L) == 0L)   // p1 -> the clamped low bucket
    assert(out(50L) == 5L)  // 55.0 -> bucket 5
    assert(out(100L) == 9L) // p100 -> the clamped high bucket
  }
}
