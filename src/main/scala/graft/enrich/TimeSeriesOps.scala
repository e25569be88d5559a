package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Calendar-bucket time-series operators: OHLC downsampling and
  * gap-filled forward-fill alignment (the standard pre-processing in
  * front of the reference's rolling feature windows —
  * `/root/reference/transform/enrichment.py` assumes a regular,
  * gap-free per-entity time axis; these two operators are what
  * produce one from a raw event stream).
  *
  * Scale: both are single-exchange plans. [[resampleOhlc]] is one
  * aggregate on (key, bucket) with map-side partial combine —
  * `min_by`/`max_by` carry (time, tiebreak) struct ordering so
  * open/close are deterministic without a per-key window pass. The
  * struct-typed agg buffer makes Spark pick SortAggregate (a
  * partition-LOCAL sort on the grouping key, linearithmic in the
  * partition, no extra exchange), not HashAggregate — pinned by the
  * plan-shape spec. [[gapFill]] shuffles once on the key; the
  * calendar explode multiplies rows only by the key's own span, and
  * the fill window shares the exchange's partitioning.
  */
object TimeSeriesOps {

  /** Integer FLOOR division `c // d` (d > 0) as a column expression.
    * BOTH engines' native integer division truncates toward zero
    * (Spark `div`, and DuckDB 1.0.0 `//`: -7 // 2 = -3), which is the
    * wrong calendar semantics for pre-1970 (negative-epoch)
    * timestamps — a ts an hour before the epoch belongs to day -1,
    * not day 0 (ADVICE r13 #3). The positive-mod rewrite makes the
    * Spark side a true floor on both signs, in exact integer
    * arithmetic. The DuckDB oracles spell plain `//` because every
    * driver fixture is positive-epoch (truncation == floor there); an
    * oracle replaying negative-epoch data must use this same
    * positive-mod spelling. */
  private[graft] def floorDivCol(c: String, d: Long): org.apache.spark.sql.Column =
    expr(s"($c - ((($c % $d) + $d) % $d)) div $d")

  /** Downsample an event stream to per-(key, bucket) OHLC bars.
    *
    * open/close pick the value at the earliest/latest (time, tie)
    * within the bucket via `min_by`/`max_by` over a struct — an
    * aggregate, not a window, so the plan is ONE map-side-combined
    * aggregate exchange (SortAggregate — see the object doc).
    * high/low/volume/n are plain aggregates over the same grouping.
    * All outputs are raw input values except `volume` (a double sum,
    * rounded to 6dp on both engines by the catalog entry).
    *
    * @param bucket bucket width in the units of `timeCol`
    */
  def resampleOhlc(events: DataFrame, keyCol: String, timeCol: String,
                   valueCol: String, tieCol: String,
                   bucket: Long): DataFrame = {
    val ord = struct(col(timeCol), col(tieCol))
    events
      .withColumn("bucket", floorDivCol(timeCol, bucket))
      .groupBy(col(keyCol), col("bucket"))
      .agg(
        min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        sum(col(valueCol)).as("volume"),
        count(lit(1)).as("n_events"))
  }

  /** Align a per-(key, bucket) series onto a gap-free bucket axis and
    * forward-fill the value.
    *
    * The calendar is each key's own [min, max] bucket range
    * (`sequence` + explode — rows grow by the key's span, never by
    * the global calendar), left-joined with the observed rows, then
    * forward-filled with `last(value, ignoreNulls)` over the key
    * window. `is_filled` marks synthesized rows. The explode, the
    * join, and the fill window all share one key exchange.
    *
    * A key's leading buckets before its first observation cannot occur
    * (the range starts AT the first observation), so the filled value
    * is never null.
    */
  def gapFill(series: DataFrame, keyCol: String, bucketCol: String,
              valueCol: String): DataFrame = {
    val spans = series.groupBy(col(keyCol))
      .agg(min(col(bucketCol)).as("__lo"), max(col(bucketCol)).as("__hi"))
    val calendar = spans
      .select(col(keyCol), explode(expr("sequence(__lo, __hi)")).as(bucketCol))
    val w = Window.partitionBy(keyCol).orderBy(col(bucketCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar
      .join(series.select(col(keyCol), col(bucketCol), col(valueCol)),
        Seq(keyCol, bucketCol), "left")
      .withColumn("is_filled", col(valueCol).isNull)
      .withColumn("filled", last(col(valueCol), ignoreNulls = true).over(w))
      .drop(valueCol)
  }

  /** Per-entity event-RATE spike flags: bucket the stream (e.g. daily),
    * compare each bucket's count against the trailing `window`-bucket
    * sum via a RANGE frame over the bucket index — gaps need no
    * synthesis because an absent bucket simply contributes nothing to
    * the range sum (missing days count as zero by construction, where
    * a ROWS frame would silently skip them and compare against the
    * wrong horizon). The flag is exact integer arithmetic:
    * `n * window > trail_sum * factor` (i.e. the bucket runs more than
    * `factor` times the trailing per-bucket average), gated on a
    * non-empty trail so an entity's first-ever bucket is never a
    * "spike" against nothing.
    *
    * 100 TB plan: one (key, bucket) aggregate exchange, then the range
    * window rides one key exchange — the usual two-exchange
    * events-family shape, row-linear.
    *
    * Output: (key, bucket, n_events, trail_sum, is_spike).
    */
  def rateSpikes(events: DataFrame, keyCol: String, timeCol: String,
                 bucket: Long, window: Int = 7,
                 factor: Int = 3): DataFrame = {
    val daily = events
      .withColumn("bucket", floorDivCol(timeCol, bucket))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val trail = Window.partitionBy(keyCol).orderBy(col("bucket").asc)
      .rangeBetween(-window, -1)
    daily
      .withColumn("trail_sum", coalesce(sum("n_events").over(trail), lit(0L)))
      .withColumn("is_spike",
        col("trail_sum") > 0L &&
          col("n_events") * window > col("trail_sum") * factor)
  }

  /** Fixed-grid histogram quantiles per key — the MERGEABLE quantile
    * summary (exact quantiles need a full sort or a rank pass;
    * bucket-count grids merge by addition, so they window-merge,
    * stream, and shard — the HLL/CMS argument applied to quantiles).
    * Values clamp into `nBuckets` equal buckets over [lo, hi); the
    * q-th percentile is the FIRST bucket whose cumulative count
    * reaches ceil(n·q/100), tested as the integer cross-multiply
    * `cum·100 ≥ n·q` — no division, no float rank. The reported
    * answer is a bucket (its lower bound as `value_lo`), i.e. the
    * quantile to grid resolution BY CONTRACT; `eventsQuantiles` is
    * the exact-rank sibling when a sort pass is affordable.
    *
    * Engine parity: the bucket key is the IEEE-identical
    * `floor((v − lo) / width)` (the profile_value_histogram
    * convention) — the same doubles produce the same bucket in Spark
    * and DuckDB, so the two agree digit-for-digit. 100 TB plan: ONE
    * map-side-combined (key, bucket) aggregate is the only corpus-sized
    * work; the cumulative window and the per-q cut ride the
    * ≤ nBuckets-per-key frame. Output: (key, q_pct, n_events,
    * bucket, value_lo).
    */
  def histogramQuantiles(events: DataFrame, keyCol: String,
                         valueCol: String, lo: Double, hi: Double,
                         nBuckets: Int,
                         qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(nBuckets > 0 && hi > lo, s"need hi > lo, nBuckets > 0")
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      s"quantiles must be in [1, 100]: $qs")
    val width = (hi - lo) / nBuckets
    val counts = events
      .withColumn("__b", least(greatest(
        floor((col(valueCol) - lit(lo)) / lit(width)).cast("long"),
        lit(0L)), lit(nBuckets - 1L)))
      .groupBy(col(keyCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val run = Window.partitionBy(keyCol).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(keyCol)
    val structs = qs.map(q => s"struct(cast($q as bigint) as q_pct)")
      .mkString(", ")
    counts
      .withColumn("__cum", sum("__c").over(run))
      .withColumn("__n", sum("__c").over(tot))
      .select(col(keyCol), col("__b"), col("__cum"), col("__n"),
        explode(expr(s"array($structs)")).as("__q"))
      .filter(col("__cum") * lit(100L) >= col("__n") * col("__q.q_pct"))
      .groupBy(col(keyCol), col("__q.q_pct").as("q_pct"))
      .agg(min("__b").as("bucket"), max("__n").as("n_events"))
      .withColumn("value_lo",
        lit(lo) + col("bucket").cast("double") * lit(width))
      .select(col(keyCol), col("q_pct"), col("n_events"), col("bucket"),
        col("value_lo"))
  }

  /** Histogram-vs-exact quantile AUDIT — the acceptance check for
    * [[histogramQuantiles]]: joins each (key, q) grid answer with the
    * exact rank-picked quantile and verifies the PROVABLE invariant
    * that the grid bucket CONTAINS the exact quantile. (Proof: the
    * clamped bucket key is monotone in the value, so values in
    * buckets before bucket(v*) are all < v* — at most rank−1 of them
    * — while the cumulative through bucket(v*) counts every value
    * ≤ v*, at least rank; the first bucket crossing the rank is
    * therefore exactly bucket(v*).) `in_bucket` is that invariant as
    * a hash-gated column; a false would mean one of the two chains
    * broke. The exact side pays the per-key rank window the grid
    * sibling exists to avoid — this is the audit-scale spelling, the
    * eventsQuantiles trade.
    *
    * Output: (key, q_pct, n_events, bucket, value_lo, exact_value,
    * in_bucket).
    */
  def histogramQuantileAudit(events: DataFrame, keyCol: String,
                             valueCol: String, tieCol: String,
                             lo: Double, hi: Double, nBuckets: Int,
                             qs: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val width = (hi - lo) / nBuckets
    val approx = histogramQuantiles(events, keyCol, valueCol, lo, hi,
      nBuckets, qs)
    val rank = Window.partitionBy(keyCol)
      .orderBy(col(valueCol).asc, col(tieCol).asc)
    val tot = Window.partitionBy(keyCol)
    val structs = qs.map(q => s"struct(cast($q as bigint) as q_pct)")
      .mkString(", ")
    val exact = events
      .withColumn("__rn", row_number().over(rank).cast("long"))
      .withColumn("__n", count(lit(1)).over(tot))
      .select(col(keyCol), col(valueCol), col("__rn"), col("__n"),
        explode(expr(s"array($structs)")).as("__q"))
      .filter(col("__rn") * lit(100L) >= col("__n") * col("__q.q_pct"))
      .groupBy(col(keyCol), col("__q.q_pct").as("q_pct"))
      .agg(min(struct(col("__rn").as("r"),
        col(valueCol).cast("double").as("v"))).as("__m"))
      .select(col(keyCol), col("q_pct"), col("__m.v").as("exact_value"))
    approx.join(exact, Seq(keyCol, "q_pct"))
      .withColumn("__eb", least(greatest(
        floor((col("exact_value") - lit(lo)) / lit(width)).cast("long"),
        lit(0L)), lit(nBuckets - 1L)))
      .withColumn("in_bucket", col("__eb") === col("bucket"))
      .select(col(keyCol), col("q_pct"), col("n_events"), col("bucket"),
        col("value_lo"), col("exact_value"), col("in_bucket"))
  }

  /** CUSUM changepoint screen over the corpus-wide event rate: bucket
    * the stream (e.g. daily), zero-fill the [min, max] calendar, and
    * accumulate the INTEGER-SCALED deviation from the global mean —
    * `dev_scaled_i = n_i·D − N` (deviation × D, so no division ever
    * happens) — whose running sum is the classic CUSUM statistic. The
    * bucket where |cusum| peaks is the maximum-likelihood single
    * changepoint of a mean-shift model (Page 1954; ties break to the
    * earlier bucket via the (|cusum| desc, bucket asc) rank). All
    * columns exact BIGINT — n_i·D stays in int64 while
    * events × calendar-days < ~9.2e18.
    *
    * 100 TB plan: ONE bucket-grain map-side-combined aggregate is the
    * only corpus-sized work; the calendar fill, the running-sum
    * window, and the peak rank all ride the calendar-bounded frame
    * (days, not events). Output: one row per calendar bucket —
    * (bucket, n_events, dev_scaled, cusum_scaled, is_changepoint).
    */
  def cusumChangepoint(events: DataFrame, timeCol: String,
                       bucket: Long): DataFrame = {
    val daily = events
      .withColumn("bucket", floorDivCol(timeCol, bucket))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val span = daily.agg(min("bucket").as("__lo"), max("bucket").as("__hi"),
      sum("n_events").as("__n"))
    val cal = span.select(explode(expr("sequence(__lo, __hi)")).as("bucket"),
      (col("__hi") - col("__lo") + lit(1L)).as("__d"), col("__n"))
    val run = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peak = Window.orderBy(abs(col("cusum_scaled")).desc,
      col("bucket").asc)
    cal
      .join(daily, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_events"))
      .withColumn("dev_scaled", col("n_events") * col("__d") - col("__n"))
      .withColumn("cusum_scaled", sum("dev_scaled").over(run))
      .withColumn("is_changepoint", row_number().over(peak) === 1)
      .select(col("bucket"), col("n_events"), col("dev_scaled"),
        col("cusum_scaled"), col("is_changepoint"))
  }

  /** Two-level BINARY SEGMENTATION changepoints (Scott & Knott 1974
    * — the standard multi-changepoint extension of
    * [[cusumChangepoint]]'s single ML shift): find the global
    * max-|CUSUM| day, split the calendar there, and re-run the same
    * integer-scaled statistic WITHIN each side — three candidate
    * shifts where one query used to give one. Every segment's
    * deviation rescales to its own support
    * (`dev = n_t·d_seg − N_seg`, exact BIGINT — the parent op's
    * zero-float contract), so a side's statistic is the one the
    * single-changepoint op would compute on that side alone
    * (spec-pinned). Ties break on the earlier bucket, both levels.
    *
    * 100 TB plan: ONE map-side-combined day rollup (size-gate
    * persisted, [[graft.llmdata.PersistPolicy]]; the bounded day
    * frame is read by the global pass and the segment pass, and the
    * cache follows the caller-release contract — ADVICE r16 #2);
    * every window rides the calendar frame; the level-1 cut
    * attaches as a broadcast scalar. Output: 3 rows (2 if the cut
    * lands on the last day) — (level, segment, bucket, n_days,
    * n_events, cusum_scaled), level 1 = global (segment −1),
    * level 2 = within-side bests (segment 0 left / 1 right).
    */
  def binarySegmentation(events: DataFrame, timeCol: String,
                         bucket: Long): DataFrame = {
    // Bounded day frame read by both the global and the segment pass.
    // Size-gated persist + caller-release (ADVICE r16 #2): the
    // returned frame reads the cache lazily, so release happens when
    // the caller's session cache clears (the trainScores contract) —
    // an unconditional never-released persist was accumulating cached
    // partitions across same-session invocations. Above the gate the
    // two passes each recompute the one map-side-combined rollup.
    val daily = graft.llmdata.PersistPolicy.persistGated(
      events
        .withColumn("bucket", floorDivCol(timeCol, bucket))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_events")),
      events)
    val span = daily.agg(min("bucket").as("__lo"), max("bucket").as("__hi"),
      sum("n_events").as("__n"))
    val cal = span.select(explode(expr("sequence(__lo, __hi)")).as("bucket"),
        (col("__hi") - col("__lo") + lit(1L)).as("__d"), col("__n"))
      .join(daily, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_events"))
    val run = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = cal
      .withColumn("__cs", sum(col("n_events") * col("__d") - col("__n"))
        .over(run))
    val peak = Window.orderBy(abs(col("__cs")).desc, col("bucket").asc)
    val cp = g.withColumn("__rk", row_number().over(peak))
      .filter(col("__rk") === 1)
      .select(col("bucket").as("__cp"), col("__cs").as("__cs1"),
        col("__d").as("__dall"), col("__n").as("__nall"))
    val global = cp.select(lit(1L).as("level"), lit(-1L).as("segment"),
      col("__cp").as("bucket"), col("__dall").as("n_days"),
      col("__nall").as("n_events"), col("__cs1").as("cusum_scaled"))
    val segWin = Window.partitionBy("__seg")
    val segRun = Window.partitionBy("__seg").orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = cal.select(col("bucket"), col("n_events"))
      .crossJoin(broadcast(cp.select(col("__cp"))))
      .withColumn("__seg", when(col("bucket") <= col("__cp"), 0L)
        .otherwise(1L))
      .withColumn("__ds", count(lit(1)).over(segWin))
      .withColumn("__ns", sum("n_events").over(segWin))
      .withColumn("__cs", sum(col("n_events") * col("__ds") - col("__ns"))
        .over(segRun))
    val segPeak = Window.partitionBy("__seg")
      .orderBy(abs(col("__cs")).desc, col("bucket").asc)
    val sides = s.withColumn("__rk", row_number().over(segPeak))
      .filter(col("__rk") === 1)
      .select(lit(2L).as("level"), col("__seg").as("segment"),
        col("bucket"), col("__ds").as("n_days"),
        col("__ns").as("n_events"), col("__cs").as("cusum_scaled"))
    global.unionAll(sides).orderBy("level", "segment")
  }

  /** Seasonal load shape per key: hour-of-day and day-of-week event
    * distributions with exact ppm shares and the peak bucket flagged
    * — the capacity/traffic profile behind batch-window placement and
    * anomaly baselines. Both grains ride ONE scan (each row explodes
    * into its two grain buckets), the count aggregate map-side
    * combines into a <= 31-buckets-per-(key, grain) frame, and the
    * share/peak windows run over THAT bounded frame only. Bucket
    * arithmetic is the floor-div + positive-mod spelling on both
    * engines (pre-epoch timestamps keep exact bucket parity — the
    * ADVICE r13 #3 contract); epoch day 0 is a Thursday, so `dow`
    * is `(day + 4) mod 7` with 0 = Sunday. Peak ties break on the
    * earlier bucket. Output: one row per (key, grain, bucket) —
    * (key, grain, bucket, n_events, share_ppm, is_peak).
    */
  def seasonalProfile(events: DataFrame, keyCol: String,
                      timeCol: String): DataFrame = {
    def pmod(c: org.apache.spark.sql.Column, n: Long) = ((c % n) + n) % n
    val hour = pmod(floorDivCol(timeCol, 3600000000L), 24L)
    val dow = pmod(floorDivCol(timeCol, 86400000000L) + 4L, 7L)
    val buckets = events
      .select(col(keyCol), explode(array(
        struct(lit("hour").as("grain"), hour.as("bucket")),
        struct(lit("dow").as("grain"), dow.as("bucket")))).as("g"))
      .select(col(keyCol), col("g.grain"), col("g.bucket"))
    val counts = buckets.groupBy(col(keyCol), col("grain"), col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val per = Window.partitionBy(col(keyCol), col("grain"))
    val rk = Window.partitionBy(col(keyCol), col("grain"))
      .orderBy(col("n_events").desc, col("bucket").asc)
    counts
      .withColumn("__tot", sum(col("n_events")).over(per))
      .withColumn("share_ppm", expr("n_events * 1000000 div __tot"))
      .withColumn("is_peak", row_number().over(rk) === 1)
      .drop("__tot")
  }

  /** Events counted per `bucket`-wide time bucket over the dense
    * calendar from the first to the last bucket, empty buckets as 0:
    * (bucket, n_events).
    */
  private def calendarCounts(events: DataFrame, timeCol: String, bucket: Long): DataFrame = {
    val daily = events
      .withColumn("bucket", floorDivCol(timeCol, bucket))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val span = daily.agg(min("bucket").as("__lo"), max("bucket").as("__hi"))
    span.select(explode(expr("sequence(__lo, __hi)")).as("bucket"))
      .join(daily, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_events"))
  }

  /** Mann-Kendall trend test over the zero-filled daily event-count
    * series — the nonparametric "is traffic trending?" answer that
    * needs no distribution assumption and pairs with
    * [[cusumChangepoint]] (CUSUM locates a level SHIFT; MK scores a
    * monotone DRIFT): `S = Σ_{i<j} sign(x_j − x_i)`, tie-corrected
    * variance `18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)`, and the
    * continuity-corrected normal score `z = (S − sign(S)) / sqrt(Var)`.
    *
    * Everything up to `z` is exact integer arithmetic; `z` divides
    * the exact BIGINT numerator by one sqrt of an exact-integer
    * ratio, the same IEEE op order on both engines. int64 bound:
    * `n(n−1)(2n+5)` overflows past ~n = 1.6e6 DAYS (4,400 years of
    * daily buckets) — unreachable at any grain worth testing.
    *
    * 100 TB plan: the raw scan collapses to the day-grain aggregate
    * FIRST (map-side combined, one shuffle); the O(d²) sign pairs,
    * the tie groups, and the variance all ride that calendar-bounded
    * frame (d² ≈ 1e7 cells for 10 years of days — one task's work).
    * Output: one row — (n_days, n_nonzero_days, s_stat, var_s_x18,
    * z_score, trend).
    */
  def mannKendall(events: DataFrame, timeCol: String,
                  bucket: Long): DataFrame = {
    val cal = calendarCounts(events, timeCol, bucket)
    val a = cal.select(col("bucket").as("b1"), col("n_events").as("x1"))
    val b = cal.select(col("bucket").as("b2"), col("n_events").as("x2"))
    val s = a.join(b, col("b2") > col("b1"))
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"),
        count(lit(1)).as("__np"))
    val ties = cal.groupBy("n_events").agg(count(lit(1)).as("__t"))
      .agg(sum(expr("__t * (__t - 1) * (2 * __t + 5)")).as("__tie"),
        sum("__t").as("n_days"),
        sum(when(col("n_events") > 0L, col("__t")).otherwise(0L))
          .as("n_nonzero_days"))
    s.crossJoin(broadcast(ties))
      .withColumn("var_s_x18", expr(
        "n_days * (n_days - 1) * (2 * n_days + 5) - __tie"))
      .withColumn("z_score", expr(
        "case when var_s_x18 <= 0 then 0.0 else " +
          "cast(s_stat - sign(s_stat) as double) " +
          "/ sqrt(cast(var_s_x18 as double) / 18.0) end"))
      .withColumn("trend", expr(
        "case when z_score > 1.96 then 'increasing' " +
          "when z_score < -1.96 then 'decreasing' else 'none' end"))
      .select(col("n_days"), col("n_nonzero_days"), col("s_stat"),
        col("var_s_x18"), col("z_score"), col("trend"))
  }

  /** Deseasonalized anomaly flags over the zero-filled HOURLY count
    * series — [[seasonalProfile]] turned into a detector: each
    * calendar hour is compared to the mean of its own (day-of-week,
    * hour-of-day) cell across the span, so a 3am Sunday spike is
    * judged against 3am Sundays, not the daily average (the
    * rate-spikes op's blind spot on strongly cyclic traffic).
    *
    * Exactness: the cell mean `cell_total/n_cell_hours` stays
    * rational — the deviation ratio is one truncating integer
    * division, `dev_ppm = c·n_cell_hours·1e6 div cell_total − 1e6`;
    * an all-zero cell deviates by definition 0 (a zero observation
    * against a zero mean is not an anomaly). Bucket arithmetic is the
    * floor-div + positive-mod spelling (pre-epoch parity, the ADVICE
    * r13 #3 contract); epoch day 0 is Thursday, dow 0 = Sunday.
    *
    * 100 TB plan: the raw scan collapses to the hour-grain aggregate
    * first (one shuffle); the calendar zero-fill and the 168-cell
    * seasonal table both ride that calendar-bounded frame, and the
    * cell stats attach by broadcast. Output: flagged hours only —
    * (bucket, n_events, dow, hod, cell_mean_micro, dev_ppm).
    */
  def seasonalResidualOutliers(events: DataFrame, timeCol: String,
                               thresholdPpm: Long = 500000L): DataFrame = {
    val hourly = events
      .withColumn("bucket", floorDivCol(timeCol, 3600000000L))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val span = hourly.agg(min("bucket").as("__lo"), max("bucket").as("__hi"))
    val cal = span.select(explode(expr("sequence(__lo, __hi)")).as("bucket"))
      .join(hourly, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_events"))
      .withColumn("hod", expr("((bucket % 24) + 24) % 24"))
      .withColumn("dow", expr(
        "((((bucket - ((bucket % 24) + 24) % 24) div 24 + 4) % 7) + 7) % 7"))
    val cells = cal.groupBy("dow", "hod")
      .agg(sum("n_events").as("__ct"), count(lit(1)).as("__nh"))
    cal
      .join(broadcast(cells), Seq("dow", "hod"))
      .withColumn("cell_mean_micro", expr("__ct * 1000000 div __nh"))
      .withColumn("dev_ppm", expr(
        "case when __ct = 0 then 0 " +
          "else n_events * __nh * 1000000 div __ct - 1000000 end"))
      .filter(abs(col("dev_ppm")) >= thresholdPpm)
      .select(col("bucket"), col("n_events"), col("dow"), col("hod"),
        col("cell_mean_micro"), col("dev_ppm"))
  }

  /** Daily DAU/MAU stickiness with EXACT rolling distinct counts —
    * the engagement ratio next to [[lifetimeHistogram]]'s shape and
    * the exact sibling of the HLL-merge WAU window (events_wau_rolling
    * trades exactness for mergeability; this op gets exactness at
    * scale WITHOUT the windowed-distinct blowup): a user is
    * MAU-active on day d iff their LATEST presence p ≤ d satisfies
    * p ≥ d − window + 1, so each (user, presence-day) row covers the
    * half-open run `[p, min(next_p − 1, p + window − 1)]` and every
    * (user, day) membership is counted EXACTLY ONCE — the coverage
    * explode is ≤ window× the presence frame, never |users|·|days|.
    *
    * 100 TB plan: one distinct shuffle to (user, day) presence grain,
    * one entity-key lead window on it, a ≤ window× bounded explode,
    * and two map-side-combined day-grain aggregates; the observed-day
    * bound attaches by broadcast. Output: one row per day with ≥ 1
    * active-in-window user (a zero-MAU day has no denominator and no
    * row) — (bucket, dau, mau, stickiness_ppm).
    */
  def stickiness(events: DataFrame, keyCol: String, timeCol: String,
                 window: Int = 30): DataFrame = {
    require(window >= 1, s"window must be positive: $window")
    val presence = events
      .withColumn("__d", floorDivCol(timeCol, 86400000000L))
      .select(col(keyCol).as("__u"), col("__d"))
      .distinct()
    val w = Window.partitionBy("__u").orderBy(col("__d").asc)
    val cover = presence
      .withColumn("__next", lead(col("__d"), 1).over(w))
      .withColumn("__hi", least(
        coalesce(col("__next") - 1L, col("__d") + (window - 1L)),
        col("__d") + (window - 1L)))
      .select(explode(expr("sequence(__d, __hi)")).as("bucket"))
    val span = presence.agg(max("__d").as("__mx"))
    val mau = cover
      .crossJoin(broadcast(span))
      .filter(col("bucket") <= col("__mx"))
      .groupBy("bucket").agg(count(lit(1)).as("mau"))
    val dau = presence.groupBy(col("__d").as("bucket"))
      .agg(count(lit(1)).as("dau"))
    mau
      .join(dau, Seq("bucket"), "left")
      .na.fill(0L, Seq("dau"))
      .withColumn("stickiness_ppm", expr("dau * 1000000 div mau"))
      .select(col("bucket"), col("dau"), col("mau"), col("stickiness_ppm"))
  }

  /** Per-entity lifetime histogram over the event stream — the
    * engagement-shape summary (one-day wonders vs long-lived users)
    * behind retention targets and churn baselines: lifetime = last
    * active day − first active day + 1, bucketed exactly, with the
    * active-day totals carried so the sparsity of long lifetimes
    * (active 3 of 40 days) is visible next to the span.
    *
    * 100 TB plan: ONE shuffle to entity grain (min/max/distinct-day
    * aggregate, map-side combined), then the histogram aggregate over
    * the |entities| frame; the grand total attaches by broadcast.
    * Output: (lifetime_days, n_users, total_active_days, share_ppm).
    */
  def lifetimeHistogram(events: DataFrame, keyCol: String,
                        timeCol: String): DataFrame = {
    val per = events
      .withColumn("__d", floorDivCol(timeCol, 86400000000L))
      .groupBy(col(keyCol))
      .agg(min("__d").as("__f"), max("__d").as("__l"),
        countDistinct(col("__d")).as("__a"))
      .withColumn("lifetime_days", col("__l") - col("__f") + lit(1L))
    val h = per.groupBy("lifetime_days")
      .agg(count(lit(1)).as("n_users"), sum("__a").as("total_active_days"))
    val tot = h.agg(sum("n_users").as("__t"))
    h.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("n_users * 1000000 div __t"))
      .select(col("lifetime_days"), col("n_users"), col("total_active_days"),
        col("share_ppm"))
  }

  /** Seasonal-naive forecast backtest over the zero-filled daily
    * count series — the accuracy floor every fancier forecaster must
    * beat, and the operational "is tomorrow predictable from last
    * week?" answer: method `naive1` predicts each day by the previous
    * day, `seasonal7` by the same weekday last week; both score MAE
    * on the days where their lag exists. The MASE-style comparison is
    * one division of the two rows downstream.
    *
    * Exactness: forecasts and absolute errors are integers; MAE
    * quantizes once as `(Σ|x−f|·1e6) div m` (truncating integer
    * division, identical both engines).
    *
    * 100 TB plan: the raw scan collapses to the day-grain aggregate
    * first; both lags ride ONE window-ordered pass over the
    * calendar-bounded frame (a single-partition window is fine at
    * |days| rows — the cusum/quantiles group-cardinality contract).
    * Output: one row per method — (method, n_days, total_abs_err,
    * mae_micro).
    */
  def seasonalNaiveBacktest(events: DataFrame, timeCol: String,
                            bucket: Long, season: Int = 7): DataFrame = {
    val cal = calendarCounts(events, timeCol, bucket)
    val w = Window.orderBy(col("bucket").asc)
    val scored = cal
      .withColumn("__f1", lag(col("n_events"), 1).over(w))
      .withColumn("__f7", lag(col("n_events"), season).over(w))
      .select(col("n_events"), explode(array(
        struct(lit("naive1").as("method"), col("__f1").as("f")),
        struct(lit(s"seasonal$season").as("method"), col("__f7").as("f"))))
        .as("m"))
      .select(col("n_events"), col("m.method").as("method"), col("m.f").as("f"))
      .filter(col("f").isNotNull)
    scored.groupBy("method")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("n_events") - col("f"))).as("total_abs_err"))
      .withColumn("mae_micro",
        expr("total_abs_err * 1000000 div greatest(n_days, 1)"))
  }

  /** Lag-k Pearson autocorrelation of the zero-filled daily count
    * series, lags 1..maxLag — the seasonality-strength readout next
    * to [[seasonalProfile]]'s shape (a strong lag-7 r on daily web
    * traffic IS the weekly cycle; a slowly decaying lag-1 says the
    * series is momentum-dominated and rate-spike baselines need a
    * wider window). Per lag the correlation is the textbook
    * cross-pair Pearson `r = (mΣxy − ΣxΣy) / sqrt((mΣx² − (Σx)²)
    * (mΣy² − (Σy)²))` over the (x_t, x_{t+k}) pairs.
    *
    * All five moments are exact BIGINT sums of integer counts; only
    * the final quotient is floating, same op order both engines.
    * int64 bound: `m·Σxy` overflows past ~(days · peak²) ≈ 9.2e18 —
    * e.g. 10 years of days at ~50M events/day; shard the day range
    * and add moments beyond that (the entropyRate convention).
    *
    * 100 TB plan: identical to [[mannKendall]] — one day-grain
    * aggregate shuffle, then the lag spine (maxLag rows) cross-joins
    * the calendar frame and the shifted self-join runs at
    * |days|·maxLag grain, all bounded. Zero-variance sides yield
    * r = 0 by the guarded denominator. Output: one row per lag —
    * (lag, n_pairs, r).
    */
  def autocorrelation(events: DataFrame, timeCol: String, bucket: Long,
                      maxLag: Int): DataFrame = {
    val cal = calendarCounts(events, timeCol, bucket)
    val lags = events.sparkSession.range(1, maxLag + 1L)
      .select(col("id").as("lag"))
    val a = cal.select(col("bucket").as("b1"), col("n_events").as("x"))
    val b = cal.select(col("bucket").as("b2"), col("n_events").as("y"))
    a.crossJoin(broadcast(lags))
      .join(b, col("b2") === col("b1") + col("lag"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum("x").as("__sx"), sum("y").as("__sy"),
        sum(expr("x * y")).as("__sxy"),
        sum(expr("x * x")).as("__sxx"),
        sum(expr("y * y")).as("__syy"))
      .withColumn("__vx", expr("n_pairs * __sxx - __sx * __sx"))
      .withColumn("__vy", expr("n_pairs * __syy - __sy * __sy"))
      .withColumn("r", expr(
        "case when __vx <= 0 or __vy <= 0 then 0.0 else " +
          "cast(n_pairs * __sxy - __sx * __sy as double) " +
          "/ sqrt(cast(__vx as double) * cast(__vy as double)) end"))
      .select(col("lag"), col("n_pairs"), col("r"))
  }

  /** Population-Stability-Index drift of a categorical mix between
    * the first and second half of the observation window — the
    * industry-standard drift score next to the source-KL audit
    * (`PSI = Σ_c (p_c − q_c)·ln(p_c/q_c)`, every term ≥ 0; < 0.1
    * reads stable, > 0.25 reads shifted). Halves split at the
    * midpoint day `(min+max) div 2` — a deterministic calendar cut,
    * no row sampling. Laplace +1 smoothing on BOTH sides (stated) so
    * categories absent from one half contribute a finite, exact
    * term instead of a divergence.
    *
    * Exactness: category counts are exact BIGINT from one aggregate;
    * shares are smoothed doubles with the identical op sequence on
    * both engines, and each category's PSI term quantizes ONCE to
    * integer micro-nats on the |categories|-bounded frame (the
    * surprisal discipline); the total is an exact integer sum of
    * those terms.
    *
    * 100 TB plan: one scan, one map-side-combined (category, half)
    * aggregate; the midpoint and the totals attach by broadcast;
    * windows ride the bounded category frame. Output: one row per
    * category — (category, n_first, n_second, p_ppm, q_ppm,
    * term_micro, psi_total_micro), ordered by category.
    */
  def categoryPsiDrift(events: DataFrame, catCol: String, timeCol: String,
                       bucket: Long = 86400000000L): DataFrame = {
    val d = events
      .select(col(catCol).as("category"),
        floorDivCol(timeCol, bucket).as("__b"))
      .filter(col("category").isNotNull)
    val mid = d.agg(expr("(min(__b) + max(__b)) div 2").as("__mid"))
    val counts = d.crossJoin(broadcast(mid))
      .groupBy("category")
      .agg(sum(when(col("__b") <= col("__mid"), 1L).otherwise(0L))
        .as("n_first"),
        sum(when(col("__b") > col("__mid"), 1L).otherwise(0L))
          .as("n_second"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("__ta", sum(col("n_first") + lit(1L)).over(wAll))
      .withColumn("__tb", sum(col("n_second") + lit(1L)).over(wAll))
      .withColumn("__p", expr(
        "cast(n_first + 1 as double) / cast(__ta as double)"))
      .withColumn("__q", expr(
        "cast(n_second + 1 as double) / cast(__tb as double)"))
      .withColumn("p_ppm", expr("(n_first + 1) * 1000000 div __ta"))
      .withColumn("q_ppm", expr("(n_second + 1) * 1000000 div __tb"))
      .withColumn("term_micro", floor(
        (col("__p") - col("__q")) * log(col("__p") / col("__q"))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .withColumn("psi_total_micro", sum("term_micro").over(wAll))
      .select(col("category"), col("n_first"), col("n_second"),
        col("p_ppm"), col("q_ppm"), col("term_micro"),
        col("psi_total_micro"))
      .orderBy("category")
  }

  /** Inter-arrival REGULARITY audit — the bot/automation heuristic a
    * crawl-scale event pipeline filters with before any engagement
    * statistic is trusted (scripted traffic fires on a timer; human
    * traffic has bursty gaps): per entity with ≥ `minEvents` events,
    * the squared coefficient of variation of consecutive-event gaps,
    * flagged a bot when the cadence is too regular
    * (cv² < `cv2ThresholdPpm`) — the exact-integer stand-in for the
    * Poisson test (a memoryless arrival process has cv² = 1; a timer
    * has cv² ≈ 0).
    *
    * Exactness: gaps are truncating-div SECONDS from the micro axis;
    * per entity k = n−1 gaps give exact moments s1 = Σg, s2 = Σg²,
    * and `cv² = (k·s2 − s1²)/s1²` reports as one exact floor
    * quotient in ppm — no float ever compares against the threshold
    * (the dedup_threshold_sweep rule). Zero-span entities (all
    * events in one second, s1 = 0) report cv2_ppm 0 and flag as
    * bots by contract — a burst replayed at one instant is the most
    * regular cadence there is. The ppm scaling runs as the two-step
    * Horner `mm = num div den; mm·1e6 + (num − mm·den)·1e6 div den`
    * (the activityGini discipline — a one-shot `num·1e6` overflows
    * int64 already at cv² ≈ 1.4 on a month-long span). Int64 bound:
    * s2 ≤ max_gap·s1 and s1 ≤ span_s, so exact while
    * k·span_s² ≤ 9.2e18 and span_s ≤ 3e6 (a 30-day span allows
    * ~1.4e6 events per entity; pre-divide gaps to minutes beyond).
    *
    * 100 TB plan: one shuffle to the entity key, one lag window and
    * one map-side-combined aggregate per entity — the sessionize
    * exchange shape; output is entity-grain (the rfmSegments class).
    * Output: (key, n_events, span_s, mean_gap_s, cv2_ppm, is_bot)
    * for entities with ≥ minEvents, ordered by key.
    */
  def botRegularity(events: DataFrame, keyCol: String, timeCol: String,
                    minEvents: Int = 5,
                    cv2ThresholdPpm: Long = 100000L): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col("__t"))
    val gaps = events
      .select(col(keyCol), expr(s"cast($timeCol as bigint) div 1000000")
        .as("__t"))
      .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
    gaps
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum("__gap").as("__s1"),
        sum(expr("__gap * __gap")).as("__s2"))
      .filter(col("n_events") >= minEvents)
      .withColumn("__k", col("n_events") - 1L)
      .withColumn("span_s", col("__s1"))
      .withColumn("mean_gap_s", expr("__s1 div __k"))
      .withColumn("__num", expr("__k * __s2 - __s1 * __s1"))
      .withColumn("__den", expr("__s1 * __s1"))
      .withColumn("__mm", expr(
        "case when __s1 = 0 then 0 else __num div __den end"))
      .withColumn("cv2_ppm", expr(
        "case when __s1 = 0 then 0 " +
          "else __mm * 1000000 + (__num - __mm * __den) * 1000000 div __den end"))
      .withColumn("is_bot", col("cv2_ppm") < cv2ThresholdPpm)
      .select(col(keyCol), col("n_events"), col("span_s"),
        col("mean_gap_s"), col("cv2_ppm"), col("is_bot"))
      .orderBy(keyCol)
  }

  /** EWMA control-chart anomalies on the zero-filled daily count
    * series (Roberts 1959 — the streaming-shaped changepoint monitor
    * next to [[cusumChangepoint]]'s single retrospective shift): each
    * day is judged against the exponentially-weighted mean of all
    * PRIOR days (the one-step-ahead forecast `lag(ewma, 1)`), and
    * flags when the relative deviation exceeds `thresholdPpm`.
    *
    * Replay contract: the EWMA recursion runs in doubles with the
    * IDENTICAL op order on both engines (the bit-exact w_ema
    * precedent — seeded at the first day, `α·x + (1−α)·e`,
    * α = 2/(span+1)), the deviation quantizes once to integer ppm,
    * and only THAT integer compares against the threshold. The first
    * day has no forecast and emits dev_ppm 0 by contract. The
    * forecast is > 0 always: the seed day is the first OBSERVED day
    * (count ≥ 1) and a positive EWMA never reaches exact 0.0 under
    * α < 1.
    *
    * 100 TB plan: one map-side-combined day-grain aggregate collapses
    * the corpus; the calendar fill, the single-partition recursion
    * window, and the flags all ride the BOUNDED day frame (the
    * cusum/seasonal class — a 100× corpus on a fixed window makes
    * this frame denser, not longer). Output: one row per calendar
    * day — (bucket, n_events, ewma_prior, dev_ppm, is_anomaly).
    */
  def ewmaAnomaly(events: DataFrame, timeCol: String,
                  bucket: Long = 86400000000L, span: Int = 7,
                  thresholdPpm: Long = 500000L): DataFrame = {
    val daily = events
      .withColumn("bucket", floorDivCol(timeCol, bucket))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"))
    val bounds = daily.agg(min("bucket").as("__lo"), max("bucket").as("__hi"))
    val cal = bounds.select(explode(expr("sequence(__lo, __hi)")).as("bucket"))
      .join(daily, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_events"))
    val w = Window.orderBy("bucket")
    cal
      .withColumn("__e", Ewma.over(col("n_events"), span, minPeriods = 1,
        partitionBy = Nil, orderBy = Seq(col("bucket"))))
      .withColumn("ewma_prior", lag(col("__e"), 1).over(w))
      .withColumn("dev_ppm", when(col("ewma_prior").isNull, 0L)
        .otherwise(floor((col("n_events").cast("double") - col("ewma_prior"))
          / col("ewma_prior") * lit(1000000.0) + lit(0.5)).cast("long")))
      .withColumn("is_anomaly", abs(col("dev_ppm")) >= thresholdPpm)
      .select(col("bucket"), col("n_events"),
        graft.QuerySupport.r6(coalesce(col("ewma_prior"), lit(0.0)))
          .as("ewma_prior"),
        col("dev_ppm"), col("is_anomaly"))
      .orderBy("bucket")
  }
}
