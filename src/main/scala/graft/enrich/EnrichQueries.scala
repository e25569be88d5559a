package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CatalogEntry, QuerySupport}

/** Driver correctness/bench queries for the enrichment operators
  * (SURVEY §2.6 window features, §2.7 scalar ratio features) over the
  * driver's testdata. The `events` table plays the reference's
  * per-ticker OHLCV series: entity key `user_id`, event time `ts`,
  * `event_id` as a deterministic tie-break.
  *
  * Oracle design notes:
  *  - EMA-family oracles (ema/macd/atr) are recursive CTEs replicating
  *    the exact `alpha*x + (1-alpha)*ema` arithmetic order of
  *    [[EwmaWindowFunction]], so doubles are bit-identical before the
  *    final rounding.
  *  - All derived float outputs are `floor((x) * 1000000.0 + 0.5) / 1000000.0` on both sides.
  *  - Every query ends in a total-order ORDER BY (user_id, event_id).
  */
object EnrichQueries {

  /** `events` with `cols` and the event time in epoch micros as `t_us`
    * (after the columns), whatever the parquet's `ts` type: the time
    * axis of every events entry.
    */
  private def eventsMicros(s: SparkSession, dir: String, cols: String*): DataFrame = {
    val raw = QuerySupport.table(s, dir, "events")
    raw.select(cols.map(col) :+ QuerySupport.tsMicros(raw).as("t_us"): _*)
  }

  private val ctx = EnrichContext(Some("user_id"), Some("ts"), Seq("event_id"))

  private def events(s: SparkSession, dir: String): DataFrame =
    QuerySupport.table(s, dir, "events")

  private def lineitem(s: SparkSession, dir: String): DataFrame =
    QuerySupport.table(s, dir, "lineitem")

  /** Synthetic OHLCV projection of `events` (value+1 keeps prices
    * strictly positive for log returns). The SQL twin is [[baseSql]];
    * the arithmetic must stay identical on both sides.
    */
  private def ohlcv(df: DataFrame): DataFrame =
    df.select(
      col("user_id"), col("event_id"), col("ts"),
      (col("value") + 1.0).as("close"),
      ((col("value") + 1.0) * 1.02).as("high"),
      ((col("value") + 1.0) * 0.98).as("low"),
      (col("event_id") % 97).cast("double").as("volume"))

  private val baseSql =
    """base AS (
      |  SELECT user_id, event_id, ts,
      |         (value + 1.0) AS close,
      |         (value + 1.0) * 1.02 AS high,
      |         (value + 1.0) * 0.98 AS low,
      |         CAST(event_id % 97 AS DOUBLE) AS volume
      |  FROM events
      |)""".stripMargin

  /** PARTITION/ORDER clause shared by every windowed oracle. */
  private val po = "PARTITION BY user_id ORDER BY ts, event_id"

  private def featureQuery(
      feats: Seq[FeatureRequest],
      out: Seq[String],
      roundOut: Boolean = true,
      derive: DataFrame => DataFrame = identity,
      src: (SparkSession, String) => DataFrame = events)
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val enriched = FeatureCompiler(derive(src(s, dir)), feats, ctx)
    val cols = col("user_id") +: col("event_id") +:
      out.map(n => if (roundOut) QuerySupport.r6(col(n)).as(n) else col(n))
    enriched.select(cols: _*).orderBy("user_id", "event_id")
  }

  private def f(name: String, params: (String, Any)*) =
    FeatureRequest(name, params.toMap)

  // ---------------------------------------------------------------
  // Plain rolling-window features (guarded min_periods = window)
  // ---------------------------------------------------------------

  private def rollingOracle(expr: String, alias: String, n: Int, on: String = "value") =
    s"""SELECT user_id, event_id,
       |  floor((CASE WHEN count($on) OVER w = $n THEN $expr END) * 1000000.0 + 0.5) / 1000000.0 AS $alias
       |FROM events
       |WINDOW w AS ($po ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, event_id""".stripMargin

  private val wSma = CatalogEntry(
    "w_sma",
    featureQuery(Seq(f("sma", "on" -> "value", "window" -> 10)), Seq("sma_value_10")),
    Some(rollingOracle("avg(value) OVER w", "sma_value_10", 10)))

  private val wRollingVol = CatalogEntry(
    "w_rolling_vol",
    featureQuery(Seq(f("rolling_vol", "on" -> "value", "window" -> 10)), Seq("rolling_vol_value_10")),
    Some(rollingOracle("stddev_samp(value) OVER w", "rolling_vol_value_10", 10)))

  private val wRollingMax = CatalogEntry(
    "w_rolling_max",
    featureQuery(Seq(f("rolling_max", "on" -> "value", "window" -> 7)), Seq("rolling_max_value_7")),
    Some(rollingOracle("max(value) OVER w", "rolling_max_value_7", 7)))

  private val wRollingMin = CatalogEntry(
    "w_rolling_min",
    featureQuery(Seq(f("rolling_min", "on" -> "value", "window" -> 7)), Seq("rolling_min_value_7")),
    Some(rollingOracle("min(value) OVER w", "rolling_min_value_7", 7)))

  private val wZscore = CatalogEntry(
    "w_zscore",
    featureQuery(Seq(f("zscore", "on" -> "value", "window" -> 10)), Seq("zscore_value_10")),
    Some(
      s"""SELECT user_id, event_id,
         |  floor(((value - CASE WHEN count(value) OVER w = 10 THEN avg(value) OVER w END)
         |        / nullif(CASE WHEN count(value) OVER w = 10 THEN stddev_samp(value) OVER w END, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS zscore_value_10
         |FROM events
         |WINDOW w AS ($po ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin))

  private val wBbands = CatalogEntry(
    "w_bbands",
    featureQuery(
      Seq(f("bbands", "on" -> "value", "window" -> 20, "std_dev" -> 2)),
      Seq("bbands_bband_upper", "bbands_bband_middle", "bbands_bband_lower")),
    Some(
      s"""SELECT user_id, event_id,
         |  floor((mid + sd * 2.0) * 1000000.0 + 0.5) / 1000000.0 AS bbands_bband_upper,
         |  floor((mid) * 1000000.0 + 0.5) / 1000000.0 AS bbands_bband_middle,
         |  floor((mid - sd * 2.0) * 1000000.0 + 0.5) / 1000000.0 AS bbands_bband_lower
         |FROM (
         |  SELECT user_id, event_id,
         |    CASE WHEN count(value) OVER w = 20 THEN avg(value) OVER w END AS mid,
         |    CASE WHEN count(value) OVER w = 20 THEN stddev_samp(value) OVER w END AS sd
         |  FROM events
         |  WINDOW w AS ($po ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |)
         |ORDER BY user_id, event_id""".stripMargin))

  private val wRollingAvg = CatalogEntry(
    "w_rolling_avg",
    featureQuery(Seq(f("rolling_avg", "on" -> "value", "window" -> 5)), Seq("rolling_avg_value_5")),
    Some( // min_periods=1 (enrichment.py:235): no count guard
      s"""SELECT user_id, event_id,
         |  floor((avg(value) OVER ($po ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) * 1000000.0 + 0.5) / 1000000.0 AS rolling_avg_value_5
         |FROM events
         |ORDER BY user_id, event_id""".stripMargin))

  // ---------------------------------------------------------------
  // Shift-based transforms
  // ---------------------------------------------------------------

  private val wLag = CatalogEntry(
    "w_lag",
    featureQuery(Seq(f("lag", "on" -> "value", "periods" -> 3)), Seq("lag_value")),
    Some(
      s"""SELECT user_id, event_id,
         |  floor((lag(value, 3) OVER ($po)) * 1000000.0 + 0.5) / 1000000.0 AS lag_value
         |FROM events
         |ORDER BY user_id, event_id""".stripMargin))

  private val wDiff = CatalogEntry(
    "w_diff",
    featureQuery(Seq(f("diff", "on" -> "value", "periods" -> 2)), Seq("diff_value")),
    Some(
      s"""SELECT user_id, event_id,
         |  floor((value - lag(value, 2) OVER ($po)) * 1000000.0 + 0.5) / 1000000.0 AS diff_value
         |FROM events
         |ORDER BY user_id, event_id""".stripMargin))

  private val wRetLog = CatalogEntry(
    "w_ret_log",
    featureQuery(
      Seq(f("ret", "on" -> "close", "periods" -> 1, "method" -> "log")),
      Seq("ret_close"), derive = ohlcv),
    Some(
      s"""WITH $baseSql
         |SELECT user_id, event_id,
         |  floor((ln(close / lag(close, 1) OVER ($po))) * 1000000.0 + 0.5) / 1000000.0 AS ret_close
         |FROM base
         |ORDER BY user_id, event_id""".stripMargin))

  private val wRetSimple = CatalogEntry(
    "w_ret_simple",
    featureQuery(
      Seq(f("ret", "on" -> "close", "periods" -> 3, "method" -> "simple")),
      Seq("ret_close"), derive = ohlcv),
    Some(
      s"""WITH $baseSql
         |SELECT user_id, event_id,
         |  floor((close / lag(close, 3) OVER ($po) - 1.0) * 1000000.0 + 0.5) / 1000000.0 AS ret_close
         |FROM base
         |ORDER BY user_id, event_id""".stripMargin))

  private def pctChangeOracle(alias: String, p: Int) =
    s"""SELECT user_id, event_id,
       |  floor((value / lag(value, $p) OVER ($po) - 1.0) * 1000000.0 + 0.5) / 1000000.0 AS $alias
       |FROM events
       |ORDER BY user_id, event_id""".stripMargin

  private val wPctChange = CatalogEntry(
    "w_pct_change",
    featureQuery(Seq(f("pct_change", "on" -> "value", "periods" -> 4)), Seq("pct_change_value")),
    Some(pctChangeOracle("pct_change_value", 4)))

  private val wYoy = CatalogEntry(
    "w_yoy_growth",
    featureQuery(Seq(f("yoy_growth", "on" -> "value", "periods" -> 4)), Seq("yoy_growth_value")),
    Some(pctChangeOracle("yoy_growth_value", 4)))

  private val wQoq = CatalogEntry(
    "w_qoq_growth",
    featureQuery(Seq(f("qoq_growth", "on" -> "value")), Seq("qoq_growth_value")),
    Some(pctChangeOracle("qoq_growth_value", 1)))

  // ---------------------------------------------------------------
  // EMA family: recursive-CTE oracles, bit-identical arithmetic
  // ---------------------------------------------------------------

  private val wEma = CatalogEntry(
    "w_ema",
    featureQuery(Seq(f("ema", "on" -> "value", "window" -> 10)), Seq("ema_value_10")),
    Some(
      s"""WITH RECURSIVE ord AS (
         |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
         |         row_number() OVER ($po) AS rn
         |  FROM events
         |), rec AS (
         |  SELECT user_id, event_id, rn, x AS ema FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.user_id, o.event_id, o.rn,
         |         (2.0/11.0) * o.x + (1.0 - 2.0/11.0) * r.ema
         |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
         |)
         |SELECT user_id, event_id, floor((CASE WHEN rn >= 10 THEN ema END) * 1000000.0 + 0.5) / 1000000.0 AS ema_value_10
         |FROM rec ORDER BY user_id, event_id""".stripMargin))

  private val wMacd = CatalogEntry(
    "w_macd",
    featureQuery(
      Seq(f("macd", "on" -> "value", "fast_period" -> 12, "slow_period" -> 26, "signal_period" -> 9)),
      Seq("macd_macd", "macd_signal", "macd_hist")),
    Some(
      s"""WITH RECURSIVE ord AS (
         |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
         |         row_number() OVER ($po) AS rn
         |  FROM events
         |), rec AS (
         |  SELECT user_id, event_id, rn, x, x AS ef, x AS es,
         |         CAST(0.0 AS DOUBLE) AS macd, CAST(0.0 AS DOUBLE) AS sig
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.user_id, o.event_id, o.rn, o.x,
         |         (2.0/13.0) * o.x + (1.0 - 2.0/13.0) * r.ef,
         |         (2.0/27.0) * o.x + (1.0 - 2.0/27.0) * r.es,
         |         ((2.0/13.0) * o.x + (1.0 - 2.0/13.0) * r.ef)
         |           - ((2.0/27.0) * o.x + (1.0 - 2.0/27.0) * r.es),
         |         (2.0/10.0) * (((2.0/13.0) * o.x + (1.0 - 2.0/13.0) * r.ef)
         |                        - ((2.0/27.0) * o.x + (1.0 - 2.0/27.0) * r.es))
         |           + (1.0 - 2.0/10.0) * r.sig
         |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
         |)
         |SELECT user_id, event_id,
         |  floor((macd) * 1000000.0 + 0.5) / 1000000.0 AS macd_macd,
         |  floor((sig) * 1000000.0 + 0.5) / 1000000.0 AS macd_signal,
         |  floor((macd - sig) * 1000000.0 + 0.5) / 1000000.0 AS macd_hist
         |FROM rec ORDER BY user_id, event_id""".stripMargin))

  private val wAtr = CatalogEntry(
    "w_atr",
    featureQuery(
      Seq(f("atr", "high" -> "high", "low" -> "low", "close" -> "close", "window" -> 14)),
      Seq("atr__14"), derive = ohlcv),
    Some(
      s"""WITH RECURSIVE $baseSql, ord AS (
         |  SELECT user_id, event_id,
         |         greatest(high - low,
         |                  abs(high - lag(close) OVER ($po)),
         |                  abs(low - lag(close) OVER ($po))) AS tr,
         |         row_number() OVER ($po) AS rn
         |  FROM base
         |), rec AS (
         |  SELECT user_id, event_id, rn, tr AS a FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT o.user_id, o.event_id, o.rn,
         |         (2.0/15.0) * o.tr + (1.0 - 2.0/15.0) * r.a
         |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
         |)
         |SELECT user_id, event_id, floor((a) * 1000000.0 + 0.5) / 1000000.0 AS atr__14
         |FROM rec ORDER BY user_id, event_id""".stripMargin))

  // ---------------------------------------------------------------
  // Momentum / volume composites
  // ---------------------------------------------------------------

  private val wRsi = CatalogEntry(
    "w_rsi",
    featureQuery(Seq(f("rsi", "on" -> "value", "window" -> 14)), Seq("rsi_value_14")),
    Some(
      s"""WITH d AS (
         |  SELECT user_id, event_id, ts,
         |         value - lag(value) OVER ($po) AS delta
         |  FROM events
         |)
         |SELECT user_id, event_id,
         |  floor((100.0 - 100.0 / (1.0 +
         |    (CASE WHEN count(delta) OVER w = 14 THEN avg(greatest(delta, 0.0)) OVER w END)
         |    / nullif(CASE WHEN count(delta) OVER w = 14 THEN avg(greatest(-delta, 0.0)) OVER w END, 0.0))) * 1000000.0 + 0.5) / 1000000.0 AS rsi_value_14
         |FROM d
         |WINDOW w AS ($po ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin))

  private val wStoch = CatalogEntry(
    "w_stoch",
    featureQuery(
      Seq(f("stoch", "high" -> "high", "low" -> "low", "close" -> "close",
        "k_window" -> 14, "d_window" -> 3)),
      Seq("stoch_stoch_k", "stoch_stoch_d"), derive = ohlcv),
    Some(
      s"""WITH $baseSql, k AS (
         |  SELECT user_id, event_id, ts,
         |    100.0 * ((close - CASE WHEN count(low) OVER w = 14 THEN min(low) OVER w END)
         |      / nullif((CASE WHEN count(high) OVER w = 14 THEN max(high) OVER w END)
         |                - (CASE WHEN count(low) OVER w = 14 THEN min(low) OVER w END), 0.0)) AS kline
         |  FROM base
         |  WINDOW w AS ($po ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |)
         |SELECT user_id, event_id,
         |  floor((kline) * 1000000.0 + 0.5) / 1000000.0 AS stoch_stoch_k,
         |  floor((CASE WHEN count(kline) OVER wd = 3 THEN avg(kline) OVER wd END) * 1000000.0 + 0.5) / 1000000.0 AS stoch_stoch_d
         |FROM k
         |WINDOW wd AS ($po ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin))

  private val wObv = CatalogEntry(
    "w_obv",
    featureQuery(
      Seq(f("obv", "close" -> "close", "volume" -> "volume")),
      Seq("obv"), derive = ohlcv),
    Some(
      s"""WITH $baseSql, s AS (
         |  SELECT user_id, event_id, ts,
         |         volume * sign(coalesce(close - lag(close) OVER ($po), 0.0)) AS sv
         |  FROM base
         |)
         |SELECT user_id, event_id,
         |  floor((sum(sv) OVER ($po ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1000000.0 + 0.5) / 1000000.0 AS obv
         |FROM s
         |ORDER BY user_id, event_id""".stripMargin))

  private val wSessionFlags = CatalogEntry(
    "w_session_flags",
    featureQuery(
      Seq(f("session_flags")),
      Seq("session_flags_dow", "session_flags_month", "session_flags_week",
        "session_flags_hour", "session_flags_is_month_start", "session_flags_is_month_end"),
      roundOut = false,
      // session_flags needs a real timestamp; derive one (µs precision)
      // from either ts representation (see QuerySupport.tsMicros).
      derive = df => df.select(col("user_id"), col("event_id"),
        timestamp_micros(graft.QuerySupport.tsMicros(df)).as("ts"))),
    Some(
      s"""SELECT user_id, event_id,
         |  CAST(isodow(ts) - 1 AS BIGINT) AS session_flags_dow,
         |  CAST(month(ts) AS BIGINT) AS session_flags_month,
         |  CAST(weekofyear(ts) AS BIGINT) AS session_flags_week,
         |  CAST(hour(ts) AS BIGINT) AS session_flags_hour,
         |  CAST(CASE WHEN day(ts) = 1 THEN 1 ELSE 0 END AS BIGINT) AS session_flags_is_month_start,
         |  CAST(CASE WHEN ts::DATE = last_day(ts::DATE) THEN 1 ELSE 0 END AS BIGINT) AS session_flags_is_month_end
         |FROM events
         |ORDER BY user_id, event_id""".stripMargin))

  private val wEarningsRoll = CatalogEntry(
    "w_earnings_roll",
    featureQuery(
      Seq(f("avg_surprise", "window" -> 5), f("earnings_momentum", "window" -> 5)),
      Seq("avg_surprise__5", "earnings_momentum__5"),
      derive = df => df.select(
        col("user_id"), col("event_id"), col("ts"),
        col("value").as("earnings_surprisePercentage"),
        (col("value") * 0.5).as("earnings_surprise"))),
    Some( // min_periods=1 (enrichment.py:333,338)
      s"""SELECT user_id, event_id,
         |  floor((avg(value) OVER w) * 1000000.0 + 0.5) / 1000000.0 AS avg_surprise__5,
         |  floor((avg(value * 0.5) OVER w) * 1000000.0 + 0.5) / 1000000.0 AS earnings_momentum__5
         |FROM events
         |WINDOW w AS ($po ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin))

  // ---------------------------------------------------------------
  // Scalar ratio features (§2.7) over a lineitem-derived projection
  // ---------------------------------------------------------------

  private val scCtx = EnrichContext(None, None, Seq("l_orderkey", "l_linenumber"))

  /** Spark twin of [[fundamentalsSql]]. */
  private def fundamentals(df: DataFrame): DataFrame =
    df.select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice").as("balance_sheet_totalCurrentAssets"),
      (col("l_quantity") - 25.0).as("balance_sheet_totalCurrentLiabilities"),
      (col("l_discount") * 100.0).as("balance_sheet_inventory"),
      when(col("l_linenumber") % 3 === 0, lit(null).cast("double"))
        .otherwise(col("l_tax") * 1000.0).as("balance_sheet_longTermDebt"),
      (col("l_discount") * 50.0).as("balance_sheet_shortTermDebt"),
      (col("l_extendedprice") - col("l_quantity") * 10.0).as("balance_sheet_totalShareholderEquity"),
      (col("l_extendedprice") + 5.0).as("balance_sheet_totalAssets"),
      (col("l_extendedprice") * 0.1).as("cash_flow_operatingCashflow"),
      when(col("l_linenumber") % 4 === 0, lit(null).cast("double"))
        .otherwise(col("l_quantity") * 2.0).as("cash_flow_capitalExpenditures"),
      (col("l_quantity") - 25.0).as("cash_flow_netIncome"),
      (col("l_tax") * 100.0).as("cash_flow_dividendPayout"),
      (col("l_discount") * 10.0).as("earnings_reportedEPS"),
      (col("l_tax") * 10.0).as("earnings_estimatedEPS"),
      (col("l_extendedprice") * 0.4).as("income_statement_grossProfit"),
      when(col("l_orderkey") % 5 === 0, lit(0.0))
        .otherwise(col("l_extendedprice")).as("income_statement_totalRevenue"),
      (col("l_extendedprice") * 0.2).as("income_statement_operatingIncome"),
      (col("l_extendedprice") * 0.1).as("income_statement_netIncome"),
      (col("l_extendedprice") * 0.3).as("income_statement_ebitda"),
      (col("l_quantity") * 3.0).as("income_statement_researchAndDevelopment"),
      (col("l_extendedprice") * 0.25).as("income_statement_ebit"),
      col("l_discount").as("income_statement_interestExpense"))

  private val fundamentalsSql =
    """fx AS (
      |  SELECT l_orderkey, l_linenumber,
      |    l_extendedprice AS tca,
      |    (l_quantity - 25.0) AS tcl,
      |    (l_discount * 100.0) AS inv,
      |    CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_tax * 1000.0 END AS ltd,
      |    (l_discount * 50.0) AS stdebt,
      |    (l_extendedprice - l_quantity * 10.0) AS tse,
      |    (l_extendedprice + 5.0) AS ta,
      |    (l_extendedprice * 0.1) AS ocf,
      |    CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_quantity * 2.0 END AS capex,
      |    (l_quantity - 25.0) AS ni,
      |    (l_tax * 100.0) AS divpay,
      |    (l_discount * 10.0) AS reps,
      |    (l_tax * 10.0) AS eeps,
      |    (l_extendedprice * 0.4) AS gp,
      |    CASE WHEN l_orderkey % 5 = 0 THEN 0.0 ELSE l_extendedprice END AS rev,
      |    (l_extendedprice * 0.2) AS opinc,
      |    (l_extendedprice * 0.1) AS isni,
      |    (l_extendedprice * 0.3) AS ebitda,
      |    (l_quantity * 3.0) AS rd,
      |    (l_extendedprice * 0.25) AS ebit,
      |    l_discount AS intexp
      |  FROM lineitem
      |)""".stripMargin

  private def scQuery(feats: Seq[String], out: Seq[String], roundOut: Set[String])
      : (SparkSession, String) => DataFrame = (s, dir) => {
    val enriched = FeatureCompiler(
      fundamentals(lineitem(s, dir)), feats.map(FeatureRequest(_)), scCtx)
    val cols = col("l_orderkey") +: col("l_linenumber") +:
      out.map(n => if (roundOut(n)) QuerySupport.r6(col(n)).as(n) else col(n))
    enriched.select(cols: _*).orderBy("l_orderkey", "l_linenumber")
  }

  private val scBalance = CatalogEntry(
    "sc_balance_ratios",
    scQuery(
      Seq("current_ratio", "quick_ratio", "debt_to_equity", "debt_to_assets",
        "working_capital", "equity_ratio"),
      Seq("current_ratio", "quick_ratio", "debt_to_equity", "debt_to_assets",
        "working_capital", "equity_ratio"),
      roundOut = Set("current_ratio", "quick_ratio", "debt_to_equity", "debt_to_assets",
        "working_capital", "equity_ratio")),
    Some(
      s"""WITH $fundamentalsSql
         |SELECT l_orderkey, l_linenumber,
         |  floor((tca / nullif(tcl, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS current_ratio,
         |  floor(((tca - inv) / nullif(tcl, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS quick_ratio,
         |  floor(((coalesce(ltd, 0.0) + coalesce(stdebt, 0.0)) / nullif(tse, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS debt_to_equity,
         |  floor(((coalesce(ltd, 0.0) + coalesce(stdebt, 0.0)) / nullif(ta, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS debt_to_assets,
         |  floor((tca - tcl) * 1000000.0 + 0.5) / 1000000.0 AS working_capital,
         |  floor((tse / nullif(ta, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS equity_ratio
         |FROM fx
         |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  private val scCashflow = CatalogEntry(
    "sc_cashflow_earnings",
    scQuery(
      Seq("free_cash_flow", "operating_cash_margin", "capex_intensity",
        "dividend_payout_ratio", "cash_conversion_ratio", "earnings_beat", "forecast_accuracy"),
      Seq("free_cash_flow", "operating_cash_margin", "capex_intensity",
        "dividend_payout_ratio", "cash_conversion_ratio", "earnings_beat", "forecast_accuracy"),
      roundOut = Set("free_cash_flow", "operating_cash_margin", "capex_intensity",
        "dividend_payout_ratio", "cash_conversion_ratio", "forecast_accuracy")),
    Some(
      s"""WITH $fundamentalsSql
         |SELECT l_orderkey, l_linenumber,
         |  floor((ocf - coalesce(capex, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS free_cash_flow,
         |  floor((ocf / nullif(ni, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS operating_cash_margin,
         |  floor((capex / nullif(ocf, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS capex_intensity,
         |  floor((divpay / nullif(ocf, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS dividend_payout_ratio,
         |  floor((ocf / nullif(ni, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS cash_conversion_ratio,
         |  CAST(CASE WHEN reps > eeps THEN 1 ELSE 0 END AS INT) AS earnings_beat,
         |  floor((abs(eeps - reps)) * 1000000.0 + 0.5) / 1000000.0 AS forecast_accuracy
         |FROM fx
         |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  private val scIncome = CatalogEntry(
    "sc_income_ratios",
    scQuery(
      Seq("gross_margin", "operating_margin", "net_margin", "ebitda_margin",
        "rd_intensity", "interest_coverage"),
      Seq("gross_margin", "operating_margin", "net_margin", "ebitda_margin",
        "rd_intensity", "interest_coverage"),
      roundOut = Set("gross_margin", "operating_margin", "net_margin", "ebitda_margin",
        "rd_intensity", "interest_coverage")),
    Some(
      s"""WITH $fundamentalsSql
         |SELECT l_orderkey, l_linenumber,
         |  floor((gp / nullif(rev, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS gross_margin,
         |  floor((opinc / nullif(rev, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS operating_margin,
         |  floor((isni / nullif(rev, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS net_margin,
         |  floor((ebitda / nullif(rev, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS ebitda_margin,
         |  floor((rd / nullif(rev, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS rd_intensity,
         |  floor((ebit / nullif(intexp, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS interest_coverage
         |FROM fx
         |ORDER BY l_orderkey, l_linenumber""".stripMargin))

  /** End-to-end DSL path: JSON recipe -> DslValidator (C2, defaults
    * injection) -> FeatureCompiler with a custom_* safe expression (C1)
    * alongside a registry feature.
    */
  private val dslCustom = CatalogEntry(
    "dsl_custom_expr",
    (s: SparkSession, dir: String) => {
      val recipe =
        """{"features":[
          |  {"name":"custom_range_ratio",
          |   "params":{"code":"(high - low) / nullif(close, 0.0)","as":"range_ratio"}},
          |  {"name":"sma","params":{"on":"close","window":5}}
          |]}""".stripMargin
      val (feats, errs) = DslValidator.validate(recipe)
      require(errs.isEmpty, errs.mkString("; "))
      val enriched = FeatureCompiler(ohlcv(events(s, dir)), feats.get, ctx)
      enriched.select(
        col("user_id"), col("event_id"),
        QuerySupport.r6(col("range_ratio")).as("range_ratio"),
        QuerySupport.r6(col("sma_close_5")).as("sma_close_5"))
        .orderBy("user_id", "event_id")
    },
    Some(
      s"""WITH $baseSql
         |SELECT user_id, event_id,
         |  ${QuerySupport.r6Sql("(high - low) / nullif(close, 0.0)")} AS range_ratio,
         |  ${QuerySupport.r6Sql(
               s"CASE WHEN count(close) OVER w = 5 THEN avg(close) OVER w END")} AS sma_close_5
         |FROM base
         |WINDOW w AS ($po ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin))

  /** Inactivity-gap sessionization over the raw event stream (6 h gap
    * on the epoch-micros axis; `events.ts` nanos floored to micros for
    * DuckDB timestamp-precision parity). Deterministic tie-break on
    * event_id.
    */
  private val wSessionize = CatalogEntry(
    "sessionize_events",
    (s, dir) => {
      val ev = eventsMicros(s, dir, "event_id", "user_id")
      Sessionize.sessionize(ev, keyCol = "user_id", timeCol = "t_us",
          tieCol = "event_id", gap = 6L * 3600 * 1000000)
        .select("event_id", "user_id", "session_seq")
        .orderBy("event_id")
    },
    Some("""WITH e AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
           |g AS (
           |  SELECT event_id, user_id, t_us,
           |         t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS gap
           |  FROM e)
           |SELECT event_id, user_id,
           |       CAST(sum(CASE WHEN gap IS NULL OR gap > 21600000000 THEN 1 ELSE 0 END)
           |         OVER (PARTITION BY user_id ORDER BY t_us, event_id
           |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           |FROM g ORDER BY event_id""".stripMargin))

  /** Per-session rollup (count / bounds / duration per numbered
    * session): the oracle replays the numbering window then a plain
    * GROUP BY — all integer micros, engine-exact.
    */
  private val wSessionStats = CatalogEntry(
    "sessionize_stats",
    (s, dir) => {
      val ev = eventsMicros(s, dir, "event_id", "user_id")
      Sessionize.sessionStats(ev, keyCol = "user_id", timeCol = "t_us",
          tieCol = "event_id", gap = 6L * 3600 * 1000000)
        .orderBy("user_id", "session_seq")
    },
    Some("""WITH e AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
           |g AS (
           |  SELECT event_id, user_id, t_us,
           |         t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS gap
           |  FROM e),
           |n AS (
           |  SELECT event_id, user_id, t_us,
           |         CAST(sum(CASE WHEN gap IS NULL OR gap > 21600000000 THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY user_id ORDER BY t_us, event_id
           |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           |  FROM g)
           |SELECT user_id, session_seq,
           |       count(*) AS n_events,
           |       min(t_us) AS t_start, max(t_us) AS t_end,
           |       max(t_us) - min(t_us) AS duration
           |FROM n GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin))

  /** Semi-structured extraction: `events.props` is a JSON string
    * column; `from_json` with an explicit schema types it in the scan
    * projection (codegen'd Jackson parse, no UDF), and the grouped
    * rollup shows the extracted field flowing into exact-integer
    * aggregation. At 100 TB the parse rides the scan — one pass, the
    * JSON column is pruned away immediately after extraction.
    */
  private val eventsPropsAgg = CatalogEntry(
    "events_props_agg",
    (s, dir) => QuerySupport.table(s, dir, "events")
      .select(col("event_type"),
        expr("from_json(props, 'k BIGINT').k").as("k"),
        expr("cast(floor(value * 1000) as bigint)").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        sum(expr("v * k")).as("sum_vk"))
      .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS n,
           |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           |  CAST(SUM(CAST(floor(value * 1000) AS BIGINT)
           |           * CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_vk
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** The view -> click -> purchase funnel oracles' stage CTEs over
    * `events`: `s3` carries each user's first time at each stage
    * (`t_1`..`t_3`, each at or after the one before) on every row.
    */
  private val funnelStagesSql =
    """e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events),
      |s1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN t_us END)
      |              OVER (PARTITION BY user_id) AS t_1
      |  FROM e),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND t_us >= t_1 THEN t_us END)
      |              OVER (PARTITION BY user_id) AS t_2
      |  FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND t_us >= t_2 THEN t_us END)
      |              OVER (PARTITION BY user_id) AS t_3
      |  FROM s2)"""

  /** Ordered view->click->purchase funnel over the event stream: the
    * oracle replays the same chained whole-partition window minima —
    * stage j counts only at-or-after stage j-1's reach time, all
    * integer micros, engine-exact.
    */
  private val eventsFunnel = CatalogEntry(
    "events_funnel",
    (s, dir) => {
      Funnel.funnelTimes(
          eventsMicros(s, dir, "user_id", "event_type"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          stages = Seq("view", "click", "purchase"))
        .orderBy("user_id")
    },
    Some(s"""WITH $funnelStagesSql
           |SELECT user_id, min(t_1) AS t_1, min(t_2) AS t_2, min(t_3) AS t_3,
           |       CAST(CASE WHEN min(t_3) IS NOT NULL THEN 3
           |                 WHEN min(t_2) IS NOT NULL THEN 2
           |                 WHEN min(t_1) IS NOT NULL THEN 1
           |                 ELSE 0 END AS BIGINT) AS stages_completed,
           |       min(t_3) IS NOT NULL AS converted
           |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** First/last-touch attribution to 'purchase' conversions: running
    * touch-count window marks replay identically in DuckDB (same
    * (t, event_id) ordering, same strictly-before contract).
    */
  private val eventsAttribution = CatalogEntry(
    "events_attribution",
    (s, dir) => {
      Funnel.attribution(
          eventsMicros(s, dir, "user_id", "event_type", "event_id"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          tieCol = "event_id", convType = "purchase")
        .orderBy("user_id")
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS t, event_type AS ty, event_id FROM events),
           |c AS (SELECT *, min(CASE WHEN ty = 'purchase' THEN t END)
           |               OVER (PARTITION BY user_id) AS conv_t FROM e),
           |f AS (SELECT * FROM c WHERE conv_t IS NOT NULL),
           |r AS (SELECT *,
           |        sum(CASE WHEN ty <> 'purchase' AND t < conv_t THEN 1 ELSE 0 END)
           |          OVER (PARTITION BY user_id ORDER BY t, event_id
           |                ROWS UNBOUNDED PRECEDING) AS run,
           |        sum(CASE WHEN ty <> 'purchase' AND t < conv_t THEN 1 ELSE 0 END)
           |          OVER (PARTITION BY user_id) AS tot
           |      FROM f)
           |SELECT user_id, min(conv_t) AS conv_t, CAST(max(tot) AS BIGINT) AS n_touches,
           |  max(CASE WHEN ty <> 'purchase' AND t < conv_t AND run = 1 THEN ty END) AS first_touch,
           |  max(CASE WHEN ty <> 'purchase' AND t < conv_t AND run = tot THEN ty END) AS last_touch
           |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** Daily funnel conversion rollup: entrants cohorted by the day of
    * their stage-1 reach, per-cohort reach counts, exact integer
    * conversion rate, and the rank-picked exact median time-to-convert
    * — the oracle replays the funnel CTEs plus the same ceil(n*0.5)
    * row-pick.
    */
  private val eventsFunnelDaily = CatalogEntry(
    "events_funnel_daily",
    (s, dir) => {
      Funnel.funnelDaily(
          eventsMicros(s, dir, "user_id", "event_type"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          stages = Seq("view", "click", "purchase"), bucket = 86400000000L)
        .orderBy("cohort")
    },
    Some(s"""WITH $funnelStagesSql,
           |f AS (SELECT user_id, min(t_1) AS t_1, min(t_2) AS t_2, min(t_3) AS t_3
           |      FROM s3 GROUP BY user_id),
           |ft AS (SELECT *, t_1 // 86400000000 AS cohort FROM f WHERE t_1 IS NOT NULL),
           |c AS (SELECT cohort, count(*) AS n_entered,
           |        sum(CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END) AS n_reached_2,
           |        sum(CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END) AS n_reached_3
           |      FROM ft GROUP BY cohort),
           |d AS (SELECT cohort, t_3 - t_1 AS dur, user_id FROM ft WHERE t_3 IS NOT NULL),
           |dr AS (SELECT cohort, dur,
           |         row_number() OVER (PARTITION BY cohort ORDER BY dur, user_id) AS rn,
           |         count(*) OVER (PARTITION BY cohort) AS nc FROM d),
           |m AS (SELECT cohort, max(CASE WHEN rn = ceil(nc * 0.5) THEN dur END) AS p50_convert
           |      FROM dr GROUP BY cohort)
           |SELECT c.cohort, CAST(n_entered AS BIGINT) AS n_entered,
           |  CAST(n_reached_2 AS BIGINT) AS n_reached_2,
           |  CAST(n_reached_3 AS BIGINT) AS n_reached_3,
           |  m.p50_convert,
           |  CAST(n_reached_3 AS BIGINT) AS n_converted,
           |  CAST(n_reached_3 * 1000000 // n_entered AS BIGINT) AS conv_micro
           |FROM c LEFT JOIN m USING (cohort) ORDER BY cohort""".stripMargin))

  /** Day-bucket cohort retention over the event stream: cohort = the
    * day of each user's first event, cells count distinct users active
    * at each day offset; the survivor fraction replays as exact
    * integer division on both engines.
    */
  private val eventsRetention = CatalogEntry(
    "events_retention",
    (s, dir) => {
      Funnel.cohortRetention(
          eventsMicros(s, dir, "user_id"),
          keyCol = "user_id", timeCol = "t_us", bucket = 86400000000L)
        .orderBy("cohort", "bucket_offset")
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) // 86400000000 AS b FROM events),
           |k AS (
           |  SELECT user_id, b, min(b) OVER (PARTITION BY user_id) AS cohort FROM e),
           |c AS (
           |  SELECT cohort, b - cohort AS bucket_offset,
           |         count(DISTINCT user_id) AS n_active
           |  FROM k GROUP BY cohort, b - cohort),
           |s AS (SELECT cohort, n_active AS n_cohort FROM c WHERE bucket_offset = 0)
           |SELECT c.cohort, c.bucket_offset, c.n_active, s.n_cohort,
           |       (c.n_active * 1000000) // s.n_cohort AS retention_micro
           |FROM c JOIN s USING (cohort)
           |ORDER BY cohort, bucket_offset""".stripMargin))

  /** Hourly OHLC bars over the event stream: open/close picked by
    * `min_by`/`max_by` on a (time, event_id) struct — ONE hash
    * aggregate, no window sort; the oracle replays the pick with
    * bidirectional row_number windows.
    */
  private val tsResampleOhlc = CatalogEntry(
    "ts_resample_ohlc",
    (s, dir) => {
      val r = TimeSeriesOps.resampleOhlc(
        eventsMicros(s, dir, "user_id", "value", "event_id"),
        keyCol = "user_id", timeCol = "t_us", valueCol = "value",
        tieCol = "event_id", bucket = 3600000000L)
      r.withColumn("volume", QuerySupport.r6(col("volume")))
        .orderBy("user_id", "bucket")
    },
    Some(s"""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS t, value, event_id FROM events),
           |b AS (SELECT user_id, t // 3600000000 AS bucket, t, value, event_id FROM e),
           |r AS (SELECT *,
           |        row_number() OVER (PARTITION BY user_id, bucket
           |                           ORDER BY t, event_id) AS ra,
           |        row_number() OVER (PARTITION BY user_id, bucket
           |                           ORDER BY t DESC, event_id DESC) AS rd
           |      FROM b)
           |SELECT user_id, bucket,
           |  max(CASE WHEN ra = 1 THEN value END) AS open,
           |  max(value) AS high, min(value) AS low,
           |  max(CASE WHEN rd = 1 THEN value END) AS close,
           |  ${QuerySupport.r6Sql("sum(value)")} AS volume,
           |  CAST(count(*) AS BIGINT) AS n_events
           |FROM r GROUP BY user_id, bucket
           |ORDER BY user_id, bucket""".stripMargin))

  /** Daily close series gap-filled onto each user's own calendar with
    * forward-fill; the oracle fills via the engine-neutral
    * count-non-null group carry instead of IGNORE NULLS.
    */
  private val tsGapFill = CatalogEntry(
    "ts_gap_fill",
    (s, dir) => {
      val daily = TimeSeriesOps.resampleOhlc(
          eventsMicros(s, dir, "user_id", "value", "event_id"),
          keyCol = "user_id", timeCol = "t_us", valueCol = "value",
          tieCol = "event_id", bucket = 86400000000L)
        .select(col("user_id"), col("bucket"), col("close"))
      TimeSeriesOps.gapFill(daily, keyCol = "user_id",
          bucketCol = "bucket", valueCol = "close")
        .orderBy("user_id", "bucket")
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS t, value, event_id FROM events),
           |b AS (SELECT user_id, t // 86400000000 AS bucket, t, value, event_id FROM e),
           |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, bucket
           |                                   ORDER BY t DESC, event_id DESC) AS rd
           |      FROM b),
           |s AS (SELECT user_id, bucket, max(CASE WHEN rd = 1 THEN value END) AS close
           |      FROM r GROUP BY user_id, bucket),
           |span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
           |         FROM s GROUP BY user_id),
           |cal AS (SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM span),
           |j AS (SELECT cal.user_id, cal.bucket, s.close
           |      FROM cal LEFT JOIN s USING (user_id, bucket)),
           |g AS (SELECT *, count(close) OVER (PARTITION BY user_id ORDER BY bucket
           |                                   ROWS UNBOUNDED PRECEDING) AS grp
           |      FROM j)
           |SELECT user_id, bucket, close IS NULL AS is_filled,
           |       max(close) OVER (PARTITION BY user_id, grp) AS filled
           |FROM g ORDER BY user_id, bucket""".stripMargin))

  /** Top-3 next-event transitions per source type with exact integer
    * transition probabilities.
    */
  private val eventsTransitionTopK = CatalogEntry(
    "events_transition_topk",
    (s, dir) => {
      EventPaths.transitionTopK(
          eventsMicros(s, dir, "user_id", "event_type", "event_id"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          tieCol = "event_id", k = 3)
        .orderBy("src", "rank")
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS t, event_type, event_id FROM events),
           |s AS (SELECT event_type AS src,
           |        lead(event_type) OVER (PARTITION BY user_id
           |                               ORDER BY t, event_id) AS dst
           |      FROM e),
           |c AS (SELECT src, dst, count(*) AS n_steps
           |      FROM s WHERE dst IS NOT NULL GROUP BY src, dst),
           |r AS (SELECT *,
           |        sum(n_steps) OVER (PARTITION BY src) AS src_total,
           |        row_number() OVER (PARTITION BY src
           |                           ORDER BY n_steps DESC, dst) AS rank
           |      FROM c)
           |SELECT src, dst, CAST(n_steps AS BIGINT) AS n_steps,
           |       CAST(src_total AS BIGINT) AS src_total,
           |       CAST(n_steps * 1000000 // src_total AS BIGINT) AS prob_micro,
           |       CAST(rank AS BIGINT) AS rank
           |FROM r WHERE rank <= 3 ORDER BY src, rank""".stripMargin))

  /** Top-10 length-3 event paths with exact ppm shares of all
    * observed triples; the oracle replays the double-lead window and
    * the deterministic cut.
    */
  private val eventsTopPaths = CatalogEntry(
    "events_top_paths",
    (s, dir) => {
      EventPaths.topPaths(
          eventsMicros(s, dir, "user_id", "event_type", "event_id"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          tieCol = "event_id", k = 10)
        .orderBy("rank")
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS t, event_type, event_id FROM events),
           |s AS (SELECT event_type AS e1,
           |        lead(event_type, 1) OVER (PARTITION BY user_id
           |                                  ORDER BY t, event_id) AS e2,
           |        lead(event_type, 2) OVER (PARTITION BY user_id
           |                                  ORDER BY t, event_id) AS e3
           |      FROM e),
           |c AS (SELECT e1, e2, e3, count(*) AS n_paths
           |      FROM s WHERE e3 IS NOT NULL GROUP BY e1, e2, e3),
           |t AS (SELECT CAST(sum(n_paths) AS BIGINT) AS total FROM c),
           |r AS (SELECT e1, e2, e3, CAST(n_paths AS BIGINT) AS n_paths,
           |        CAST(n_paths * 1000000 // (SELECT total FROM t) AS BIGINT)
           |          AS share_ppm,
           |        row_number() OVER (ORDER BY n_paths DESC, e1, e2, e3) AS rank
           |      FROM c)
           |SELECT e1, e2, e3, n_paths, share_ppm, CAST(rank AS BIGINT) AS rank
           |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin))

  /** Top-20 hottest event keys with exact ppm concentration shares;
    * only the TakeOrdered survivors enter the cumulative window.
    */
  private val eventsKeySkew = CatalogEntry(
    "events_key_skew",
    (s, dir) => EventPaths.keySkewTopK(
        QuerySupport.table(s, dir, "events"), keyCol = "user_id", topN = 20)
      // explicit final select in the ORACLE's column order (ADVICE r13
      // #4): the driver compares by name, but a positional consumer
      // must not silently mis-pair the same-typed BIGINT columns
      .select("user_id", "n_rows", "share_ppm", "rank", "cum_share_ppm")
      .orderBy("rank"),
    Some("""WITH c AS (
           |  SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id),
           |t AS (SELECT sum(n_rows) AS total FROM c),
           |top AS (SELECT * FROM c ORDER BY n_rows DESC, user_id LIMIT 20),
           |r AS (SELECT *,
           |        row_number() OVER (ORDER BY n_rows DESC, user_id) AS rank,
           |        sum(n_rows) OVER (ORDER BY n_rows DESC, user_id
           |                          ROWS UNBOUNDED PRECEDING) AS cum
           |      FROM top)
           |SELECT user_id, CAST(n_rows AS BIGINT) AS n_rows,
           |  CAST(n_rows * 1000000 // (SELECT total FROM t) AS BIGINT) AS share_ppm,
           |  CAST(rank AS BIGINT) AS rank,
           |  CAST(cum * 1000000 // (SELECT total FROM t) AS BIGINT) AS cum_share_ppm
           |FROM r ORDER BY rank""".stripMargin))

  /** Hour-of-day / day-of-week load shape per event type with exact
    * ppm shares; bucket arithmetic floor-div + positive-mod on both
    * engines.
    */
  private val eventsSeasonalProfile = CatalogEntry(
    "events_seasonal_profile",
    (s, dir) => {
      TimeSeriesOps.seasonalProfile(
          eventsMicros(s, dir, "event_type"),
          keyCol = "event_type", timeCol = "t_us")
        .orderBy("event_type", "grain", "bucket")
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
           |b AS (
           |  SELECT event_type, 'hour' AS grain,
           |    (((t // 3600000000) % 24) + 24) % 24 AS bucket FROM e
           |  UNION ALL
           |  SELECT event_type, 'dow',
           |    (((t // 86400000000 + 4) % 7) + 7) % 7 FROM e),
           |c AS (SELECT event_type, grain, bucket,
           |        CAST(count(*) AS BIGINT) AS n_events
           |      FROM b GROUP BY 1, 2, 3),
           |w AS (SELECT *,
           |        sum(n_events) OVER (PARTITION BY event_type, grain) AS tot,
           |        row_number() OVER (PARTITION BY event_type, grain
           |                           ORDER BY n_events DESC, bucket) AS rk
           |      FROM c)
           |SELECT event_type, grain, CAST(bucket AS BIGINT) AS bucket,
           |  n_events, CAST(n_events * 1000000 // tot AS BIGINT) AS share_ppm,
           |  rk = 1 AS is_peak
           |FROM w ORDER BY event_type, grain, bucket""".stripMargin))

  /** Per-user inter-arrival cadence + staleness vs the corpus's
    * newest event; single-event users keep NULL gaps on both engines.
    */
  private val eventsInterArrival = CatalogEntry(
    "events_inter_arrival",
    (s, dir) => {
      EventPaths.interArrivalStats(
          eventsMicros(s, dir, "user_id", "event_id"),
          keyCol = "user_id", timeCol = "t_us", tieCol = "event_id")
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events),
           |g AS (SELECT user_id, t,
           |        t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
           |          AS gap
           |      FROM e),
           |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           |        CAST(count(gap) AS BIGINT) AS n_gaps,
           |        CAST(min(gap) AS BIGINT) AS min_gap_us,
           |        CAST(max(gap) AS BIGINT) AS max_gap_us,
           |        CAST(sum(gap) // greatest(count(gap), 1) AS BIGINT)
           |          AS mean_gap_us,
           |        max(t) AS last_t
           |      FROM g GROUP BY user_id),
           |m AS (SELECT max(t) AS mt FROM e)
           |SELECT user_id, n_events, n_gaps, min_gap_us, max_gap_us,
           |  mean_gap_us, CAST(m.mt - last_t AS BIGINT) AS staleness_us
           |FROM a CROSS JOIN m ORDER BY user_id""".stripMargin))

  /** Exact rank-pick quantiles per event type: picked values are raw
    * inputs, so no rounding contract is needed on either engine.
    */
  private val eventsQuantiles = CatalogEntry(
    "events_quantiles",
    (s, dir) => GroupStats.groupQuantiles(
        QuerySupport.table(s, dir, "events").select("event_type", "value"),
        groupCol = "event_type", valueCol = "value")
      .orderBy("event_type"),
    Some("""WITH e AS (
           |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
           |r AS (SELECT *,
           |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           |        count(*) OVER (PARTITION BY event_type) AS n
           |      FROM e)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |  min(value) AS min_value, max(value) AS max_value,
           |  max(CASE WHEN rn = (n * 25 + 99) // 100 THEN value END) AS p25,
           |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
           |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90,
           |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
           |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** Exact GLOBAL quantiles via two-pass histogram refine: the oracle
    * is the naive full-sort rank pick — the operator's claim is that
    * its no-global-sort path returns exactly that.
    */
  private val eventsGlobalQuantiles = CatalogEntry(
    "events_global_quantiles",
    (s, dir) => GroupStats.globalQuantiles(
        QuerySupport.table(s, dir, "events"), valueCol = "value")
      .orderBy("q"),
    Some("""WITH e AS (SELECT value FROM events WHERE value IS NOT NULL),
           |r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn,
           |        count(*) OVER () AS n
           |      FROM e),
           |sel AS (SELECT unnest([25, 50, 90, 99]) AS q)
           |SELECT CAST(q AS BIGINT) AS q, CAST(max(n) AS BIGINT) AS n,
           |  max(CASE WHEN rn = (n * q + 99) // 100 THEN value END) AS value
           |FROM r CROSS JOIN sel GROUP BY q ORDER BY q""".stripMargin))

  /** Winsorization audit on lineitem prices (exact cents): percentile
    * bounds from the histogram-refine exact quantiles, then one
    * aggregate; the oracle replays the same rank-pick definition
    * (`(n*q + 99) // 100`-th smallest) and clamp sums.
    */
  private val cleanWinsorize = CatalogEntry(
    "clean_winsorize",
    (s, dir) => GroupStats.winsorize(
      lineitem(s, dir).select(
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
          .as("cents")),
      valueCol = "cents"),
    Some("""WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
           |           FROM lineitem),
           |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
           |        count(*) OVER () AS n FROM v),
           |lo AS (SELECT c AS lo FROM r WHERE rn = (n * 1 + 99) // 100),
           |hi AS (SELECT c AS hi FROM r WHERE rn = (n * 99 + 99) // 100)
           |SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(max(lo.lo) AS BIGINT) AS lo, CAST(max(hi.hi) AS BIGINT) AS hi,
           |  CAST(sum(CASE WHEN c < lo.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           |  CAST(sum(CASE WHEN c > hi.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           |  CAST(sum(c) AS BIGINT) AS sum_before,
           |  CAST(sum(greatest(least(c, hi.hi), lo.lo)) AS BIGINT) AS sum_after
           |FROM v CROSS JOIN lo CROSS JOIN hi""".stripMargin))

  /** Per-group MAD outliers on lineitem prices (exact cents): two
    * windowed median passes + one audit aggregate; the oracle replays
    * the rank-pick medians and the integer comparison.
    */
  private val cleanMadOutliers = CatalogEntry(
    "clean_mad_outliers",
    (s, dir) => GroupStats.madOutliers(
        lineitem(s, dir).select(col("l_returnflag"),
          expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
            .as("cents")),
        groupCol = "l_returnflag", valueCol = "cents")
      .orderBy("group"),
    Some("""WITH v AS (SELECT l_returnflag AS grp,
           |        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
           |      FROM lineitem),
           |r AS (SELECT grp, c, row_number() OVER (PARTITION BY grp ORDER BY c) AS rn,
           |        count(*) OVER (PARTITION BY grp) AS n FROM v),
           |med AS (SELECT grp, max(CASE WHEN rn = (n * 50 + 99) // 100 THEN c END) AS med
           |        FROM r GROUP BY grp),
           |d AS (SELECT v.grp, abs(v.c - med.med) AS dv, med.med FROM v JOIN med USING (grp)),
           |r2 AS (SELECT grp, dv, row_number() OVER (PARTITION BY grp ORDER BY dv) AS rn,
           |         count(*) OVER (PARTITION BY grp) AS n FROM d),
           |mad AS (SELECT grp, max(CASE WHEN rn = (n * 50 + 99) // 100 THEN dv END) AS mad
           |        FROM r2 GROUP BY grp)
           |SELECT d.grp AS "group", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(max(d.med) AS BIGINT) AS median,
           |  CAST(max(mad.mad) AS BIGINT) AS mad,
           |  CAST(sum(CASE WHEN d.dv > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           |  CAST(sum(CASE WHEN d.dv > 3 * mad.mad THEN 1 ELSE 0 END) * 1000000
           |    // count(*) AS BIGINT) AS outlier_ppm
           |FROM d JOIN mad USING (grp) GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Burst throttling (keep-first rate limiting): sessionize at
    * gap = cooldown, keep the burst head; 10-minute cooldown.
    */
  private val eventsBurstThrottle = CatalogEntry(
    "events_burst_throttle",
    (s, dir) => {
      val ev = eventsMicros(s, dir, "event_id", "user_id")
      Sessionize.burstThrottle(ev, keyCol = "user_id", timeCol = "t_us",
          tieCol = "event_id", cooldown = 600000000L)
        .orderBy("user_id", "session_seq")
    },
    Some("""WITH e AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
           |g AS (
           |  SELECT event_id, user_id, t_us,
           |         t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS gap
           |  FROM e),
           |n AS (
           |  SELECT user_id, t_us,
           |         CAST(sum(CASE WHEN gap IS NULL OR gap > 600000000 THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY user_id ORDER BY t_us, event_id
           |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           |  FROM g)
           |SELECT user_id, session_seq, min(t_us) AS kept_time,
           |       CAST(count(*) - 1 AS BIGINT) AS n_suppressed,
           |       max(t_us) - min(t_us) AS burst_span
           |FROM n GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin))

  /** Multi-grain corpus report via NATIVE rollup (one pass computes
    * (source, lang), per-source, and grand-total grains); grouping
    * flags spelled explicitly so both engines share the gid formula.
    */
  private val textSourceLangRollup = CatalogEntry(
    "text_source_lang_rollup",
    (s, dir) => QuerySupport.table(s, dir, "documents")
      .withColumn("__t", size(split(col("text"), " ")).cast("long"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("__t").as("n_tokens"),
        (grouping(col("source")) * 2 + grouping(col("lang")))
          .cast("long").as("gid"))
      .select(col("source"), col("lang"), col("gid"), col("n_docs"),
        col("n_tokens"))
      .orderBy(col("gid"), coalesce(col("source"), lit("")),
        coalesce(col("lang"), lit(""))),
    Some("""SELECT source, lang,
           |  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS gid,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |FROM documents GROUP BY ROLLUP(source, lang)
           |ORDER BY gid, coalesce(source, ''), coalesce(lang, '')""".stripMargin))

  /** Z-order layout audit on events (user x day): the Morton key is
    * exact shift/mask arithmetic shared by both engines; the audit is
    * one aggregate to file grain.
    */
  private val layoutZorderAudit = CatalogEntry(
    "layout_zorder_audit",
    (s, dir) => {
      Layout.zOrderFileAudit(
          eventsMicros(s, dir, "user_id")
            .select((col("user_id") % 1024).as("a"),
              (TimeSeriesOps.floorDivCol("t_us", 86400000000L) % 1024).as("b")),
          aCol = "a", bCol = "b")
        .orderBy("file_id")
    },
    Some(s"""WITH e AS (SELECT user_id % 1024 AS a,
            |        ((epoch_us(ts) - (((epoch_us(ts) % 86400000000) + 86400000000)
            |          % 86400000000)) // 86400000000) % 1024 AS b
            |      FROM events),
            |z AS (SELECT a, b, ${Layout.zKeySql("a", "b")} AS zk FROM e),
            |f AS (SELECT zk // 4096 AS file_id, a, b FROM z)
            |SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
            |  CAST(count(DISTINCT a) AS BIGINT) AS n_a,
            |  CAST(count(DISTINCT b) AS BIGINT) AS n_b
            |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin))

  /** Daily per-user rate spikes: the trailing RANGE frame makes absent
    * days count zero without any calendar synthesis.
    */
  private val eventsRateSpikes = CatalogEntry(
    "events_rate_spikes",
    (s, dir) => {
      TimeSeriesOps.rateSpikes(
          eventsMicros(s, dir, "user_id"),
          keyCol = "user_id", timeCol = "t_us", bucket = 86400000000L,
          window = 7, factor = 3)
        .orderBy("user_id", "bucket")
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) // 86400000000 AS bucket FROM events),
           |d AS (SELECT user_id, bucket, count(*) AS n_events
           |      FROM e GROUP BY user_id, bucket),
           |t AS (SELECT *, coalesce(sum(n_events) OVER (
           |        PARTITION BY user_id ORDER BY bucket
           |        RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS trail_sum
           |      FROM d)
           |SELECT user_id, bucket, CAST(n_events AS BIGINT) AS n_events,
           |  CAST(trail_sum AS BIGINT) AS trail_sum,
           |  trail_sum > 0 AND n_events * 7 > trail_sum * 3 AS is_spike
           |FROM t ORDER BY user_id, bucket""".stripMargin))

  /** Corpus-rate CUSUM changepoint: zero-filled daily calendar,
    * integer-scaled deviations (n·D − N, no division), running sum,
    * peak = the single mean-shift changepoint; ties to the earlier
    * day. The oracle replays the identical exact-integer chain.
    */
  private val eventsCusum = CatalogEntry(
    "events_cusum_changepoint",
    (s, dir) => {
      TimeSeriesOps.cusumChangepoint(
          eventsMicros(s, dir),
          timeCol = "t_us", bucket = 86400000000L)
        .orderBy("bucket")
    },
    Some("""WITH e AS (
           |  SELECT epoch_us(ts) // 86400000000 AS bucket FROM events),
           |d AS (SELECT bucket, count(*) AS n_events FROM e GROUP BY bucket),
           |sp AS (SELECT min(bucket) AS lo, max(bucket) AS hi,
           |         sum(n_events) AS n FROM d),
           |cal AS (SELECT unnest(range(lo, hi + 1)) AS bucket,
           |          hi - lo + 1 AS dd, n FROM sp),
           |f AS (SELECT cal.bucket, coalesce(d.n_events, 0) AS n_events,
           |        coalesce(d.n_events, 0) * cal.dd - cal.n AS dev_scaled
           |      FROM cal LEFT JOIN d USING (bucket)),
           |c AS (SELECT *, sum(dev_scaled) OVER (ORDER BY bucket
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum_scaled
           |      FROM f),
           |r AS (SELECT *, row_number() OVER (ORDER BY abs(cusum_scaled) DESC,
           |        bucket) AS rk FROM c)
           |SELECT bucket, CAST(n_events AS BIGINT) AS n_events,
           |  CAST(dev_scaled AS BIGINT) AS dev_scaled,
           |  CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
           |  rk = 1 AS is_changepoint
           |FROM r ORDER BY bucket""".stripMargin))

  /** Per-source-state transition entropy in exact count-scaled
    * micro-nats (the charEntropy/entropyRate quantization), over the
    * same lead-window steps frame as events_transition_topk.
    */
  private val eventsTransitionEntropy = CatalogEntry(
    "events_transition_entropy",
    (s, dir) => {
      EventPaths.transitionEntropy(
          eventsMicros(s, dir, "user_id", "event_type", "event_id"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          tieCol = "event_id")
        .orderBy("src")
    },
    Some("""WITH e AS (
           |  SELECT user_id, epoch_us(ts) AS t, event_type, event_id FROM events),
           |s AS (SELECT event_type AS src,
           |        lead(event_type) OVER (PARTITION BY user_id
           |                               ORDER BY t, event_id) AS dst
           |      FROM e),
           |c AS (SELECT src, dst, count(*) AS c
           |      FROM s WHERE dst IS NOT NULL GROUP BY src, dst),
           |t AS (SELECT *, sum(c) OVER (PARTITION BY src) AS tot FROM c),
           |q AS (SELECT src, tot, CAST(floor(
           |        c * ln(CAST(tot AS DOUBLE) / c) * 1000000 + 0.5) AS BIGINT) AS term
           |      FROM t)
           |SELECT src, CAST(max(tot) AS BIGINT) AS n_steps,
           |  CAST(count(*) AS BIGINT) AS n_dst_types,
           |  CAST(sum(term) AS BIGINT) AS h_unats,
           |  CAST(sum(term) // greatest(max(tot), 1) AS BIGINT) AS h_micro_nats
           |FROM q GROUP BY src ORDER BY src""".stripMargin))

  /** The histogram-quantile oracles' grid CTEs over `events`: `b` =
    * `bCols` plus the clamped 50-bucket key of `value` over [0, 500),
    * per-bucket counts, their running and total sums per event_type
    * (`m`), and the three quantiles `q`.
    */
  private def valueHistogramCtes(bCols: String): String =
    s"""WITH b AS (SELECT $bCols
       |        least(greatest(CAST(floor((value - 0.0) / 10.0) AS BIGINT),
       |          0), 49) AS b
       |      FROM events),
       |c AS (SELECT event_type, b, count(*) AS c FROM b GROUP BY 1, 2),
       |m AS (SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY b
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |        sum(c) OVER (PARTITION BY event_type) AS n FROM c),
       |q AS (SELECT unnest([50, 90, 99]::BIGINT[]) AS q_pct),"""

  /** Mergeable fixed-grid histogram quantiles per event type: the
    * IEEE-identical floor((v−lo)/width) bucket key, integer
    * cum·100 ≥ n·q cut — grid resolution by contract (the exact-rank
    * sibling is events_quantiles).
    */
  private val eventsHistogramQuantiles = CatalogEntry(
    "events_histogram_quantiles",
    (s, dir) => {
      val raw = QuerySupport.table(s, dir, "events")
      TimeSeriesOps.histogramQuantiles(
          raw.select(col("event_type"), col("value")),
          keyCol = "event_type", valueCol = "value",
          lo = 0.0, hi = 500.0, nBuckets = 50)
        .select(col("event_type"), col("q_pct"), col("n_events"),
          col("bucket"), QuerySupport.r6(col("value_lo")).as("value_lo"))
        .orderBy("event_type", "q_pct")
    },
    Some(s"""${valueHistogramCtes("event_type,")}
            |h AS (SELECT event_type, q.q_pct, min(b) AS bucket, max(n) AS n
            |      FROM m CROSS JOIN q
            |      WHERE cum * 100 >= n * q.q_pct
            |      GROUP BY event_type, q.q_pct)
            |SELECT event_type, q_pct, CAST(n AS BIGINT) AS n_events,
            |  CAST(bucket AS BIGINT) AS bucket,
            |  ${QuerySupport.r6Sql("0.0 + CAST(bucket AS DOUBLE) * 10.0")} AS value_lo
            |FROM h ORDER BY event_type, q_pct""".stripMargin))

  /** Histogram-vs-exact quantile audit: the grid bucket provably
    * contains the exact rank-picked quantile (monotone clamped key),
    * hash-gated as the in_bucket column; composes the two
    * already-oracled chains.
    */
  private val eventsQuantileDrift = CatalogEntry(
    "events_quantile_drift",
    (s, dir) => {
      val raw = QuerySupport.table(s, dir, "events")
      TimeSeriesOps.histogramQuantileAudit(
          raw.select(col("event_type"), col("value"), col("event_id")),
          keyCol = "event_type", valueCol = "value", tieCol = "event_id",
          lo = 0.0, hi = 500.0, nBuckets = 50)
        .select(col("event_type"), col("q_pct"), col("n_events"),
          col("bucket"), QuerySupport.r6(col("value_lo")).as("value_lo"),
          QuerySupport.r6(col("exact_value")).as("exact_value"),
          col("in_bucket"))
        .orderBy("event_type", "q_pct")
    },
    Some(s"""${valueHistogramCtes("event_type, value, event_id,")}
            |h AS (SELECT event_type, q.q_pct, min(b) AS bucket, max(n) AS n
            |      FROM m CROSS JOIN q WHERE cum * 100 >= n * q.q_pct
            |      GROUP BY event_type, q.q_pct),
            |r AS (SELECT event_type, value,
            |        row_number() OVER (PARTITION BY event_type
            |          ORDER BY value, event_id) AS rn,
            |        count(*) OVER (PARTITION BY event_type) AS n
            |      FROM events),
            |x AS (SELECT event_type, q.q_pct,
            |        min(struct_pack(r := rn, v := value)) AS m
            |      FROM r CROSS JOIN q WHERE rn * 100 >= n * q.q_pct
            |      GROUP BY event_type, q.q_pct),
            |e AS (SELECT event_type, q_pct, m.v AS exact_value FROM x)
            |SELECT h.event_type, h.q_pct, CAST(h.n AS BIGINT) AS n_events,
            |  CAST(h.bucket AS BIGINT) AS bucket,
            |  ${QuerySupport.r6Sql("0.0 + CAST(h.bucket AS DOUBLE) * 10.0")} AS value_lo,
            |  ${QuerySupport.r6Sql("e.exact_value")} AS exact_value,
            |  least(greatest(CAST(floor((e.exact_value - 0.0) / 10.0) AS BIGINT),
            |    0), 49) = h.bucket AS in_bucket
            |FROM h JOIN e USING (event_type, q_pct)
            |ORDER BY event_type, q_pct""".stripMargin))

  /** Daily peak concurrent sessions over the 6-hour-gap sessions:
    * clamped day-explode sweep line — carry-ins become +1 at
    * midnight, no cross-day running state; inclusive ends (shared
    * event timestamp = concurrent), -1 sorts before +1 at equal t.
    */
  private val eventsPeakConcurrency = CatalogEntry(
    "events_peak_concurrency",
    (s, dir) => {
      val ev = eventsMicros(s, dir, "event_id", "user_id")
      val sessions = Sessionize.sessionStats(ev, keyCol = "user_id",
        timeCol = "t_us", tieCol = "event_id", gap = 6L * 3600 * 1000000)
      Sessionize.peakConcurrency(sessions, "t_start", "t_end",
          bucket = 86400000000L)
        .orderBy("bucket")
    },
    Some("""WITH e AS (
           |  SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
           |g AS (
           |  SELECT user_id, t_us,
           |         t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS gap,
           |         event_id
           |  FROM e),
           |n AS (
           |  SELECT user_id, t_us,
           |         sum(CASE WHEN gap IS NULL OR gap > 21600000000 THEN 1 ELSE 0 END)
           |           OVER (PARTITION BY user_id ORDER BY t_us, event_id
           |                 ROWS UNBOUNDED PRECEDING) AS seq
           |  FROM g),
           |sess AS (SELECT user_id, seq, min(t_us) AS s, max(t_us) AS e
           |         FROM n GROUP BY user_id, seq),
           |dd AS (SELECT s, e, s // 86400000000 AS d0, e // 86400000000 AS d1
           |       FROM sess),
           |days AS (SELECT s, e, d1, unnest(range(d0, d1 + 1)) AS bucket FROM dd),
           |marks AS (
           |  SELECT bucket, greatest(s, bucket * 86400000000) AS t,
           |         CAST(1 AS BIGINT) AS dl FROM days
           |  UNION ALL
           |  SELECT bucket, e + 1 AS t, CAST(-1 AS BIGINT) AS dl FROM days
           |  WHERE bucket = d1 AND e + 1 < (bucket + 1) * 86400000000),
           |sw AS (SELECT bucket, dl,
           |         sum(dl) OVER (PARTITION BY bucket ORDER BY t, dl
           |                       ROWS UNBOUNDED PRECEDING) AS run
           |       FROM marks)
           |SELECT bucket,
           |  CAST(sum(CASE WHEN dl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_active_sessions,
           |  CAST(max(run) AS BIGINT) AS peak_concurrency
           |FROM sw GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Mann-Kendall monotone-trend test on zero-filled daily counts:
    * exact integer S and tie-corrected 18·Var(S); z is one guarded
    * float division, identical spelling both engines.
    */
  private val eventsMannKendall = CatalogEntry(
    "events_mann_kendall",
    (s, dir) => {
      TimeSeriesOps.mannKendall(
          eventsMicros(s, dir),
          timeCol = "t_us", bucket = 86400000000L)
        .select(col("n_days"), col("n_nonzero_days"), col("s_stat"),
          col("var_s_x18"), QuerySupport.r6(col("z_score")).as("z_score"),
          col("trend"))
    },
    Some(s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS bucket FROM events),
            |d AS (SELECT bucket, count(*) AS n FROM e GROUP BY bucket),
            |sp AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM d),
            |cal AS (SELECT unnest(range(lo, hi + 1)) AS bucket FROM sp),
            |f AS (SELECT cal.bucket, coalesce(d.n, 0) AS n
            |      FROM cal LEFT JOIN d USING (bucket)),
            |s AS (SELECT CAST(sum(sign(f2.n - f1.n)) AS BIGINT) AS s_stat
            |      FROM f f1 JOIN f f2 ON f2.bucket > f1.bucket),
            |tg AS (SELECT n, count(*) AS t FROM f GROUP BY n),
            |ti AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie,
            |         CAST(sum(t) AS BIGINT) AS n_days,
            |         CAST(sum(CASE WHEN n > 0 THEN t ELSE 0 END) AS BIGINT)
            |           AS n_nonzero_days
            |       FROM tg),
            |v AS (SELECT s.s_stat, ti.n_days, ti.n_nonzero_days,
            |        n_days * (n_days - 1) * (2 * n_days + 5) - tie AS var_s_x18
            |      FROM s, ti),
            |z AS (SELECT *, CASE WHEN var_s_x18 <= 0 THEN 0.0 ELSE
            |        CAST(s_stat - sign(s_stat) AS DOUBLE)
            |        / sqrt(CAST(var_s_x18 AS DOUBLE) / 18.0) END AS z_score
            |      FROM v)
            |SELECT n_days, n_nonzero_days, s_stat,
            |  CAST(var_s_x18 AS BIGINT) AS var_s_x18,
            |  ${QuerySupport.r6Sql("z_score")} AS z_score,
            |  CASE WHEN z_score > 1.96 THEN 'increasing'
            |       WHEN z_score < -1.96 THEN 'decreasing'
            |       ELSE 'none' END AS trend
            |FROM z""".stripMargin))

  /** Stationary distribution of the event-type Markov chain: 8
    * power-iteration steps in integer micro-units, one truncating
    * division per matrix cell per step (both engines truncate) — the
    * emb power-chain replay discipline on the transition matrix.
    */
  private val eventsMarkovStationary = CatalogEntry(
    "events_markov_stationary",
    (s, dir) => {
      EventPaths.markovStationary(
          eventsMicros(s, dir, "user_id", "event_type", "event_id"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          tieCol = "event_id", iters = 8)
        .orderBy("state")
    },
    Some {
      val chain = (1 to 8).map { t =>
        s"""p$t AS (SELECT cm.dst AS state, sum((p.pi * cm.c) // cm.tot) AS pi
           |      FROM cm JOIN p${t - 1} p ON p.state = cm.src GROUP BY cm.dst)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type, event_id
         |      FROM events),
         |st AS (SELECT event_type AS src,
         |        lead(event_type) OVER (PARTITION BY user_id
         |                               ORDER BY t, event_id) AS dst
         |      FROM e),
         |c0 AS (SELECT src, dst, count(*) AS c
         |      FROM st WHERE dst IS NOT NULL GROUP BY src, dst),
         |ss AS MATERIALIZED (SELECT DISTINCT src FROM c0),
         |r AS MATERIALIZED (SELECT c0.* FROM c0 JOIN ss ON ss.src = c0.dst),
         |tt AS (SELECT src, sum(c) AS tot FROM r GROUP BY src),
         |cm AS MATERIALIZED (SELECT r.src, r.dst, r.c, tt.tot
         |      FROM r JOIN tt USING (src)),
         |k AS (SELECT count(*) AS k FROM ss),
         |p0 AS (SELECT ss.src AS state, 1000000 // k.k AS pi FROM ss, k),
         |$chain,
         |f AS (SELECT ss.src AS state, coalesce(p8.pi, 0) AS pi_micro
         |      FROM ss LEFT JOIN p8 ON p8.state = ss.src)
         |SELECT state, CAST(pi_micro AS BIGINT) AS pi_micro,
         |  CAST(row_number() OVER (ORDER BY pi_micro DESC, state) AS BIGINT)
         |    AS rank
         |FROM f ORDER BY state""".stripMargin
    })

  /** Exact DAU/MAU stickiness: the coverage-run explode counts every
    * (user, day) MAU membership exactly once at <= window x presence
    * cost — the exact sibling of the HLL WAU window.
    */
  private val eventsStickiness = CatalogEntry(
    "events_stickiness",
    (s, dir) => {
      TimeSeriesOps.stickiness(
          eventsMicros(s, dir, "user_id"),
          keyCol = "user_id", timeCol = "t_us", window = 30)
        .orderBy("bucket")
    },
    Some("""WITH e AS (SELECT DISTINCT user_id AS u,
           |        epoch_us(ts) // 86400000000 AS d
           |      FROM events),
           |nx AS (SELECT u, d, lead(d) OVER (PARTITION BY u ORDER BY d)
           |         AS nextd
           |       FROM e),
           |cv AS (SELECT unnest(range(d,
           |         least(coalesce(nextd - 1, d + 29), d + 29) + 1)) AS bucket
           |       FROM nx),
           |mx AS (SELECT max(d) AS mx FROM e),
           |mau AS (SELECT bucket, count(*) AS mau FROM cv, mx
           |        WHERE bucket <= mx.mx GROUP BY bucket),
           |dau AS (SELECT d AS bucket, count(*) AS dau FROM e GROUP BY d)
           |SELECT m.bucket, CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau,
           |  CAST(m.mau AS BIGINT) AS mau,
           |  CAST(coalesce(dau.dau, 0) * 1000000 // m.mau AS BIGINT)
           |    AS stickiness_ppm
           |FROM mau m LEFT JOIN dau USING (bucket) ORDER BY m.bucket""".stripMargin))

  /** signup->purchase time-to-convert quantiles at second grain:
    * exact integer latencies, bounded seconds histogram, cum*100 >=
    * n*q rank picks — no global sort of the converted population.
    */
  private val eventsConversionLatency = CatalogEntry(
    "events_conversion_latency",
    (s, dir) => {
      Funnel.conversionLatency(
          eventsMicros(s, dir, "user_id", "event_type"),
          keyCol = "user_id", timeCol = "t_us", typeCol = "event_type",
          fromType = "signup", toType = "purchase")
        .orderBy("q_pct")
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
           |a AS (SELECT user_id, min(t) AS ta FROM e
           |      WHERE event_type = 'signup' GROUP BY user_id),
           |b AS (SELECT user_id, t AS tb FROM e WHERE event_type = 'purchase'),
           |l AS (SELECT a.user_id, min(b.tb - a.ta) AS lat_us
           |      FROM a JOIN b USING (user_id) WHERE b.tb >= a.ta
           |      GROUP BY a.user_id),
           |sgrain AS (SELECT lat_us // 1000000 AS lat_s, count(*) AS c
           |      FROM l GROUP BY 1),
           |cum AS (SELECT lat_s, c,
           |        sum(c) OVER (ORDER BY lat_s
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |        sum(c) OVER () AS n
           |      FROM sgrain),
           |q AS (SELECT unnest([50, 90, 99]::BIGINT[]) AS q_pct)
           |SELECT q.q_pct, CAST(max(n) AS BIGINT) AS n_converted,
           |  CAST(min(lat_s) AS BIGINT) AS latency_s
           |FROM cum CROSS JOIN q WHERE cum * 100 >= n * q.q_pct
           |GROUP BY q.q_pct ORDER BY q.q_pct""".stripMargin))

  /** RFM quintile cube: per-dimension thresholds rank-picked from
    * bounded value-grain histograms, integer comparisons only —
    * segment 555 is the best cell (recency inverted).
    */
  private val eventsRfmSegments = CatalogEntry(
    "events_rfm_segments",
    (s, dir) => {
      GroupStats.rfmSegments(
          eventsMicros(s, dir, "user_id", "value"),
          keyCol = "user_id", timeCol = "t_us", valueCol = "value")
        .orderBy("r_seg", "f_seg", "m_seg")
    },
    Some {
      def dim(p: String, vExpr: String) =
        s"""${p}h AS (SELECT $vExpr AS v, count(*) AS c FROM ent GROUP BY 1),
           |${p}c AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum,
           |        sum(c) OVER () AS n FROM ${p}h),
           |${p}t AS (SELECT q, min(v) AS t FROM ${p}c
           |      CROSS JOIN (SELECT unnest([20, 40, 60, 80]) AS q) qs
           |      WHERE cum * 100 >= n * q GROUP BY q),
           |${p}p AS MATERIALIZED (SELECT
           |        max(CASE WHEN q = 20 THEN t END) AS t20,
           |        max(CASE WHEN q = 40 THEN t END) AS t40,
           |        max(CASE WHEN q = 60 THEN t END) AS t60,
           |        max(CASE WHEN q = 80 THEN t END) AS t80 FROM ${p}t)"""
          .stripMargin
      def seg(p: String, vExpr: String) =
        s"1 + CASE WHEN $vExpr > ${p}p.t20 THEN 1 ELSE 0 END " +
          s"+ CASE WHEN $vExpr > ${p}p.t40 THEN 1 ELSE 0 END " +
          s"+ CASE WHEN $vExpr > ${p}p.t60 THEN 1 ELSE 0 END " +
          s"+ CASE WHEN $vExpr > ${p}p.t80 THEN 1 ELSE 0 END"
      s"""WITH per AS (SELECT user_id,
         |        max(epoch_us(ts) // 86400000000) AS lastd,
         |        count(*) AS f_val,
         |        sum(CAST(floor(value * 100.0) AS BIGINT)) AS cents
         |      FROM events GROUP BY user_id),
         |mx AS (SELECT max(lastd) AS mx FROM per),
         |ent AS MATERIALIZED (SELECT user_id, mx.mx - lastd AS r_val,
         |      f_val, cents // 100 AS m_val FROM per, mx),
         |${dim("r", "r_val")},
         |${dim("f", "f_val")},
         |${dim("m", "m_val")},
         |sg AS (SELECT 6 - (${seg("r", "ent.r_val")}) AS r_seg,
         |        ${seg("f", "ent.f_val")} AS f_seg,
         |        ${seg("m", "ent.m_val")} AS m_seg
         |      FROM ent, rp, fp, mp),
         |cube AS (SELECT r_seg, f_seg, m_seg, count(*) AS n_users
         |      FROM sg GROUP BY 1, 2, 3),
         |t AS (SELECT sum(n_users) AS t FROM cube)
         |SELECT CAST(r_seg AS BIGINT) AS r_seg, CAST(f_seg AS BIGINT) AS f_seg,
         |  CAST(m_seg AS BIGINT) AS m_seg, CAST(n_users AS BIGINT) AS n_users,
         |  CAST(n_users * 1000000 // t.t AS BIGINT) AS share_ppm
         |FROM cube, t ORDER BY r_seg, f_seg, m_seg""".stripMargin
    })

  /** Exponential retention-decay fit: pooled over observing cohorts
    * only (truncation-bias guard), zipfFit-style quantized LS, one
    * fixed-shape double slope — lambda and the half-life.
    */
  private val eventsRetentionHalflife = CatalogEntry(
    "events_retention_halflife",
    (s, dir) => {
      Funnel.retentionHalfLife(
          eventsMicros(s, dir, "user_id"),
          keyCol = "user_id", timeCol = "t_us", bucket = 86400000000L)
        .select(col("n_offsets_fit"),
          QuerySupport.r6(col("lambda")).as("lambda"),
          QuerySupport.r6(col("half_life_days")).as("half_life_days"))
    },
    Some(s"""WITH k AS (SELECT user_id, epoch_us(ts) // 86400000000 AS b
            |      FROM events),
            |kc AS (SELECT user_id, b,
            |        min(b) OVER (PARTITION BY user_id) AS cohort FROM k),
            |cells AS (SELECT cohort, b - cohort AS off,
            |        count(DISTINCT user_id) AS n_active
            |      FROM kc GROUP BY 1, 2),
            |sizes AS (SELECT cohort, n_active AS n_cohort FROM cells
            |      WHERE off = 0),
            |span AS (SELECT max(cohort + off) AS mx, min(cohort) AS mn
            |      FROM cells),
            |offs AS (SELECT unnest(range(1, mx - mn + 1)) AS off, mx
            |      FROM span WHERE mx > mn),
            |den AS (SELECT off, sum(n_cohort) AS sb FROM offs
            |      JOIN sizes ON sizes.cohort <= offs.mx - offs.off
            |      GROUP BY off),
            |num AS (SELECT off, sum(n_active) AS sa FROM cells
            |      WHERE off >= 1 GROUP BY off),
            |pts AS (SELECT
            |        CAST(floor(CAST(off AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qx,
            |        CAST(floor(ln(CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE))
            |          * 1000000.0 + 0.5) AS BIGINT) AS qy,
            |        CAST(floor(CAST(off AS DOUBLE)
            |          * ln(CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE))
            |          * 1000000.0 + 0.5) AS BIGINT) AS qxy,
            |        CAST(floor(CAST(off AS DOUBLE) * CAST(off AS DOUBLE)
            |          * 1000000.0 + 0.5) AS BIGINT) AS qxx
            |      FROM den JOIN num USING (off) WHERE sa > 0 AND sb > 0),
            |m AS (SELECT count(*) AS n, sum(qx) AS sx, sum(qy) AS sy,
            |        sum(qxy) AS sxy, sum(qxx) AS sxx FROM pts),
            |f AS (SELECT n, -((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) * 1000000.0
            |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) * 1000000.0
            |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS lambda
            |      FROM m)
            |SELECT CAST(n AS BIGINT) AS n_offsets_fit,
            |  ${QuerySupport.r6Sql("lambda")} AS lambda,
            |  ${QuerySupport.r6Sql("CASE WHEN lambda <= 0.0 THEN -1.0 ELSE ln(2.0) / lambda END")} AS half_life_days
            |FROM f""".stripMargin))

  /** Deseasonalized hourly anomaly flags: each calendar hour judged
    * against its own (dow, hod) cell mean; integer ratio deviations,
    * all-zero cells deviate 0 by definition.
    */
  private val eventsSeasonalResidual = CatalogEntry(
    "events_seasonal_residual",
    (s, dir) => {
      TimeSeriesOps.seasonalResidualOutliers(
          eventsMicros(s, dir),
          timeCol = "t_us", thresholdPpm = 500000L)
        .orderBy("bucket")
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS bucket FROM events),
           |d AS (SELECT bucket, count(*) AS n FROM e GROUP BY bucket),
           |sp AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM d),
           |cal AS (SELECT unnest(range(lo, hi + 1)) AS bucket FROM sp),
           |f AS (SELECT cal.bucket, coalesce(d.n, 0) AS n,
           |        ((cal.bucket % 24) + 24) % 24 AS hod,
           |        (((((cal.bucket - ((cal.bucket % 24) + 24) % 24) // 24) + 4)
           |          % 7) + 7) % 7 AS dow
           |      FROM cal LEFT JOIN d USING (bucket)),
           |c AS (SELECT dow, hod, sum(n) AS ct, count(*) AS nh
           |      FROM f GROUP BY 1, 2),
           |j AS (SELECT f.bucket, f.n, f.dow, f.hod,
           |        ct * 1000000 // nh AS cell_mean_micro,
           |        CASE WHEN ct = 0 THEN 0
           |          ELSE f.n * nh * 1000000 // ct - 1000000 END AS dev_ppm
           |      FROM f JOIN c USING (dow, hod))
           |SELECT bucket, CAST(n AS BIGINT) AS n_events,
           |  CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
           |  CAST(cell_mean_micro AS BIGINT) AS cell_mean_micro,
           |  CAST(dev_ppm AS BIGINT) AS dev_ppm
           |FROM j WHERE abs(dev_ppm) >= 500000 ORDER BY bucket""".stripMargin))

  /** Per-user lifetime histogram: one shuffle to entity grain, exact
    * integer lifetimes and active-day totals, broadcast grand total.
    */
  private val eventsLifetimeHistogram = CatalogEntry(
    "events_lifetime_histogram",
    (s, dir) => {
      TimeSeriesOps.lifetimeHistogram(
          eventsMicros(s, dir, "user_id"),
          keyCol = "user_id", timeCol = "t_us")
        .orderBy("lifetime_days")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
           |      FROM events),
           |p AS (SELECT user_id, min(d) AS f, max(d) AS l,
           |        count(DISTINCT d) AS a
           |      FROM e GROUP BY user_id),
           |h AS (SELECT l - f + 1 AS lifetime_days, count(*) AS n_users,
           |        sum(a) AS total_active_days
           |      FROM p GROUP BY 1),
           |t AS (SELECT sum(n_users) AS t FROM h)
           |SELECT CAST(lifetime_days AS BIGINT) AS lifetime_days,
           |  CAST(n_users AS BIGINT) AS n_users,
           |  CAST(total_active_days AS BIGINT) AS total_active_days,
           |  CAST(n_users * 1000000 // t.t AS BIGINT) AS share_ppm
           |FROM h, t ORDER BY lifetime_days""".stripMargin))

  /** Seasonal-naive (lag-1 / lag-7) forecast backtest on zero-filled
    * daily counts: integer forecasts and absolute errors, MAE
    * quantized once as truncating micro division.
    */
  private val eventsSeasonalNaive = CatalogEntry(
    "events_seasonal_naive",
    (s, dir) => {
      TimeSeriesOps.seasonalNaiveBacktest(
          eventsMicros(s, dir),
          timeCol = "t_us", bucket = 86400000000L, season = 7)
        .orderBy("method")
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS bucket FROM events),
           |d AS (SELECT bucket, count(*) AS n FROM e GROUP BY bucket),
           |sp AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM d),
           |cal AS (SELECT unnest(range(lo, hi + 1)) AS bucket FROM sp),
           |f AS (SELECT cal.bucket, coalesce(d.n, 0) AS n
           |      FROM cal LEFT JOIN d USING (bucket)),
           |l AS (SELECT n, lag(n, 1) OVER (ORDER BY bucket) AS f1,
           |        lag(n, 7) OVER (ORDER BY bucket) AS f7 FROM f),
           |u AS (SELECT 'naive1' AS method, n, f1 AS fc FROM l WHERE f1 IS NOT NULL
           |      UNION ALL
           |      SELECT 'seasonal7', n, f7 FROM l WHERE f7 IS NOT NULL)
           |SELECT method, CAST(count(*) AS BIGINT) AS n_days,
           |  CAST(sum(abs(n - fc)) AS BIGINT) AS total_abs_err,
           |  CAST(sum(abs(n - fc)) * 1000000 // greatest(count(*), 1) AS BIGINT)
           |    AS mae_micro
           |FROM u GROUP BY method ORDER BY method""".stripMargin))

  /** Lag-k Pearson autocorrelation of zero-filled daily counts, lags
    * 1..7: five exact BIGINT moments per lag; only the final quotient
    * floats, identical spelling both engines.
    */
  private val eventsAutocorrelation = CatalogEntry(
    "events_autocorrelation",
    (s, dir) => {
      TimeSeriesOps.autocorrelation(
          eventsMicros(s, dir),
          timeCol = "t_us", bucket = 86400000000L, maxLag = 7)
        .select(col("lag"), col("n_pairs"),
          QuerySupport.r6(col("r")).as("r"))
        .orderBy("lag")
    },
    Some(s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS bucket FROM events),
            |d AS (SELECT bucket, count(*) AS n FROM e GROUP BY bucket),
            |sp AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM d),
            |cal AS (SELECT unnest(range(lo, hi + 1)) AS bucket FROM sp),
            |f AS (SELECT cal.bucket, coalesce(d.n, 0) AS n
            |      FROM cal LEFT JOIN d USING (bucket)),
            |lg AS (SELECT unnest(range(1, 8)) AS lag),
            |p AS (SELECT lg.lag, f1.n AS x, f2.n AS y
            |      FROM f f1 CROSS JOIN lg JOIN f f2 ON f2.bucket = f1.bucket + lg.lag),
            |m AS (SELECT lag, count(*) AS m, sum(x) AS sx, sum(y) AS sy,
            |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
            |      FROM p GROUP BY lag),
            |v AS (SELECT lag, m, m * sxx - sx * sx AS vx, m * syy - sy * sy AS vy,
            |        m * sxy - sx * sy AS num
            |      FROM m),
            |r AS (SELECT lag, m, CASE WHEN vx <= 0 OR vy <= 0 THEN 0.0 ELSE
            |        CAST(num AS DOUBLE) / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
            |        END AS r
            |      FROM v)
            |SELECT CAST(lag AS BIGINT) AS lag, CAST(m AS BIGINT) AS n_pairs,
            |  ${QuerySupport.r6Sql("r")} AS r
            |FROM r ORDER BY lag""".stripMargin))

  /** Kaplan–Meier survival over user lifetimes with right-censoring
    * at the corpus horizon: count-of-counts collapse, exact BIGINT
    * risk sets, per-day hazard terms quantized once to micro-nats
    * (log-survival is the output — `exp` never runs).
    */
  private val eventsSurvivalKm = CatalogEntry(
    "events_survival_km",
    (s, dir) => {
      Funnel.survivalKm(
        eventsMicros(s, dir, "user_id"),
        keyCol = "user_id", timeCol = "t_us", bucket = 86400000000L)
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS d
           |      FROM events),
           |p AS (SELECT user_id, min(d) AS b0, max(d) AS b1
           |      FROM e GROUP BY 1),
           |hz AS (SELECT max(b1) AS h FROM p),
           |g AS (SELECT b1 - b0 AS t_day,
           |        sum(CASE WHEN b1 < h THEN 1 ELSE 0 END) AS n_death,
           |        sum(CASE WHEN b1 < h THEN 0 ELSE 1 END) AS n_censored
           |      FROM p, hz GROUP BY 1),
           |r AS (SELECT *, sum(n_death + n_censored) OVER (ORDER BY t_day DESC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
           |      FROM g),
           |q AS (SELECT *,
           |        CASE WHEN n_death > 0 AND n_death < n_risk
           |          THEN CAST(floor(ln(CAST(n_risk - n_death AS DOUBLE)
           |            / CAST(n_risk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
           |          ELSE 0 END AS term,
           |        sum(CASE WHEN n_death = n_risk THEN 1 ELSE 0 END)
           |          OVER (ORDER BY t_day ASC ROWS BETWEEN UNBOUNDED PRECEDING
           |            AND CURRENT ROW) AS dead
           |      FROM r),
           |q2 AS (SELECT *, sum(term) OVER (ORDER BY t_day ASC
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |      FROM q)
           |SELECT CAST(t_day AS BIGINT) AS t_day,
           |  CAST(n_risk AS BIGINT) AS n_risk,
           |  CAST(n_death AS BIGINT) AS n_death,
           |  CAST(n_censored AS BIGINT) AS n_censored,
           |  CAST(CASE WHEN dead > 0 THEN NULL ELSE cum END AS BIGINT)
           |    AS log_s_micro,
           |  (dead > 0) AS absorbed
           |FROM q2 ORDER BY t_day""".stripMargin))

  /** Inter-arrival regularity bot audit: exact integer gap moments
    * per entity, cv² as one floor quotient in ppm, integer-only
    * threshold compare.
    */
  private val eventsBotRegularity = CatalogEntry(
    "events_bot_regularity",
    (s, dir) => {
      TimeSeriesOps.botRegularity(
        eventsMicros(s, dir, "user_id"),
        keyCol = "user_id", timeCol = "t_us")
    },
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS t
           |      FROM events),
           |g AS (SELECT user_id,
           |        t - lag(t) OVER (PARTITION BY user_id ORDER BY t) AS gap
           |      FROM e),
           |a AS (SELECT user_id, count(*) AS n_events,
           |        sum(gap) AS s1, sum(gap * gap) AS s2
           |      FROM g GROUP BY 1 HAVING count(*) >= 5),
           |b0 AS (SELECT user_id, n_events, n_events - 1 AS k, s1,
           |        (n_events - 1) * s2 - s1 * s1 AS num, s1 * s1 AS den
           |      FROM a),
           |b AS (SELECT user_id, n_events, k, s1,
           |        CASE WHEN s1 = 0 THEN 0
           |          ELSE (num // den) * 1000000
           |            + (num - (num // den) * den) * 1000000 // den END AS cv2
           |      FROM b0)
           |SELECT CAST(user_id AS BIGINT) AS user_id,
           |  CAST(n_events AS BIGINT) AS n_events,
           |  CAST(s1 AS BIGINT) AS span_s,
           |  CAST(s1 // k AS BIGINT) AS mean_gap_s,
           |  CAST(cv2 AS BIGINT) AS cv2_ppm,
           |  (cv2 < 100000) AS is_bot
           |FROM b ORDER BY user_id""".stripMargin))

  /** EWMA control-chart anomalies on zero-filled daily counts: the
    * bit-exact w_ema recursion (identical double op order both
    * engines), one ppm quantization, integer threshold compare.
    */
  private val eventsEwmaAnomaly = CatalogEntry(
    "events_ewma_anomaly",
    (s, dir) => {
      TimeSeriesOps.ewmaAnomaly(
        eventsMicros(s, dir),
        timeCol = "t_us", bucket = 86400000000L, span = 7)
    },
    Some {
      s"""WITH RECURSIVE e AS (SELECT epoch_us(ts) // 86400000000 AS bucket
         |      FROM events),
         |d AS (SELECT bucket, count(*) AS n FROM e GROUP BY 1),
         |sp AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM d),
         |cal AS (SELECT unnest(range(lo, hi + 1)) AS bucket FROM sp),
         |f AS (SELECT cal.bucket, coalesce(d.n, 0) AS n,
         |        row_number() OVER (ORDER BY cal.bucket) AS rn
         |      FROM cal LEFT JOIN d USING (bucket)),
         |rec AS (SELECT bucket, n, rn, CAST(n AS DOUBLE) AS ew
         |        FROM f WHERE rn = 1
         |        UNION ALL
         |        SELECT o.bucket, o.n, o.rn,
         |          0.25 * CAST(o.n AS DOUBLE) + 0.75 * r.ew
         |        FROM f o JOIN rec r ON o.rn = r.rn + 1),
         |pr AS (SELECT bucket, n,
         |        lag(ew) OVER (ORDER BY bucket) AS prior FROM rec),
         |dv AS (SELECT bucket, n, prior,
         |        CASE WHEN prior IS NULL THEN 0
         |          ELSE CAST(floor((CAST(n AS DOUBLE) - prior) / prior
         |            * 1000000.0 + 0.5) AS BIGINT) END AS dev_ppm
         |      FROM pr)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n_events,
         |  ${QuerySupport.r6Sql("coalesce(prior, 0.0)")} AS ewma_prior,
         |  CAST(dev_ppm AS BIGINT) AS dev_ppm,
         |  (abs(dev_ppm) >= 500000) AS is_anomaly
         |FROM dv ORDER BY bucket""".stripMargin
    })

  /** PSI drift of the event-type mix between calendar halves:
    * exact counts, Laplace-smoothed shares with identical double op
    * order, per-category micro-nat terms quantized once on the
    * bounded category frame.
    */
  private val eventsPsiDrift = CatalogEntry(
    "events_psi_drift",
    (s, dir) => {
      TimeSeriesOps.categoryPsiDrift(
        eventsMicros(s, dir, "event_type"),
        catCol = "event_type", timeCol = "t_us")
    },
    Some("""WITH d AS (SELECT event_type AS category,
           |        epoch_us(ts) // 86400000000 AS b
           |      FROM events WHERE event_type IS NOT NULL),
           |md AS (SELECT (min(b) + max(b)) // 2 AS mid FROM d),
           |c AS (SELECT category,
           |        sum(CASE WHEN b <= mid THEN 1 ELSE 0 END) AS n_first,
           |        sum(CASE WHEN b > mid THEN 1 ELSE 0 END) AS n_second
           |      FROM d, md GROUP BY 1),
           |t AS (SELECT sum(n_first + 1) AS ta, sum(n_second + 1) AS tb
           |      FROM c),
           |sh AS (SELECT category, n_first, n_second,
           |        CAST(n_first + 1 AS DOUBLE) / CAST(ta AS DOUBLE) AS pp,
           |        CAST(n_second + 1 AS DOUBLE) / CAST(tb AS DOUBLE) AS qq,
           |        (n_first + 1) * 1000000 // ta AS p_ppm,
           |        (n_second + 1) * 1000000 // tb AS q_ppm
           |      FROM c, t),
           |r AS (SELECT *, CAST(floor((pp - qq) * ln(pp / qq) * 1000000.0
           |        + 0.5) AS BIGINT) AS term_micro FROM sh),
           |s AS (SELECT sum(term_micro) AS tot FROM r)
           |SELECT category, CAST(n_first AS BIGINT) AS n_first,
           |  CAST(n_second AS BIGINT) AS n_second,
           |  CAST(p_ppm AS BIGINT) AS p_ppm, CAST(q_ppm AS BIGINT) AS q_ppm,
           |  term_micro, CAST(s.tot AS BIGINT) AS psi_total_micro
           |FROM r, s ORDER BY category""".stripMargin))

  /** Two-level binary-segmentation changepoints: the cusum statistic
    * rescaled to each side of the global cut, integer-exact, ties to
    * the earlier bucket at both levels.
    */
  private val eventsChangepointBinseg = CatalogEntry(
    "events_changepoint_binseg",
    (s, dir) => {
      TimeSeriesOps.binarySegmentation(
        eventsMicros(s, dir),
        timeCol = "t_us", bucket = 86400000000L)
    },
    Some("""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS bucket
           |      FROM events),
           |d AS (SELECT bucket, count(*) AS n FROM e GROUP BY 1),
           |sp AS (SELECT min(bucket) AS lo, max(bucket) AS hi,
           |        sum(n) AS nn FROM d),
           |cal AS (SELECT unnest(range(lo, hi + 1)) AS bucket,
           |        hi - lo + 1 AS dd, nn FROM sp),
           |f AS (SELECT cal.bucket, coalesce(d.n, 0) AS nv, dd, nn
           |      FROM cal LEFT JOIN d USING (bucket)),
           |g AS (SELECT *, sum(nv * dd - nn) OVER (ORDER BY bucket
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
           |      FROM f),
           |cp AS (SELECT bucket AS cp1, cs AS cs1, dd, nn FROM g
           |       ORDER BY abs(cs) DESC, bucket LIMIT 1),
           |s0 AS (SELECT f.bucket, f.nv,
           |        CASE WHEN f.bucket <= cp.cp1 THEN 0 ELSE 1 END AS seg
           |       FROM f, cp),
           |s1 AS (SELECT *, count(*) OVER (PARTITION BY seg) AS ds,
           |        sum(nv) OVER (PARTITION BY seg) AS ns FROM s0),
           |s2 AS (SELECT *, sum(nv * ds - ns) OVER (PARTITION BY seg
           |        ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
           |          AND CURRENT ROW) AS cs FROM s1),
           |s3 AS (SELECT seg, bucket, ds, ns, cs, row_number() OVER (
           |        PARTITION BY seg ORDER BY abs(cs) DESC, bucket) AS rk
           |       FROM s2),
           |u AS (SELECT 1 AS level, -1 AS segment, cp1 AS bucket,
           |        dd AS n_days, nn AS n_events, cs1 AS cusum_scaled FROM cp
           |      UNION ALL
           |      SELECT 2, seg, bucket, ds, ns, cs FROM s3 WHERE rk = 1)
           |SELECT CAST(level AS BIGINT) AS level,
           |  CAST(segment AS BIGINT) AS segment,
           |  CAST(bucket AS BIGINT) AS bucket,
           |  CAST(n_days AS BIGINT) AS n_days,
           |  CAST(n_events AS BIGINT) AS n_events,
           |  CAST(cusum_scaled AS BIGINT) AS cusum_scaled
           |FROM u ORDER BY level, segment""".stripMargin))

  /** Pairwise event-type audience overlap: exact distinct-user
    * intersections + Jaccard ppm; pair expansion bounded by the type
    * vocabulary per user, never user-quadratic.
    */
  private val eventsAudienceOverlap = CatalogEntry(
    "events_audience_overlap",
    (s, dir) => GroupStats.audienceOverlap(
        QuerySupport.table(s, dir, "events"),
        typeCol = "event_type", keyCol = "user_id")
      .orderBy("type_a", "type_b"),
    Some("""WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
           |sz AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY t),
           |pr AS (SELECT a.t AS type_a, b.t AS type_b,
           |         CAST(count(*) AS BIGINT) AS n_both
           |       FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
           |       GROUP BY a.t, b.t)
           |SELECT pr.type_a, pr.type_b, sa.n AS n_a, sb.n AS n_b, pr.n_both,
           |  CAST(pr.n_both * 1000000
           |    // greatest(sa.n + sb.n - pr.n_both, 1) AS BIGINT) AS jaccard_ppm
           |FROM pr JOIN sz sa ON sa.t = pr.type_a
           |  JOIN sz sb ON sb.t = pr.type_b
           |ORDER BY type_a, type_b""".stripMargin))

  /** Growth-accounting ledger at day grain: new/retained/resurrected/
    * active/churned per day, the accounting identity exact.
    */
  private val eventsGrowthAccounting = CatalogEntry(
    "events_growth_accounting",
    (s, dir) => {
      Funnel.growthAccounting(
          eventsMicros(s, dir, "user_id"),
          keyCol = "user_id", timeCol = "t_us", bucket = 86400000000L)
        .orderBy("bucket")
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id AS u,
           |        epoch_us(ts) // 86400000000 AS w FROM events),
           |st AS (SELECT u, w, lag(w) OVER (PARTITION BY u ORDER BY w) AS p,
           |         lead(w) OVER (PARTITION BY u ORDER BY w) AS nx FROM uw),
           |act AS (SELECT w AS bucket,
           |          CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           |          CAST(sum(CASE WHEN p = w - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           |          CAST(sum(CASE WHEN p IS NOT NULL AND p < w - 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           |          CAST(count(*) AS BIGINT) AS n_active
           |        FROM st GROUP BY w),
           |ch AS (SELECT w + 1 AS bucket, CAST(count(*) AS BIGINT) AS n_churned
           |       FROM st WHERE nx IS NULL OR nx > w + 1 GROUP BY w + 1)
           |SELECT CAST(coalesce(act.bucket, ch.bucket) AS BIGINT) AS bucket,
           |  coalesce(n_new, 0) AS n_new,
           |  coalesce(n_retained, 0) AS n_retained,
           |  coalesce(n_resurrected, 0) AS n_resurrected,
           |  coalesce(n_active, 0) AS n_active,
           |  coalesce(n_churned, 0) AS n_churned
           |FROM act FULL OUTER JOIN ch ON act.bucket = ch.bucket
           |ORDER BY bucket""".stripMargin))

  /** Clauset-MLE power-law exponent of per-user activity: per-distinct-
    * count ln(2x) micro-quantized once, exact BIGINT moment sums.
    */
  private val eventsPowerlawAlpha = CatalogEntry(
    "events_powerlaw_alpha",
    (s, dir) => GroupStats.powerLawAlpha(
        QuerySupport.table(s, dir, "events"), keyCol = "user_id")
      .select(col("n_entities"), col("n_distinct_counts"),
        col("sum_ln_micro"), QuerySupport.r6(col("alpha")).as("alpha")),
    Some(s"""WITH c AS (SELECT user_id, count(*) AS x FROM events GROUP BY user_id),
            |cc AS (SELECT x, count(*) AS m FROM c GROUP BY x),
            |q AS (SELECT x, m, CAST(floor(ln(2.0 * CAST(x AS DOUBLE))
            |        * 1000000.0 + 0.5) AS BIGINT) AS l FROM cc),
            |g AS (SELECT CAST(sum(m) AS BIGINT) AS n_entities,
            |        CAST(count(*) AS BIGINT) AS n_distinct_counts,
            |        CAST(sum(m * l) AS BIGINT) AS sum_ln_micro FROM q)
            |SELECT n_entities, n_distinct_counts, sum_ln_micro,
            |  ${QuerySupport.r6Sql("CASE WHEN sum_ln_micro <= 0 THEN -1.0 ELSE 1.0 + CAST(n_entities AS DOUBLE) * 1000000.0 / CAST(sum_ln_micro AS DOUBLE) END")} AS alpha
            |FROM g""".stripMargin))

  val entries: Seq[CatalogEntry] = Seq(
    eventsAudienceOverlap, eventsGrowthAccounting, eventsPowerlawAlpha,
    wSma, wEma, wMacd, wRsi, wStoch, wRollingVol, wAtr, wBbands, wObv,
    wRetLog, wRetSimple, wLag, wDiff, wRollingMax, wRollingMin, wZscore,
    wSessionFlags, wPctChange, wYoy, wQoq, wRollingAvg, wEarningsRoll,
    scBalance, scCashflow, scIncome, dslCustom, wSessionize, wSessionStats,
    eventsPropsAgg, eventsFunnel, eventsFunnelDaily, eventsAttribution,
    eventsRetention, tsResampleOhlc, tsGapFill, eventsTransitionTopK, eventsTopPaths,
    eventsKeySkew, eventsInterArrival, eventsSeasonalProfile, eventsQuantiles, eventsGlobalQuantiles, eventsRateSpikes,
    cleanWinsorize, layoutZorderAudit, cleanMadOutliers, eventsBurstThrottle,
    textSourceLangRollup, eventsCusum, eventsTransitionEntropy,
    eventsHistogramQuantiles, eventsQuantileDrift, eventsPeakConcurrency,
    eventsMannKendall, eventsAutocorrelation, eventsSeasonalNaive,
    eventsSeasonalResidual, eventsLifetimeHistogram, eventsMarkovStationary,
    eventsStickiness, eventsConversionLatency, eventsRfmSegments,
    eventsRetentionHalflife, eventsSurvivalKm, eventsBotRegularity,
    eventsEwmaAnomaly, eventsPsiDrift, eventsChangepointBinseg)
}
