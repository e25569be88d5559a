package graft.ingest

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Response normalizers for the Alpha Vantage endpoint family (SURVEY
  * §2.1 S7-S10, P12): JSON dict-of-dict payloads to flat columnar
  * frames. Like the reference (alpha_vantage_client.py:241-615), the
  * output schema is data-driven — Alpha Vantage responses carry their
  * field names in the payload. The Spark analogue of pandas'
  * schema-on-read is one schema-level `distinct()` over the exploded
  * field names (a handful of strings, never row data) followed by an
  * explicit-values `pivot`, so the wide projection is still a single
  * shuffle-free pass per group key and nothing unbounded reaches the
  * driver.
  *
  * Input contract: a DataFrame with a `json` string column, one row
  * per API response.
  */
object AlphaVantageParsers {

  /** Columns the reference numeric-coerces in time series payloads
    * (alpha_vantage_client.py:342-346). `volume` stays integral like
    * pandas `to_numeric` on integer strings.
    */
  private val numericCols = Seq("open", "high", "low", "close",
    "adjusted_close", "dividend_amount", "split_coefficient")

  /** "1. open" -> "open" (split on '. ', spaces to underscores, lower
    * — alpha_vantage_client.py:323-329).
    */
  private def cleanFieldName(c: Column): Column =
    lower(regexp_replace(
      when(c.contains(". "), element_at(split(c, "\\. ", 2), 2)).otherwise(c),
      " ", "_"))

  /** S7: time series responses (INTRADAY/DAILY/WEEKLY/MONTHLY and
    * _ADJUSTED variants). The time-series key is found by substring
    * match ("Time Series" / "Weekly Time Series"...), its dict-of-dict
    * explodes to (timestamp, field, value) rows, field names are
    * cleaned, and the frame pivots wide with numeric coercion and a
    * ticker literal (alpha_vantage_client.py:301-353).
    */
  def parseTimeSeries(raw: DataFrame, ticker: Option[String] = None): DataFrame = {
    val top = raw.select(
      explode(from_json(col("json"), "map<string,string>", Map.empty[String, String]))
        .as(Seq("k", "v")))
    val series = top.filter(lower(col("k")).contains("time series"))
    val long = series
      .select(explode(from_json(col("v"), "map<string,map<string,string>>",
        Map.empty[String, String])).as(Seq("ts", "m")))
      .select(to_date(col("ts")).as("timestamp"), explode(col("m")).as(Seq("field", "value")))
      .withColumn("field", cleanFieldName(col("field")))
    val fields = discoverFields(long)
    val wide = long.groupBy("timestamp").pivot("field", fields).agg(first("value"))
    val typed = fields.foldLeft(wide) { (df, f) =>
      if (numericCols.contains(f)) df.withColumn(f, col(f).cast("double"))
      else if (f == "volume") df.withColumn(f, col(f).cast("long"))
      else df
    }
    withTicker(typed, ticker).orderBy("timestamp")
  }

  private val economicSchema =
    "struct<name: string, interval: string, unit: string, " +
      "data: array<struct<date: string, value: string>>>"

  /** S8: economic indicator responses — `data[]` to
    * `(timestamp, value)`, date-parsed, numeric-coerced (null on
    * failure), sorted (alpha_vantage_client.py:273-299).
    */
  def parseEconomic(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("json"), economicSchema, Map.empty[String, String]).as("j"))
      .select(explode(col("j.data")).as("r"))
      .select(
        to_date(col("r.date")).as("timestamp"),
        col("r.value").cast("double").as("value"))
      .orderBy("timestamp")

  private def statementSchema(key: String) =
    s"struct<symbol: string, $key: array<map<string,string>>>"

  /** S9a: annual/quarterly statement reports (INCOME_STATEMENT /
    * BALANCE_SHEET / CASH_FLOW): the chosen period's report list
    * explodes, fields rename to `<prefix>_<field>` (metadata
    * `fiscalDateEnding`/`reportedCurrency` exempt), everything else
    * numeric-coerces, `fiscalDateEnding` becomes the `timestamp` date,
    * with `period` + ticker columns (alpha_vantage_client.py:435-489).
    */
  def parseStatement(raw: DataFrame, prefix: String,
                     period: String = "quarterly",
                     ticker: Option[String] = None): DataFrame = {
    val key = if (period == "annual") "annualReports" else "quarterlyReports"
    val reports = raw
      .select(from_json(col("json"), statementSchema(key), Map.empty[String, String]).as("j"))
      .select(col("j.symbol").as("__symbol"), explode(col(s"j.$key")).as("m"))
    val long = reports.select(
      col("__symbol"),
      element_at(col("m"), "fiscalDateEnding").as("__fde"),
      explode(col("m")).as(Seq("field", "value")))
    val fields = discoverFields(long)
    val wide = long.groupBy("__symbol", "__fde").pivot("field", fields).agg(first("value"))
    val meta = Seq("fiscalDateEnding", "reportedCurrency")
    val cols =
      coalesce(col("__symbol"), lit(ticker.orNull)).as("ticker") +:
        to_date(col("__fde")).as("timestamp") +:
        fields.filterNot(_ == "fiscalDateEnding").map { f =>
          if (meta.contains(f)) col(f)
          else col(f).cast("double").as(s"${prefix}_$f")
        } :+ lit(if (period == "annual") "annual" else "quarterly").as("period")
    wide.select(cols: _*).orderBy("timestamp")
  }

  /** S9b: earnings history (EARNINGS) — like statements but with the
    * `earnings` prefix and a second `reportedDate` date column kept
    * unprefixed (alpha_vantage_client.py:504-560).
    */
  def parseEarnings(raw: DataFrame, period: String = "quarterly",
                    ticker: Option[String] = None): DataFrame = {
    val key = if (period == "annual") "annualEarnings" else "quarterlyEarnings"
    val reports = raw
      .select(from_json(col("json"), statementSchema(key), Map.empty[String, String]).as("j"))
      .select(col("j.symbol").as("__symbol"), explode(col(s"j.$key")).as("m"))
    val long = reports.select(
      col("__symbol"),
      element_at(col("m"), "fiscalDateEnding").as("__fde"),
      explode(col("m")).as(Seq("field", "value")))
    val fields = discoverFields(long)
    val wide = long.groupBy("__symbol", "__fde").pivot("field", fields).agg(first("value"))
    val meta = Seq("fiscalDateEnding", "reportedDate")
    val cols =
      coalesce(col("__symbol"), lit(ticker.orNull)).as("ticker") +:
        to_date(col("__fde")).as("timestamp") +:
        fields.filterNot(_ == "fiscalDateEnding").map { f =>
          if (f == "reportedDate") to_date(col(f)).as(f)
          else if (meta.contains(f)) col(f)
          else col(f).cast("double").as(s"earnings_$f")
        } :+ lit(if (period == "annual") "annual" else "quarterly").as("period")
    wide.select(cols: _*).orderBy("timestamp")
  }

  /** S9c: earnings estimates — every top-level list in the payload
    * becomes rows labeled by a period derived from its key name
    * ('annual'/'quarterly'/verbatim), unioned over the global field
    * set (missing fields null, like pandas concat), dates normalized
    * from `fiscalDateEnding`/`fiscalDate`
    * (alpha_vantage_client.py:562-593).
    */
  def parseEarningsEstimates(raw: DataFrame, ticker: Option[String] = None): DataFrame = {
    val top = raw.select(
      explode(from_json(col("json"), "map<string,string>", Map.empty[String, String]))
        .as(Seq("k", "v")))
    val lists = top.filter(col("v").startsWith("["))
      .withColumn("period",
        when(lower(col("k")).contains("annual"), "annual")
          .when(lower(col("k")).contains("quarter"), "quarterly")
          .otherwise(col("k")))
    val rows = lists.select(col("k"), col("period"),
      explode(from_json(col("v"), "array<map<string,string>>",
        Map.empty[String, String])).as("m"))
    val long = rows.select(
      col("k"), col("period"),
      coalesce(element_at(col("m"), "fiscalDateEnding"),
        element_at(col("m"), "fiscalDate")).as("__fde"),
      explode(col("m")).as(Seq("field", "value")))
    val fields = discoverFields(long)
    val wide = long.groupBy("k", "period", "__fde").pivot("field", fields).agg(first("value"))
    val dateFields = Seq("fiscalDateEnding", "fiscalDate")
    val cols =
      lit(ticker.orNull).cast("string").as("ticker") +:
        to_date(col("__fde")).as("timestamp") +:
        fields.filterNot(dateFields.contains).map(f => col(f).cast("double").as(f)) :+
        col("period")
    wide.select(cols: _*).orderBy("timestamp", "period")
  }

  /** S9d: simple JSON fundamentals (OVERVIEW / ETF_PROFILE / DIVIDENDS
    * / SPLITS / SHARES_OUTSTANDING) — the flat object becomes one row;
    * values that parse as numbers become doubles, the rest stay
    * strings (pandas `to_numeric(errors='ignore')`,
    * alpha_vantage_client.py:595-615). The single-row first() probe is
    * the schema-on-read step (one row by construction).
    */
  def parseSimpleJson(raw: DataFrame, ticker: Option[String] = None): DataFrame = {
    val long = raw.select(
      explode(from_json(col("json"), "map<string,string>", Map.empty[String, String]))
        .as(Seq("field", "value")))
    val fields = discoverFields(long)
    val wide = long.groupBy().pivot("field", fields).agg(first("value"))
    val probe = wide.collect().headOption
    val typed = fields.foldLeft(wide) { (df, f) =>
      val numeric = probe.exists { r =>
        val v = r.getAs[String](f)
        v != null && v.nonEmpty && scala.util.Try(v.toDouble).isSuccess
      }
      if (numeric) df.withColumn(f, col(f).cast("double")) else df
    }
    withTicker(typed, ticker)
  }

  /** S10: CSV fundamentals (LISTING_STATUS / calendars) — header CSV
    * text to a frame, ticker injected when absent
    * (alpha_vantage_client.py:422-433).
    */
  def parseCsv(raw: org.apache.spark.sql.Dataset[String],
               ticker: Option[String] = None): DataFrame = {
    val spark = raw.sparkSession
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(raw)
    if (ticker.isDefined && !df.columns.contains("symbol") && !df.columns.contains("ticker"))
      df.select(lit(ticker.get).as("ticker") +: df.columns.map(col): _*)
    else df
  }

  // -------------------------------------------------------- P12 window trim

  /** The requested-timeframe spec a validated API request carries. */
  case class WindowSpec(
      from: Option[LocalDate] = None,
      to: Option[LocalDate] = None,
      date: Option[LocalDate] = None,
      limit: Option[Int] = None,
      frequency: Option[String] = None)

  /** Frequency -> row-window fallbacks (alpha_vantage_client.py:22-39). */
  val frequencyWindowMap: Map[String, Int] = Map(
    "intraday" -> 100, "1min" -> 100, "5min" -> 100, "15min" -> 100,
    "30min" -> 100, "60min" -> 100,
    "daily" -> 30, "day" -> 30,
    "weekly" -> 26, "week" -> 26,
    "monthly" -> 12, "month" -> 12,
    "quarterly" -> 20, "quarter" -> 20,
    "annual" -> 10, "year" -> 10)

  val defaultWindowDays = 30

  /** P12: trim a parsed time-series frame to the requested window with
    * the reference's fallback chain (alpha_vantage_client.py:355-417):
    * [from,to] filter (open ends defaulted from the data's latest
    * timestamp) -> `<= to` -> tail(limit) -> tail(freq window) ->
    * last-30-days -> final tail(30) if everything filtered away.
    * `tail(n)` = order desc, limit n, re-sort. The only driver-side
    * values are the latest timestamp, mirroring the reference's
    * `timestamps.max()`, and, on the date-filter branches, emptiness.
    */
  def applyRequestedWindow(df: DataFrame, spec: WindowSpec): DataFrame = {
    if (!df.columns.contains("timestamp")) return df
    val sorted = df.orderBy("timestamp")
    val latestRow = sorted.agg(max(col("timestamp"))).collect()(0)
    if (latestRow.isNullAt(0)) return sorted
    val latest = latestRow.getDate(0).toLocalDate

    val explicitWindow = spec.from.isDefined || spec.to.isDefined || spec.date.isDefined
    val start0 = spec.from.orElse(spec.date)
    val end0 = spec.to.orElse(spec.date)

    def tailN(d: DataFrame, n: Int): DataFrame =
      d.orderBy(col("timestamp").desc).limit(n).orderBy("timestamp")

    // A date filter may empty the frame, and then falls back to the
    // last 30 rows; a positive tail of a frame with a non-null latest
    // timestamp never is, so it needs no emptiness check.
    def orFallback(filtered: DataFrame): DataFrame =
      if (filtered.isEmpty) tailN(sorted, defaultWindowDays) else filtered
    val result =
      if (start0.isDefined || end0.isDefined) {
        val end = end0.getOrElse(latest)
        val start = start0.getOrElse(end.minusDays(defaultWindowDays))
        orFallback(sorted.filter(col("timestamp") >= lit(java.sql.Date.valueOf(start))
          && col("timestamp") <= lit(java.sql.Date.valueOf(end))))
      } else if (explicitWindow && end0.isDefined) {
        orFallback(sorted.filter(col("timestamp") <= lit(java.sql.Date.valueOf(end0.get))))
      } else if (spec.limit.exists(_ > 0)) {
        tailN(sorted, spec.limit.get)
      } else if (spec.frequency.exists(frequencyWindowMap.contains)) {
        tailN(sorted, frequencyWindowMap(spec.frequency.get))
      } else {
        val start = latest.minusDays(defaultWindowDays)
        orFallback(sorted.filter(col("timestamp") >= lit(java.sql.Date.valueOf(start))))
      }
    result.orderBy("timestamp")
  }

  /** Schema-level field discovery: the distinct cleaned field names of
    * the long frame (bounded by the payload's column vocabulary, ~5-40
    * strings — never row data), sorted for a deterministic pivot
    * column order.
    */
  private def discoverFields(long: DataFrame): Seq[String] =
    long.select("field").distinct().collect().map(_.getString(0)).sorted.toSeq

  private def withTicker(df: DataFrame, ticker: Option[String]): DataFrame =
    ticker match {
      case Some(t) if !df.columns.contains("ticker") =>
        df.select(lit(t).as("ticker") +: df.columns.map(col): _*)
      case _ => df
    }
}
