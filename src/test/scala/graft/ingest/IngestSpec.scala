package graft.ingest

import java.time.LocalDate

import graft.{ActionCount, SparkSpec}

class IngestSpec extends SparkSpec {

  private def payload(j: String) = PolygonParsers.payload(spark, j)

  test("parseEarnings prefixes metrics, keeps reportedDate as date") {
    val json =
      """{"symbol": "TST", "quarterlyEarnings": [
        |  {"fiscalDateEnding": "2023-03-31", "reportedDate": "2023-04-25",
        |   "reportedEPS": "1.10", "estimatedEPS": "1.05",
        |   "surprise": "0.05", "surprisePercentage": "4.76"},
        |  {"fiscalDateEnding": "2023-06-30", "reportedDate": "2023-07-27",
        |   "reportedEPS": "1.25", "estimatedEPS": "1.30",
        |   "surprise": "-0.05", "surprisePercentage": "-3.85"}
        |]}""".stripMargin
    val df = AlphaVantageParsers.parseEarnings(payload(json))
    assert(df.columns.contains("earnings_reportedEPS"))
    assert(df.columns.contains("reportedDate"))
    assert(df.schema("reportedDate").dataType.typeName == "date")
    val rows = df.orderBy("timestamp").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("ticker") == "TST")
    assert(rows(0).getAs[Double]("earnings_surprise") == 0.05)
    assert(rows(1).getAs[Double]("earnings_surprisePercentage") == -3.85)
    assert(rows.forall(_.getAs[String]("period") == "quarterly"))
  }

  test("parseEarningsEstimates unions lists with period labels and null-fills") {
    val json =
      """{"symbol": "TST",
        |"annualEstimates": [
        |  {"fiscalDateEnding": "2024-12-31", "epsEstimate": "5.10", "revenueEstimate": "1000"}],
        |"quarterlyEstimates": [
        |  {"fiscalDate": "2024-03-31", "epsEstimate": "1.20"}]
        |}""".stripMargin
    val df = AlphaVantageParsers.parseEarningsEstimates(payload(json), Some("TST"))
    val rows = df.orderBy("timestamp").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("period") == "quarterly")
    assert(rows(0).getAs[Double]("epsEstimate") == 1.2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("revenueEstimate"))) // null-filled
    assert(rows(1).getAs[String]("period") == "annual")
    assert(rows(1).getAs[Double]("revenueEstimate") == 1000.0)
  }

  test("polygon parseEconomic normalizes results to (timestamp, value)") {
    val json =
      """{"results": [
        |  {"date": "2024-02-01", "value": "3.1"},
        |  {"date": "2024-01-01", "value": "3.4"},
        |  {"date": "2024-03-01", "value": "bad"}
        |]}""".stripMargin
    val rows = PolygonParsers.parseEconomic(payload(json)).collect()
    assert(rows.map(_.getAs[java.sql.Date]("timestamp").toString).toSeq ==
      Seq("2024-01-01", "2024-02-01", "2024-03-01")) // sorted
    assert(rows(0).getAs[Double]("value") == 3.4)
    assert(rows(2).isNullAt(1)) // coerce-to-null on bad numeric
  }

  test("parseAggs injects the ticker param when the payload has none") {
    val json = """{"results": [{"o": 1.0, "h": 2.0, "l": 0.5, "c": 1.5,
      "v": 100, "vw": 1.2, "t": 1704067200000, "n": 7}]}"""
    val row = PolygonParsers.parseAggs(payload(json), Some("INJ")).collect()(0)
    assert(row.getAs[String]("ticker") == "INJ")
    assert(row.getAs[Long]("volume") == 100L)
    assert(row.getAs[java.sql.Date]("timestamp").toString == "2024-01-01")
  }

  test("parseDailyOpenClose handles the S3 flat payload shape") {
    val json = """{"symbol": "AAPL", "from": "2024-01-02", "open": 187.15,
      "high": 188.44, "low": 183.89, "close": 185.64, "volume": 82488700,
      "afterHours": 185.5, "preMarket": 187.0}"""
    val row = PolygonParsers.parseDailyOpenClose(payload(json)).collect()(0)
    assert(row.getAs[String]("ticker") == "AAPL")
    assert(row.getAs[java.sql.Date]("timestamp").toString == "2024-01-02")
    assert(row.getAs[Double]("close") == 185.64)
    assert(row.getAs[Long]("volume") == 82488700L)
    assert(row.getAs[Double]("afterHours") == 185.5)
  }

  test("parseTimeSeries returns empty for a payload with no time series key") {
    val df = AlphaVantageParsers.parseTimeSeries(
      payload("""{"Meta Data": {"1. Information": "x"}}"""), Some("T"))
    assert(df.count() == 0)
  }

  test("applyRequestedWindow falls back to tail(30) when the window empties") {
    import spark.implicits._
    import AlphaVantageParsers.WindowSpec
    val df = (0 until 50).map { i =>
      ("T", java.sql.Date.valueOf(LocalDate.of(2024, 1, 1).plusDays(i.toLong)), i.toDouble)
    }.toDF("ticker", "timestamp", "close")
    // a window before all data -> empty -> final tail(30)
    val out = AlphaVantageParsers.applyRequestedWindow(df, WindowSpec(
      from = Some(LocalDate.of(2000, 1, 1)), to = Some(LocalDate.of(2000, 2, 1))))
    assert(out.count() == 30)
    assert(out.agg(org.apache.spark.sql.functions.max("close")).collect()(0).getDouble(0) == 49.0)
  }

  test("applyRequestedWindow defaults open start to end minus 30 days") {
    import spark.implicits._
    import AlphaVantageParsers.WindowSpec
    val df = (0 until 100).map { i =>
      ("T", java.sql.Date.valueOf(LocalDate.of(2024, 1, 1).plusDays(i.toLong)), i.toDouble)
    }.toDF("ticker", "timestamp", "close")
    val out = AlphaVantageParsers.applyRequestedWindow(df, WindowSpec(
      to = Some(LocalDate.of(2024, 3, 1)))).collect()
    // [2024-01-31, 2024-03-01] inclusive
    assert(out.head.getAs[java.sql.Date]("timestamp").toString == "2024-01-31")
    assert(out.last.getAs[java.sql.Date]("timestamp").toString == "2024-03-01")
  }

  test("applyRequestedWindow checks emptiness only after a date filter") {
    import spark.implicits._
    import AlphaVantageParsers.WindowSpec
    val df = (0 until 50).map { i =>
      ("T", java.sql.Date.valueOf(LocalDate.of(2024, 1, 1).plusDays(i.toLong)), i.toDouble)
    }.toDF("ticker", "timestamp", "close")
    def windowed(spec: WindowSpec): (Seq[Double], ActionCount) = {
      val (out, count) = ActionCount.of(spark)(AlphaVantageParsers.applyRequestedWindow(df, spec))
      (out.collect().map(_.getAs[Double]("close")).toSeq, count)
    }
    def last(n: Int) = (50 - n until 50).map(_.toDouble)
    // a tail: the latest timestamp is the one action
    val (limited, limitCount) = windowed(WindowSpec(limit = Some(35)))
    assert(limited == last(35) && limitCount.executions == 1)
    val (weekly, weeklyCount) = windowed(WindowSpec(frequency = Some("weekly")))
    assert(weekly == last(26) && weeklyCount.executions == 1)
    // a window outside the data still empties and falls back to tail(30)
    val (fallback, count) = windowed(WindowSpec(
      from = Some(LocalDate.of(2000, 1, 1)), to = Some(LocalDate.of(2000, 2, 1))))
    assert(fallback == last(30))
    assert(count.executions == 2)
  }
}
