package graft.clean

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ActionCount, SparkSpec}

/** ScalaTest port of the asserting reference suite
  * transform/tests/test_data_cleaning.py (pattern matching, dtype
  * conversion, imputation strategies incl. edge cases, threshold-driven
  * column deletion, row/relationship validations, duplicates, report
  * structure).
  */
class CleanerSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def stockDf: DataFrame = {
    import spark.implicits._
    Seq(
      ("AAPL", ts("2024-01-01 10:00:00"), 100.0, 110.0, 95.0, 105.0, 1000.5),
      ("AAPL", ts("2024-01-02 10:00:00"), 105.0, 115.0, 100.0, 110.0, 2000.4),
      ("MSFT", ts("2024-01-01 10:00:00"), 200.0, 210.0, 195.0, 205.0, 3000.6))
      .toDF("ticker", "ts", "open", "high", "low", "close", "volume")
  }

  test("pattern matching specificity: first match wins, catch-all last") {
    val cfg = CleaningConfig.reference
    assert(cfg.matchRule("ticker").pattern == "^ticker$")
    assert(cfg.matchRule("ts").pattern == "^(ts|timestamp)$")
    assert(cfg.matchRule("timestamp").pattern == "^(ts|timestamp)$")
    assert(cfg.matchRule("open").pattern == "^(open|high|low|close)$")
    assert(cfg.matchRule("volume").dtype == "int")
    assert(cfg.matchRule("balance_sheet_totalAssets").pattern == "^balance_sheet_.*")
    assert(cfg.matchRule("anything_else").pattern == ".*")
    assert(cfg.matchRule("ticker").imputationValue.contains("UNKNOWN"))
    assert(cfg.matchRule("ticker").allowColumnDeletion == false)
  }

  test("basic stock cleaning: dtypes converted, volume becomes long") {
    val res = Cleaner.clean(stockDf)
    val schema = res.df.schema
    assert(schema("open").dataType.typeName == "double")
    assert(schema("volume").dataType.typeName == "long")
    assert(schema("ticker").dataType.typeName == "string")
    assert(res.report.finalRows == 3)
    // volume is pandas-style banker's rounded: 1000.5 -> 1000, 2000.4 -> 2000
    val vols = res.df.orderBy("ticker", "ts").select("volume").collect().map(_.getLong(0))
    assert(vols.toSeq == Seq(1000L, 2000L, 3001L))
  }

  test("positive validation drops non-positive OHLC rows") {
    import spark.implicits._
    val df = Seq(
      ("A", ts("2024-01-01 00:00:00"), 10.0, 11.0, 9.0, 10.5),
      ("A", ts("2024-01-02 00:00:00"), -5.0, 11.0, 9.0, 10.5),
      ("A", ts("2024-01-03 00:00:00"), 0.0, 11.0, 9.0, 10.5))
      .toDF("ticker", "ts", "open", "high", "low", "close")
    val res = Cleaner.clean(df)
    assert(res.report.finalRows == 1)
    assert(res.report.validationRowsDropped("open").rowsDropped == 2)
  }

  test("vwap out of [low, high] is nulled, not dropped") {
    import spark.implicits._
    val df = Seq(
      ("A", ts("2024-01-01 00:00:00"), 10.0, 11.0, 9.0, 10.5, 10.0),
      ("A", ts("2024-01-02 00:00:00"), 10.0, 11.0, 9.0, 10.5, 50.0))
      .toDF("ticker", "ts", "open", "high", "low", "close", "vwap")
    val res = Cleaner.clean(df)
    assert(res.report.finalRows == 2)
    val vwaps = res.df.orderBy("ts").select("vwap").collect().map(r => Option(r.get(0)))
    assert(vwaps(0).contains(10.0))
    assert(vwaps(1).isEmpty)
    assert(res.report.relationshipValidations("vwap_bounds_check").status == "failed")
    assert(res.report.relationshipValidations("vwap_bounds_check").actionTaken.contains("set_to_null"))
  }

  test("high/low relationship failures drop rows") {
    import spark.implicits._
    val df = Seq(
      ("A", ts("2024-01-01 00:00:00"), 10.0, 11.0, 9.0, 10.5),
      ("A", ts("2024-01-02 00:00:00"), 10.0, 9.5, 9.0, 10.5), // high < close
      ("A", ts("2024-01-03 00:00:00"), 10.0, 11.0, 10.2, 10.5)) // low > open
      .toDF("ticker", "ts", "open", "high", "low", "close")
    val res = Cleaner.clean(df)
    assert(res.report.finalRows == 1)
    val rel = res.report.relationshipValidations("stock_high_low_check")
    assert(rel.status == "failed" && rel.failedRows == 2 && rel.actionTaken.contains("dropped_rows"))
  }

  test("relationship validation skipped when required columns missing") {
    import spark.implicits._
    val df = Seq(("A", ts("2024-01-01 00:00:00"), 10.0)).toDF("ticker", "ts", "close")
    val res = Cleaner.clean(df)
    assert(res.report.relationshipValidations("stock_high_low_check").status == "skipped")
  }

  test("no_future_dates drops rows after now") {
    import spark.implicits._
    val df = Seq(
      ("A", ts("2024-01-01 00:00:00"), 10.0),
      ("A", ts("2099-01-01 00:00:00"), 11.0))
      .toDF("ticker", "ts", "close")
    val res = Cleaner.clean(df)
    assert(res.report.finalRows == 1)
    assert(res.report.validationRowsDropped("ts").rowsDropped == 1)
  }

  test("no_future_dates compares against one fixed instant") {
    import spark.implicits._
    val now = java.time.Instant.parse("2026-08-12T09:30:00Z")
    val df = Seq(
      ("A", Timestamp.from(now), 10.0),
      ("A", Timestamp.from(now.plusSeconds(1)), 11.0))
      .toDF("ticker", "ts", "close")
    val res = Cleaner.clean(df, now = now)
    assert(res.report.finalRows == 1)
    assert(res.report.validationRowsDropped("ts").rowsDropped == 1)
    // a later action re-evaluates the plan against the same instant
    assert(res.df.count() == res.report.finalRows)
    assert(res.df.collect().map(_.getAs[Double]("close")).toSeq == Seq(10.0))
  }

  test("column deletion above null threshold; protected columns survive") {
    import spark.implicits._
    val df = Seq(
      (Some("A"), Some(1.0), Option.empty[Double]),
      (Some("A"), Some(2.0), Option.empty[Double]),
      (Some("A"), None, Some(3.0)))
      .toDF("ticker", "a", "mostly_null")
    val res = Cleaner.clean(df) // default threshold 0.5; mostly_null ratio 2/3
    assert(!res.df.columns.contains("mostly_null"))
    assert(res.df.columns.contains("a")) // ratio 1/3 <= 0.5 -> imputed
    assert(res.report.columnsDeleted.map(_.column) == Seq("mostly_null"))
  }

  test("ticker never deleted even when all null (allow_column_deletion=false)") {
    import spark.implicits._
    val df = Seq((Option.empty[String], 1.0), (None, 2.0)).toDF("ticker", "x")
    val res = Cleaner.clean(df)
    assert(res.df.columns.contains("ticker"))
    // constant imputation with configured value
    val got = res.df.select("ticker").collect().map(_.getString(0)).toSeq
    assert(got == Seq("UNKNOWN", "UNKNOWN"))
  }

  test("normal_distribution imputation: seeded, draws near mean") {
    import spark.implicits._
    val df = Seq(Some(10.0), Some(12.0), Some(11.0), Some(9.0), Some(8.0), None, None)
      .zipWithIndex.map { case (v, i) => (s"T", i, v) }.toDF("ticker", "i", "close2")
    // close2 matches catch-all (auto) -> numeric -> normal_distribution
    val res = Cleaner.clean(df)
    val info = res.report.columnsImputed("close2")
    assert(info.method == "normal_distribution")
    assert(info.mean.exists(m => math.abs(m - 10.0) < 1e-9))
    val vals = res.df.select("close2").collect().map(_.getDouble(0))
    assert(vals.forall(!_.isNaN))
    // deterministic across runs (seeded)
    val res2 = Cleaner.clean(df)
    assert(res2.df.select("close2").collect().map(_.getDouble(0)).toSeq == vals.toSeq)
  }

  test("zero-std imputation degenerates to mean fill") {
    import spark.implicits._
    val df = Seq(Some(5.0), Some(5.0), Some(5.0), None).zipWithIndex
      .map { case (v, i) => ("T", i, v) }.toDF("ticker", "i", "metric")
    val res = Cleaner.clean(df)
    val vals = res.df.select("metric").collect().map(_.getDouble(0))
    assert(vals.count(_ == 5.0) == 4)
    assert(res.report.columnsImputed("metric").std.contains(0.0))
  }

  test("all-null numeric column below threshold is deleted; mean undefined otherwise") {
    import spark.implicits._
    val df = Seq(("T", Option.empty[Double]), ("T", None)).toDF("ticker", "allnull")
    val res = Cleaner.clean(df) // ratio 1.0 > 0.5 -> deleted
    assert(!res.df.columns.contains("allnull"))
  }

  test("datetime unix_epoch imputation fills 1970-01-01") {
    import spark.implicits._
    val df = Seq(("A", Some(ts("2024-01-01 00:00:00")), 1.0), ("A", None, 2.0))
      .toDF("ticker", "ts", "x")
    val res = Cleaner.clean(df)
    assert(res.report.columnsImputed("ts").method == "unix_epoch")
    val tss = res.df.orderBy("x").select("ts").collect().map(_.getTimestamp(0))
    assert(tss(1) == new Timestamp(0L))
    assert(res.report.finalRows == 2) // epoch passes no_future_dates
  }

  test("duplicates kept by default, removed when configured") {
    import spark.implicits._
    val df = Seq(("A", 1.0), ("A", 1.0), ("B", 2.0)).toDF("ticker", "x")
    val res = Cleaner.clean(df)
    assert(res.report.exactDuplicatesDropped == 0 && res.report.finalRows == 3)
    val cfgDedup = CleaningConfig.reference.copy(removeDuplicates = true)
    val res2 = Cleaner.clean(df, cfgDedup)
    assert(res2.report.exactDuplicatesDropped == 1 && res2.report.finalRows == 2)
  }

  test("string-typed numerics are coerced; garbage becomes null then imputed") {
    import spark.implicits._
    val df = Seq(("A", ts("2024-01-01 00:00:00"), "101.5"), ("A", ts("2024-01-02 00:00:00"), "oops"),
      ("A", ts("2024-01-03 00:00:00"), "99.5")).toDF("ticker", "ts", "close")
    val res = Cleaner.clean(df)
    assert(res.df.schema("close").dataType.typeName == "double")
    // "oops" -> null -> normal imputation (2 valid values) -> no drop unless <= 0
    assert(res.report.columnsImputed("close").method == "normal_distribution")
  }

  test("empty dataframe survives cleaning") {
    import spark.implicits._
    val df = Seq.empty[(String, Double)].toDF("ticker", "x")
    val res = Cleaner.clean(df)
    assert(res.report.finalRows == 0)
    assert(res.df.columns.toSeq == Seq("ticker", "x"))
  }

  test("imputation 'none' strategy leaves nulls in place") {
    import spark.implicits._
    val cfg = CleaningConfig.minimal.copy(columnRules = Seq(
      RawColumnRule("^x$", Some("float"), None, None, Some("none"), None, None),
      RawColumnRule(".*", Some("auto"), None, None, Some("auto"), None, None)))
    val df = Seq(Some(1.0), None, Some(3.0)).zipWithIndex.map(_.swap).toDF("i", "x")
    val res = Cleaner.clean(df, cfg)
    assert(res.df.filter(col("x").isNull).count() == 1)
    assert(res.report.columnsImputed("x").method == "none")
  }

  test("threshold override changes deletion decisions") {
    import spark.implicits._
    val df = Seq(("T", Some(1.0)), ("T", None), ("T", Some(2.0))).toDF("ticker", "m")
    // ratio 1/3: survives at 0.5, deleted at 0.2
    assert(Cleaner.clean(df).df.columns.contains("m"))
    assert(!Cleaner.clean(df, thresholdOverride = Some(0.2)).df.columns.contains("m"))
  }

  test("cleanCsv skips malformed lines and cleans the parsed frame (S11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_src")
    val csv = Seq(
      "ticker,ts,open,close",
      "AAA, 2024-01-02 00:00:00,10.5,11.0", // leading whitespace ignored
      "BBB,2024-01-03 00:00:00,20.0,21.0").mkString("\n")
    val f = dir.resolve("in.csv")
    java.nio.file.Files.writeString(f, csv)
    val res = Cleaner.cleanCsv(spark, f.toString)
    val rows = res.df.orderBy("ticker").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("ticker") == "AAA")
    assert(rows(0).getAs[Double]("open") == 10.5)
    assert(res.df.schema("ts").dataType.typeName == "timestamp")
  }

  // ---- the one-probe fast path ----

  /** 30 rows on 3 partitions. `vwap` and the `sma_close_3` feature
    * carry nulls (leading ones per ticker, as a rolling window leaves).
    * Rows 1 and 8 fail `open`'s validation before their null `sma` and
    * `vwap` would be filled, so dropping them first shifts the draws.
    */
  private def featureFrame(s: SparkSession): DataFrame = {
    val id = col("id")
    val open = when(id === 1 || id === 8, -1.0).otherwise(lit(100.0) + id % 7)
    s.range(0, 30, 1, 3).select(
      when(id % 2 === 0, "AAPL").otherwise("MSFT").as("ticker"),
      timestamp_seconds(lit(1704067200L) + id * 86400).as("ts"),
      open.as("open"),
      when(id % 5 === 3, lit(null)).otherwise(open + 0.5).as("vwap"),
      when(id === 11, -2.0).otherwise(open + 5).as("high"),
      (open - 5).as("low"),
      (open + 1).as("close"),
      (lit(1000.0) + id * 10).as("volume"),
      when(id < 4, lit(null)).otherwise(lit(100.0) + id % 5 * 0.7).as("sma_close_3"))
  }

  /** Order-insensitive digest of some lines. */
  private def digest(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  private def rowsDigest(df: DataFrame): String = digest(df.collect().toSeq.map(
    _.toSeq.map {
      case t: Timestamp => t.getTime.toString
      case v => String.valueOf(v)
    }.mkString("|")))

  private def reportDigest(r: CleanReport): String = digest(
    Seq(s"version ${r.configVersion}", s"duplicates ${r.exactDuplicatesDropped}",
      s"rows ${r.finalRows}", s"columns ${r.finalColumns.mkString(",")}") ++
      (r.dtypeConversions ++ r.columnsDeleted ++ r.columnsImputed.toSeq ++
        r.validationRowsDropped.toSeq ++ r.relationshipValidations.toSeq).map(_.toString))

  test("random fills on non-boundary columns stay on the one-probe fast path") {
    // in a run session, as in a pipeline run: one job per action
    val (res, count) = ActionCount.of(spark)(
      Cleaner.clean(featureFrame(graft.core.RunSession.interpreted(spark))))
    // the stats probe plus the relationship aggregate, where the
    // sequential loop would scan once per validation boundary
    assert(count.jobs == 2 && count.executions == 2)
    Seq("vwap", "sma_close_3").foreach { c =>
      val info = res.report.columnsImputed(c)
      assert(info.method == "normal_distribution")
      assert(info.std.exists(_ > 0))
    }
    assert(res.report.validationRowsDropped.keySet == Set("open", "high"))
    // recorded from the sequential loop, which cleaned this frame before
    // the fast path covered random fills: same rows, draws included
    assert(rowsDigest(res.df) == "e9f77e45ce0de692")
    assert(reportDigest(res.report) == "fa11cb0a7e956888")
  }

  // ---- restartable probes: frames whose boundary masks the probe
  // cannot assume ----

  /** 33 rows on 3 partitions; rows 30-32 repeat rows 0-2. */
  private def rangeFrame(s: SparkSession)(cols: Column => Seq[Column]): DataFrame =
    s.range(0, 33, 1, 3).select(cols(col("id") % 30): _*)

  /** A Polygon frame unioned with Alpha Vantage frames: only rows
    * 0-17 carry `vwap` and `transactions`, so the last batch's
    * boundary `transactions` gets random fills, some of them negative.
    */
  private def unionFrame(s: SparkSession): DataFrame = rangeFrame(s) { id =>
    val open = lit(100.0) + id % 7
    Seq(when(id % 2 === 0, "AAPL").otherwise("MSFT").as("ticker"),
      timestamp_seconds(lit(1704067200L) + id * 86400).as("ts"),
      open.as("open"), (open + 5).as("high"), (open - 5).as("low"), (open + 1).as("close"),
      (lit(1000.0) + id * 10).as("volume"),
      when(id < 18, open + 0.5).as("vwap"),
      when(id < 18, id % 4).as("transactions"))
  }

  /** `open` carries nulls, so its stats fill blocks the first probe
    * after batch 1; `vwap` and `sma_close_3` get random fills after it.
    */
  private def nullOpenFrame(s: SparkSession): DataFrame = rangeFrame(s) { id =>
    val base = lit(2.0) + id % 7
    Seq(when(id % 2 === 0, "AAPL").otherwise("MSFT").as("ticker"),
      timestamp_seconds(lit(1704067200L) + id * 86400).as("ts"),
      when(id % 6 === 5, lit(null)).when(id === 1 || id === 8, -1.0).otherwise(base).as("open"),
      when(id % 5 === 3, lit(null)).otherwise(base + 0.5).as("vwap"),
      (base + 5).as("high"), (base - 1.5).as("low"), (base + 1).as("close"),
      (lit(1000.0) + id * 10).as("volume"),
      when(id < 4, lit(null)).otherwise(lit(4.0) + id % 5 * 0.7).as("sma_close_3"))
  }

  /** `ts` is null on 18 of 30 rows and may be deleted, so its raw
    * mask, not its unix-epoch fill, decides batch 0's survivors.
    */
  private def nullTsFrame(s: SparkSession): DataFrame = rangeFrame(s) { id =>
    val open = lit(100.0) + id % 7
    Seq(when(id % 2 === 0, "AAPL").otherwise("MSFT").as("ticker"),
      when(id % 5 < 3, lit(null))
        .when(id === 4, timestamp_seconds(lit(4102444800L)))
        .otherwise(timestamp_seconds(lit(1704067200L) + id * 86400)).as("ts"),
      open.as("open"), (open + 5).as("high"), (open - 5).as("low"), (open + 1).as("close"),
      (lit(1000.0) + id * 10).as("volume"),
      when(id < 6, lit(null)).otherwise(lit(100.0) + id % 5 * 0.7).as("sma_close_3"))
  }

  private val deletableTs = CleaningConfig.reference.copy(columnRules =
    RawColumnRule("^ts$", Some("datetime"), Some(0.5), Some(true), Some("unix_epoch"), None,
      Some(Seq("no_future_dates"))) +: CleaningConfig.reference.columnRules)

  private val probeNow = java.time.Instant.parse("2026-08-12T09:30:00Z")

  /** name, frame, config, jobs without dedup, and the (rows, report)
    * digests without and with dedup, recorded from the sequential loop
    * that cleaned these frames before the restartable probes, in 8 jobs
    * each, 10 with dedup.
    */
  private val blockedShapes = Seq(
    ("a blocked last batch", unionFrame _, CleaningConfig.reference, 2,
      ("7bb0df2042dfeade", "e7cb91e00ff368f6"), ("14d2f723e4c5a423", "2af733927ae7f160")),
    ("a blocked mid-frame batch, then random fills", nullOpenFrame _, CleaningConfig.reference, 3,
      ("3b366bae6ef9ba62", "a184ec1dffe12b7f"), ("590d0f827e756650", "df83d05c22770946")),
    ("a deleted boundary with a static fill", nullTsFrame _, deletableTs, 3,
      ("22ece613b6c9ade4", "005db574be36e5f7"), ("22ece613b6c9ade4", "89023da8469099cc")))

  for ((name, frame, cfg, jobs, plain, deduped) <- blockedShapes;
       (dedup, (rows, report)) <- Seq(false -> plain, true -> deduped)) {
    test(s"restartable probes: $name${if (dedup) ", deduplicated" else ""}") {
      val (res, count) = ActionCount.of(spark)(Cleaner.clean(
        frame(graft.core.RunSession.interpreted(spark)),
        cfg.copy(removeDuplicates = dedup), now = probeNow))
      // one probe plus one per blocked batch that is not last, the
      // relationship aggregate, and the count before dedup
      val want = jobs + (if (dedup) 1 else 0)
      assert(count.jobs == want && count.executions == want)
      assert(res.report.exactDuplicatesDropped == (if (dedup) 3 else 0))
      assert(rowsDigest(res.df) == rows)
      assert(reportDigest(res.report) == report)
      res.release()
    }
  }

  test("a failing clean releases the frame it persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val df = spark.range(0, 10, 1, 2).select(col("id").cast("double").as("x"),
      when(col("id") === 7, raise_error(lit("boom"))).otherwise(lit(1.0)).as("y"))
    intercept[Exception](Cleaner.clean(df, CleaningConfig.minimal))
    assert(sc.getPersistentRDDs.keySet == before)
    // the minimal config casts nothing: the post-cast frame is `df`
    // projected onto its own columns
    val castFrame = df.select(df.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
    assert(castFrame.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
