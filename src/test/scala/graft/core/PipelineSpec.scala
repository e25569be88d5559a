package graft.core

import java.nio.file.Files
import java.time.LocalDate
import java.util.Locale

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, date_format, lit, timestamp_seconds, when}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.internal.SQLConf

import graft.{ActionCount, SparkSpec}
import graft.ingest.{ApiRequest, ExecutionPlan, Ingestor}
import graft.integrate.{JoinEngine, ValidatorConfig}
import graft.load.Loader
import graft.transform.TransformPipeline

/** End-to-end: two recorded AV payloads -> ingest -> union-collapse ->
  * clean+enrich+clean -> Derby load + JSON reports. The reference's
  * own smoke shape ("apple stock prices with sma", SURVEY §7.2) with
  * the LLM replaced by its artifacts.
  */
class PipelineSpec extends SparkSpec {

  private def f2(x: Double) = String.format(Locale.ROOT, "%.2f", Double.box(x))

  private def tsPayload(sym: String, startDay: Int): String = {
    val rows = (0 until 40).map { i =>
      val d = LocalDate.of(2026, 1, 1).plusDays((startDay + i).toLong)
      val o = ((i * 3) % 7) + 2.25
      s""""$d": {"1. open": "${f2(o)}", "2. high": "${f2(o + 1)}", "3. low": "${f2(o - 1)}",
         | "4. close": "${f2(o + 0.25)}", "5. volume": "${5000 + i}"}"""
        .stripMargin.replace("\n", "")
    }.mkString(", ")
    s"""{"Meta Data": {"2. Symbol": "$sym"}, "Time Series (Daily)": {$rows}}"""
  }

  test("full pipeline: ingest -> validate -> transform -> load -> reports") {
    val plan = ExecutionPlan(Seq(
      ApiRequest("alpha_vantage", "TIME_SERIES_DAILY",
        Map("ticker" -> "AAPL", "limit" -> 35)),
      ApiRequest("alpha_vantage", "TIME_SERIES_DAILY",
        Map("ticker" -> "MSFT", "limit" -> 35))))
    val payloads = Map("AAPL" -> tsPayload("AAPL", 0), "MSFT" -> tsPayload("MSFT", 5))
    val recipe =
      """{"features": [{"name": "sma", "params": {"on": "close", "window": 10}}]}"""

    val dir = Files.createTempDirectory("graft_run").toString
    val loader = new Loader(s"jdbc:derby:$dir/db;create=true")
    val pipeline = new Pipeline(today = LocalDate.of(2026, 8, 12))
    val run = pipeline.run(spark, plan,
      fetch = req => payloads.get(req.parameters("symbol").toString),
      dslRecipe = Some(recipe),
      keyFeatures = Seq("open", "close", "volume"),
      loader = Some(loader),
      reportDir = Some(s"$dir/reports"))

    // ingest: both frames parsed, trimmed to limit=35, features found
    assert(run.ingest.dataframes.size == 2)
    assert(run.ingest.dataframes.forall(_.count() == 35))
    assert(run.ingest.validationReports.forall(_.validationPassed))

    // validation: identical schemas -> one unioned group, early termination
    assert(run.validation.earlyTermination)
    assert(run.outputs.size == 1)

    // transform: sma column present with the reference naming contract
    val out = run.outputs.head
    assert(out.columns.contains("sma_close_10"))
    assert(out.count() == 70)
    // post-enrichment cleaning imputed the leading-window nulls (the
    // reference cleans again after enriching), so no nulls remain...
    assert(out.filter(org.apache.spark.sql.functions.col("sma_close_10").isNull).count() == 0)
    // ...and a full-window row carries the exact rolling mean:
    // close_i = ((3i)%7)+2.5, sma at i=39 = mean(i=30..39) = 5.9
    import org.apache.spark.sql.functions.{col, max => smax}
    val lastAapl = out.filter(col("ticker") === "AAPL")
      .orderBy(col("timestamp").desc).limit(1).collect()(0)
    assert(math.abs(lastAapl.getAs[Double]("sma_close_10") - 5.9) < 1e-9)

    // load: one table, verified counts
    assert(run.load.get.status == "success")
    assert(run.load.get.totalRowsLoaded == 70L)

    // K3 reports on disk
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/reports/validation_report.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/reports/transformation_report.json")))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/reports/load_report.json")))
  }

  // ---- the run session ----

  private val today = LocalDate.of(2026, 8, 12)
  private val recipe =
    """{"features": [{"name": "sma", "params": {"on": "close", "window": 5}}]}"""
  private val keyFeatures = Seq("open", "close", "volume")

  private def econPayload(name: String, n: Int): String = {
    val data = (0 until n).map { i =>
      val d = LocalDate.of(2026, 1, 1).plusDays(i.toLong)
      s"""{"date": "$d", "value": "${f2(2.0 + ((i * 7) % 11) * 0.05)}"}"""
    }.mkString(", ")
    s"""{"name": "$name", "interval": "daily", "unit": "percent", "data": [$data]}"""
  }

  private def daily(sym: String, limit: Int) =
    ApiRequest("alpha_vantage", "TIME_SERIES_DAILY", Map("ticker" -> sym, "limit" -> limit))

  /** Union-collapsing run: two daily series of one schema. */
  private val small = ExecutionPlan(Seq(daily("AAPL", 30), daily("MSFT", 30)))
  /** Join-stage run: two daily series plus an economic indicator. */
  private val wide = ExecutionPlan(Seq(daily("AAPL", 40), daily("MSFT", 40),
    ApiRequest("alpha_vantage", "TREASURY_YIELD", Map("interval" -> "daily"))))
  private val payloads = Map(
    "TIME_SERIES_DAILY:AAPL" -> tsPayload("AAPL", 0),
    "TIME_SERIES_DAILY:MSFT" -> tsPayload("MSFT", 5),
    "TREASURY_YIELD:" -> econPayload("TREASURY_YIELD", 40))
  private def fetch(req: ApiRequest): Option[String] = payloads.get(
    s"${req.endpointName}:${req.parameters.get("symbol").map(_.toString).getOrElse("")}")

  private def sortedRows(dfs: Seq[DataFrame]): Seq[Seq[String]] =
    dfs.map(_.collect().map(_.toSeq.mkString("|")).sorted.toSeq)

  private def runOf(plan: ExecutionPlan): PipelineRun =
    new Pipeline(today = today).run(spark, plan, fetch, Some(recipe), keyFeatures)

  Seq("small" -> small, "wide" -> wide).foreach { case (kind, plan) =>
    test(s"run session: a $kind run matches its stages called on the caller's session") {
      val run = runOf(plan)
      assert(run.outputs.forall(_.sparkSession ne spark))

      val p = new Pipeline(today = today)
      val ingested = p.ingestor.process(spark, plan, fetch,
        enrichmentFeatures = Seq(recipe), keyFeatures = keyFeatures)
      val (validated, valReport) = p.validator.process(ingested.dataframes)
      val (outputs, transformReport) = p.transformPipeline.run(validated, Some(recipe),
        Some(ValidatorConfig.balanced.columnDeleteThreshold))
      assert(outputs.forall(_.sparkSession eq spark))

      if (kind == "wide") assert(valReport.stage1Operations.nonEmpty)
      else assert(valReport.earlyTermination)
      // reports agree up to what an enrichment error quotes of its
      // plan: expression ids and the cleaner's `now` literal
      def quoted(x: Any): String = x.toString.replaceAll("#\\d+", "#")
        .replaceAll("<= \\d{4}-\\d\\d-\\d\\d \\d\\d:\\d\\d:[\\d.]+", "<= now")
      def same(a: Any, b: Any): Unit = assert(quoted(a) == quoted(b))
      same(run.ingest.copy(dataframes = Nil), ingested.copy(dataframes = Nil))
      same(run.validation, valReport)
      same(run.transform, transformReport)
      assert(run.outputs.map(_.columns.toSeq) == outputs.map(_.columns.toSeq))
      assert(sortedRows(run.outputs) == sortedRows(outputs))
    }
  }

  test("run session: caller confs reach the run, codegen confs stay in it") {
    val marker = "spark.graft.test.callerMarker"
    spark.conf.set(marker, "set-by-caller")
    val wholeStage = spark.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key)
    try {
      val inside = runOf(small).outputs.head.sparkSession
      assert(inside.conf.get(marker) == "set-by-caller")
      assert(inside.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key) == "false")
      assert(inside.conf.get(SQLConf.CODEGEN_FACTORY_MODE.key) == "NO_CODEGEN")
      assert(spark.conf.get(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key) == wholeStage)
      assert(spark.conf.get(SQLConf.CODEGEN_FACTORY_MODE.key) != "NO_CODEGEN")
    } finally spark.conf.unset(marker)
  }

  test("run session: plans without adaptive execution, on one shuffle partition") {
    val adaptive = spark.conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key)
    val partitions = spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key)
    val inside = runOf(small).outputs.head.sparkSession
    assert(inside.conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key) == "false")
    assert(inside.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "1")
    assert(spark.conf.get(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key) == adaptive)
    assert(spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == partitions)
  }

  private def materialized(run: PipelineRun): Unit = run.outputs.foreach(_.collect())

  test("run session: a repeated run submits one Spark job per action") {
    materialized(runOf(small))
    val (_, count) = ActionCount.of(spark)(materialized(runOf(small)))
    assert(count.jobs <= count.executions)
    // 11 jobs and 11 actions when this was written
    assert(count.jobs <= 11)
  }

  test("run session: a repeated run compiles no generated classes") {
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    materialized(runOf(small))
    val before = compiles
    materialized(runOf(small))
    assert(compiles - before == 0L)
  }

  test("run session: pair scoring plans with code generation") {
    object Plans extends AdaptiveSparkPlanHelper {
      def codegen(df: DataFrame): Boolean = {
        df.collect()
        find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).isDefined
      }
    }
    def frames(s: SparkSession): (DataFrame, DataFrame) = {
      val rows = (1 to 20).map(i => (i.toDouble, i * 2.0, (i % 3).toDouble))
      (s.createDataFrame(rows).toDF("x", "y", "z"), s.createDataFrame(rows).toDF("x", "y", "w"))
    }
    val engine = new JoinEngine(ValidatorConfig.balanced)
    val (a, b) = frames(RunSession.interpreted(spark))
    assert(!Plans.codegen(a.crossJoin(b)))
    val inRun = engine.scoredPairs(a, b)
    assert(inRun.sparkSession eq spark)
    assert(Plans.codegen(inRun))
    // frames already in a codegen session are left as they are
    val (c, d) = frames(spark)
    val inCaller = engine.scoredPairs(c, d)
    assert(inCaller.sparkSession eq spark)
    assert(Plans.codegen(inCaller))
    assert(inRun.collect().toSet == inCaller.collect().toSet)
  }

  // ---- per-frame work side by side ----

  test("every job of a run, its load and its CSV write carries the caller's job group") {
    val dir = Files.createTempDirectory("graft_groups").toString
    val group = "graft-pipeline-spec"
    spark.sparkContext.setJobGroup(group, "job group attribution", interruptOnCancel = false)
    try Seq("small" -> small, "wide" -> wide).foreach { case (kind, plan) =>
      val (outputs, count) = ActionCount.of(spark) {
        val p = new Pipeline(today = today)
        val run = p.run(spark, plan, fetch, Some(recipe), keyFeatures,
          loader = Some(new Loader(s"jdbc:derby:$dir/$kind;create=true")))
        assert(run.load.get.status == "success")
        Loader.writeCsv(run.outputs, s"$dir/$kind")
        p.validator.joinEngine.cleanup()
        p.transformPipeline.cleanup()
        run.outputs
      }
      if (kind == "wide") assert(outputs.size == 2)
      assert(count.jobs > 0)
      assert(count.jobGroups.forall(_.contains(group)), s"$kind run: ${count.jobGroups}")
    } finally spark.sparkContext.clearJobGroup()
  }

  test("ingest: a 3-request plan gives the frames, reports and failures of 3 one-request plans") {
    val session = RunSession.interpreted(spark)
    val requests = Seq(daily("AAPL", 30), daily("GOOG", 30), // GOOG has no payload
      ApiRequest("alpha_vantage", "TREASURY_YIELD", Map("interval" -> "daily")))
    def ingest(rs: Seq[ApiRequest]) =
      new Ingestor(today).process(session, ExecutionPlan(rs), fetch, keyFeatures = keyFeatures)
    val together = ingest(requests)
    val alone = requests.map(r => ingest(Seq(r)))
    assert(together.dataframes.size == 2)
    assert(together.failedRequests.map(_.endpointName) == Seq("TIME_SERIES_DAILY"))
    assert(sortedRows(together.dataframes) == sortedRows(alone.flatMap(_.dataframes)))
    assert(together.validationReports == alone.flatMap(_.validationReports))
    assert(together.failedRequests == alone.flatMap(_.failedRequests))
  }

  test("ingest: a plan longer than maxParallel parses at most maxParallel payloads at once") {
    val session = RunSession.interpreted(spark)
    val requests = Seq.tabulate(RunSession.maxParallel * 2 + 5)(i => daily("AAPL", 10 + i))
    val (together, count) = ActionCount.of(spark)(
      new Ingestor(today).process(session, ExecutionPlan(requests), fetch, keyFeatures = keyFeatures))
    assert(together.dataframes.size == requests.size)
    assert(together.failedRequests.isEmpty)
    assert(count.peakJobs <= RunSession.maxParallel, s"peak ${count.peakJobs} jobs")
    // plan order: each frame is trimmed to its own request's limit
    assert(together.dataframes.map(_.count()) == requests.indices.map(i => 10L + i))
  }

  /** A price frame whose `close` nulls get random fills. */
  private def priced(s: SparkSession, n: Int, shift: Int): DataFrame = {
    val id = col("id")
    s.range(0, n, 1, 3).select(
      when(id % 2 === 0, "AAPL").otherwise("MSFT").as("ticker"),
      timestamp_seconds(lit(1704067200L) + id * 86400).as("timestamp"),
      (lit(100.0) + (id + shift) % 7).as("open"),
      when(id % 5 === 3, lit(null)).otherwise(lit(101.0) + (id * 3 + shift) % 11).as("close"),
      (lit(1000.0) + id * 10).as("volume"))
  }

  test("transform: two frames give the rows and reports of two single-frame runs") {
    val session = RunSession.interpreted(spark)
    val frames = Seq(priced(session, 40, 0), priced(session, 30, 3))
    val threshold = Some(ValidatorConfig.balanced.columnDeleteThreshold)
    val tp = new TransformPipeline()
    try {
      val (outputs, report) = tp.run(frames, Some(recipe), threshold)
      val alone = frames.map(f => tp.run(Seq(f), Some(recipe), threshold))
      assert(report.results.forall(
        _.cleaning.columnsImputed.get("close").exists(_.method == "normal_distribution")))
      assert(sortedRows(outputs) == sortedRows(alone.flatMap(_._1)))
      assert(report.results == alone.zipWithIndex.map { case ((_, r), i) =>
        r.results.head.copy(index = i)
      })
      assert(report.copy(results = Nil) == alone.head._2.copy(inputCount = 2, results = Nil))
    } finally tp.cleanup()
  }

  // ---- provider mixes ----

  /** Polygon daily aggregates: bars stamped at 00:00 UTC, each with a
    * `vw` and a small transaction count `n`.
    */
  private def aggsPayload(sym: String, startDay: Int, n: Int): String = {
    val bars = (0 until n).map { i =>
      val day = LocalDate.of(2026, 1, 1).plusDays((startDay + i).toLong)
      val o = ((i * 5) % 9) + 3.25
      s"""{"o": ${f2(o)}, "h": ${f2(o + 1)}, "l": ${f2(o - 1)}, "c": ${f2(o + 0.25)},
         | "v": ${6000 + i}, "vw": ${f2(o + 0.1)}, "t": ${day.toEpochDay * 86400000L},
         | "n": ${i % 4}}""".stripMargin.replace("\n", "")
    }
    s"""{"ticker": "$sym", "results": [${bars.mkString(", ")}]}"""
  }

  private def aggs(sym: String, startDay: Int, n: Int) =
    ApiRequest("polygon", "get_aggs", Map("ticker" -> sym, "multiplier" -> 1,
      "timespan" -> "day", "from" -> LocalDate.of(2026, 1, 1).plusDays(startDay.toLong).toString,
      "to" -> LocalDate.of(2026, 1, 1).plusDays((startDay + n - 1).toLong).toString))

  /** A Polygon frame unioned with a smaller Alpha Vantage frame: only
    * the Polygon rows carry `vwap` and `transactions`, so cleaning
    * imputes a validated column with random fills.
    */
  private val mixed = ExecutionPlan(Seq(aggs("NVDA", 0, 40), daily("AAPL", 30)))
  private val mixedPayloads = Map(
    "get_aggs:NVDA" -> aggsPayload("NVDA", 0, 40),
    "TIME_SERIES_DAILY:AAPL" -> tsPayload("AAPL", 5))
  private def mixedFetch(payloads: Map[String, String])(req: ApiRequest): Option[String] =
    payloads.get(s"${req.endpointName}:" +
      req.parameters.get("symbol").orElse(req.parameters.get("ticker")).getOrElse(""))

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  private def mixedRun(caller: SparkSession, payloads: Map[String, String]): PipelineRun = {
    val run = new Pipeline(today = today).run(caller, mixed, mixedFetch(payloads),
      Some(recipe), keyFeatures)
    materialized(run)
    run
  }

  test("a mixed-provider run keeps its reports and rows, in fewer jobs") {
    mixedRun(spark, mixedPayloads)
    val (run, count) = ActionCount.of(spark)(mixedRun(spark, mixedPayloads))
    assert(run.validation.earlyTermination)
    val cleaning = run.transform.results.head.cleaning
    assert(cleaning.columnsImputed("transactions").method == "normal_distribution")
    assert(cleaning.validationRowsDropped.keySet == Set("transactions"))
    // recorded from the sequential loop that cleaned this run's frame
    // before the restartable probes, when the run took 15 jobs; it
    // takes 9 now
    assert(digest(run.transform.toString) == "a4aea2f68a16abaf")
    assert(digest(sortedRows(run.outputs).toString) == "0bac8351ecd099ef")
    assert(count.jobs <= 9 && count.jobs <= count.executions)
  }

  test("run session: ANSI off and UTC, whatever the caller runs with") {
    val caller = spark.newSession()
    caller.conf.set(SQLConf.ANSI_ENABLED.key, "true")
    caller.conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, "America/New_York")
    // one Alpha Vantage open, mid-series, that is not a number
    val malformed = mixedPayloads.updated("TIME_SERIES_DAILY:AAPL", tsPayload("AAPL", 5)
      .replaceFirst("(\"2026-01-26\": \\{\"1. open\": \")[^\"]+", "$1abc"))
    assert(malformed("TIME_SERIES_DAILY:AAPL").contains("\"1. open\": \"abc\""))
    val run = mixedRun(caller, malformed)
    val out = run.outputs.head
    assert(run.transform.results.head.cleaning.columnsImputed("open").nullCount == 1)
    assert(out.filter(col("open").isNull).count() == 0)
    // Polygon bars stamped at 00:00 UTC keep their UTC dates
    val days = out.filter(col("ticker") === "NVDA")
      .select(date_format(col("timestamp"), "yyyy-MM-dd")).collect().map(_.getString(0)).toSet
    assert(days == (0 until 40).map(i => LocalDate.of(2026, 1, 1).plusDays(i.toLong).toString).toSet)
    assert(caller.conf.get(SQLConf.ANSI_ENABLED.key) == "true")
    assert(caller.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) == "America/New_York")
  }
}
