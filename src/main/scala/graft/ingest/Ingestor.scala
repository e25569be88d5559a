package graft.ingest

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.RunSession

/** Artifact-driven ingest orchestrator (reference:
  * LLM_Ingestor/ingestor.py:45-298): validate the execution plan's
  * parameters, skip ERROR requests, route each payload to its
  * endpoint-family parser, apply the requested window, and validate
  * requested features against the parsed frames.
  *
  * The LLM (prompt -> plan) and HTTP (request -> payload) layers are
  * out-of-engine adapters (SURVEY §2.10 C3): the engine consumes the
  * validated JSON artifacts — an [[ExecutionPlan]] and a `fetch`
  * function standing in for the provider call (tests/fixtures feed
  * recorded payloads; production feeds a real client with
  * retry/backoff).
  */
class Ingestor(today: LocalDate = LocalDate.now()) {

  private val endpointValidator = new EndpointValidator()
  private val paramValidator = new ParameterValidator(today)
  private val outputValidator = new OutputValidator()
  private val dateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  private val avEconomicFns = Set(
    "REAL_GDP", "REAL_GDP_PER_CAPITA", "TREASURY_YIELD", "FEDERAL_FUNDS_RATE",
    "CPI", "INFLATION", "RETAIL_SALES", "DURABLES", "UNEMPLOYMENT", "NONFARM_PAYROLL")
  private val avStatements = Map(
    "INCOME_STATEMENT" -> "income_statement",
    "BALANCE_SHEET" -> "balance_sheet",
    "CASH_FLOW" -> "cash_flow")
  private val avCsvFns = Set("LISTING_STATUS", "EARNINGS_CALENDAR", "IPO_CALENDAR")

  /** Validates the plan — semantic endpoint match first (step 3,
    * ingestor.py:96-110), then parameters (step 4, :112-123) — and
    * executes each non-ERROR request through `fetch`, parses, and
    * reports, skipping failed requests like ingestor.py:201-298's
    * execute-and-skip loop. Fetches run one at a time in plan order,
    * as the provider's rate limits and the reference's request order
    * require; the payloads are then parsed, windowed and checked side
    * by side ([[RunSession.parMap]]), and frames, reports and failures
    * come back in plan order. The semantic check reads the intent
    * keywords the plan itself carries ([[ExecutionPlan]], mirroring
    * contracts.py:21-26's LLMResponse bundle); semantic mismatch only
    * WARNs and never skips a request.
    */
  def process(spark: SparkSession, plan: ExecutionPlan,
              fetch: ApiRequest => Option[String],
              enrichmentFeatures: Seq[String] = Nil,
              keyFeatures: Seq[String] = Nil): IngestResult = {
    val semValidated = endpointValidator.validatePlan(plan)
    val validated = paramValidator.validatePlan(semValidated)
    // fetch + parse failures skip the frame, like ingestor.py:266-276,
    // but are RECORDED so the run artifacts can explain them (a
    // RetryingFetch transport throws here once its attempts are spent)
    def reason(e: Exception): String = Option(e.getMessage).getOrElse(e.toString)
    val fetched = validated.rankedRequests.filter(_.validationStatus != "ERROR").map { req =>
      req -> (try fetch(req).toRight("no payload") catch { case e: Exception => Left(reason(e)) })
    }
    val parsed = RunSession.parMap(spark, fetched) { case (req, payload) =>
      payload.flatMap { p =>
        try Right(parseResponse(spark, req, p)) catch { case e: Exception => Left(reason(e)) }
      }.map { df =>
        df -> outputValidator.validateDataset(df, keyFeatures, req.apiName, req.endpointName,
          req.parameters.get("ticker").orElse(req.parameters.get("symbol")).map(_.toString))
      }
    }
    val failed = fetched.zip(parsed).collect { case ((req, _), Left(why)) =>
      FailedRequest(req.apiName, req.endpointName, why)
    }
    val frames = parsed.collect { case Right(frame) => frame }
    IngestResult(proceed = true, frames.map(_._1), enrichmentFeatures,
      keyFeatures, frames.map(_._2), failed)
  }

  /** Routes one payload to its parser by provider + endpoint family
    * (polygon_client.py:76-98, alpha_vantage_client.py:241-270).
    */
  def parseResponse(spark: SparkSession, req: ApiRequest, payload: String): DataFrame = {
    val raw = PolygonParsers.payload(spark, payload)
    val tickerOpt = req.parameters.get("ticker").orElse(req.parameters.get("symbol")).map(_.toString)
    req.apiName match {
      case "polygon" =>
        req.parameters.get("endpoint_type") match {
          case Some(4) => PolygonParsers.parseSnapshot(raw)
          case Some(2) => PolygonParsers.parseDailyOpenClose(raw, tickerOpt)
          case Some("economic_indicator") => PolygonParsers.parseEconomic(raw)
          case _ => PolygonParsers.parseAggs(raw, tickerOpt)
        }
      case "alpha_vantage" =>
        val fn = req.endpointName
        if (avEconomicFns.contains(fn)) AlphaVantageParsers.parseEconomic(raw)
        else if (avStatements.contains(fn))
          AlphaVantageParsers.parseStatement(raw, avStatements(fn), period(req), tickerOpt)
        else if (fn == "EARNINGS") AlphaVantageParsers.parseEarnings(raw, period(req), tickerOpt)
        else if (fn == "EARNINGS_ESTIMATES") AlphaVantageParsers.parseEarningsEstimates(raw, tickerOpt)
        else if (avCsvFns.contains(fn)) {
          import spark.implicits._
          AlphaVantageParsers.parseCsv(spark.createDataset(payload.split("\n").toSeq), tickerOpt)
        } else if (fn.startsWith("TIME_SERIES")) {
          val parsed = AlphaVantageParsers.parseTimeSeries(raw, tickerOpt)
          AlphaVantageParsers.applyRequestedWindow(parsed, windowSpec(req))
        } else AlphaVantageParsers.parseSimpleJson(raw, tickerOpt)
      case other =>
        throw new IllegalArgumentException(s"Unknown api: $other")
    }
  }

  private def period(req: ApiRequest): String =
    req.parameters.get("period").map(_.toString).getOrElse("quarterly")

  /** P12 spec from validated params (alpha_vantage_client.py:368-381,
    * 636-648: from/start_date, to/end_date, date, limit, and frequency
    * from interval|timespan|frequency).
    */
  private def windowSpec(req: ApiRequest): AlphaVantageParsers.WindowSpec = {
    val p = req.parameters
    def date(keys: String*): Option[LocalDate] = keys.collectFirst {
      case k if p.contains(k) =>
        try Some(LocalDate.parse(p(k).toString, dateFmt)) catch { case _: Exception => None }
    }.flatten
    def int(k: String): Option[Int] =
      p.get(k).flatMap(v => try Some(v.toString.toInt) catch { case _: Exception => None })
    val freq = Seq("interval", "timespan", "frequency").collectFirst {
      case k if p.contains(k) => p(k).toString.toLowerCase
    }
    AlphaVantageParsers.WindowSpec(
      from = date("from", "start_date"), to = date("to", "end_date"),
      date = date("date"), limit = int("limit"), frequency = freq)
  }
}
