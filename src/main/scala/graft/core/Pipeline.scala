package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.{ApiRequest, ExecutionPlan, IngestResult, Ingestor}
import graft.integrate.{Validator, ValidatorConfig, ValidatorReport}
import graft.load.{LoadReport, Loader, Reports}
import graft.transform.{TransformPipeline, TransformReport}

/** Full-run artifact bundle (reference:
  * backend/app/services/pipeline_service.py:95-98,180-184,224-228 —
  * one report file per stage per run).
  */
case class PipelineRun(
    outputs: Seq[DataFrame],
    ingest: IngestResult,
    validation: ValidatorReport,
    transform: TransformReport,
    load: Option[LoadReport])

/** End-to-end pipeline (reference: pipeline.py:8-31 — the minimum
  * slice; pipeline_service.py:100-259 adds the service wrapper):
  *
  *   ingest (plan artifact + payload fetch) -> validate/integrate ->
  *   transform (clean -> DSL enrich -> clean) -> load (JDBC/CSV) +
  *   JSON reports.
  *
  * The LLM translators (prompt -> plan, keywords -> DSL) stay
  * out-of-engine adapters; the engine's API takes their validated
  * artifacts — so a run is deterministic and test-complete without
  * any external service (SURVEY §2.10 C3, §7.5 side-channel fix: the
  * enrichment recipe rides the run context, not a txt file).
  */
class Pipeline(
    config: ValidatorConfig = ValidatorConfig.balanced,
    today: java.time.LocalDate = java.time.LocalDate.now()) {

  val ingestor = new Ingestor(today)
  val validator = new Validator(config)
  val transformPipeline = new TransformPipeline()

  /** Runs the four stages. `onStage(progress, stage, message)` fires as
    * each stage actually starts/completes — the reference's staged
    * progress contract (pipeline_service.py:110-259: 10/30 ingest,
    * 40/60 validation, 70/90 transform; the caller owns 100/complete).
    * A run that fails mid-stage never reports later stages as done.
    *
    * Every stage runs in a [[RunSession.interpreted]] clone of `spark`:
    * the run's frames, reports and returned outputs all derive from it,
    * so they execute without code generation and without adaptive
    * execution, one Spark job per action on one shuffle partition, and
    * so does a caller's later write of the outputs. Pair scoring alone
    * is planned back in `spark`. `spark` itself is left untouched.
    *
    * Within a stage, independent frames are worked on side by side
    * ([[RunSession.parMap]]): each payload's parse, each frame's
    * transform, each output's load. Fetches, the validator's grouping
    * and its join stages stay sequential.
    */
  def run(spark: SparkSession,
          plan: ExecutionPlan,
          fetch: ApiRequest => Option[String],
          dslRecipe: Option[String],
          keyFeatures: Seq[String] = Nil,
          loader: Option[Loader] = None,
          reportDir: Option[String] = None,
          onStage: (Int, String, String) => Unit = (_, _, _) => ()): PipelineRun = {
    // Stage 1: ingest (ingestor.py:45-172) — includes the semantic
    // endpoint check (step 3) fed by the intent keywords the plan
    // artifact itself carries (contracts.py:21-26)
    val session = RunSession.interpreted(spark)
    onStage(10, "ingestion", "Ingesting data")
    val ingested = ingestor.process(session, plan, fetch,
      enrichmentFeatures = dslRecipe.toSeq, keyFeatures = keyFeatures)
    onStage(30, "ingestion", "Ingestion complete")

    // Stage 2: validation/integration (validator.py:199-444)
    onStage(40, "validation", "Integrating dataframes")
    val (validated, valReport) = validator.process(ingested.dataframes)
    onStage(60, "validation", "Validation complete")

    // Stage 3: transformation (transform.py:29-247)
    onStage(70, "transformation", "Transforming data")
    val (transformed, transformReport) = transformPipeline.run(
      validated, dslRecipe, Some(config.columnDeleteThreshold))
    onStage(90, "transformation", "Transformation complete")

    // Stage 4: load (transform/load.py:24-218) — optional like the CLI
    val loadReport = loader.map(_.loadJdbc(session, transformed))

    // K3: report artifacts per run
    reportDir.foreach { dir =>
      Reports.write(valReport, s"$dir/validation_report.json")
      Reports.write(transformReport, s"$dir/transformation_report.json")
      loadReport.foreach(Reports.write(_, s"$dir/load_report.json"))
    }

    PipelineRun(transformed, ingested, valReport, transformReport, loadReport)
  }
}
