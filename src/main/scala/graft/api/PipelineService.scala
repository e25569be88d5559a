package graft.api

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Pipeline
import graft.ingest.{ApiRequest, ExecutionPlan}
import graft.integrate.ValidatorConfig
import graft.load.Reports

/** One run's mutable status record (reference:
  * backend/app/services/pipeline_service.py:33-52 — same fields,
  * snake_case on the wire via [[Reports.toJson]]).
  */
case class RunStatus(
    runId: String,
    status: String, // pending | running | completed | failed
    progress: Int,
    currentStage: String,
    message: String,
    startedAt: String,
    completedAt: Option[String],
    error: Option[String],
    runDir: String,
    qualityProfile: String,
    stageFlags: Map[String, Boolean])

/** The artifact-driven run request: the engine consumes the validated
  * plan + payloads + DSL recipe the LLM/HTTP adapters would produce
  * (SURVEY §2.10 C3) — so a service run is deterministic and
  * replayable from its artifacts.
  */
case class RunRequest(
    plan: ExecutionPlan,
    payloads: Map[String, String], // endpointName -> recorded payload
    dslRecipe: Option[String],
    keyFeatures: Seq[String],
    qualityProfile: String)

/** Pipeline run service (reference: pipeline_service.py:25-359):
  * create-run -> background execution with staged progress
  * (10/30 ingest, 40/60 validation, 70/90 transform, 100 complete) ->
  * status polling / progress-event streaming -> results from the run
  * directory artifacts. Single-JVM driver-side orchestration, like the
  * reference's FastAPI background tasks; the heavy lifting stays in
  * Spark.
  *
  * Progress events fire from INSIDE the pipeline stages
  * (`Pipeline.run`'s onStage hook), so a stage flag is only true once
  * its work actually completed and a failed run leaves unreached
  * flags false. Every status transition is appended to a per-run
  * event log, which the server's SSE endpoint replays/streams — the
  * counterpart of the reference's WebSocket push
  * (backend/app/api/endpoints/websocket.py, pipeline_service.py:282-307).
  */
class PipelineService(spark: SparkSession, tempDir: String) {

  private val runs = new ConcurrentHashMap[String, RunStatus]()
  private val runEvents =
    new ConcurrentHashMap[String, java.util.concurrent.CopyOnWriteArrayList[RunStatus]]()
  private val executor = Executors.newFixedThreadPool(2)

  def createRun(request: RunRequest): String = {
    val runId = UUID.randomUUID().toString
    val runDir = s"$tempDir/$runId"
    Files.createDirectories(Paths.get(runDir))
    val initial = RunStatus(runId, "pending", 0, "pending", "Pipeline created",
      Instant.now().toString, None, None, runDir, request.qualityProfile,
      Map("ingestion" -> false, "validation" -> false,
        "transformation" -> false, "completed" -> false))
    runs.put(runId, initial)
    val log = new java.util.concurrent.CopyOnWriteArrayList[RunStatus]()
    log.add(initial)
    runEvents.put(runId, log)
    executor.submit(new Runnable {
      override def run(): Unit = executeRun(runId, request)
    })
    runId
  }

  def getStatus(runId: String): Option[RunStatus] = Option(runs.get(runId))

  /** The append-only status-transition log for one run (what the SSE
    * progress stream replays; late subscribers see the full history).
    */
  def events(runId: String): Option[Seq[RunStatus]] =
    Option(runEvents.get(runId)).map(_.asScala.toSeq)

  def history: Seq[RunStatus] =
    runs.values().asScala.toSeq.sortBy(_.startedAt)

  /** Results contract (pipeline_service.py:309-359): per-frame CSV
    * info + the stage report JSON files from the run dir.
    */
  def getResults(runId: String): Option[Map[String, Any]] =
    getStatus(runId).filter(_.status == "completed").map { st =>
      val dir = Paths.get(st.runDir)
      // Files.list holds an open directory handle: close it
      val listing = Files.list(dir)
      val frames =
        try listing.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("result_"))
          .toSeq.sortBy(_.getFileName.toString)
          .map(_.toString)
        finally listing.close()
      // reports nest as parsed JSON objects, like the reference's
      // json.load of the run-dir files (pipeline_service.py:341-351)
      def report(name: String): Any = {
        val p = dir.resolve(name)
        if (Files.exists(p))
          org.json4s.jackson.JsonMethods.parse(Files.readString(p))
        else null
      }
      Map(
        "run_id" -> runId,
        "status" -> st.status,
        "result_paths" -> frames,
        "validation_report" -> report("validation_report.json"),
        "transformation_report" -> report("transformation_report.json"))
    }

  def shutdown(): Unit = executor.shutdown()

  private def update(runId: String, status: String, progress: Int,
                     stage: String, message: String,
                     error: Option[String] = None, flag: Option[String] = None): Unit = {
    Option(runs.get(runId)).foreach { st =>
      val flags = flag.fold(st.stageFlags)(f => st.stageFlags + (f -> true))
      val completedAt =
        if (status == "completed" || status == "failed") Some(Instant.now().toString)
        else st.completedAt
      val next = st.copy(status = status, progress = progress,
        currentStage = stage, message = message, error = error,
        completedAt = completedAt, stageFlags = flags)
      runs.put(runId, next)
      Option(runEvents.get(runId)).foreach(_.add(next))
    }
  }

  /** Stage-completion progress points -> the flag that work proved
    * (pipeline_service.py flips each flag as its stage finishes).
    */
  private val flagForProgress =
    Map(30 -> "ingestion", 60 -> "validation", 90 -> "transformation")

  private def executeRun(runId: String, request: RunRequest): Unit = {
    val st = runs.get(runId)
    val pipeline = new Pipeline(ValidatorConfig(request.qualityProfile))
    try {
      // stage events come from inside the pipeline: a flag flips only
      // when its stage's work has actually completed
      val run = pipeline.run(spark, request.plan,
        fetch = req => request.payloads.get(req.endpointName),
        dslRecipe = request.dslRecipe,
        keyFeatures = request.keyFeatures,
        reportDir = Some(st.runDir),
        onStage = (progress, stage, message) =>
          update(runId, "running", progress, stage, message,
            flag = flagForProgress.get(progress)))
      // result CSVs (pipeline_service.py:221-222)
      graft.load.Loader.writeCsv(run.outputs, st.runDir)
      update(runId, "completed", 100, "completed",
        s"Pipeline complete: ${run.outputs.size} dataframe(s)", flag = Some("completed"))
    } catch {
      case e: Exception =>
        update(runId, "failed", runs.get(runId).progress, "failed",
          s"Pipeline failed: ${e.getMessage}",
          error = Some(Option(e.getMessage).getOrElse(e.toString)))
    } finally {
      // long-lived service: release the join engine's per-run cached
      // frames once the outputs are written, so back-to-back runs don't
      // accumulate executor memory (the outputs stay correct — an
      // unpersisted plan recomputes from source if re-consumed)
      pipeline.validator.joinEngine.cleanup()
      pipeline.transformPipeline.cleanup()
    }
  }
}

/** JSON (de)serialization for the service wire contract. */
object RunRequestJson {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private implicit val formats: Formats = DefaultFormats

  /** Parses the POST /pipeline/run body:
    * {"plan": [{"api_name":..., "endpoint_name":..., "parameters": {...}}],
    *  "semantic_keywords": [...], "payloads": {...}, "dsl_recipe": "...",
    *  "key_features": [...], "quality_profile": "balanced"}
    * `semantic_keywords` ride the plan (contracts.py:21-26), so the
    * serialized request is self-contained for the semantic check.
    * An integer parameter outside the Int range fails, naming it.
    */
  def parse(body: String): RunRequest = {
    val j = JsonMethods.parse(body)
    val plan = ExecutionPlan((j \ "plan") match {
      case JArray(reqs) => reqs.map { r =>
        ApiRequest(
          apiName = (r \ "api_name").extract[String],
          endpointName = (r \ "endpoint_name").extract[String],
          parameters = (r \ "parameters") match {
            case JObject(fields) => fields.map { case (k, v) => k -> (v match {
              case JString(s) => s
              case JInt(i) if i.isValidInt => i.toInt
              case JInt(i) => throw new IllegalArgumentException(
                s"parameter '$k': $i is outside the int range")
              case JDouble(d) => d
              case JBool(b) => b
              case other => other.toString
            })}.toMap
            case _ => Map.empty[String, Any]
          })
      }
      case _ => Nil
    }, semanticKeywords =
      (j \ "semantic_keywords").extractOrElse[Seq[String]](Nil))
    RunRequest(
      plan = plan,
      payloads = (j \ "payloads").extractOrElse[Map[String, String]](Map.empty),
      dslRecipe = (j \ "dsl_recipe").extractOpt[String],
      keyFeatures = (j \ "key_features").extractOrElse[Seq[String]](Nil),
      qualityProfile = (j \ "quality_profile").extractOrElse[String]("balanced"))
  }
}
