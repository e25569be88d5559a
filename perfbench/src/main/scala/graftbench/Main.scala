package graftbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{BenchReset, QueryCatalog}
import graft.api.{RunRequest, RunRequestJson}
import graft.core.{Pipeline, PipelineRun}
import graft.ingest.ApiRequest
import graft.integrate.ValidatorConfig
import graft.load.Loader

/** One executed operation, as the timed loop or the traced run saw it. */
final case class OpRecord(
    index: Int,
    name: String,
    module: String,
    kind: String,
    latencyS: Double,
    ok: Boolean,
    error: Option[String],
    traced: Boolean,
    spans: Seq[Span] = Nil,
    counters: Option[OpCounters] = None,
    extra: Map[String, Double] = Map.empty)

/** What one operation returns to the loop: its timed seconds, the
  * spans of its layers (op-relative ids > 0), its own counts, and the
  * output check's verdict.
  */
final case class OpOutcome(latencyS: Double, spans: Seq[Span], extra: Map[String, Double],
                           error: Option[String])

/** Benchmark harness JVM. Builds one Spark session, loads the inputs
  * `run.py` generated, runs an untimed warm-up/verification
  * pass, then a closed loop (one client) of operations for the
  * requested number of seconds. With `--trace 1` every operation runs
  * twice, once with the tracer attached and once without, in
  * alternating order; the traced copy records layer spans and Spark
  * counters. Results go to `--out` as JSON.
  *
  * Usage: graftbench.Main --workload W --data DIR --work DIR --ops FILE
  *   --seconds S --trace 0|1 --nproc N --launch-ms T --out FILE
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toLong
    val workload = opt("workload")
    val work = opt("work")
    val nproc = opt("nproc").toInt
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble

    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val broadcasts = BenchReset.install(spark)
    val bootS = (System.currentTimeMillis() - launchMs) / 1e3

    val wl: Workload =
      if (workload == "pipeline_service") new PipelineWorkload(spark, opt("ops"), work, broadcasts)
      else new QueryWorkload(spark, opt("data"), opt("ops"), work, broadcasts)

    val t0 = System.nanoTime()
    wl.load()
    val loadS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val warmErrors = wl.warmup()
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3

    val tracer = new Tracer(spark)
    val loopStart = System.nanoTime()
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var timed = 0.0
    var i = 0
    // closed loop over whole passes, so every run sees the same op mix
    while (timed < seconds || i % wl.passLength != 0) {
      val order = if (trace) (if (i % 2 == 0) Seq(false, true) else Seq(true, false)) else Seq(false)
      order.foreach { traced =>
        val rec = runOne(spark, wl, tracer, i, traced)
        records += rec
        timed += rec.latencyS
      }
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val retainedAtEnd = wl.retainedAtEnd()

    val out = Json.obj(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupS),
      "boot_s" -> Json.num(bootS),
      "load_s" -> Json.num(loadS),
      "warmup_s" -> Json.num(warmS),
      "loop_s" -> Json.num(loopS),
      "warmup_errors" -> Json.arr(warmErrors.map(Json.str)),
      "warmup_dumps" -> Json.raw(wl.dumpsJson),
      "retained_at_end" -> Json.num(retainedAtEnd.toDouble),
      "heap_mb" -> Json.num((Runtime.getRuntime.maxMemory >> 20).toDouble),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "nproc" -> Json.num(nproc.toDouble),
      "ops" -> Json.arr(records.map(recordJson).toSeq))
    Files.writeString(Paths.get(opt("out")), out)
    spark.stop()
  }

  private def runOne(spark: SparkSession, wl: Workload, tracer: Tracer, i: Int,
                     traced: Boolean): OpRecord = {
    val group = s"op-$i-${if (traced) "t" else "u"}"
    val codegen0 = Tracer.codegenCompiles
    val counters = if (traced) {
      tracer.attach()
      Some(tracer.begin(group))
    } else None
    val t0 = System.nanoTime()
    // a failed op still spends its time, so the loop cannot spin on failures
    val outcome =
      try wl.run(i, tracer)
      catch { case e: Throwable =>
        OpOutcome((System.nanoTime() - t0) / 1e9, Nil, Map.empty, Some(e.toString)) }
    val closed = counters.map { _ =>
      val c = tracer.end(group)
      tracer.detach()
      c
    }
    val codegen = (Tracer.codegenCompiles - codegen0).toDouble
    val after = wl.afterOp(traced)
    OpRecord(i, wl.name(i), wl.module(i), wl.kind(i), outcome.latencyS,
      outcome.error.isEmpty, outcome.error, traced, outcome.spans, closed,
      outcome.extra ++ after ++ (if (traced) Map("codegen_compiles" -> codegen) else Map.empty))
  }

  private def recordJson(r: OpRecord): String = {
    val c = r.counters.map { c =>
      Json.obj(
        "jobs" -> Json.num(c.jobs), "stages" -> Json.num(c.stages), "tasks" -> Json.num(c.tasks),
        "task_busy_ms" -> Json.num(c.taskBusyMs.toDouble), "gc_ms" -> Json.num(c.gcMs.toDouble),
        "shuffle_read" -> Json.num(c.shuffleRead.toDouble),
        "shuffle_write" -> Json.num(c.shuffleWrite.toDouble),
        "spill" -> Json.num(c.spill.toDouble), "peak_exec_mem" -> Json.num(c.peakExecMem.toDouble),
        "analysis_ms" -> Json.num(c.analysisMs.toDouble),
        "optimization_ms" -> Json.num(c.optimizationMs.toDouble),
        "planning_ms" -> Json.num(c.planningMs.toDouble), "queries" -> Json.num(c.queries),
        "job_spans" -> Json.arr(c.jobSpans.toSeq.map { case (id, s, e) =>
          Json.arr(Seq(Json.num(id), Json.num(s), Json.num(e))) }))
    }.getOrElse("null")
    Json.obj(
      "index" -> Json.num(r.index), "name" -> Json.str(r.name), "module" -> Json.str(r.module),
      "kind" -> Json.str(r.kind), "latency_s" -> Json.num(r.latencyS), "ok" -> Json.bool(r.ok),
      "error" -> r.error.map(Json.str).getOrElse("null"), "traced" -> Json.bool(r.traced),
      "spans" -> Json.arr(r.spans.map(s => Json.obj("id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))),
      "counters" -> c,
      "extra" -> Json.obj(r.extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
  }

  /** Live RDD blocks and broadcast blocks after a GC nudge and a
    * bounded wait for the ContextCleaner to settle.
    */
  def liveBlocks(spark: SparkSession, broadcasts: BenchReset.BroadcastTracker): (Int, Int) = {
    System.gc()
    var last = -1
    var stable = 0
    var waited = 0
    while (stable < 2 && waited < 2000) {
      Thread.sleep(100); waited += 100
      val now = broadcasts.liveCount
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
    (spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum, broadcasts.liveCount)
  }
}

/** A workload: inputs, a warm-up pass and an indexed op sequence. */
trait Workload {
  def load(): Unit
  /** Untimed warm-up and output verification; returns check failures. */
  def warmup(): Seq[String]
  def passLength: Int
  def name(i: Int): String
  def module(i: Int): String
  def kind(i: Int): String
  def run(i: Int, tracer: Tracer): OpOutcome
  /** Untimed per-op follow-up (storage reset); returns its counts. */
  def afterOp(traced: Boolean): Map[String, Double]
  def retainedAtEnd(): Int
  def dumpsJson: String
}

/** Catalog queries (`catalog_sf0.1`): each op builds one
  * catalog entry's frame (construct) and fully executes it with a
  * noop write (execute), as `graft.Bench` does. The storage reset runs
  * between ops, outside the timed region.
  */
final class QueryWorkload(spark: SparkSession, dataDir: String, opsFile: String, work: String,
                          broadcasts: BenchReset.BroadcastTracker) extends Workload {
  private val names = Files.readAllLines(Paths.get(opsFile)).toArray(Array.empty[String])
    .map(_.trim).filter(_.nonEmpty).toIndexedSeq
  private val modules: Map[String, String] = Seq(
    "enrich" -> graft.enrich.EnrichQueries.entries,
    "clean" -> graft.clean.CleanQueries.entries,
    "integrate" -> (graft.integrate.UnionQueries.entries ++ graft.integrate.JoinQueries.entries ++
      graft.integrate.ValidatorQueries.entries),
    "transform" -> graft.transform.TransformQueries.entries,
    "llmdata" -> graft.llmdata.LlmDataQueries.entries,
    "ingest" -> graft.ingest.IngestQueries.entries,
    "load" -> graft.load.LoadQueries.entries)
    .flatMap { case (m, es) => es.map(_.name -> m) }.toMap
  private val dumps = mutable.LinkedHashMap.empty[String, String]

  def load(): Unit = {
    val missing = names.filterNot(QueryCatalog.queries.contains)
    require(missing.isEmpty, s"unknown catalog entries: ${missing.mkString(", ")}")
    Files.list(Paths.get(dataDir)).toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      .foreach(p => spark.read.parquet(p).schema)
  }

  def warmup(): Seq[String] = names.distinct.flatMap { n =>
    val path = s"$work/dumps/$n"
    val err =
      try {
        QueryCatalog.queries(n)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(path)
        dumps(n) = path
        None
      } catch { case e: Throwable => Some(s"$n: ${e.toString.take(300)}") }
    BenchReset.resetOrFail(spark, broadcasts)
    err
  }

  def passLength: Int = names.size
  def name(i: Int): String = names(i % names.size)
  def module(i: Int): String = modules.getOrElse(name(i), "other")
  def kind(i: Int): String = "query"

  def run(i: Int, tracer: Tracer): OpOutcome = {
    val fn = QueryCatalog.queries(name(i))
    val t0 = System.nanoTime()
    val df: DataFrame = fn(spark, dataDir)
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    val spans = Seq(
      Span(1, 0, "construct", tracer.nowMs(t0), tracer.nowMs(t1)),
      Span(2, 0, "execute", tracer.nowMs(t1), tracer.nowMs(t2)))
    val persisted = spark.sparkContext.getPersistentRDDs.size.toDouble
    OpOutcome((t2 - t0) / 1e9, spans, Map("persisted_rdds" -> persisted), None)
  }

  def afterOp(traced: Boolean): Map[String, Double] = {
    val retained = if (traced) {
      val (rdd, bc) = Main.liveBlocks(spark, broadcasts)
      Map("retained_blocks" -> (rdd + bc).toDouble)
    } else Map.empty[String, Double]
    val rdd0 = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    val bc0 = broadcasts.liveCount
    val t0 = System.nanoTime()
    BenchReset.resetOrFail(spark, broadcasts)
    retained ++ Map("reset_s" -> (System.nanoTime() - t0) / 1e9,
      "reset_rdd_blocks" -> rdd0.toDouble, "reset_broadcast_blocks" -> bc0.toDouble)
  }

  def retainedAtEnd(): Int = 0

  def dumpsJson: String =
    Json.obj(dumps.toSeq.map { case (n, p) =>
      n -> Json.obj("path" -> Json.str(p),
        "oracle" -> QueryCatalog.oracleSql.get(n).map(Json.str).getOrElse("null"))
    }: _*)
}

/** `pipeline_service`: back-to-back `core.Pipeline.run` calls in one
  * long-lived session, as `api.PipelineService.executeRun` makes them:
  * ingest -> validate/integrate -> transform -> JDBC load + reports,
  * then the CSV write, then the join engine's and transform
  * pipeline's cleanup. No storage reset between runs. Every run loads
  * into its own schema of one embedded Derby database.
  */
final class PipelineWorkload(spark: SparkSession, plansFile: String, work: String,
                             broadcasts: BenchReset.BroadcastTracker) extends Workload {
  private val lines = Files.readAllLines(Paths.get(plansFile)).toArray(Array.empty[String])
    .filter(_.trim.nonEmpty).toIndexedSeq
  private val today = LocalDate.of(2026, 8, 12)
  // the generator's layout: warm-up runs first, then passes of two
  private val warmRuns = 2
  private val pass = 2
  private var plans: IndexedSeq[(RunRequest, Plan)] = IndexedSeq.empty
  private var executions = 0

  def load(): Unit = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    plans = lines.map { l =>
      val j = org.json4s.jackson.JsonMethods.parse(l)
      RunRequestJson.parse(l) -> Plan((j \ "kind").extract[String],
        (j \ "feature_columns").extract[Seq[String]],
        (j \ "group_rows").extract[Seq[Long]],
        (j \ "payloads").extract[Map[String, String]])
    }
    Files.createDirectories(Paths.get(s"$work/runs"))
  }

  private def fetch(p: Plan)(req: ApiRequest): Option[String] = {
    val sym = req.parameters.get("symbol").orElse(req.parameters.get("ticker"))
      .map(_.toString).getOrElse("")
    p.payloads.get(s"${req.endpointName}:$sym")
  }

  def warmup(): Seq[String] =
    (0 until warmRuns).flatMap(k => execute(k, tracer = None)._2.toSeq)

  def passLength: Int = pass
  private def planIndex(i: Int): Int = warmRuns + i % (plans.size - warmRuns)
  def name(i: Int): String = s"run${planIndex(i)}"
  def module(i: Int): String = "pipeline"
  def kind(i: Int): String = plans(planIndex(i))._2.kind

  def run(i: Int, tracer: Tracer): OpOutcome = {
    val (outcome, err) = execute(planIndex(i), Some(tracer))
    outcome.copy(error = err)
  }

  /** One service run; returns the outcome and the output check's error. */
  private def execute(k: Int, tracer: Option[Tracer]): (OpOutcome, Option[String]) = {
    val (req, plan) = plans(k)
    val n = executions
    executions += 1
    val runDir = s"$work/runs/$n"
    val props = new Properties()
    props.setProperty("user", s"R$n")
    val loader = new Loader(s"jdbc:derby:$work/derby/bench;create=true", props)
    val pipeline = new Pipeline(ValidatorConfig(req.qualityProfile), today)
    val marks = mutable.Map.empty[Int, Long]
    def ms(ns: Long): Double = tracer.map(_.nowMs(ns)).getOrElse(0.0)
    val t0 = System.nanoTime()
    var run: PipelineRun = null
    var tLoad, tCsv = 0L
    try {
      run = pipeline.run(spark, req.plan, fetch(plan), req.dslRecipe, req.keyFeatures,
        loader = Some(loader), reportDir = Some(runDir),
        onStage = (progress, _, _) => marks(progress) = System.nanoTime())
      tLoad = System.nanoTime()
      Loader.writeCsv(run.outputs, runDir)
      tCsv = System.nanoTime()
    } catch {
      case e: Throwable =>
        cleanup(pipeline)
        return (OpOutcome((System.nanoTime() - t0) / 1e9, Nil, Map.empty, None),
          Some(s"run $k: ${e.toString.take(300)}"))
    }
    // the output check runs between the CSV write and the cleanup, off the clock
    val check = verify(k, plan, run)
    val c0 = System.nanoTime()
    cleanup(pipeline)
    val c1 = System.nanoTime()
    def span(id: Int, layer: String, a: Long, b: Long) = Span(id, 0, layer, ms(a), ms(b))
    val spans = Seq(
      span(1, "ingest", marks(10), marks(30)),
      span(2, "integrate", marks(40), marks(60)),
      span(3, "transform", marks(70), marks(90)),
      span(4, "load", marks(90), tLoad),
      span(5, "load_csv", tLoad, tCsv),
      span(6, "cleanup", c0, c1))
    // frames entering the join stage, as stage 1 reports them; each
    // attempted pair of groups scores every row pair of the two groups
    val v = run.validation
    val joined = v.stage1Operations.flatMap(_.dataframes).distinct.size
    val attempted = joined * (joined - 1) / 2
    val pairs = if (attempted == 0) 0.0
      else plan.groupRows.combinations(2).map(g => g(0).toDouble * g(1)).sum
    val extra = Map(
      "ingest_rows" -> v.inputShapes.map(_._1).sum.toDouble,
      "load_rows" -> run.load.map(_.totalRowsLoaded).getOrElse(0L).toDouble,
      "pairs_scored" -> pairs,
      "joins_attempted" -> attempted.toDouble,
      "joins_accepted" -> v.stage1Operations.count(op => op.compatible && op.dataframes.size == 2)
        .toDouble,
      "persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble)
    (OpOutcome(((tCsv - t0) + (c1 - c0)) / 1e9, spans, extra, None), check)
  }

  private def cleanup(p: Pipeline): Unit = {
    p.validator.joinEngine.cleanup()
    p.transformPipeline.cleanup()
  }

  private def verify(k: Int, plan: Plan, run: PipelineRun): Option[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val v = run.validation
    if (plan.kind == "small" && !v.earlyTermination)
      problems += "union did not collapse the reference-shaped run"
    if (plan.kind == "wide" && (v.earlyTermination || v.stage1Operations.isEmpty))
      problems += "join stage did not run on the wide run"
    val outRows = run.outputs.map(_.count()).sum
    val load = run.load.getOrElse(return Some(s"run $k: no load report"))
    if (load.status != "success") problems += s"load status ${load.status}"
    if (load.totalRowsLoaded != outRows)
      problems += s"loaded ${load.totalRowsLoaded} rows, outputs hold $outRows"
    // a feature column may be absent only where the post-enrichment
    // cleaning reports deleting it (null ratio over the profile's
    // threshold: a window longer than about half the series)
    val priced = run.outputs.zip(run.transform.results).filter(_._1.columns.contains("close"))
    if (priced.isEmpty) problems += "no output carries the price columns"
    priced.foreach { case (df, res) =>
      val deleted = res.postCleaning.toSeq.flatMap(_.columnsDeleted.map(_.column))
      val missing = plan.featureColumns.filterNot(c => df.columns.contains(c) || deleted.contains(c))
      if (missing.nonEmpty) problems += s"feature columns missing: ${missing.mkString(",")}"
    }
    if (problems.isEmpty) None else Some(s"run $k (${plan.kind}): ${problems.mkString("; ")}")
  }

  def afterOp(traced: Boolean): Map[String, Double] = Map.empty

  def retainedAtEnd(): Int = {
    val (rdd, bc) = Main.liveBlocks(spark, broadcasts)
    rdd + bc
  }

  def dumpsJson: String = "{}"
}

/** The generator's expectations for one pipeline run, and its payloads. */
final case class Plan(kind: String, featureColumns: Seq[String], groupRows: Seq[Long],
                      payloads: Map[String, String])

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def raw(s: String): String = s
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
