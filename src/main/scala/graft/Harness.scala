package graft

import java.util.UUID
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.util.Try

import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge

/** What the harness mains (Bench, Verify, Explain, ProbeQuery,
  * Rehearse) share: the one local session they run in, the one conf
  * knob layered over it, the storage reset between queries, catalog
  * name selection and the timed noop write.
  *
  * Run knobs read here:
  *  - `SPARK_GRAFT_CPUS`: local cores, and the shuffle partition count
  *    (each main keeps its own default);
  *  - `SPARK_GRAFT_EXTRA_CONF`: `k=v;k=v` Spark confs set on the
  *    session builder over the defaults, e.g.
  *    `spark.sql.files.maxPartitionBytes=1m`;
  *  - `SPARK_GRAFT_ONLY`: comma-separated catalog names to run.
  */
object Harness {
  val extraConfEnv = "SPARK_GRAFT_EXTRA_CONF"

  /** `SPARK_GRAFT_EXTRA_CONF`'s pairs in order. Empty tokens (a
    * trailing `;`) are skipped, a value keeps any `=` after the first,
    * and a token with no `=` fails, naming the token.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(s"$extraConfEnv token '$kv' is not k=v")
      }
    }

  /** The local session's builder: `local[cpus]`, one shuffle partition
    * per core, UTC, ANSI off (the engine follows pandas coercion), no
    * UI, then `SPARK_GRAFT_EXTRA_CONF`.
    */
  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
    sys.env.get(extraConfEnv).foreach(parseConf(_).foreach { case (k, v) => b.config(k, v) })
    b
  }

  /** A main's session on `SPARK_GRAFT_CPUS` cores (`defaultCpus` when
    * unset), with a broadcast tracker installed before any query runs.
    */
  def open(defaultCpus: Int, logLevel: String = "WARN"): Session = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    new Session(spark, cpus)
  }

  final case class Counts(jobs: Long, stages: Long, tasks: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks)
  }

  final class Session private[Harness] (val spark: SparkSession, val cpus: Int) {
    private val tracker = BenchReset.install(spark)
    private val jobs, stages, tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
      }
    })

    /** Jobs started, and stages and tasks completed, so far. */
    def counts(): Counts = {
      StorageBridge.drainListeners(spark.sparkContext)
      Counts(jobs.get, stages.get, tasks.get)
    }

    /** The full storage reset ([[BenchReset.resetOrFail]]); call it
      * outside any timed region.
      */
    def reset(): Unit = BenchReset.resetOrFail(spark, tracker)

    /** Runs `w_sma` once and resets, so the first timed query is not
      * charged for JIT, codegen and parquet-footer warmup.
      */
    def warmup(sfDir: String): Unit = {
      Try(noop(SparkEntry.queries("w_sma")(spark, sfDir)))
      reset()
    }
  }

  /** Runs `df` to completion. A noop write, not `count()`, which would
    * let Catalyst prune every computed column.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds to build `query` and [[noop]]-write it. A failure goes to
    * `onError`; the time up to it is still returned.
    */
  def timedNoop(query: => DataFrame)(onError: Throwable => Unit): Double = {
    val t0 = System.nanoTime()
    try noop(query) catch { case e: Throwable => onError(e) }
    (System.nanoTime() - t0) / 1e9
  }

  private val timedPool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-harness-timed")
    t.setDaemon(true)
    t
  }

  /** `body`'s outcome, or None when it runs past `timeoutSec`. `body`
    * runs on a pool thread with the caller's Spark thread-locals and a
    * job group of its own, so a timeout cancels its running jobs and
    * any it starts later, and no other call's.
    */
  def withTimeout[T](spark: SparkSession, timeoutSec: Int, description: String)
                    (body: => T): Option[Try[T]] = {
    val sc = spark.sparkContext
    val group = s"graft-timed-${UUID.randomUUID()}"
    sc.setJobGroup(group, description, interruptOnCancel = true)
    val task =
      try SessionBridge.withThreadLocalCaptured(spark, timedPool)(Try(body))
      finally sc.clearJobGroup()
    try Some(task.get(timeoutSec.toLong, TimeUnit.SECONDS))
    catch { case _: TimeoutException =>
      sc.cancelJobGroupAndFutureJobs(group)
      None
    }
  }

  /** Names from a comma-separated list, blanks dropped. */
  def names(list: String): Seq[String] = list.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** `SPARK_GRAFT_ONLY`'s names, when it is set. */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(names)

  /** The `catalog` entries a run covers: every entry sorted by name
    * when `wanted` is None, else the wanted ones in their given order.
    * An unknown name fails the run, listing every unknown name.
    */
  def select[A](catalog: Map[String, A], wanted: Option[Seq[String]]): Seq[(String, A)] =
    wanted match {
      case None => catalog.toSeq.sortBy(_._1)
      case Some(ns) =>
        val unknown = ns.filterNot(catalog.contains).distinct
        require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
        ns.distinct.map(n => n -> catalog(n))
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}
