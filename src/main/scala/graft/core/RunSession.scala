package graft.core

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.internal.SQLConf

import graft.integrate.ValidatorConfig

/** Run-scoped sessions that execute without code generation and
  * plan every action as a single Spark job.
  *
  * A pipeline run handles at most a few hundred rows per provider
  * response, but its plans need 150-300 generated classes, more than
  * Spark's generated-class cache holds, and inline per-run literals
  * (imputation means, window sizes) change the code besides — so every
  * run recompiled them and Janino took about a third of its wall time.
  * Interpreted, a run compiles nothing but its pair scoring (see
  * [[compiled]]). Adaptive execution splits an action with k exchanges
  * into k+1 jobs and re-optimizes between them; on frames derived from
  * at most `maxDataframes` driver-held payloads those stage barriers
  * cost far more than the work. [[Pipeline.run]] therefore works in a
  * clone of the caller's session with both code generation paths and
  * adaptive execution off. The caller's session is never mutated: the
  * API service runs pipelines concurrently on one session.
  *
  * A run's frames are independent within a stage, and one frame's
  * actions leave the cores idle: [[parMap]] runs the per-frame work of
  * a stage side by side.
  */
object RunSession {

  /** Code generation off. Artifact isolation off too: an isolated
    * session runs its tasks under a class loader of its own, and Spark
    * caches the classes it still generates (sort orderings, row
    * joiners, cached-column readers) per class loader — so every new
    * run session would compile them again. A run session adds no
    * artifacts, so it loses nothing by sharing the default loader.
    *
    * Adaptive execution off, on one shuffle partition: without AQE the
    * caller's partition count (200 by default) would apply to every
    * exchange of a run's few hundred rows, and one partition also
    * spares a global sort its range-sampling job.
    *
    * ANSI off and a UTC session time zone, whatever the caller runs
    * with: cleaning follows pandas' coerce-to-null casts, and the
    * parsers turn epoch instants into UTC dates.
    */
  private val runConf = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN",
    SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false",
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
    SQLConf.SHUFFLE_PARTITIONS.key -> "1",
    SQLConf.ANSI_ENABLED.key -> "false",
    SQLConf.SESSION_LOCAL_TIMEZONE.key -> "UTC")

  /** Interpreted run session -> the session it was cloned from. Weak
    * keys: an entry lives as long as some frame of the run does.
    */
  private val callers = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** A clone of `spark` with every conf the caller set, then
    * [[runConf]] over them, sharing its SparkContext and cache.
    */
  def interpreted(spark: SparkSession): SparkSession = {
    // a session fixes its artifact isolation while it is cloned, from
    // the conf it starts with: set the conf on a first clone, then run
    // in a clone of that
    val base = SessionBridge.cloneSession(spark)
    runConf.foreach { case (k, v) => base.conf.set(k, v) }
    val run = SessionBridge.cloneSession(base)
    callers.put(run, Option(callers.get(spark)).getOrElse(spark))
    run
  }

  /** `df` planned in the session its run session was cloned from, so
    * it executes with code generation, adaptive execution and the
    * caller's parallelism; any other frame is returned as is. For pair
    * scoring, whose work grows with the pair count.
    */
  def compiled(df: DataFrame): DataFrame =
    Option(callers.get(df.sparkSession)).fold(df)(SessionBridge.rebind(df, _))

  /** The most tasks one [[parMap]] call runs at once: the validator's
    * `maxDataframes`, the most frames a run carries past validation. A
    * plan may list more requests than that, and every request's parse
    * plans and runs Spark jobs, so ingest is held to the same width.
    */
  val maxParallel: Int = ValidatorConfig.balanced.maxDataframes

  /** Daemon threads made on demand, with no cap: a task that itself
    * calls [[parMap]] can never wait for a thread that waits on it.
    * Each call adds at most `maxParallel - 1` threads. Idle threads
    * exit after a minute.
    */
  private val pool = {
    val ids = new AtomicInteger
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-run-${ids.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** `items.map(f)`, with up to [[maxParallel]] items' `f` running at
    * the same time.
    *
    * The calling thread and up to `maxParallel - 1` pool threads each
    * take the next item until none is left. Every task runs with the
    * calling thread's Spark thread-locals and `session` as its active
    * session, so it plans under that session's conf and its jobs carry
    * the caller's job group, description and scheduler pool. A one-item
    * input thus runs on the calling thread. Results come back in input
    * order. The call returns once every task has finished, and then
    * rethrows the first failure in input order, so no job outlives it.
    * `f` must not touch state shared between items; the caller updates
    * such state from the results.
    */
  def parMap[A, B](session: SparkSession, items: Seq[A])(f: A => B): Seq[B] = {
    val in = items.toVector
    val out = new Array[Try[B]](in.size)
    val next = new AtomicInteger
    // never throws a non-fatal error, so a worker's thread-locals are restored
    def work(): Unit = {
      var i = next.getAndIncrement()
      while (i < in.size) {
        out(i) = Try(f(in(i)))
        i = next.getAndIncrement()
      }
    }
    val helpers = Vector.fill(math.min(in.size, maxParallel) - 1) {
      SessionBridge.withThreadLocalCaptured(session, pool)(work())
    }
    try SessionBridge.withActive(session)(work())
    finally helpers.foreach(h => Try(h.join()))
    // a helper that died of a fatal error left its item unset
    helpers.foreach(_.join())
    out.toSeq.map(_.get)
  }
}
