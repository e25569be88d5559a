package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.internal.SQLConf

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
    */
  private val runConf = Seq(
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN",
    SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key -> "false",
    SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false",
    SQLConf.SHUFFLE_PARTITIONS.key -> "1")

  /** Interpreted run session -> the session it was cloned from. Weak
    * keys: an entry lives as long as some frame of the run does.
    */
  private val callers = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** A clone of `spark` with every conf the caller set, code generation
    * and adaptive execution off and one shuffle partition, sharing its
    * SparkContext and cache.
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
}
