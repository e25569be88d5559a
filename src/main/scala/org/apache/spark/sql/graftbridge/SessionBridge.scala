package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution

/** Bridge to Spark's private[sql] session cloning, plan rebinding and
  * thread-local capture, for run-scoped sessions (see
  * [[graft.core.RunSession]]).
  */
object SessionBridge {

  /** A new session that shares `spark`'s SparkContext, cache and
    * listeners, and starts from a copy of its conf, catalog and
    * registered functions. Conf changes on the copy never reach `spark`.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s logical plan as a frame of `spark`: planned, compiled and
    * executed under `spark`'s conf. Persisted inputs stay shared, since
    * both sessions read one cache.
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** `body` on the calling thread with `spark` as the active session. */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)

  /** `body` on `exec` with the calling thread's Spark thread-locals:
    * `spark` as the active session (and so its SQL conf), and the
    * caller's local properties (job group, description, scheduler
    * pool) and artifact state. The worker's own are restored after.
    */
  def withThreadLocalCaptured[T](spark: SparkSession, exec: ExecutorService)(body: => T)
      : CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], exec)(body)
}
