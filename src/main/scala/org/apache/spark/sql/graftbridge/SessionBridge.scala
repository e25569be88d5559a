package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}

/** Bridge to Spark's private[sql] session cloning and plan rebinding,
  * for run-scoped sessions (see [[graft.core.RunSession]]).
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
}
