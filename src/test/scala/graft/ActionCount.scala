package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark jobs submitted and SQL executions (actions) run. */
final case class ActionCount(jobs: Int, executions: Int)

object ActionCount {

  /** Runs `f` and counts what it submits. Jobs are counted on the whole
    * context; executions through `spark`'s listener manager, which the
    * sessions cloned from `spark` while `f` runs inherit.
    */
  def of[A](spark: SparkSession)(f: => A): (A, ActionCount) = {
    val jobs = new AtomicInteger
    val executions = new AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val executionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    val sc = spark.sparkContext
    StorageBridge.drainListeners(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(executionListener)
    try {
      val result = f
      StorageBridge.drainListeners(sc)
      (result, ActionCount(jobs.get, executions.get))
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(executionListener)
    }
  }
}
