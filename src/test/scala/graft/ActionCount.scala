package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.StorageBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** SQL executions (actions) run, the `spark.jobGroup.id` of each
  * Spark job submitted (None for a job outside any group), in start
  * order, and the most jobs that were running at once.
  */
final case class ActionCount(executions: Int, jobGroups: Seq[Option[String]], peakJobs: Int) {
  def jobs: Int = jobGroups.size
}

object ActionCount {

  /** Runs `f` and counts what it submits. Jobs are counted on the whole
    * context; executions through `spark`'s listener manager, which the
    * sessions cloned from `spark` while `f` runs inherit.
    */
  def of[A](spark: SparkSession)(f: => A): (A, ActionCount) = {
    val jobGroups = new ConcurrentLinkedQueue[Option[String]]
    val executions = new AtomicInteger
    // the listener bus delivers job events one at a time, in order
    var running, peak = 0
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobGroups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
        running += 1
        peak = peak max running
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = running -= 1
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
      (result, ActionCount(executions.get, jobGroups.asScala.toSeq, peak))
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(executionListener)
    }
  }
}
