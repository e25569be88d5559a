package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval of an operation, in milliseconds since the
  * tracer's epoch. `parent` is the enclosing span's id (0 = the op).
  */
final case class Span(id: Int, parent: Int, layer: String, startMs: Double, endMs: Double)

/** Counters the Spark listeners accumulate for one operation. */
final class OpCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var queries = 0
  /** (jobId, startMs, endMs) of each job the operation ran. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Double, Double)]
}

/** Per-operation tracer for the traced run. Spark jobs are attributed
  * to the operation through the job group the harness sets on the
  * calling thread; task metrics follow their stage's job; query
  * planning phases come from each action's `QueryPlanningTracker`. All
  * spans and counters stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  def nowMs(ns: Long): Double = (ns - epochNs) / 1e6
  private def wallMs(epochMillis: Long): Double = epochMillis - epochMs

  private val byGroup = new ConcurrentHashMap[String, OpCounters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Double)]()
  @volatile private var current: Option[String] = None

  def begin(group: String): OpCounters = {
    val c = new OpCounters
    byGroup.put(group, c)
    current = Some(group)
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    c
  }

  /** Closes the operation: waits until every event it caused has been
    * delivered, then detaches the job group.
    */
  def end(group: String): OpCounters = {
    org.apache.spark.graftbench.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.clearJobGroup()
    current = None
    byGroup.remove(group)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.graftbench.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def counters(group: String): Option[OpCounters] =
    Option(group).flatMap(g => Option(byGroup.get(g)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    counters(group).foreach { c =>
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(s => stageGroup.put(s, group))
      jobStart.put(e.jobId, (group, wallMs(e.time)))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (group, start) =>
      counters(group).foreach(c => c.synchronized(c.jobSpans += ((e.jobId, start, wallMs(e.time)))))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageGroup.get(e.stageInfo.stageId)).foreach(c => c.synchronized(c.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    counters(stageGroup.get(e.stageId)).foreach { c =>
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskBusyMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Query-execution events carry no job group; they are delivered
    * before `end` drains the bus, so the open operation owns them.
    */
  private def record(qe: QueryExecution): Unit =
    current.flatMap(counters).foreach { c =>
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      c.synchronized {
        c.queries += 1
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
}

object Tracer {
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

}
