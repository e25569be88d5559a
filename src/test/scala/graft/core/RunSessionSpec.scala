package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

import graft.SparkSpec

/** [[RunSession.parMap]]: order, thread-locals, failures, inline runs. */
class RunSessionSpec extends SparkSpec {

  private val group = "graft-run-session-spec"

  private def inGroup[A](f: => A): A = {
    spark.sparkContext.setJobGroup(group, "parMap spec", interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }

  test("parMap returns results in input order") {
    // later items finish first
    val out = RunSession.parMap(spark, 1 to 6) { i => Thread.sleep((7 - i) * 20L); i * 10 }
    assert(out == (1 to 6).map(_ * 10))
  }

  test("parMap tasks run in the run session, with its confs and the caller's job group") {
    val run = RunSession.interpreted(spark)
    val seen = inGroup(RunSession.parMap(run, Seq(1, 2, 3)) { i =>
      val conf = SQLConf.get
      (SparkSession.active eq run,
        conf.wholeStageEnabled, conf.adaptiveExecutionEnabled,
        conf.getConfString(SQLConf.CODEGEN_FACTORY_MODE.key),
        spark.sparkContext.getLocalProperty("spark.jobGroup.id"),
        run.range(i).count())
    })
    assert(seen == Seq(1, 2, 3).map(i => (true, false, false, "NO_CODEGEN", group, i.toLong)))
    // the caller's own thread-locals are untouched
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
    assert(SparkSession.active eq spark)
  }

  test("parMap runs at most maxParallel items at once") {
    val running, peak = new AtomicInteger
    val n = RunSession.maxParallel * 3
    val out = RunSession.parMap(spark, 0 until n) { i =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      try { Thread.sleep(20); i } finally running.decrementAndGet()
    }
    assert(out == (0 until n))
    assert(peak.get > 1 && peak.get <= RunSession.maxParallel, s"peak ${peak.get}")
  }

  test("parMap rethrows the first failure in input order, after every task has finished") {
    val finished = new AtomicInteger
    val ex = intercept[IllegalStateException] {
      RunSession.parMap(spark, 0 until 4) { i =>
        try {
          // item 3 fails at once, item 1 later; item 2 finishes last
          Thread.sleep(Seq(0L, 100L, 300L, 0L)(i))
          if (i == 1 || i == 3) throw new IllegalStateException(s"item $i")
          i
        } finally finished.incrementAndGet()
      }
    }
    assert(ex.getMessage == "item 1")
    assert(finished.get == 4)
  }

  test("parMap runs a one-item input on the calling thread, in the given session") {
    val run = RunSession.interpreted(spark)
    val caller = Thread.currentThread()
    assert(RunSession.parMap(run, Seq(1))(_ => (Thread.currentThread(), SparkSession.active)) ==
      Seq((caller, run)))
    assert(SparkSession.active eq spark)
    assert(RunSession.parMap(spark, Seq.empty[Int])(identity).isEmpty)
  }
}
