package graft

import scala.util.Success

import org.apache.spark.sql.functions.{col, udf}

class HarnessSpec extends SparkSpec {

  test("parseConf skips empty tokens and keeps a value's own '='") {
    assert(Harness.parseConf("a=1;;b=x=y; ;") == Seq("a" -> "1", "b" -> "x=y"))
    assert(Harness.parseConf("") == Seq.empty)
    assert(Harness.parseConf("spark.sql.files.maxPartitionBytes=1m") ==
      Seq("spark.sql.files.maxPartitionBytes" -> "1m"))
  }

  test("parseConf fails on a token with no '=', naming the token") {
    val e = intercept[IllegalArgumentException](Harness.parseConf("a=1;oops;b=2"))
    assert(e.getMessage.contains("'oops'"))
    assert(e.getMessage.contains(Harness.extraConfEnv))
  }

  test("select: all entries by name, or the wanted ones in their order") {
    val catalog = Map("b" -> 2, "a" -> 1, "c" -> 3)
    assert(Harness.select(catalog, None) == Seq("a" -> 1, "b" -> 2, "c" -> 3))
    assert(Harness.select(catalog, Some(Harness.names("c, a,,c"))) == Seq("c" -> 3, "a" -> 1))
  }

  test("select fails on unknown names and lists every one") {
    val e = intercept[IllegalArgumentException](
      Harness.select(Map("w_sma" -> 1), Some(Seq("w_sma", "w_smaa", "nope"))))
    assert(e.getMessage.contains("w_smaa, nope"))
  }

  test("median of odd and even lengths") {
    assert(Harness.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Harness.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Harness.median(Seq(7.0)) == 7.0)
  }

  test("withTimeout cancels each timed-out call's jobs, call after call") {
    val sc = spark.sparkContext
    val sleepy = udf { (x: Long) => HarnessSpec.started.incrementAndGet(); Thread.sleep(30000); x }
    def query = spark.range(0, 1, 1, 1).select(sleepy(col("id")))
    def noActiveJob: Boolean = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      def active = {
        org.apache.spark.graftbridge.StorageBridge.drainListeners(sc)
        sc.statusTracker.getActiveJobIds.nonEmpty
      }
      while (active && System.nanoTime() < deadline) Thread.sleep(100)
      !active
    }
    // planned once, so each timed call's job starts well inside its timeout
    query.queryExecution.executedPlan
    (1 to 2).foreach { i =>
      val before = HarnessSpec.started.get
      val out = Harness.withTimeout(spark, 3, s"sleepy $i")(Harness.noop(query))
      assert(out.isEmpty, s"call $i must time out")
      assert(HarnessSpec.started.get > before, s"call $i's job never started")
      assert(noActiveJob, s"call $i's job still runs after its timeout")
    }
    // a call that finishes in time returns its value
    assert(Harness.withTimeout(spark, 60, "quick")(spark.range(3).count()) ==
      Some(Success(3L)))
  }
}

object HarnessSpec {
  /** Sleeping UDF calls begun, in this JVM (local mode runs tasks here). */
  val started = new java.util.concurrent.atomic.AtomicInteger
}
