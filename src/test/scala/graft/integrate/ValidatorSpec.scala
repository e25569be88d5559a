package graft.integrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.{ActionCount, SparkSpec}

class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private val validator = new Validator(ValidatorConfig.balanced)

  test("createVersions splits _x/_y frames and passes others through") {
    val joined = Seq((1L, 10.0, 20.0, "k")).toDF("id", "v_x", "v_y", "tag")
    val plain = Seq((2L, 5.0)).toDF("id", "v")
    val out = validator.createVersions(Seq(joined, plain))
    assert(out.size == 3)
    assert(out(0).columns.toSeq == Seq("id", "v", "tag")) // _x version
    assert(out(0).collect()(0).getDouble(1) == 10.0)
    assert(out(1).collect()(0).getDouble(1) == 20.0) // _y version
    assert(out(2).columns.toSeq == Seq("id", "v"))
  }

  test("process early-terminates when union collapses to one group") {
    val f1 = Seq((1L, 1.0), (2L, 2.0)).toDF("key", "value")
    val f2 = Seq((3L, 3.0)).toDF("keys", "values") // fuzzy-compatible
    val (out, report) = validator.process(Seq(f1, f2))
    assert(report.earlyTermination)
    assert(!report.stage2Skipped)
    assert(out.size == 1)
    assert(out.head.count() == 3)
    assert(report.unionOperations.nonEmpty)
    assert(report.outputShapes == Seq((3L, 2)))
  }

  test("process runs the join path when union cannot collapse") {
    // dissimilar column names (union rejects) but near-constant frames
    // whose pair vectors stay close through grand-mean padding (join
    // accepts): x1 mean == constant columns == grand mean == 2
    val f1 = Seq((1.0, 2.0, 2.0), (2.0, 2.0, 2.0), (3.0, 2.0, 2.0)).toDF("x1", "p", "r")
    val f2 = Seq((1.0, 2.0, 2.0), (2.0, 2.0, 2.0), (3.0, 2.0, 2.0)).toDF("y1", "q", "s")
    val (out, report) = validator.process(Seq(f1, f2))
    assert(!report.earlyTermination)
    assert(report.stage1Operations.nonEmpty)
    // compatible join, no shared names -> no version split
    assert(out.size == 1)
    assert(out.head.columns.toSet == Set("x1", "p", "r", "y1", "q", "s"))
  }

  test("stage2 first-fit joins stage-1 outputs (J9)") {
    val engine = new JoinEngine(ValidatorConfig.balanced)
    val a = Seq((1.0, 2.0), (2.0, 2.0), (3.0, 2.0)).toDF("u", "v")
    val b = Seq((1.0, 2.0), (2.0, 2.0), (3.0, 2.0)).toDF("w", "z")
    val (outputs, ops) = engine.stage2(Seq(a, b), denominator = 3L)
    assert(ops.nonEmpty)
    assert(ops.head.dataframes == Seq(0, 1))
    assert(ops.head.compatible)
    assert(outputs.size == 1)
    assert(outputs.head.columns.toSet == Set("u", "v", "w", "z"))
  }

  test("stage2 leaves incompatible frames untouched") {
    val engine = new JoinEngine(ValidatorConfig.balanced)
    val a = Seq((1.0, 2.0), (3.0, 4.0)).toDF("u", "v")
    val b = Seq((-5000.0, 0.001), (9999.0, -3.0)).toDF("w", "z")
    val (outputs, ops) = engine.stage2(Seq(a, b), denominator = 2L)
    val okCount = ops.count(_.compatible)
    assert(outputs.size == 2 - okCount)
  }

  test("five frames: union group + join pair + loner flow through both stages") {
    // f1+f2 union (identical schemas); f3+f4 join (disjoint names,
    // near-constant vectors); f5 text-only loner passes through
    // all-negative, large-magnitude values: sign agreement 0 and no
    // close pairs against the positive join frames, so the union group
    // can never pass the join threshold against f3/f4
    val f1 = Seq((-1000L, -4000.0), (-2000L, -3000.0)).toDF("key", "value")
    val f2 = Seq((-3000L, -2000.0), (-4000L, -1000.0)).toDF("key", "value")
    val f3 = Seq((1.0, 2.0, 2.0), (2.0, 2.0, 2.0), (3.0, 2.0, 2.0)).toDF("x1", "p", "r")
    val f4 = Seq((1.0, 2.0, 2.0), (2.0, 2.0, 2.0), (3.0, 2.0, 2.0)).toDF("y1", "q", "s")
    val f5 = Seq(Tuple1("text only")).toDF("note")
    val tolerant = new Validator(ValidatorConfig.balanced) {
      override val joinEngine: JoinEngine = new JoinEngine(ValidatorConfig.balanced) {
        override def checkCompatibility(df1: org.apache.spark.sql.DataFrame,
            df2: org.apache.spark.sql.DataFrame, denominator: Long)
            : (Boolean, Double, Option[org.apache.spark.sql.DataFrame]) =
          try super.checkCompatibility(df1, df2, denominator)
          catch { case _: IllegalArgumentException => (false, 0.0, None) }
      }
    }
    val (out, report) = tolerant.process(Seq(f1, f2, f3, f4, f5))
    assert(!report.earlyTermination)
    assert(report.unionOperations.nonEmpty)       // f1+f2 absorbed
    assert(report.stage1Operations.exists(_.compatible)) // f3+f4 joined
    // outputs: union(f1,f2), join(f3,f4), f5
    assert(out.size == 3)
    assert(out.exists(_.columns.toSet == Set("key", "value")))
    assert(out.exists(_.columns.toSet == Set("x1", "p", "r", "y1", "q", "s")))
    assert(out.exists(_.columns.toSeq == Seq("note")))
    assert(out.find(_.columns.toSet == Set("key", "value")).get.count() == 4)
  }

  test("process rejects empty input and oversize batches") {
    intercept[IllegalArgumentException](validator.process(Nil))
    val one = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException](validator.process(Seq.fill(11)(one)))
  }

  test("shapes come from one grouped count per frame list") {
    val f1 = Seq((1L, 1.0, 2.0), (2L, 1.5, 2.5), (3L, 2.0, 3.0)).toDF("id", "v_x", "v_y")
    val f2 = Seq((4L, 1.0, 2.0), (5L, 1.2, 2.2)).toDF("id", "v_x", "v_y")
    val f3 = spark.range(6, 10).select(col("id"),
      (col("id") * 0.5).as("v_x"), (col("id") * 0.7).as("v_y"))
    val inputs = Seq(f1, f2, f3)
    val (out, report) = validator.process(inputs)
    assert(out.size == 2) // one union group, split into its _x/_y versions
    def counted(dfs: Seq[DataFrame]) = dfs.map(df => (df.count(), df.columns.length))
    assert(report.inputShapes == Seq((3L, 3), (2L, 3), (4L, 3)))
    assert(report.inputShapes == counted(inputs))
    assert(report.outputShapes == Seq((9L, 2), (9L, 2)))
    assert(report.outputShapes == counted(out))

    // an empty frame is still named, after one action for all three
    val empty = f2.filter(lit(false))
    val (e, count) = ActionCount.of(spark)(
      intercept[IllegalArgumentException](validator.process(Seq(f1, f3, empty))))
    assert(e.getMessage.contains("DataFrame 2 is empty"))
    assert(count.executions == 1)
  }
}
