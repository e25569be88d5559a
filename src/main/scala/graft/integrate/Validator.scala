package graft.integrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit}

/** Full validator-stage report (reference: validator.py:241-250,419-444
  * — the JSON-serializable run contract).
  */
case class ValidatorReport(
    inputCount: Int,
    inputShapes: Seq[(Long, Int)],
    unionOperations: Seq[UnionOp],
    stage1Operations: Seq[JoinOp],
    stage2Operations: Seq[JoinOp],
    earlyTermination: Boolean,
    stage2Skipped: Boolean,
    outputCount: Int,
    outputShapes: Seq[(Long, Int)])

/** Top-level validator orchestrator (reference:
  * validator/validator.py:199-444): input validation -> UNION stage ->
  * early termination -> JOIN stage 1 (best partner) -> skip-check ->
  * JOIN stage 2 (first fit) -> `_x`/`_y` version split -> report.
  *
  * The driver-side control flow over <= maxDataframes frames is kept
  * verbatim (it is orchestration, not dataflow); every distributed
  * operation inside it is the engines' scale-safe Spark work. The
  * shape counts in the report are the only extra actions, mirroring
  * the reference's `df.shape` logging: one job per frame list.
  */
class Validator(config: ValidatorConfig = ValidatorConfig.balanced) {

  val unionEngine = new UnionEngine(config)
  val joinEngine = new JoinEngine(config)

  /** J10: any frame carrying both `_x` and `_y` columns splits into two
    * versions — one keeping the `_x` side, one the `_y` side, each
    * renamed to the base names; frames without the suffix pair pass
    * through (validator.py:107-197).
    */
  def createVersions(dataframes: Seq[DataFrame]): Seq[DataFrame] =
    dataframes.flatMap { df =>
      val xCols = df.columns.filter(_.endsWith("_x"))
      val yCols = df.columns.filter(_.endsWith("_y"))
      if (xCols.nonEmpty && yCols.nonEmpty) {
        def version(keep: Array[String], dropCols: Array[String]): DataFrame = {
          val dropped = df.drop(dropCols: _*)
          keep.foldLeft(dropped)((d, c) => d.withColumnRenamed(c, c.dropRight(2)))
        }
        Seq(version(xCols, yCols), version(yCols, xCols))
      } else Seq(df)
    }

  /** The full pipeline. Throws on empty input / too many frames /
    * an empty frame, like the reference's `_validate_input`
    * (validator.py:85-105).
    */
  def process(dataframes: Seq[DataFrame]): (Seq[DataFrame], ValidatorReport) = {
    require(dataframes.nonEmpty, "Input dataframe list is empty")
    require(dataframes.size <= config.maxDataframes,
      s"Too many dataframes: ${dataframes.size} (max: ${config.maxDataframes})")
    val inputShapes = shapes(dataframes)
    inputShapes.zipWithIndex.foreach { case ((rows, _), i) =>
      require(rows > 0, s"DataFrame $i is empty")
    }

    // UNION stage (U1-U7)
    val (unioned, unionOps) = unionEngine.process(dataframes)

    // Early termination: everything collapsed into one group
    if (unioned.size == 1) {
      val outputs = createVersions(unioned)
      return (outputs, ValidatorReport(
        dataframes.size, inputShapes, unionOps, Nil, Nil,
        earlyTermination = true, stage2Skipped = false,
        outputs.size, shapes(outputs)))
    }

    // JOIN stage: denominator fixed across both stages (validator.py:324)
    val denominator = shapes(unioned).map(_._1).min
    val (stage1Dfs, stage1Ops, stage1Success) = joinEngine.stage1(unioned, denominator)

    if (!stage1Success) {
      val outputs = createVersions(stage1Dfs)
      return (outputs, ValidatorReport(
        dataframes.size, inputShapes, unionOps, stage1Ops, Nil,
        earlyTermination = false, stage2Skipped = true,
        outputs.size, shapes(outputs)))
    }

    val (finalDfs, stage2Ops) = joinEngine.stage2(stage1Dfs, denominator)
    val outputs = createVersions(finalDfs)
    (outputs, ValidatorReport(
      dataframes.size, inputShapes, unionOps, stage1Ops, stage2Ops,
      earlyTermination = false, stage2Skipped = false,
      outputs.size, shapes(outputs)))
  }

  /** (rows, columns) of every frame, in order, from one grouped count
    * over the index-tagged union of the frames — one job instead of one
    * per frame. A frame without rows has no group and reads as 0.
    */
  private def shapes(frames: Seq[DataFrame]): Seq[(Long, Int)] = {
    val tagged = frames.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("__frame"))
    }
    val rows = tagged.reduce(_ union _).groupBy("__frame").agg(count(lit(1)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    frames.zipWithIndex.map { case (df, i) => (rows.getOrElse(i, 0L), df.columns.length) }
  }
}
