package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column dtype conversion report entry. */
case class DtypeConversion(column: String, targetDtype: String, status: String, actualDtype: String)

case class ImputationInfo(
    column: String,
    nullCount: Long,
    method: String,
    mean: Option[Double] = None,
    std: Option[Double] = None,
    value: Option[String] = None,
    nullRatio: Double = 0.0,
    threshold: Double = 0.0)

case class DeletedColumn(column: String, nullRatio: Double, nullCount: Long, threshold: Double)

case class ValidationDrop(validations: Seq[String], rowsDropped: Long)

case class RelValReport(
    name: String,
    status: String,
    failedRows: Long = 0L,
    actionTaken: Option[String] = None,
    reason: Option[String] = None)

case class CleanReport(
    configVersion: Int,
    exactDuplicatesDropped: Long,
    dtypeConversions: Seq[DtypeConversion],
    columnsDeleted: Seq[DeletedColumn],
    columnsImputed: Map[String, ImputationInfo],
    validationRowsDropped: Map[String, ValidationDrop],
    relationshipValidations: Map[String, RelValReport],
    finalRows: Long,
    finalColumns: Seq[String])

/** `cached` is the persisted post-cast frame the output plan reads
  * through; it stays persisted so the CALLER's materialization of `df`
  * reuses the probes' work instead of recomputing the input
  * pipeline from source. Call [[release]] once `df` (or a frame
  * derived from it) has been materialized; batch mains that clear the
  * session cache between queries may skip it.
  */
case class CleanResult(df: DataFrame, report: CleanReport,
                       cached: Option[DataFrame] = None) {
  def release(): Unit = cached.foreach(_.unpersist(false))
}

/** Config-driven cleaning engine (reference: transform/data_cleaning.py
  * `clean_dataframe`, :300-443). Pipeline order matches the reference:
  *
  *  1. optional exact dedup;
  *  2. per column, in frame order: dtype cast (coerce-to-null), null
  *     ratio -> delete-or-impute, then row validations;
  *  3. drop deletion-marked columns;
  *  4. int finalization (banker's round -> nullable long, matching
  *     pandas `round().astype("Int64")`);
  *  5. relationship validations (high/low drop, vwap nullify);
  *  6. sort by [ticker, ts].
  *
  * Scale design: casts are applied in one projection. Step 2 splits
  * the columns into batches, each ending at a column that carries
  * validations (its *boundary*). A batch's null counts and imputation
  * stats must be taken over the rows the earlier boundaries kept, so
  * one conditional-aggregate *probe* computes them for every batch at
  * once, each conditioned on the earlier boundary masks. The probe
  * assumes each mask over the boundary's raw value, or over its static
  * fill (constant or unix epoch) where the rule has one. The output
  * plan is then built batch by batch from the probe's stats, since a
  * `randn` fill draws by row position in the partially filtered frame.
  * Two decisions make a mask differ from the one assumed: a stats fill
  * of a boundary, and the deletion of a boundary that has a static
  * fill. The walk stops after such a batch, and the next probe starts
  * after it. So a clean takes one scan plus one per such batch that is
  * not last; every row count comes from a probe or from the
  * relationship aggregate. Everything else is row-local expressions: a handful of
  * narrow stages, no collect of data rows, no per-row driver logic.
  *
  * Known divergence from the reference: `normal_distribution`
  * imputation uses a seeded `randn` (deterministic per run) instead of
  * numpy's unseeded global RNG — determinism is an improvement the
  * SURVEY calls out (§7.5).
  */
object Cleaner {

  /** Base seed of the `normal_distribution` draws; a column draws with
    * this plus its name's hash.
    */
  private val Seed = 42L

  /** `sort = false` skips step 6's (ticker, ts) range sort — ONLY for
    * callers that immediately re-shuffle or re-sort the frame (the
    * transform pipeline's phase-1 clean feeds entity-partitioned
    * windows, then phase 3 sorts the final output), where the
    * intermediate global sort is a pure throwaway exchange. Every
    * report field is order-insensitive, so the result differs only in
    * row order.
    *
    * `now` is the one instant `no_future_dates` compares against (the
    * reference evaluates `now()` once per validation). A literal, not
    * `current_timestamp()`: that is re-folded per action, so two probes
    * and the caller's write could disagree about a row stamped between
    * two of them.
    *
    * If the clean fails, the post-cast frame it persisted is released
    * before the failure is rethrown.
    */
  def clean(
      df: DataFrame,
      config: CleaningConfig = CleaningConfig.reference,
      thresholdOverride: Option[Double] = None,
      sort: Boolean = true,
      now: java.time.Instant = java.time.Instant.now()): CleanResult = {
    val cfg = config.withThreshold(thresholdOverride)
    val cols = df.columns.toSeq
    val rules = cols.map(c => c -> cfg.matchRule(c)).toMap

    // 1. Optional exact dedup (data_cleaning.py:342-350). The count
    // after it is the first probe's first total.
    var d = df
    var dupsDropped = 0L
    val beforeDedup = Option.when(cfg.removeDuplicates)(d.count())
    if (cfg.removeDuplicates) d = d.dropDuplicates()

    // 2a. Dtype conversions, one projection (row-local, so applying
    // them all up front is equivalent to the reference's per-column
    // interleave).
    val conversions = cols.map { c =>
      val rule = rules(c)
      val (colExpr, status) = castFor(col(c), d.schema(c).dataType, rule.dtype)
      (c, colExpr.as(c), DtypeConversion(c, rule.dtype, status, ""))
    }
    d = d.select(conversions.map(_._2): _*)
    // Every probe and the caller's materialization read the post-cast
    // frame: cache it so only the first probe reads the source.
    val castFrame = d.persist()
    try {
      val convReports = conversions.map { case (c, _, r) =>
        r.copy(actualDtype = d.schema(c).dataType.simpleString)
      }

      // 2b+2c. Null handling + row validations, batch by batch. A batch
      // runs up to and including the next validation-bearing column, or
      // to the last column; no column leaves `d` before step 3.
      val deleted = scala.collection.mutable.ArrayBuffer[DeletedColumn]()
      val imputed = scala.collection.mutable.LinkedHashMap[String, ImputationInfo]()
      val valDrops = scala.collection.mutable.LinkedHashMap[String, ValidationDrop]()
      val ends = cols.indices.filter(k => k == cols.length - 1 || rules(cols(k)).validations.nonEmpty)
      val batches = ends.zip(-1 +: ends).map { case (j, prev) => (cols.slice(prev + 1, j + 1), cols(j)) }

      // Rows after the last applied batch, once known; until then the
      // boundary whose filter dropped an unknown count, and the rows
      // before that filter.
      var rows = -1L
      var pendingDrop: Option[(String, Long)] = None
      def settle(total: Long): Unit = {
        pendingDrop.foreach { case (b, before) =>
          if (before > total) valDrops(b) = ValidationDrop(rules(b).validations, before - total)
        }
        pendingDrop = None
        rows = total
      }

      // Static fill (constant / unix_epoch), known without any stats.
      def staticFill(c: String): Option[Column] = {
        val dt = d.schema(c).dataType
        resolveStrategy(dt, rules(c)) match {
          case "unix_epoch" => Some(lit(new java.sql.Timestamp(0L)).cast(dt))
          case "constant" => Some(lit(rules(c).imputationValue.getOrElse("Unknown")).cast(dt))
          case _ => None
        }
      }

      var from = 0 // first batch not yet applied
      do {
        // One probe over the batches from `from` on: each batch's row
        // total, per-column null counts and numeric mean/std, conditioned
        // on the masks the probe assumes for the batches before it.
        val rest = batches.drop(from)
        val masks = rest.map { case (_, b) =>
          validationMask(d, b, rules(b).validations, now,
            valueExpr = Some(staticFill(b).fold(col(b))(coalesce(col(b), _))))
        }
        val conds = masks.scanLeft(lit(true))((cum, m) => m.fold(cum)(cum && _))
        val aggs = rest.zip(conds).zipWithIndex.flatMap { case (((bcols, _), cond), k) =>
          sum(cond.cast("long")).as(s"__t_$k") +: bcols.flatMap { c =>
            val nulls = sum((cond && col(c).isNull).cast("long")).as(s"__n_${k}_$c")
            d.schema(c).dataType match {
              case _: NumericType => Seq(nulls,
                avg(when(cond, col(c))).as(s"__m_${k}_$c"),
                stddev_samp(when(cond, col(c))).as(s"__s_${k}_$c"))
              case _ => Seq(nulls)
            }
          }
        } :+ sum(conds.last.cast("long")).as("__t_final")
        val probe = d.agg(aggs.head, aggs.tail: _*).collect()(0)
        def g(n: String): Long = Option(probe.getAs[java.lang.Long](n)).map(_.longValue).getOrElse(0L)
        def gd(n: String): Option[Double] =
          if (probe.schema.fieldNames.contains(n))
            Option(probe.getAs[java.lang.Double](n)).map(_.doubleValue)
          else None
        val totals = rest.indices.map(k => g(s"__t_$k")) :+ g("__t_final")
        if (from == 0) beforeDedup.foreach(n => dupsDropped = n - totals.head)
        settle(totals.head)

        // Walk the batches in order, deciding delete / impute per column
        // from the probe and applying each batch to the output plan,
        // until a boundary's applied mask differs from the one the probe
        // assumed.
        var k = 0
        var blocked = false
        while (!blocked && k < rest.length) {
          val (bcols, boundary) = rest(k)
          val fills = bcols.flatMap { c =>
            val nulls = g(s"__n_${k}_$c")
            val rule = rules(c)
            val ratio = if (totals(k) > 0) nulls.toDouble / totals(k) else 0.0
            if (nulls == 0) None
            else if (ratio > rule.nullThreshold && rule.allowColumnDeletion) {
              deleted += DeletedColumn(c, ratio, nulls, rule.nullThreshold)
              None
            } else {
              val (info, fill) = impute(d.schema(c).dataType, rule, c, nulls,
                gd(s"__m_${k}_$c"), gd(s"__s_${k}_$c"))
              imputed(c) = info.copy(nullRatio = ratio, threshold = rule.nullThreshold)
              fill.map(c -> _)
            }
          }
          // A boundary with nulls keeps the assumed mask iff it is filled
          // exactly when it has a static fill: a deleted boundary keeps
          // its raw mask (the reference validates even to-be-deleted
          // columns, data_cleaning.py:406-411).
          blocked = masks(k).isDefined && g(s"__n_${k}_$boundary") > 0 &&
            fills.exists(_._1 == boundary) != staticFill(boundary).isDefined
          // the batch's fills in one projection, then its boundary filter
          if (fills.nonEmpty) {
            val m = fills.toMap
            d = d.select(d.columns.map(c => m.getOrElse(c, col(c)).as(c)).toIndexedSeq: _*)
          }
          validationMask(d, boundary, rules(boundary).validations, now).foreach { keep =>
            d = d.filter(keep)
            if (blocked) pendingDrop = Some(boundary -> totals(k))
            else if (totals(k) > totals(k + 1))
              valDrops(boundary) = ValidationDrop(rules(boundary).validations, totals(k) - totals(k + 1))
          }
          k += 1
        }
        from += k
        if (!blocked) rows = totals.last
      } while (from < batches.length)

      // 3. Drop deletion-marked columns.
      if (deleted.nonEmpty) d = d.drop(deleted.map(_.column).toIndexedSeq: _*)

      // 4. Int finalization: pandas round() is banker's rounding -> bround.
      if (d.columns.exists(c => rules(c).dtype == "int")) {
        d = d.select(d.columns.map { c =>
          if (rules(c).dtype == "int") bround(col(c)).cast("long").as(c) else col(c)
        }.toIndexedSeq: _*)
      }

      // 5. Relationship validations. Their failure-count aggregate also
      // carries the post-boundary row count, which settles a blocked
      // last batch's drop count; without it, that count takes one job.
      val (d2, relReports, relTotal, relDropped) = Relationships.validate(d, cfg)
      relTotal.foreach(settle)
      if (pendingDrop.isDefined) settle(d.count())
      d = d2

      // 6. Sort by [ticker, ts] where present (data_cleaning.py:434-438).
      val sortCols = Seq("ticker", "ts").filter(d.columns.contains)
      if (sort && sortCols.nonEmpty) d = d.orderBy(sortCols.map(col): _*)

      // castFrame stays persisted: the caller's materialization of the
      // output reads through it (CleanResult.release / session cache
      // clears reclaim it).
      CleanResult(d, cached = Some(castFrame), report = CleanReport(
        configVersion = cfg.version,
        exactDuplicatesDropped = dupsDropped,
        dtypeConversions = convReports,
        columnsDeleted = deleted.toSeq,
        columnsImputed = imputed.toMap,
        validationRowsDropped = valDrops.toMap,
        relationshipValidations = relReports,
        finalRows = rows - relDropped,
        finalColumns = d.columns.toSeq))
    } catch {
      case e: Throwable =>
        castFrame.unpersist(false)
        throw e
    }
  }

  /** CSV entry point (reference pipeline_clean path,
    * data_cleaning.py:582-595): malformed lines skipped, leading
    * whitespace ignored, header + schema inference on.
    */
  def cleanCsv(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      config: CleaningConfig = CleaningConfig.reference,
      thresholdOverride: Option[Double] = None): CleanResult = {
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("mode", "DROPMALFORMED")
      .option("ignoreLeadingWhiteSpace", "true")
      .csv(path)
    clean(df, config, thresholdOverride)
  }

  /** Cast per rule dtype with pandas errors="coerce" semantics
    * (data_cleaning.py:125-168). Requires non-ANSI mode so failed casts
    * yield null.
    */
  private def castFor(c: Column, from: DataType, dtype: String): (Column, String) = dtype match {
    case "auto" => (c, "success")
    case "datetime" => from match {
      case _: TimestampType => (c, "success")
      case _: DateType => (c.cast(TimestampType), "success")
      case LongType => (c, "success") // driver testdata nanos-as-long passthrough
      case _ => (to_timestamp(c), "success")
    }
    case "float" => (c.cast(DoubleType), "success")
    case "int" => (c.cast(DoubleType), "success") // like pandas: float until finalization
    case "string" => (c.cast(StringType), "success")
    case other => (c, "skipped")
  }

  /** The `auto` dispatch of data_cleaning.py:218-232: concrete fill
    * strategy for a column's dtype.
    */
  private def resolveStrategy(dt: DataType, rule: ColumnRule): String =
    rule.imputationStrategy match {
      case "auto" => dt match {
        case _: TimestampType | _: DateType => "unix_epoch"
        case _: NumericType => "normal_distribution"
        case _ => "constant"
      }
      case s => s
    }

  /** Imputation report entry and fill expression per strategy
    * (data_cleaning.py:218-297); no fill where the strategy leaves the
    * nulls in place.
    */
  private def impute(
      dt: DataType,
      rule: ColumnRule,
      c: String,
      nulls: Long,
      mean: Option[Double],
      std: Option[Double]): (ImputationInfo, Option[Column]) =
    resolveStrategy(dt, rule) match {
      case "normal_distribution" if mean.isDefined =>
        val m = mean.get
        val s = std.filter(v => !v.isNaN && v != 0.0)
        val fill = s.fold(lit(m))(sd => lit(m) + lit(sd) * randn(Seed + c.hashCode))
        (ImputationInfo(c, nulls, "normal_distribution", mean = Some(m), std = Some(s.getOrElse(0.0))),
          Some(when(col(c).isNull, fill).otherwise(col(c))))
      case "none" | "normal_distribution" => (ImputationInfo(c, nulls, "none"), None)
      case "unix_epoch" =>
        (ImputationInfo(c, nulls, "unix_epoch", value = Some("1970-01-01 00:00:00+00:00")),
          Some(coalesce(col(c), lit(new java.sql.Timestamp(0L)).cast(dt))))
      case "constant" =>
        val v = rule.imputationValue.getOrElse("Unknown")
        (ImputationInfo(c, nulls, "constant", value = Some(v)), Some(coalesce(col(c), lit(v).cast(dt))))
      case other => (ImputationInfo(c, nulls, "skipped", value = Some(other)), None)
    }

  /** Conjunctive keep-mask for a column's validations
    * (data_cleaning.py:171-215). Null comparisons evaluate to null,
    * which `filter` drops — matching pandas NaN -> False masks.
    */
  private def validationMask(d: DataFrame, c: String, validations: Seq[String],
                             now: java.time.Instant,
                             valueExpr: Option[Column] = None): Option[Column] = {
    val v = valueExpr.getOrElse(col(c))
    val masks = validations.flatMap {
      case "positive" => Some(v > 0)
      case "non_negative" => Some(v >= 0)
      case "no_future_dates" => d.schema(c).dataType match {
        case _: TimestampType | _: DateType => Some(v <= lit(now))
        case _ => None
      }
      case _ => None // unknown validation: warn-and-skip in reference
    }
    masks.reduceOption(_ && _)
  }
}

/** Cross-column relationship validations (data_cleaning.py:446-540). */
object Relationships {

  /** Returns the validated frame, reports, the pre-filter row count
    * (piggybacked on the failure-count aggregate — None when no check
    * applies, so callers can skip their own count job), and the number
    * of rows the drop-action checks removed.
    */
  def validate(df: DataFrame, cfg: CleaningConfig)
      : (DataFrame, Map[String, RelValReport], Option[Long], Long) = {
    var d = df
    val reports = scala.collection.mutable.LinkedHashMap[String, RelValReport]()

    // pandas row-wise max/min skip NaN, as greatest/least do.
    def highLowValid = (col("high") >= greatest(col("open"), col("close"))) &&
      (col("low") <= least(col("open"), col("close")))
    def vwapBad = col("vwap").isNotNull &&
      coalesce((col("vwap") < col("low")) || (col("vwap") > col("high")), lit(false))

    // One aggregate computes every applicable check's failure count.
    val applicable = cfg.relationshipValidations.filter { rv =>
      rv.requiredColumns.forall(d.columns.contains) &&
        Set("high_low_relationship", "vwap_in_range").contains(rv.checkType)
    }
    // The reference applies checks sequentially, so a later check only
    // sees rows earlier drop-checks kept — condition each count on the
    // conjunction of prior keep-masks to report identical numbers.
    val (failCounts: Map[String, Long], preTotal: Option[Long]) =
      if (applicable.isEmpty) (Map.empty[String, Long], None)
      else {
        var priorKeep: Column = lit(true)
        val aggExprs = applicable.map { rv =>
          val failExpr = rv.checkType match {
            case "high_low_relationship" => !coalesce(highLowValid, lit(false))
            case "vwap_in_range" => vwapBad
          }
          val conditioned = failExpr && priorKeep
          if (rv.checkType == "high_low_relationship" && rv.actionOnFailure == "drop_rows") {
            priorKeep = priorKeep && coalesce(highLowValid, lit(false))
          }
          sum(conditioned.cast("long")).as(rv.name)
        } :+ count(lit(1)).as("__rel_total")
        val row = d.agg(aggExprs.head, aggExprs.tail: _*).collect()(0)
        (applicable.map(rv => rv.name ->
          Option(row.getAs[java.lang.Long](rv.name)).map(_.longValue).getOrElse(0L)).toMap,
          Some(row.getAs[Long]("__rel_total")))
      }

    cfg.relationshipValidations.foreach { rv =>
      val missing = rv.requiredColumns.filterNot(d.columns.contains)
      if (missing.nonEmpty) {
        reports(rv.name) = RelValReport(rv.name, "skipped",
          reason = Some(s"Missing columns: ${missing.mkString("[", ", ", "]")}"))
      } else rv.checkType match {
        case "high_low_relationship" =>
          val failed = failCounts(rv.name)
          if (failed > 0) {
            if (rv.actionOnFailure == "drop_rows") d = d.filter(highLowValid)
            reports(rv.name) = RelValReport(rv.name, "failed", failed,
              actionTaken = if (rv.actionOnFailure == "drop_rows") Some("dropped_rows") else None)
          } else reports(rv.name) = RelValReport(rv.name, "passed")
        case "vwap_in_range" =>
          if (d.columns.contains("vwap")) {
            val failed = failCounts(rv.name)
            if (failed > 0) {
              if (rv.actionOnFailure == "set_null") {
                d = d.withColumn("vwap", when(vwapBad, lit(null).cast(d.schema("vwap").dataType))
                  .otherwise(col("vwap")))
              }
              reports(rv.name) = RelValReport(rv.name, "failed", failed,
                actionTaken = if (rv.actionOnFailure == "set_null") Some("set_to_null") else None)
            } else reports(rv.name) = RelValReport(rv.name, "passed")
          }
        case other =>
          reports(rv.name) = RelValReport(rv.name, "skipped",
            reason = Some(s"Unknown check type: $other"))
      }
    }
    val dropped = applicable.collect {
      case rv if rv.checkType == "high_low_relationship"
        && rv.actionOnFailure == "drop_rows" => failCounts(rv.name)
    }.sum
    (d, reports.toMap, preTotal, dropped)
  }
}
