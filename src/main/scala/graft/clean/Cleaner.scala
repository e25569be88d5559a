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
  * reuses the stats passes' work instead of recomputing the input
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
  * Scale design: casts are applied in one projection; per-column null
  * counts and imputation stats are computed by one conditional
  * aggregate probe rather than one job per column. Only a stats-
  * dependent fill on a validation-bearing column forces one pass per
  * *validation boundary* (V+1 scans for V such columns). Everything
  * else is row-local expressions, so the whole clean is a handful of
  * narrow stages that survive a 100x scale-up (no collect of data
  * rows, no per-row driver logic).
  *
  * Known divergence from the reference: `normal_distribution`
  * imputation uses a seeded `randn` (deterministic per run) instead of
  * numpy's unseeded global RNG — determinism is an improvement the
  * SURVEY calls out (§7.5).
  */
object Cleaner {

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
    * `current_timestamp()`: that is re-folded per action, so the stats
    * probe, the final count and the caller's write could disagree
    * about a row stamped between two of them.
    */
  def clean(
      df: DataFrame,
      config: CleaningConfig = CleaningConfig.reference,
      thresholdOverride: Option[Double] = None,
      seed: Long = 42L,
      sort: Boolean = true,
      now: java.time.Instant = java.time.Instant.now()): CleanResult = {
    val cfg = config.withThreshold(thresholdOverride)
    val rules = df.columns.map(c => c -> cfg.matchRule(c)).toMap

    // 1. Optional exact dedup (data_cleaning.py:342-350)
    var d = df
    var dupsDropped = 0L
    if (cfg.removeDuplicates) {
      val before = d.count()
      d = d.dropDuplicates()
      dupsDropped = before - d.count()
    }

    // 2a. Dtype conversions, one projection (row-local, so applying
    // them all up front is equivalent to the reference's per-column
    // interleave).
    val conversions = df.columns.map { c =>
      val rule = rules(c)
      val (colExpr, status) = castFor(col(c), d.schema(c).dataType, rule.dtype)
      (c, colExpr.as(c), DtypeConversion(c, rule.dtype, status, ""))
    }
    d = d.select(conversions.map(_._2).toIndexedSeq: _*)
    // The post-cast frame feeds the stats probe (or every per-boundary
    // stats pass) plus the final count — cache it so only the first
    // pass reads the source (VERDICT r2 §wrong-5).
    val castFrame = d.persist()
    val convReports = conversions.map { case (c, _, r) =>
      r.copy(actualDtype = d.schema(c).dataType.simpleString)
    }.toSeq

    // 2b+2c. Null handling + row validations, batched at validation
    // boundaries.
    val deleted = scala.collection.mutable.ArrayBuffer[DeletedColumn]()
    val imputed = scala.collection.mutable.LinkedHashMap[String, ImputationInfo]()
    val valDrops = scala.collection.mutable.LinkedHashMap[String, ValidationDrop]()

    val cols = df.columns.toSeq
    var i = 0
    var totalRows = -1L // lazily established by the first stats pass
    // Boundary column whose post-filter dropped-row count is deferred to
    // the next stats pass (saves one count() job per validation column).
    var pendingDrop: Option[(String, Seq[String], Long)] = None
    def settlePendingDrop(newTotal: Long): Unit = {
      pendingDrop.foreach { case (c, vals, before) =>
        if (before - newTotal > 0) valDrops(c) = ValidationDrop(vals, before - newTotal)
      }
      pendingDrop = None
    }

    // One batch of the output plan, shared by the fast path and the
    // sequential loop so both build the same lazy plan: the batch's
    // fills in one projection, then its boundary filter. Returns
    // whether a filter was applied.
    def applyBatch(fills: Seq[(String, Column)], boundary: String): Boolean = {
      if (fills.nonEmpty) {
        val m = fills.toMap
        d = d.select(d.columns.map(c => m.getOrElse(c, col(c)).as(c)).toIndexedSeq: _*)
      }
      val keep = if (colExists(d, boundary))
        validationMask(d, boundary, rules(boundary).validations, now) else None
      keep.foreach(m => d = d.filter(m))
      keep.isDefined
    }

    // FAST PATH: one conditional-aggregate probe over the whole frame.
    // The V+1 sequential stats passes exist only because imputation at
    // batch k can change what later batches see: a fill of a boundary
    // column feeds that batch's filter. Constant and unix-epoch fills
    // are known without stats, so a boundary mask can be probed as
    // `coalesce(col, fill)` up front; fills of columns that carry no
    // validation feed no mask at all. The probe therefore computes
    // every batch's survivor count, per-column null count, and numeric
    // mean/std, each conditioned on the conjunction of prior boundary
    // masks, in ONE job — exactly the stats the loop would see at that
    // batch. Random (`randn`) fills depend on the row layout of the
    // partially filtered frame, so the output plan is built batch by
    // batch with [[applyBatch]], as the loop builds it: same values on
    // the same partitions draw the same numbers. V+1 scans -> 1 scan.
    // Two decisions the probe cannot honor fall back to the sequential
    // loop below: a stats-dependent fill on a boundary column (its
    // later masks would see the unfilled value), and the deletion of a
    // statically filled boundary column (deletion keeps the raw mask).
    // The loop reuses the probe's batch-0 aggregates as its first
    // iteration's stats (the probe's batch-0 condition is `true` over
    // the same unfiltered frame), so the abort costs nothing: V+1 scans
    // either way (advisor r6).
    var probeBatch0: Option[org.apache.spark.sql.Row] = None
    val fastDone: Boolean = {
      // batches are static: d's columns don't change during the loop
      // (imputation preserves them; deletion happens after).
      val idxs = cols.indices
      val batchEnds = scala.collection.mutable.ArrayBuffer[Int]()
      var s = 0
      while (s < cols.length) {
        val j = idxs.drop(s)
          .find(k => rules(cols(k)).validations.nonEmpty)
          .getOrElse(cols.length - 1)
        batchEnds += j
        s = j + 1
      }
      // Static fill (constant / unix_epoch), known without any stats.
      def staticFill(c: String): Option[Column] =
        resolveStrategy(d.schema(c).dataType, rules(c)) match {
          case "unix_epoch" =>
            Some(lit(new java.sql.Timestamp(0L)).cast(d.schema(c).dataType))
          case "constant" =>
            Some(lit(rules(c).imputationValue.getOrElse("Unknown"))
              .cast(d.schema(c).dataType))
          case _ => None
        }
      val batches = batchEnds.toSeq.zipWithIndex.map { case (j, bi) =>
        val start = if (bi == 0) 0 else batchEnds(bi - 1) + 1
        val boundary = cols(j)
        // probe the boundary mask over the statically-imputed value
        // when the rule has a static fill — identical to the raw mask
        // on null-free data, and exactly the post-imputation mask
        // otherwise. Stats-dependent strategies probe the raw column
        // (legal only if the column turns out null-free, checked below).
        val masked = staticFill(boundary)
          .map(f => coalesce(col(boundary), f)).getOrElse(col(boundary))
        val mask = if (rules(boundary).validations.nonEmpty)
          validationMask(d, boundary, rules(boundary).validations, now,
            valueExpr = Some(masked))
        else None
        (cols.slice(start, j + 1), boundary, mask)
      }
      var cum: Column = lit(true)
      val conds = batches.map { case (_, _, mask) =>
        val before = cum
        mask.foreach(m => cum = before && m)
        before
      }
      val probeAggs: Seq[Column] =
        batches.zip(conds).zipWithIndex.flatMap { case (((bcols, _, _), cond), k) =>
          sum(cond.cast("long")).as(s"__t_$k") +:
            bcols.flatMap { c =>
              val base = Seq(sum((cond && col(c).isNull).cast("long")).as(s"__n_${k}_$c"))
              d.schema(c).dataType match {
                case _: NumericType => base ++ Seq(
                  avg(when(cond, col(c))).as(s"__m_${k}_$c"),
                  stddev_samp(when(cond, col(c))).as(s"__s_${k}_$c"))
                case _ => base
              }
            }
        } :+ sum(cum.cast("long")).as("__t_final")
      val probe = d.agg(probeAggs.head, probeAggs.tail: _*).collect()(0)
      def g(n: String): Long =
        Option(probe.getAs[java.lang.Long](n)).map(_.longValue).getOrElse(0L)
      def gd(n: String): Option[Double] =
        if (probe.schema.fieldNames.contains(n))
          Option(probe.getAs[java.lang.Double](n)).map(_.doubleValue)
        else None
      val totals = batches.indices.map(k => g(s"__t_$k")) :+ g("__t_final")

      // Decide delete/impute per column from the probe; abort to the
      // sequential path on the first decision the probe can't honor.
      // `fills(k)` are batch k's fill expressions.
      case class Plan(deletes: Seq[DeletedColumn],
                      imputed: Seq[ImputationInfo],
                      fills: Seq[Seq[(String, Column)]])
      val plan: Option[Plan] = {
        val deletes = scala.collection.mutable.ArrayBuffer[DeletedColumn]()
        val infos = scala.collection.mutable.ArrayBuffer[ImputationInfo]()
        var legal = true
        val fills = batches.zipWithIndex.map { case ((bcols, boundary, mask), k) =>
          bcols.flatMap { c =>
            val nulls = g(s"__n_${k}_$c")
            if (!legal || nulls == 0) None
            else {
              val rule = rules(c)
              val total = totals(k)
              val ratio = if (total > 0) nulls.toDouble / total else 0.0
              val isBoundary = c == boundary && mask.isDefined
              if (ratio > rule.nullThreshold && rule.allowColumnDeletion) {
                // deletion keeps the RAW mask; a static fill was probed
                // into a boundary mask, so that combination lies.
                if (isBoundary && staticFill(c).isDefined) legal = false
                else deletes += DeletedColumn(c, ratio, nulls, rule.nullThreshold)
                None
              } else if (isBoundary &&
                  resolveStrategy(d.schema(c).dataType, rule) == "normal_distribution") {
                // a stats fill on a boundary column would need its own
                // mask inside the probe — genuinely sequential
                legal = false
                None
              } else impute(d.schema(c).dataType, rule, c, nulls,
                  gd(s"__m_${k}_$c"), gd(s"__s_${k}_$c"), seed + c.hashCode) match {
                case Some((e, info)) =>
                  infos += info.copy(nullRatio = ratio, threshold = rule.nullThreshold)
                  Some(c -> e)
                case None =>
                  infos += ImputationInfo(c, nulls, "none",
                    nullRatio = ratio, threshold = rule.nullThreshold)
                  None
              }
            }
          }
        }
        if (legal) Some(Plan(deletes.toSeq, infos.toSeq, fills)) else None
      }
      plan match {
        case None =>
          probeBatch0 = Some(probe)
          false
        case Some(p) =>
          deleted ++= p.deletes
          p.imputed.foreach(info => imputed(info.column) = info)
          batches.zip(p.fills).zipWithIndex.foreach { case (((_, boundary, _), fills), k) =>
            if (applyBatch(fills, boundary)) {
              val dropped = totals(k) - totals(k + 1)
              if (dropped > 0)
                valDrops(boundary) = ValidationDrop(rules(boundary).validations, dropped)
            }
          }
          totalRows = totals.last
          true
      }
    }

    while (!fastDone && i < cols.length) {
      // batch = [i .. j] where j is the next validation-bearing column
      // (inclusive) or the last column.
      val j = cols.indices.drop(i)
        .find(k => rules(cols(k)).validations.nonEmpty && colExists(d, cols(k)))
        .getOrElse(cols.length - 1)
      val batch = cols.slice(i, j + 1).filter(colExists(d, _))

      // One aggregate: total count + per-column null counts + numeric
      // stats. On the first iteration after a probe abort, the probe's
      // batch-0 fields (`__t_0`, `__n_0_*`, `__m_0_*`, `__s_0_*`) ARE
      // these stats — same columns, condition `true`, same unfiltered
      // frame — so the scan is skipped (advisor r6).
      val reuse = probeBatch0.filter(p => i == 0 &&
        batch.forall(c => p.schema.fieldNames.contains(s"__n_0_$c")))
      val (nullsOf, meanOf, stdOf): (String => Long, String => Option[Double], String => Option[Double]) =
        reuse match {
          case Some(p) =>
            def gl(n: String): Long =
              Option(p.getAs[java.lang.Long](n)).map(_.longValue).getOrElse(0L)
            def gd(n: String): Option[Double] =
              if (p.schema.fieldNames.contains(n))
                Option(p.getAs[java.lang.Double](n)).map(_.doubleValue)
              else None
            totalRows = gl("__t_0")
            (c => gl(s"__n_0_$c"), c => gd(s"__m_0_$c"), c => gd(s"__s_0_$c"))
          case None =>
            val aggs: Seq[Column] = count(lit(1)).as("__total") +: batch.flatMap { c =>
              val base = Seq(sum(col(c).isNull.cast("long")).as(s"__nulls_$c"))
              d.schema(c).dataType match {
                case _: NumericType =>
                  base ++ Seq(avg(col(c)).as(s"__mean_$c"), stddev_samp(col(c)).as(s"__std_$c"))
                case _ => base
              }
            }
            val stats = d.agg(aggs.head, aggs.tail: _*).collect()(0)
            totalRows = stats.getAs[Long]("__total")
            def gd(n: String): Option[Double] =
              if (stats.schema.fieldNames.contains(n))
                Option(stats.getAs[java.lang.Double](n)).map(_.doubleValue)
              else None
            (c => Option(stats.getAs[java.lang.Long](s"__nulls_$c")).map(_.longValue).getOrElse(0L),
              c => gd(s"__mean_$c"), c => gd(s"__std_$c"))
        }
      settlePendingDrop(totalRows)

      // Decide delete / impute per column in the batch.
      val imputeExprs = scala.collection.mutable.ArrayBuffer[(String, Column)]()
      batch.foreach { c =>
        val rule = rules(c)
        val nulls = nullsOf(c)
        val ratio = if (totalRows > 0) nulls.toDouble / totalRows else 0.0
        if (ratio > rule.nullThreshold && rule.allowColumnDeletion) {
          deleted += DeletedColumn(c, ratio, nulls, rule.nullThreshold)
        } else if (nulls > 0) {
          val mean = meanOf(c)
          val std = stdOf(c)
          impute(d.schema(c).dataType, rule, c, nulls, mean, std, seed + c.hashCode) match {
            case Some((expr, info)) =>
              imputeExprs += c -> expr
              imputed(c) = info.copy(nullRatio = ratio, threshold = rule.nullThreshold)
            case None =>
              imputed(c) = ImputationInfo(c, nulls, "none",
                nullRatio = ratio, threshold = rule.nullThreshold)
          }
        }
      }
      // Validation filter for the boundary column (skipped when marked
      // for deletion? No — the reference validates even to-be-deleted
      // columns, data_cleaning.py:406-411).
      val boundary = cols(j)
      if (applyBatch(imputeExprs.toSeq, boundary))
        pendingDrop = Some((boundary, rules(boundary).validations, totalRows))
      i = j + 1
    }
    // 3. Drop deletion-marked columns.
    if (deleted.nonEmpty) d = d.drop(deleted.map(_.column).toIndexedSeq: _*)

    // 4. Int finalization: pandas round() is banker's rounding -> bround.
    val intCols = d.columns.filter(c => rules(c).dtype == "int")
    if (intCols.nonEmpty) {
      d = d.select(d.columns.map { c =>
        if (rules(c).dtype == "int") bround(col(c)).cast("long").as(c) else col(c)
      }.toIndexedSeq: _*)
    }

    // 5. Relationship validations. Their failure-count aggregate also
    // carries the post-boundary row count, which settles the last
    // boundary's deferred drop count AND derives the final row count —
    // no extra count jobs when any relationship check applies.
    val (d2, relReports, relTotal, relDropped) = Relationships.validate(d, cfg)
    relTotal.foreach { t =>
      totalRows = t
      settlePendingDrop(t)
    }
    if (pendingDrop.isDefined) { // no relationship agg ran: pay one job
      totalRows = d.count()
      settlePendingDrop(totalRows)
    }
    d = d2

    // 6. Sort by [ticker, ts] where present (data_cleaning.py:434-438).
    val sortCols = Seq("ticker", "ts").filter(d.columns.contains)
    if (sort && sortCols.nonEmpty) d = d.orderBy(sortCols.map(col): _*)

    val finalRows = relTotal.map(_ - relDropped).getOrElse(d.count())
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
      finalRows = finalRows,
      finalColumns = d.columns.toSeq))
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

  private def colExists(d: DataFrame, c: String): Boolean = d.columns.contains(c)

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

  /** Imputation expression per strategy (data_cleaning.py:218-297). */
  private def impute(
      dt: DataType,
      rule: ColumnRule,
      c: String,
      nulls: Long,
      mean: Option[Double],
      std: Option[Double],
      seed: Long): Option[(Column, ImputationInfo)] = {
    val strategy = resolveStrategy(dt, rule)
    strategy match {
      case "none" => None
      case "normal_distribution" =>
        mean.map { m =>
          val s = std.filter(v => !v.isNaN && v != 0.0)
          val fill = s.fold(lit(m))(sd => lit(m) + lit(sd) * randn(seed))
          (when(col(c).isNull, fill).otherwise(col(c)),
            ImputationInfo(c, nulls, "normal_distribution", mean = Some(m),
              std = Some(s.getOrElse(0.0))))
        }
      case "unix_epoch" =>
        val epoch = lit(new java.sql.Timestamp(0L)).cast(dt)
        Some((coalesce(col(c), epoch),
          ImputationInfo(c, nulls, "unix_epoch", value = Some("1970-01-01 00:00:00+00:00"))))
      case "constant" =>
        val v = rule.imputationValue.getOrElse("Unknown")
        Some((coalesce(col(c), lit(v).cast(dt)),
          ImputationInfo(c, nulls, "constant", value = Some(v))))
      case other =>
        Some((col(c), ImputationInfo(c, nulls, "skipped", value = Some(other))))
    }
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
