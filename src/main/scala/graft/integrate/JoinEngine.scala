package graft.integrate

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

import graft.core.RunSession

/** One match from the pair-scoring stage. */
case class PairMatch(rid1: Long, rid2: Long, prob: Double)

/** Stage-level operation log entry for the validator report. */
case class JoinOp(
    dataframes: Seq[Int],
    compatible: Boolean,
    retention: Double,
    matchedRows: Long,
    resultRows: Long,
    resultCols: Int)

/** ML-similarity join engine (reference: validator/join.py:19-1054,
  * J1-J9 in SURVEY §2.3). The reference scores every row pair of the
  * cross product with 26 statistical features and an XGBoost model;
  * the rebuild computes the same 26 features as one Catalyst
  * array-expression block over a `crossJoin` and scores with a
  * deterministic linear scorer ([[LinearPairScorer]] — model-weight
  * parity is explicitly out of scope, gate/threshold mechanics are in
  * scope, SURVEY §7.5).
  *
  * Scale design:
  *  - `maxPairs` is ENFORCED: both sides are counted (one aggregate
  *    per side, which also yields the pad means and fills the side's
  *    cache) and an over-budget pair space is refused before any cross
  *    join is planned;
  *  - the cross join broadcasts whichever side fits the broadcast
  *    budget (preferring the right), falling back to a partitioned
  *    cross join when neither does — a large frame is never collected
  *    to the driver or shipped to every executor;
  *  - the 26-feature kernel is evaluated exactly once per pair: the
  *    struct is routed through a one-element `explode` (a Generate
  *    barrier), so CollapseProject cannot inline the kernel once per
  *    extracted field;
  *  - row ids are stamped with a distributed `zipWithIndex` (the
  *    frame's own global sort is range-partitioned by Spark, so the id
  *    IS the sort rank — no single-partition window anywhere), then
  *    the stamped frame is round-robin repartitioned so the cross
  *    join's stream side parallelizes; each frame is stamped ONCE and
  *    reused by scoring and materialization — ids can never diverge
  *    between the two passes;
  *  - the threshold filter runs before anything is collected; only
  *    above-threshold candidate triples (rid1, rid2, prob) ever leave
  *    the executors, and only for the exact greedy assignment, guarded
  *    by `maxCandidates` with a window-based approximate fallback;
  *  - repeated compatibility checks on the same frame pair (stage 1
  *    best-partner probing vs stage 2 first-fit over pass-through
  *    frames) are memoized per engine instance, so no frame pair is
  *    ever cross-joined twice.
  */
class JoinEngine(
    config: ValidatorConfig = ValidatorConfig.balanced,
    maxPairs: Long = 200_000_000L) {

  import JoinEngine._

  /** Memo of pairwise compatibility results, keyed by frame object
    * identity (frames flow through the validator stages as the same
    * objects, so stage-2 probing of a pair stage 1 already scored is a
    * hit).
    */
  private val compatMemo =
    scala.collection.mutable.Map[(DataFrame, DataFrame), (Boolean, Double, Option[DataFrame])]()

  /** Releases the stamped frames cached during `checkCompatibility`,
    * once the caller has consumed the joined outputs.
    */
  def cleanup(): Unit = {
    stamped.values.foreach(_.unpersist())
    stamped.clear()
    compatMemo.clear()
  }

  /** J1: restrict both sides to numeric columns, take the union of the
    * names (df1 order first, then df2-only in df2 order), and pad each
    * side's missing columns with that side's grand mean — the mean of
    * its numeric column means, matching pandas `df.mean().mean()`
    * (join.py:47-94).
    */
  def alignColumns(df1: DataFrame, df2: DataFrame): Option[(Seq[String], DataFrame, DataFrame)] = {
    val n1 = numericCols(df1)
    val n2 = numericCols(df2)
    if (n1.isEmpty || n2.isEmpty) return None
    val all = n1 ++ n2.filterNot(n1.contains)
    val Seq((_, p1), (_, p2)) = countAndPad(Seq(df1 -> n1, df2 -> n2), all, counted = false)
    Some((all, p1, p2))
  }

  /** Each side with the columns of `all` it lacks padded with its grand
    * mean — the mean of its numeric column means, matching pandas
    * `df.mean().mean()` (join.py:77-86) — and, if `counted`, its row
    * count. One aggregate per side that needs either, none for a side
    * that needs neither; both sides at once ([[RunSession.parMap]]).
    * Extra non-member columns (the row-id stamp) ride along untouched.
    */
  private def countAndPad(sides: Seq[(DataFrame, Seq[String])], all: Seq[String],
                          counted: Boolean): Seq[(Option[Long], DataFrame)] =
    RunSession.parMap(sides.head._1.sparkSession, sides) { case (df, own) =>
      val missing = all.filterNot(own.contains)
      val means = if (missing.isEmpty) Nil else own.map(c => avg(col(c)).cast(DoubleType))
      val aggs = (if (counted) Seq(count(lit(1))) else Nil) ++ means
      if (aggs.isEmpty) None -> df
      else {
        val stats = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        val first = if (counted) 1 else 0
        val padded = if (missing.isEmpty) df else {
          // mean-of-means in column order, left-associated like np sum
          val grand = own.indices.map(i => stats.getAs[Double](first + i)).reduceLeft(_ + _) / own.size
          missing.foldLeft(df)((d, c) => d.withColumn(c, lit(grand)))
        }
        Option.when(counted)(stats.getLong(0)) -> padded
      }
    }

  /** J2+J3+J4 over pre-stamped sides: align, cast, cross-join with
    * size-based broadcast selection, 26 features, score, filter to
    * prob >= joinRowThreshold. The rid columns are excluded from the
    * numeric alignment.
    */
  private def scoredPairsStamped(s1: DataFrame, s2: DataFrame,
                                 keepFeatures: Boolean): DataFrame = {
    val own1 = numericCols(s1).filterNot(_ == RID1)
    val own2 = numericCols(s2).filterNot(_ == RID2)
    if (own1.isEmpty || own2.isEmpty)
      throw new IllegalArgumentException("no numeric columns to compare")
    val all = own1 ++ own2.filterNot(own1.contains)
    val n = all.size

    // maxPairs enforcement + broadcast-side selection need both
    // cardinalities. Each side's one aggregate also fills its cache.
    val Seq((Some(n1), padded1), (Some(n2), padded2)) =
      countAndPad(Seq(s1 -> own1, s2 -> own2), all, counted = true)
    if (n1 * n2 > maxPairs)
      throw new IllegalArgumentException(
        s"refusing cross join: $n1 x $n2 pairs exceeds maxPairs=$maxPairs")

    def packed(padded: DataFrame, rid: String, outRid: String, arr: String): DataFrame =
      padded
        .select(col(rid).as(outRid) +: all.map(c => col(c).cast(DoubleType).as(c)): _*)
        .select(col(outRid), array(all.map(col): _*).as(arr))
    val left = packed(padded1, RID1, "rid1", "a")
    val right = packed(padded2, RID2, "rid2", "b")

    val rowBytes = 8L * n + 32L
    // Round-robin the STREAM side across the cluster before the join:
    // ids are already stamped, so the shuffle is free to scatter row
    // order, and the BroadcastNestedLoopJoin parallelizes over the
    // stream side's partitions. Without it, AQE coalesces a small
    // sorted input to ONE partition and the entire pair kernel
    // serializes onto a single core (measured 2.5x on join_pair_kernel
    // at sf0.1). Applied after packing, so the pad's mean aggregation
    // order (oracle parity) is untouched.
    def spread(side: DataFrame): DataFrame =
      side.repartition(side.sparkSession.sparkContext.defaultParallelism)
    val pairs =
      if (n2 * rowBytes <= broadcastBytes) spread(left).crossJoin(broadcast(right))
      else if (n1 * rowBytes <= broadcastBytes) broadcast(left).crossJoin(spread(right))
      else spread(left).crossJoin(right) // partitioned cartesian: neither side fits

    val feats = pairFeatures(pairs, n, config.epsilon,
      config.closeTolerance, config.veryCloseTolerance)
    val scored = feats
      .withColumn("prob", LinearPairScorer.expr(n))
      // NaN-pair skipping (join.py:405-409) then threshold pushdown
      .filter(!featureCols.map(c => isnan(col(c))).reduce(_ || _))
      .filter(col("prob") >= config.joinRowThreshold)
    val out =
      if (keepFeatures)
        scored.select((Seq("rid1", "rid2") ++ featureCols :+ "prob").map(col): _*)
      else scored.select("rid1", "rid2", "prob")
    // the one operator of a pipeline run whose work grows with n1·n2:
    // it runs with code generation even inside an interpreted run
    RunSession.compiled(out)
  }

  /** Public J2-J4 entry: stamps row ids once (cached), then scores.
    * Output columns: rid1, rid2, prob (+ the 26 features if asked).
    */
  def scoredPairs(df1: DataFrame, df2: DataFrame, keepFeatures: Boolean = false): DataFrame =
    scoredPairsStamped(stampCached(df1, RID1), stampCached(df2, RID2), keepFeatures)

  /** J5: limited many-to-many assignment — candidates sorted by
    * probability descending, greedily accepted while both row ids are
    * under maxMatchesPerRow (join.py:724-767). Exact driver-side greedy
    * behind a size guard; above the guard, a two-sided
    * `row_number() <= K` window approximation (documented divergence,
    * SURVEY §2.3 J5).
    */
  def limitedAssignment(candidates: DataFrame): Seq[PairMatch] = {
    val k = config.maxMatchesPerRow
    val all = candidates.select("rid1", "rid2", "prob")
    if (k == 0) {
      return all.collect().map(r => PairMatch(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // the candidate set is consumed twice (count + sorted scan) and is
    // the tail of the expensive cross-join pipeline: cache it
    all.persist()
    try {
      val nCand = all.count()
      val bounded = if (nCand > maxCandidates) windowedAssignment(all, k) else all
      // Sort distributed — prob desc with rid tie-break, the same total
      // order the reference's stable pandas sort induces — then stream
      // the range-partitioned result to the driver in order. The greedy
      // scan is O(1) state per row, so driver memory is bounded by one
      // partition plus the accepted matches, never the full candidate
      // set (the earlier collect-then-sortBy held and re-sorted all
      // nCand rows on the driver).
      val ordered = bounded.orderBy(col("prob").desc, col("rid1"), col("rid2"))
      val c1 = scala.collection.mutable.Map[Long, Int]()
      val c2 = scala.collection.mutable.Map[Long, Int]()
      val out = scala.collection.mutable.ArrayBuffer[PairMatch]()
      // toLocalIterator schedules ONE JOB PER PARTITION sequentially —
      // ~30 ms scheduler overhead apiece, ~1 s of dead time on 32
      // partitions of a few thousand rows. Below the threshold a
      // single collect of the sorted triples is one job. On-heap cost
      // is a GenericRow with 3 BOXED fields, ~100-150 B/row — so the
      // 1M-row default threshold holds ~100-150 MB transiently on the
      // driver (not the 24 MB a flat 24 B/row estimate would suggest);
      // acceptable for a typical multi-GB driver, and the streaming
      // path remains for candidate sets where boundedness matters.
      val it: Iterator[org.apache.spark.sql.Row] =
        if (nCand <= greedyCollectThreshold) ordered.collect().iterator
        else {
          import scala.jdk.CollectionConverters._
          ordered.toLocalIterator().asScala
        }
      while (it.hasNext) {
        val r = it.next()
        val rid1 = r.getLong(0); val rid2 = r.getLong(1)
        val i = c1.getOrElse(rid1, 0)
        val j = c2.getOrElse(rid2, 0)
        if (i < k && j < k) {
          out += PairMatch(rid1, rid2, r.getDouble(2))
          c1(rid1) = i + 1
          c2(rid2) = j + 1
        }
      }
      out.toSeq
    } finally all.unpersist()
  }

  /** The window-capped assignment variant: each side keeps its top-k
    * candidates by (prob desc, rid tiebreak) via two ranked windows.
    * Fully distributed and SQL-replayable (unlike the sequential
    * greedy); used standalone as the documented approximate assignment
    * (SURVEY §2.3 J5 option b) and as the bounding stage before the
    * exact greedy when the candidate set exceeds `maxCandidates`. Note
    * the bounding is heuristic, not lossless: the exact greedy can
    * accept a pair outside a side's top-k (when every higher-ranked
    * partner saturated first), so pre-windowing may change the greedy's
    * output — the documented approximation trade-off of this path.
    */
  def windowedAssignment(candidates: DataFrame, k: Int): DataFrame =
    candidates
      .withColumn("__r1", row_number().over(
        Window.partitionBy("rid1").orderBy(col("prob").desc, col("rid2"))))
      .filter(col("__r1") <= k).drop("__r1")
      .withColumn("__r2", row_number().over(
        Window.partitionBy("rid2").orderBy(col("prob").desc, col("rid1"))))
      .filter(col("__r2") <= k).drop("__r2")

  /** J6+J7: retention gate then materialization. Retention = matched
    * pair count / denominator (can exceed 1.0 under many-to-many,
    * join.py:803-814). Scoring and materialization share ONE stamped
    * copy of each side, so the equi-join ids are exactly the ids that
    * were scored. Memoized per frame pair (object identity).
    */
  def checkCompatibility(df1: DataFrame, df2: DataFrame, denominator: Long)
      : (Boolean, Double, Option[DataFrame]) =
    compatMemo.getOrElseUpdate((df1, df2), {
      val s1 = stampCached(df1, RID1)
      val s2 = stampCached(df2, RID2)
      val matches = limitedAssignment(scoredPairsStamped(s1, s2, keepFeatures = false))
      if (matches.isEmpty) (false, 0.0, None)
      else {
        val retention = if (denominator > 0) matches.size.toDouble / denominator else 0.0
        if (retention >= config.joinRetentionThreshold) {
          (true, retention, Some(executeJoinStamped(s1, s2, matches)))
        } else (false, retention, None)
      }
    })

  /** J7 on pre-stamped sides: equi-join the (small, broadcast) match
    * triples back to both sides on the shared row ids.
    */
  private def executeJoinStamped(s1: DataFrame, s2: DataFrame,
                                 matches: Seq[PairMatch]): DataFrame = {
    val spark = s1.sparkSession
    import spark.implicits._
    val m = matches.toDF(RID1, RID2, "__prob")
    val shared = (s1.columns.toSet - RID1) & (s2.columns.toSet - RID2)
    def suffixed(df: DataFrame, suffix: String): DataFrame =
      shared.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$c$suffix"))
    suffixed(s1, "_x").join(broadcast(m), RID1)
      .join(suffixed(s2, "_y"), RID2)
      .drop(RID1, RID2, "__prob")
  }

  /** Public J7 entry: stamps both sides once (cached) and joins. */
  def executeJoin(df1: DataFrame, df2: DataFrame, matches: Seq[PairMatch]): DataFrame =
    executeJoinStamped(stampCached(df1, RID1), stampCached(df2, RID2), matches)

  /** J8 stage 1: each frame takes its best-retention partner among the
    * frames after it; unjoined frames pass through (join.py:886-983).
    */
  def stage1(frames: Seq[DataFrame], denominator: Long)
      : (Seq[DataFrame], Seq[JoinOp], Boolean) = {
    val operations = scala.collection.mutable.ArrayBuffer[JoinOp]()
    val outputs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val createdPairs = scala.collection.mutable.Set[(Int, Int)]()
    var anySucceeded = false
    for (i <- frames.indices) {
      var best: Option[(Int, Double, DataFrame)] = None
      for (j <- (i + 1) until frames.size if !createdPairs.contains((i, j))) {
        val (compatible, retention, joined) = checkCompatibility(frames(i), frames(j), denominator)
        if (compatible && best.forall(_._2 < retention)) {
          best = Some((j, retention, joined.get))
        }
      }
      best match {
        case Some((j, retention, joined)) =>
          outputs += joined
          createdPairs += ((i, j))
          anySucceeded = true
          operations += JoinOp(Seq(i, j), compatible = true, retention,
            matchedRows = -1L, resultRows = -1L, resultCols = joined.columns.length)
        case None => ()
      }
    }
    for (i <- frames.indices if !createdPairs.exists(p => p._1 == i || p._2 == i)) {
      outputs += frames(i)
      operations += JoinOp(Seq(i), compatible = false, 0.0, 0L, -1L, frames(i).columns.length)
    }
    (outputs.toSeq, operations.toSeq, anySucceeded)
  }

  /** J9 stage 2: greedy first-fit pairwise joins of stage-1 outputs
    * (join.py:985-1054). Pairs already probed in stage 1 (pass-through
    * frames) hit the compatibility memo instead of re-scoring.
    */
  def stage2(frames: Seq[DataFrame], denominator: Long): (Seq[DataFrame], Seq[JoinOp]) = {
    if (frames.size <= 1) return (frames, Nil)
    val operations = scala.collection.mutable.ArrayBuffer[JoinOp]()
    val outputs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val processed = scala.collection.mutable.Set[Int]()
    for (i <- frames.indices; j <- (i + 1) until frames.size
         if !processed.contains(i) && !processed.contains(j)) {
      val (compatible, retention, joined) = checkCompatibility(frames(i), frames(j), denominator)
      operations += JoinOp(Seq(i, j), compatible, retention,
        matchedRows = if (compatible) -1L else 0L, resultRows = -1L,
        resultCols = joined.map(_.columns.length).getOrElse(0))
      if (compatible) {
        outputs += joined.get
        processed += i
        processed += j
      }
    }
    for (i <- frames.indices if !processed.contains(i)) outputs += frames(i)
    (outputs.toSeq, operations.toSeq)
  }

  /** Stamps a row id and caches the stamped frame (it is consumed at
    * least twice: count-and-pad aggregate + cross join, and again by the
    * materialization when a join succeeds). One stamp per (frame, id)
    * per engine instance.
    */
  private val stamped = scala.collection.mutable.Map[(DataFrame, String), DataFrame]()
  private def stampCached(df: DataFrame, name: String): DataFrame =
    stamped.getOrElseUpdate((df, name), {
      // NOT repartitioned here: the grand-mean aggregation in countAndPad
      // must accumulate in the frame's own deterministic order (a
      // repartition changes the partial-agg merge order and shifts the
      // pad constant by an ulp, breaking oracle parity). The cross-join
      // stream side is repartitioned after packing instead.
      withRowId(df, name).persist()
    })

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq
}

object JoinEngine {

  /** Above this many candidate triples the greedy assignment falls
    * back to the window-based approximation.
    */
  private val maxCandidates = 5_000_000L
  /** The cross join broadcasts a side whose estimated size fits. */
  private val broadcastBytes = 64L << 20
  /** Candidate sets up to this size are collected at once; larger ones
    * stream to the driver partition by partition.
    */
  private val greedyCollectThreshold = 1_000_000L

  private[integrate] val RID1 = "__rid1"
  private[integrate] val RID2 = "__rid2"

  val featureCols: Seq[String] = Seq(
    "absdiff_mean", "absdiff_median", "absdiff_max", "absdiff_min", "absdiff_std",
    "reldiff_mean", "reldiff_median",
    "zdiff_mean", "zdiff_max",
    "pcdiff_mean", "pcdiff_sq_mean",
    "L1_raw", "L2_raw", "L1_z", "L2_z", "L1_pct", "L2_pct",
    "correlation",
    "ratio_mean", "ratio_median", "ratio_std",
    "sign_agreement", "n_features", "n_both_zero", "n_close", "n_very_close")

  /** Attaches a contiguous 0-based row id preserving current frame
    * order, via RDD `zipWithIndex`: one distributed counts pass, then a
    * stamp pass that offsets each partition's local indices by the
    * preceding partitions' totals. For an explicitly sorted frame
    * (every stampCached input here), Spark executes the sort as a range
    * exchange + per-partition sort, so the stamped id IS the global
    * sort rank — computed without ever moving the data to a single
    * partition (this replaces the r3-era single-partition
    * `row_number()` window, which was the one non-distributed step in
    * the join path). Deterministic whenever the frame's own ordering is
    * (unique sort keys); for unsorted frames the stamp is positional,
    * like pandas iloc. The RDD round-trip happens once per frame: every
    * caller persists the stamped result.
    */
  def withRowId(df: DataFrame, name: String): DataFrame = {
    val schema = df.schema.add(name, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** The 26-feature pair kernel (join.py:96-197) over array columns
    * `a`, `b`: one [[PairFeaturesExpression]] per pair, expanded into
    * the 26 named feature columns. The struct is routed through a
    * one-element `explode` so the Generate node materializes it ONCE
    * per pair — without the barrier, CollapseProject inlines the
    * kernel into every extracted field (up to 26 evaluations per pair,
    * VERDICT r2 §wrong-2).
    */
  def pairFeatures(pairs: DataFrame, n: Int, eps: Double,
                   closeTol: Double, veryCloseTol: Double): DataFrame = {
    val pf = ColumnBridge.column(PairFeaturesExpression(
      ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b")),
      eps, closeTol, veryCloseTol))
    pairs.withColumn("__pf", explode(array(pf)))
      .selectExpr("*", "__pf.*")
      .drop("__pf", "a", "b")
  }
}

/** Deterministic replacement for the reference's pre-trained XGBoost
  * pair classifier (join.py:35-45, models/join_model.json). A fixed
  * linear blend of scale-free similarity features, bounded to [0, 1]:
  *
  *   prob = 0.30 * max(correlation, 0)
  *        + 0.30 * sign_agreement
  *        + 0.25 * n_very_close / n_features
  *        + 0.15 * n_close / n_features
  *
  * Model-score parity with the reference's binary artifact is out of
  * scope (SURVEY §7.5); the threshold/retention mechanics downstream
  * are what the engine preserves. SQL-expressible so DuckDB oracles can
  * replay it exactly.
  */
object LinearPairScorer {
  def expr(n: Int): Column =
    org.apache.spark.sql.functions.expr(
      s"""0.30D * greatest(correlation, 0.0D)
         | + 0.30D * sign_agreement
         | + 0.25D * (n_very_close / $n.0D)
         | + 0.15D * (n_close / $n.0D)""".stripMargin.replace("\n", ""))

  def sql(n: Int, corr: String, signAgr: String, nVeryClose: String, nClose: String): String =
    s"0.30 * greatest($corr, 0.0) + 0.30 * $signAgr" +
      s" + 0.25 * ($nVeryClose / $n.0) + 0.15 * ($nClose / $n.0)"
}
