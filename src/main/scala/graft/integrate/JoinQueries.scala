package graft.integrate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CatalogEntry, QuerySupport}

/** Driver correctness queries for the similarity-join engine.
  *
  * `join_pair_kernel` runs J1 (numeric alignment + grand-mean padding),
  * J2 (26-feature pair kernel over the cross product), J3 (linear
  * scorer), and J4 (threshold filter) over customer x supplier with one
  * fuzzy-shared dimension; the DuckDB oracle is GENERATED from the same
  * dimension lists so every fold/mean/median replays the Spark
  * arithmetic order exactly.
  *
  * `join_assignment` adds J5 (greedy capped assignment) + J6/J7
  * (retention + materialization); the greedy loop is sequential but
  * fully deterministic (prob desc, rid tie-breaks), so a DuckDB
  * recursive CTE replays it row by row — one frontier row per step,
  * accepted-rid multisets carried as list state (`greedyOracle`).
  */
object JoinQueries {

  private val nDims = 5
  // df1 aligned dims: own numerics then df2-only padded with g1
  private val aDims = Seq("CAST(x.c_custkey AS DOUBLE)", "CAST(x.c_nationkey AS DOUBLE)",
    "x.c_acctbal", "g1.v", "g1.v")
  // df2 aligned dims: padded g2 where df1-only, own numerics otherwise
  private val bDims = Seq("g2.v", "CAST(y.c_nationkey AS DOUBLE)", "g2.v",
    "CAST(y.s_suppkey AS DOUBLE)", "y.s_acctbal")

  private def df1(s: SparkSession, dir: String): DataFrame =
    QuerySupport.table(s, dir, "customer")
      .filter(col("c_custkey") % 5 === 0)
      .select("c_custkey", "c_nationkey", "c_acctbal")
      .orderBy("c_custkey")

  private def df2(s: SparkSession, dir: String): DataFrame =
    QuerySupport.table(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("c_nationkey"), col("s_acctbal"))
      .orderBy("s_suppkey")

  // ---- oracle SQL generator: mirrors JoinEngine.pairFeatures exactly ----

  private def lsum(terms: Seq[String]): String = terms.reduceLeft((a, b) => s"($a + $b)")
  private def mean(terms: Seq[String]): String = s"(${lsum(terms)}) / $nDims.0"
  private def median(terms: Seq[String]): String = {
    val lst = terms.mkString("[", ", ", "]")
    if (nDims % 2 == 1) s"list_sort($lst)[${(nDims + 1) / 2}]"
    else s"(list_sort($lst)[${nDims / 2}] + list_sort($lst)[${nDims / 2 + 1}]) / 2.0"
  }

  private lazy val scoredCtes: String = {
    val eps = "0.0000000001" // 1e-10, spelled out for SQL literal parity
    val is = 1 to nDims
    def a(i: Int) = s"a$i"
    def b(i: Int) = s"b$i"

    val p1Cols = is.map(i => s"(${a(i)} - ${b(i)}) AS d$i") ++
      is.map(i => s"${a(i)} / (${b(i)} + $eps) AS r$i") ++
      is.map(i => s"(${a(i)} - ${b(i)}) / (abs(${b(i)}) + $eps) AS rd$i") ++
      is.map(i => s"(${a(i)} - ${b(i)}) / (${a(i)} + $eps) AS pc$i") ++
      Seq(s"${mean(is.map(a))} AS ma", s"${mean(is.map(b))} AS mb")

    val p2Cols = is.map(i => s"abs(d$i) AS ad$i") ++ Seq(
      s"sqrt((${lsum(is.map(i => s"((${a(i)} - ma) * (${a(i)} - ma))"))}) / $nDims.0) AS sa",
      s"sqrt((${lsum(is.map(i => s"((${b(i)} - mb) * (${b(i)} - mb))"))}) / $nDims.0) AS sb",
      s"${lsum(is.map(i => s"((${a(i)} - ma) * (${b(i)} - mb))"))} AS corr_num",
      s"sqrt((${lsum(is.map(i => s"((${a(i)} - ma) * (${a(i)} - ma))"))}) * (${lsum(is.map(i => s"((${b(i)} - mb) * (${b(i)} - mb))"))})) AS corr_den")

    val p3Cols = is.map(i =>
      s"(${a(i)} - ma) / (sa + $eps) - (${b(i)} - mb) / (sb + $eps) AS zd$i")

    val mad = mean(is.map(i => s"ad$i"))
    val mrat = mean(is.map(i => s"r$i"))
    val featCols = Seq(
      s"$mad AS absdiff_mean",
      s"${median(is.map(i => s"ad$i"))} AS absdiff_median",
      s"greatest(${is.map(i => s"ad$i").mkString(", ")}) AS absdiff_max",
      s"least(${is.map(i => s"ad$i").mkString(", ")}) AS absdiff_min",
      s"sqrt((${lsum(is.map(i => s"((ad$i - $mad) * (ad$i - $mad))"))}) / $nDims.0) AS absdiff_std",
      s"${mean(is.map(i => s"rd$i"))} AS reldiff_mean",
      s"${median(is.map(i => s"rd$i"))} AS reldiff_median",
      s"${mean(is.map(i => s"zd$i"))} AS zdiff_mean",
      s"greatest(${is.map(i => s"abs(zd$i)").mkString(", ")}) AS zdiff_max",
      s"${mean(is.map(i => s"pc$i"))} AS pcdiff_mean",
      s"(${lsum(is.map(i => s"(pc$i * pc$i)"))}) / $nDims.0 AS pcdiff_sq_mean",
      s"${lsum(is.map(i => s"ad$i"))} AS L1_raw",
      s"sqrt(${lsum(is.map(i => s"(d$i * d$i)"))}) AS L2_raw",
      s"${lsum(is.map(i => s"abs(zd$i)"))} AS L1_z",
      s"sqrt(${lsum(is.map(i => s"(zd$i * zd$i)"))}) AS L2_z",
      s"${lsum(is.map(i => s"abs(pc$i)"))} AS L1_pct",
      s"sqrt(${lsum(is.map(i => s"(pc$i * pc$i)"))}) AS L2_pct",
      "CASE WHEN corr_den = 0.0 THEN 0.0 ELSE corr_num / corr_den END AS correlation",
      s"$mrat AS ratio_mean",
      s"${median(is.map(i => s"r$i"))} AS ratio_median",
      s"sqrt((${lsum(is.map(i => s"((r$i - $mrat) * (r$i - $mrat))"))}) / $nDims.0) AS ratio_std",
      s"(${lsum(is.map(i => s"(CASE WHEN sign(${a(i)}) = sign(${b(i)}) THEN 1.0 ELSE 0.0 END)"))}) / $nDims.0 AS sign_agreement",
      s"CAST($nDims AS DOUBLE) AS n_features",
      s"${lsum(is.map(i => s"(CASE WHEN ${a(i)} = 0.0 AND ${b(i)} = 0.0 THEN 1.0 ELSE 0.0 END)"))} AS n_both_zero",
      s"${lsum(is.map(i => s"(CASE WHEN ad$i <= 0.1 THEN 1.0 ELSE 0.0 END)"))} AS n_close",
      s"${lsum(is.map(i => s"(CASE WHEN ad$i <= 0.01 THEN 1.0 ELSE 0.0 END)"))} AS n_very_close")

    val prob = LinearPairScorer.sql(nDims, "correlation", "sign_agreement",
      "n_very_close", "n_close")

    s"""cust AS (
       |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer WHERE c_custkey % 5 = 0
       |), sup AS (
       |  SELECT s_suppkey, s_nationkey AS c_nationkey, s_acctbal FROM supplier
       |), g1 AS (
       |  SELECT ((avg(c_custkey) + avg(c_nationkey)) + avg(c_acctbal)) / 3.0 AS v FROM cust
       |), g2 AS (
       |  SELECT ((avg(s_suppkey) + avg(c_nationkey)) + avg(s_acctbal)) / 3.0 AS v FROM sup
       |), x AS (
       |  SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS rid1,
       |         ${aDims.zipWithIndex.map { case (d, i) => s"$d AS a${i + 1}" }.mkString(", ")}
       |  FROM cust x CROSS JOIN g1
       |), y AS (
       |  SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS rid2,
       |         ${bDims.zipWithIndex.map { case (d, i) => s"$d AS b${i + 1}" }.mkString(", ")}
       |  FROM sup y CROSS JOIN g2
       |), p0 AS (
       |  SELECT * FROM x CROSS JOIN y
       |), p1 AS (
       |  SELECT *, ${p1Cols.mkString(",\n         ")} FROM p0
       |), p2 AS (
       |  SELECT *, ${p2Cols.mkString(",\n         ")} FROM p1
       |), p3 AS (
       |  SELECT *, ${p3Cols.mkString(",\n         ")} FROM p2
       |), f AS (
       |  SELECT rid1, rid2, ${featCols.mkString(",\n         ")} FROM p3
       |), scored AS (
       |  SELECT *, $prob AS prob FROM f
       |)""".stripMargin
  }

  private lazy val kernelOracle: String = {
    val outCols = JoinEngine.featureCols.map(c => s"${QuerySupport.r6Sql(c)} AS $c")
    s"""WITH $scoredCtes
       |SELECT rid1, rid2,
       |       ${outCols.mkString(",\n       ")},
       |       ${QuerySupport.r6Sql("prob")} AS prob
       |FROM scored
       |WHERE prob >= 0.44
       |ORDER BY rid1, rid2""".stripMargin
  }

  /** The window-capped assignment (J5 option b): both sides keep their
    * top-k candidates by (prob desc, rid) — fully SQL-replayable, so
    * this variant carries the oracle the sequential greedy cannot.
    */
  private lazy val windowedOracle: String = {
    val k = ValidatorConfig.balanced.maxMatchesPerRow
    s"""WITH $scoredCtes,
       |cand AS (SELECT rid1, rid2, prob FROM scored WHERE prob >= 0.44),
       |c1 AS (SELECT *, row_number() OVER (PARTITION BY rid1 ORDER BY prob DESC, rid2) AS rn1
       |       FROM cand),
       |c2 AS (SELECT rid1, rid2, prob,
       |              row_number() OVER (PARTITION BY rid2 ORDER BY prob DESC, rid1) AS rn2
       |       FROM c1 WHERE rn1 <= $k)
       |SELECT rid1, rid2, ${QuerySupport.r6Sql("prob")} AS prob
       |FROM c2 WHERE rn2 <= $k ORDER BY rid1, rid2""".stripMargin
  }

  private val joinPairKernel = CatalogEntry(
    "join_pair_kernel",
    (s: SparkSession, dir: String) => {
      val engine = new JoinEngine(ValidatorConfig.balanced)
      val scored = engine.scoredPairs(df1(s, dir), df2(s, dir), keepFeatures = true)
      val outCols = col("rid1") +: col("rid2") +:
        (JoinEngine.featureCols :+ "prob").map(c => QuerySupport.r6(col(c)).as(c))
      scored.select(outCols: _*).orderBy("rid1", "rid2")
    },
    Some(kernelOracle))

  private val joinAssignmentWindowed = CatalogEntry(
    "join_assignment_windowed",
    (s: SparkSession, dir: String) => {
      val engine = new JoinEngine(ValidatorConfig.balanced)
      val capped = engine.windowedAssignment(
        engine.scoredPairs(df1(s, dir), df2(s, dir)),
        ValidatorConfig.balanced.maxMatchesPerRow)
      capped.select(col("rid1"), col("rid2"), QuerySupport.r6(col("prob")).as("prob"))
        .orderBy("rid1", "rid2")
    },
    Some(windowedOracle))

  /** Replays the sequential greedy exactly: candidates ranked by the
    * same total order the engine sorts on (prob desc, rid1, rid2),
    * then a recursive CTE walks them one row per step, carrying the
    * accepted rid1/rid2 multisets as list state and accepting while
    * both occurrence counts are under k. `ranked` must be
    * MATERIALIZED: without it DuckDB re-evaluates the whole scoring
    * pipeline every recursion step. The accepted triples join back to
    * the row_number-stamped sides — same materialization as
    * executeJoin.
    */
  private lazy val greedyOracle: String = {
    val k = ValidatorConfig.balanced.maxMatchesPerRow
    val ok = s"""(len(list_filter(g.u1, x -> x = r.rid1)) < $k
                |          AND len(list_filter(g.u2, x -> x = r.rid2)) < $k)""".stripMargin
    s"""WITH RECURSIVE $scoredCtes,
       |cand AS (SELECT rid1, rid2, prob FROM scored WHERE prob >= 0.44),
       |ranked AS MATERIALIZED (
       |  SELECT rid1, rid2, prob,
       |         row_number() OVER (ORDER BY prob DESC, rid1, rid2) AS rn
       |  FROM cand),
       |greedy AS (
       |  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS BIGINT) AS rid1,
       |         CAST(NULL AS BIGINT) AS rid2, FALSE AS acc,
       |         CAST([] AS BIGINT[]) AS u1, CAST([] AS BIGINT[]) AS u2
       |  UNION ALL
       |  SELECT r.rn, r.rid1, r.rid2,
       |         $ok AS acc,
       |         CASE WHEN $ok THEN list_append(g.u1, r.rid1) ELSE g.u1 END,
       |         CASE WHEN $ok THEN list_append(g.u2, r.rid2) ELSE g.u2 END
       |  FROM greedy g JOIN ranked r ON r.rn = g.rn + 1),
       |cr AS (SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS rid1,
       |              c_custkey, c_nationkey, c_acctbal FROM cust),
       |sr AS (SELECT row_number() OVER (ORDER BY s_suppkey) - 1 AS rid2,
       |              s_suppkey, c_nationkey, s_acctbal FROM sup)
       |SELECT c.c_custkey, c.c_nationkey AS c_nationkey_x,
       |       ${QuerySupport.r6Sql("c.c_acctbal")} AS c_acctbal,
       |       s.s_suppkey, s.c_nationkey AS c_nationkey_y,
       |       ${QuerySupport.r6Sql("s.s_acctbal")} AS s_acctbal
       |FROM greedy g JOIN cr c USING (rid1) JOIN sr s USING (rid2)
       |WHERE g.acc ORDER BY c_custkey, s_suppkey""".stripMargin
  }

  private val joinAssignment = CatalogEntry(
    "join_assignment",
    (s: SparkSession, dir: String) => {
      // J5+J6+J7: greedy capped assignment then materialized join,
      // hash-checked against the recursive-CTE greedy replay above.
      val engine = new JoinEngine(ValidatorConfig.balanced)
      val left = df1(s, dir)
      val right = df2(s, dir)
      val matches = engine.limitedAssignment(engine.scoredPairs(left, right))
      val joined = engine.executeJoin(left, right, matches)
      joined.select(
        col("c_custkey"), col("c_nationkey_x"), QuerySupport.r6(col("c_acctbal")).as("c_acctbal"),
        col("s_suppkey"), col("c_nationkey_y"), QuerySupport.r6(col("s_acctbal")).as("s_acctbal"))
        .orderBy("c_custkey", "s_suppkey")
    },
    Some(greedyOracle))

  /** One as-of family member: each event (on the epoch-micros axis)
    * joined to its user's orders, deduped to one order per (custkey,
    * orderdate) — max order key wins — so the as-of pick is
    * deterministic in both engines. Times compare on the epoch-MICROS
    * axis: `events.ts` goes through [[QuerySupport.tsMicros]] because
    * DuckDB's TIMESTAMP is micro-precision; `o_orderdate` is a millis
    * timestamp widened. The oracle replays `join` with DuckDB's native
    * ASOF LEFT JOIN after the same dedup (`od`); `oracleTail` follows
    * it.
    */
  private def asofEntry(name: String, oracleTail: String)(
      join: (DataFrame, DataFrame) => DataFrame): CatalogEntry = CatalogEntry(
    name,
    (s: SparkSession, dir: String) => {
      val evRaw = QuerySupport.table(s, dir, "events")
      val ev = evRaw
        .select(col("event_id"), col("user_id"),
          QuerySupport.tsMicros(evRaw).as("t_us"))
      val orders = QuerySupport.table(s, dir, "orders")
        .withColumn("t_us", unix_micros(col("o_orderdate").cast("timestamp")))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("o_custkey", "t_us").orderBy(col("o_orderkey").desc)))
        .filter(col("__rn") === 1)
        .select("o_custkey", "t_us", "o_orderkey", "o_totalprice")
      join(ev, orders).orderBy("event_id")
    },
    Some(s"""WITH o AS (
           |  SELECT o_custkey, epoch_us(o_orderdate) AS t, o_orderkey, o_totalprice,
           |         row_number() OVER (PARTITION BY o_custkey, epoch_us(o_orderdate)
           |                            ORDER BY o_orderkey DESC) AS rn
           |  FROM orders),
           |od AS (SELECT * FROM o WHERE rn = 1)$oracleTail""".stripMargin))

  private val asofPayload = Seq("o_orderkey", "o_totalprice")

  /** Point-in-time lookup: each event joined to the customer's most
    * recent order at or before the event's timestamp (backward
    * inclusive).
    */
  private val joinAsof = asofEntry("join_asof", """
           |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us,
           |       od.o_orderkey, od.o_totalprice
           |FROM events e ASOF LEFT JOIN od
           |  ON e.user_id = od.o_custkey AND epoch_us(e.ts) >= od.t
           |ORDER BY e.event_id""".stripMargin)(
    (ev, o) => AsOfJoin.asofBackward(ev, o, "user_id", "t_us", "o_custkey", "t_us", asofPayload))

  /** Forward as-of: each event gets the user's NEXT order at-or-after
    * the event time — DuckDB replays it natively with the mirrored
    * ASOF inequality.
    */
  private val joinAsofForward = asofEntry("join_asof_forward", """
           |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us,
           |       od.o_orderkey, od.o_totalprice
           |FROM events e ASOF LEFT JOIN od
           |  ON e.user_id = od.o_custkey AND epoch_us(e.ts) <= od.t
           |ORDER BY e.event_id""".stripMargin)(
    (ev, o) => AsOfJoin.asofForward(ev, o, "user_id", "t_us", "o_custkey", "t_us", asofPayload))

  /** Tolerance as-of (pandas merge_asof tolerance semantics): the
    * backward match counts only within a 7-day staleness horizon; the
    * oracle replays DuckDB's native ASOF join with the same row-local
    * CASE guard.
    */
  private val joinAsofTolerance = asofEntry("join_asof_tolerance", """
           |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us,
           |       CASE WHEN epoch_us(e.ts) - od.t <= 604800000000
           |            THEN od.o_orderkey END AS o_orderkey,
           |       CASE WHEN epoch_us(e.ts) - od.t <= 604800000000
           |            THEN od.o_totalprice END AS o_totalprice
           |FROM events e ASOF LEFT JOIN od
           |  ON e.user_id = od.o_custkey AND epoch_us(e.ts) >= od.t
           |ORDER BY e.event_id""".stripMargin)(
    (ev, o) => AsOfJoin.asofBackwardTolerance(ev, o, "user_id", "t_us", "o_custkey", "t_us", asofPayload,
      tolerance = 604800000000L))

  /** Forward tolerance as-of: the mirrored staleness guard on the
    * forward join — next order within 7 days or null.
    */
  private val joinAsofForwardTolerance = asofEntry("join_asof_forward_tolerance", """
           |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us,
           |       CASE WHEN od.t - epoch_us(e.ts) <= 604800000000
           |            THEN od.o_orderkey END AS o_orderkey,
           |       CASE WHEN od.t - epoch_us(e.ts) <= 604800000000
           |            THEN od.o_totalprice END AS o_totalprice
           |FROM events e ASOF LEFT JOIN od
           |  ON e.user_id = od.o_custkey AND epoch_us(e.ts) <= od.t
           |ORDER BY e.event_id""".stripMargin)(
    (ev, o) => AsOfJoin.asofForwardTolerance(ev, o, "user_id", "t_us", "o_custkey", "t_us", asofPayload,
      tolerance = 604800000000L))

  /** Nearest as-of: each event gets the user's closest order in TIME,
    * either direction, ties backward. The oracle composes DuckDB's two
    * directional ASOF joins and replays the same integer delta pick.
    */
  private val joinAsofNearest = asofEntry("join_asof_nearest", """,
           |e AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
           |b AS (SELECT e.event_id, od.t AS bt, od.o_orderkey AS bk,
           |             od.o_totalprice AS bp
           |      FROM e ASOF LEFT JOIN od
           |        ON e.user_id = od.o_custkey AND e.t_us >= od.t),
           |f AS (SELECT e.event_id, od.t AS ft, od.o_orderkey AS fk,
           |             od.o_totalprice AS fp
           |      FROM e ASOF LEFT JOIN od
           |        ON e.user_id = od.o_custkey AND e.t_us <= od.t),
           |j AS (SELECT e.*, b.bt, b.bk, b.bp, f.ft, f.fk, f.fp,
           |        bt IS NOT NULL AND (ft IS NULL OR e.t_us - bt <= ft - e.t_us)
           |          AS use_b
           |      FROM e JOIN b USING (event_id) JOIN f USING (event_id))
           |SELECT event_id, user_id, t_us,
           |  CASE WHEN use_b THEN bk WHEN ft IS NOT NULL THEN fk END AS o_orderkey,
           |  CASE WHEN use_b THEN bp WHEN ft IS NOT NULL THEN fp END AS o_totalprice,
           |  CASE WHEN use_b THEN bt WHEN ft IS NOT NULL THEN ft END AS asof_t,
           |  CASE WHEN use_b THEN t_us - bt
           |       WHEN ft IS NOT NULL THEN ft - t_us END AS asof_dt,
           |  CASE WHEN use_b THEN 'backward'
           |       WHEN ft IS NOT NULL THEN 'forward' END AS asof_dir
           |FROM j ORDER BY event_id""".stripMargin)(
    (ev, o) => AsOfJoin.asofNearest(ev, o, "user_id", "t_us", "o_custkey", "t_us", asofPayload))

  /** Pure-inequality interval join (no equality key): events whose
    * value falls inside price-derived windows. Spark's own plan for
    * this is a nested-loop cartesian; the operator buckets the axis
    * (width 2.0 ≈ the interval span) and equi-joins on the bucket id.
    * The oracle replays the plain BETWEEN join with DuckDB's IEJoin —
    * same semantics, independent plan. Interval bounds are single IEEE
    * double ops (one divide, one add) on both engines: bit-identical,
    * no rounding layer needed.
    */
  private val joinRange = CatalogEntry(
    "join_range",
    (s: SparkSession, dir: String) => {
      val points = QuerySupport.table(s, dir, "events").select("event_id", "value")
      val intervals = QuerySupport.table(s, dir, "orders")
        .filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") / lit(1000.0) - lit(1.0)).as("lo"),
          (col("o_totalprice") / lit(1000.0) + lit(1.0)).as("hi"))
      RangeJoin.bucketed(points, intervals, "value", "lo", "hi", bucketWidth = 2.0)
        .select("event_id", "o_orderkey", "value", "lo", "hi")
        .orderBy("event_id", "o_orderkey")
    },
    Some("""WITH i AS (
           |  SELECT o_orderkey,
           |         o_totalprice / CAST(1000.0 AS DOUBLE) - CAST(1.0 AS DOUBLE) AS lo,
           |         o_totalprice / CAST(1000.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) AS hi
           |  FROM orders WHERE o_orderkey % 101 = 0)
           |SELECT e.event_id, i.o_orderkey, e.value, i.lo, i.hi
           |FROM events e JOIN i ON e.value BETWEEN i.lo AND i.hi
           |ORDER BY e.event_id, i.o_orderkey""".stripMargin))

  /** Interval-interval overlap (no equality key): order-price windows
    * against event-value windows. The operator's start-bucket dedup
    * makes each overlapping pair appear once; DuckDB replays the
    * plain two-inequality overlap join via IEJoin.
    */
  private val joinIntervalOverlap = CatalogEntry(
    "join_interval_overlap",
    (s: SparkSession, dir: String) => {
      val a = QuerySupport.table(s, dir, "orders")
        .filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") / lit(1000.0) - lit(1.0)).as("a_lo"),
          (col("o_totalprice") / lit(1000.0) + lit(1.0)).as("a_hi"))
      val b = QuerySupport.table(s, dir, "events")
        .filter(col("event_id") % 97 === 0)
        .select(col("event_id"),
          (col("value") - lit(0.5)).as("b_lo"),
          (col("value") + lit(0.5)).as("b_hi"))
      RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
          bucketWidth = 2.0)
        .select("o_orderkey", "event_id", "a_lo", "a_hi", "b_lo", "b_hi")
        .orderBy("o_orderkey", "event_id")
    },
    Some("""WITH a AS (
           |  SELECT o_orderkey,
           |         o_totalprice / CAST(1000.0 AS DOUBLE) - CAST(1.0 AS DOUBLE) AS a_lo,
           |         o_totalprice / CAST(1000.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) AS a_hi
           |  FROM orders WHERE o_orderkey % 101 = 0),
           |b AS (
           |  SELECT event_id,
           |         value - CAST(0.5 AS DOUBLE) AS b_lo,
           |         value + CAST(0.5 AS DOUBLE) AS b_hi
           |  FROM events WHERE event_id % 97 = 0)
           |SELECT a.o_orderkey, b.event_id, a.a_lo, a.a_hi, b.b_lo, b.b_hi
           |FROM a JOIN b ON a.a_lo <= b.b_hi AND b.b_lo <= a.a_hi
           |ORDER BY a.o_orderkey, b.event_id""".stripMargin))

  val entries: Seq[CatalogEntry] =
    Seq(joinPairKernel, joinAssignmentWindowed, joinAssignment, joinAsof,
      joinAsofForward, joinAsofNearest, joinAsofTolerance,
      joinAsofForwardTolerance, joinRange,
      joinIntervalOverlap)
}
