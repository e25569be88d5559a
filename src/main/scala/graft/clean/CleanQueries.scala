package graft.clean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CatalogEntry, QuerySupport}

/** Driver correctness query for the cleaning engine (SURVEY §2.2
  * P2-P11 + relationship checks P4/P5). A deliberately dirty OHLCV
  * frame is derived from `events`, then cleaned with the reference
  * config. Every dirty pattern is chosen so the outcome is
  * engine-deterministic (nulls only hit constant / epoch / zero-std
  * imputation paths; the random normal_distribution path is covered by
  * CleanerSpec instead, since no SQL oracle can reproduce a seeded
  * Spark randn).
  *
  * Dirty patterns (by event_id modulus):
  *  - %50: ticker null        -> constant-imputed "UNKNOWN"
  *  - %41: ts null            -> unix_epoch-imputed, passes no_future_dates
  *  - %43: ts in 2100         -> dropped by no_future_dates
  *  - %7:  open negative      -> dropped by `positive`
  *  - %11: high < close       -> dropped by high_low_relationship
  *  - %13: volume negative    -> dropped by `non_negative`
  *  - %5:  vwap above high    -> nulled by vwap_in_range
  *  - %4:  metric null        -> zero-std normal imputation = mean fill (3.25)
  *  - %3<2: extra null (2/3)  -> column dropped by null-ratio threshold
  */
object CleanQueries {

  private def dirty(df: DataFrame): DataFrame = df.select(
    when(col("event_id") % 50 === 0, lit(null).cast("string"))
      .otherwise(concat(lit("T"), (col("user_id") % 5).cast("string"))).as("ticker"),
    when(col("event_id") % 41 === 0, lit(null).cast("timestamp"))
      .when(col("event_id") % 43 === 0, expr("timestamp'2100-01-01 00:00:00'"))
      .otherwise(timestamp_micros(graft.QuerySupport.tsMicros(df))).as("ts"),
    when(col("event_id") % 7 === 0, -(col("value") + 1.0))
      .otherwise(col("value") + 1.0).as("open"),
    when(col("event_id") % 11 === 0, (col("value") + 2.0) * 0.5)
      .otherwise((col("value") + 2.0) * 1.1).as("high"),
    ((col("value") + 1.0) * 0.5).as("low"),
    (col("value") + 2.0).as("close"),
    when(col("event_id") % 13 === 0, -(col("value") * 3.0 + 0.1))
      .otherwise(col("value") * 3.0 + 0.1).as("volume"),
    when(col("event_id") % 5 === 0, (col("value") + 2.0) * 2.0)
      .otherwise(col("value") + 1.5).as("vwap"),
    when(col("event_id") % 4 === 0, lit(null).cast("double"))
      .otherwise(lit(3.25)).as("metric"),
    when(col("event_id") % 3 < 2, lit(null).cast("double"))
      .otherwise(lit(1.0)).as("extra"),
    col("user_id"), col("event_id"))

  private val dirtySql =
    """dirty AS (
      |  SELECT
      |    CASE WHEN event_id % 50 = 0 THEN NULL
      |         ELSE 'T' || CAST(user_id % 5 AS VARCHAR) END AS ticker,
      |    CASE WHEN event_id % 41 = 0 THEN NULL
      |         WHEN event_id % 43 = 0 THEN TIMESTAMP '2100-01-01 00:00:00'
      |         ELSE make_timestamp(epoch_ns(ts) // 1000) END AS ts,
      |    CASE WHEN event_id % 7 = 0 THEN -(value + 1.0) ELSE value + 1.0 END AS open,
      |    CASE WHEN event_id % 11 = 0 THEN (value + 2.0) * 0.5
      |         ELSE (value + 2.0) * 1.1 END AS high,
      |    (value + 1.0) * 0.5 AS low,
      |    (value + 2.0) AS close,
      |    CASE WHEN event_id % 13 = 0 THEN -(value * 3.0 + 0.1)
      |         ELSE value * 3.0 + 0.1 END AS volume,
      |    CASE WHEN event_id % 5 = 0 THEN (value + 2.0) * 2.0
      |         ELSE value + 1.5 END AS vwap,
      |    CASE WHEN event_id % 4 = 0 THEN NULL ELSE 3.25 END AS metric,
      |    user_id, event_id
      |  FROM events
      |)""".stripMargin

  private val cleanPipeline = CatalogEntry(
    "clean_pipeline",
    (s: SparkSession, dir: String) => {
      val res = Cleaner.clean(dirty(QuerySupport.table(s, dir, "events")))
      res.df.select(
        col("ticker"), col("ts"), col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("vwap"), QuerySupport.r6(col("metric")).as("metric"),
        col("user_id"), col("event_id"))
        .orderBy("event_id")
    },
    Some(
      s"""WITH $dirtySql, imp AS (
         |  SELECT coalesce(ticker, 'UNKNOWN') AS ticker,
         |         coalesce(ts, TIMESTAMP '1970-01-01 00:00:00') AS ts,
         |         open, high, low, close, volume, vwap,
         |         coalesce(metric, 3.25) AS metric,
         |         user_id, event_id
         |  FROM dirty
         |)
         |SELECT ticker, ts, open, high, low, close,
         |  CAST(round_even(volume, 0) AS BIGINT) AS volume,
         |  CASE WHEN vwap < low OR vwap > high THEN NULL ELSE vwap END AS vwap,
         |  ${QuerySupport.r6Sql("metric")} AS metric,
         |  user_id, event_id
         |FROM imp
         |WHERE ts <= now()
         |  AND open > 0 AND high > 0 AND low > 0 AND close > 0
         |  AND volume >= 0
         |  AND high >= greatest(open, close) AND low <= least(open, close)
         |ORDER BY event_id""".stripMargin))

  /** S11: malformed-line-skipping CSV source (reference pipeline_clean
    * path, data_cleaning.py:582-595 — `on_bad_lines="skip"`). The
    * fixture is generated deterministically at query time: i%10==3
    * rows are short (one field), i%10==7 rows over-long (five fields);
    * both are all-numeric in the fields that exist, so schema
    * inference is unaffected and only the token-count mismatch makes
    * them malformed. DROPMALFORMED must drop exactly those.
    */
  private val csvMalformed = CatalogEntry(
    "clean_csv_malformed",
    (s: SparkSession, _: String) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_csv_fixture")
      val lines = "id,ticker,price" +: (0 until 40).map { i =>
        if (i % 10 == 3) s"${9000 + i}" // too few fields -> malformed
        else if (i % 10 == 7) s"$i,S${i % 4},$i.25,9,9" // too many -> malformed
        else s"$i,S${i % 4},$i.25"
      }
      val f = dir.resolve("fixture.csv")
      java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f.toFile.deleteOnExit()
      dir.toFile.deleteOnExit()
      val res = Cleaner.cleanCsv(s, f.toString, CleaningConfig.minimal)
      res.df.select(col("id").cast("long").as("id"), col("ticker"), col("price"))
        .orderBy("id")
    },
    Some("""SELECT i AS id, 'S' || CAST(i % 4 AS VARCHAR) AS ticker, i + 0.25 AS price
           |FROM range(0, 40) t(i) WHERE i % 10 NOT IN (3, 7) ORDER BY id""".stripMargin))

  /** U8: config-gated exact dedup ahead of cleaning
    * (data_cleaning.py:342-350, gated by cleaning_config.json:9
    * `remove_duplicates`). The input is a coarsened integer projection
    * of `events` unioned with itself, so every row has both intra- and
    * cross-copy exact duplicates; with the gate on, the clean output
    * is the distinct set.
    */
  private val cleanDedup = CatalogEntry(
    "clean_dedup",
    (s: SparkSession, dir: String) => {
      val base = QuerySupport.table(s, dir, "events")
        .select((col("user_id") % 100).as("uid"), (col("event_id") % 7).as("bucket"))
      val res = Cleaner.clean(base.unionAll(base),
        CleaningConfig.minimal.copy(removeDuplicates = true))
      res.df.orderBy("uid", "bucket")
    },
    Some("""WITH base AS (SELECT user_id % 100 AS uid, event_id % 7 AS bucket FROM events)
           |SELECT DISTINCT uid, bucket
           |FROM (SELECT * FROM base UNION ALL SELECT * FROM base)
           |ORDER BY uid, bucket""".stripMargin))

  /** One-pass per-column table profile over orders; double columns
    * are excluded from the oracle entry (engine string renderings of
    * doubles differ — the operator profiles them fine, the CROSS-ENGINE
    * hash gate can't).
    */
  private val profileTableSummary = CatalogEntry(
    "profile_table_summary",
    (s: SparkSession, dir: String) => Profiler.tableProfile(
        QuerySupport.table(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
          "o_orderpriority"))
      .orderBy("col_name"),
    Some {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  min(CAST($c AS VARCHAR)) AS min_str,
           |  max(CAST($c AS VARCHAR)) AS max_str
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
    })

  /** Equi-width value histogram over events.value (width 25): exact
    * integer bucket keys and ppm shares; the distribution shape the
    * summary's min/max can't show.
    */
  private val profileValueHistogram = CatalogEntry(
    "profile_value_histogram",
    (s: SparkSession, dir: String) => Profiler.valueHistogram(
        QuerySupport.table(s, dir, "events"), "value", width = 25.0)
      .orderBy("bucket"),
    Some("""WITH b AS (SELECT CAST(floor(value / CAST(25.0 AS DOUBLE)) AS BIGINT)
           |        AS bucket, CAST(count(*) AS BIGINT) AS n_rows
           |      FROM events WHERE value IS NOT NULL GROUP BY 1),
           |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n FROM b)
           |SELECT bucket, n_rows,
           |  n_rows * 1000000 // greatest(n, 1) AS share_ppm
           |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin))

  /** FD audit o_custkey -> o_orderpriority (expected to violate —
    * customers order at many priorities); exact group-grain counts.
    */
  private val profileFdOrders = CatalogEntry(
    "profile_fd_orders",
    (s: SparkSession, dir: String) => Profiler.fdAudit(
      QuerySupport.table(s, dir, "orders"),
      lhs = "o_custkey", rhs = "o_orderpriority"),
    Some("""WITH p AS (SELECT o_custkey,
           |        count(DISTINCT o_orderpriority) AS nd
           |      FROM orders GROUP BY 1)
           |SELECT CAST(count(*) AS BIGINT) AS n_lhs,
           |  CAST(sum(CASE WHEN nd <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_holding,
           |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
           |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
           |    // count(*) AS BIGINT) AS violation_ppm,
           |  CAST(max(nd) AS BIGINT) AS max_rhs_per_lhs
           |FROM p""".stripMargin))

  /** Join-health profile orders->customer on custkey: both sides
    * collapse to key-grain counts, the audit never executes the join.
    */
  private val profileJoinFanout = CatalogEntry(
    "profile_join_fanout",
    (s: SparkSession, dir: String) => Profiler.joinFanout(
      QuerySupport.table(s, dir, "orders"), "o_custkey",
      QuerySupport.table(s, dir, "customer"), "c_custkey"),
    Some("""WITH l AS (SELECT o_custkey AS k, count(*) AS ln FROM orders GROUP BY 1),
           |r AS (SELECT c_custkey AS k, count(*) AS rn FROM customer GROUP BY 1),
           |j AS (SELECT l.ln, r.rn FROM l FULL OUTER JOIN r USING (k))
           |SELECT CAST(sum(coalesce(ln, 0)) AS BIGINT) AS n_left,
           |  CAST(sum(coalesce(rn, 0)) AS BIGINT) AS n_right,
           |  CAST(sum(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
           |    THEN ln * rn ELSE 0 END) AS BIGINT) AS n_joined,
           |  CAST(sum(CASE WHEN rn IS NULL THEN ln ELSE 0 END) AS BIGINT) AS n_left_orphans,
           |  CAST(sum(CASE WHEN ln IS NULL THEN rn ELSE 0 END) AS BIGINT) AS n_right_unmatched,
           |  CAST(sum(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_keys,
           |  CAST(coalesce(max(CASE WHEN ln IS NOT NULL AND rn IS NOT NULL
           |    THEN ln * rn END), 0) AS BIGINT) AS max_fanout
           |FROM j""".stripMargin))

  /** Referential-integrity orphan audit over the TPC-H FK chain:
    * lineitem -> orders and orders -> customer, both at key grain.
    */
  private val profileFkOrphans = CatalogEntry(
    "profile_fk_orphans",
    (s: SparkSession, dir: String) => {
      val a = Profiler.fkOrphans(
        QuerySupport.table(s, dir, "lineitem"), "l_orderkey",
        QuerySupport.table(s, dir, "orders"), "o_orderkey",
        "lineitem->orders")
      val b = Profiler.fkOrphans(
        QuerySupport.table(s, dir, "orders"), "o_custkey",
        QuerySupport.table(s, dir, "customer"), "c_custkey",
        "orders->customer")
      a.unionByName(b).orderBy("relation")
    },
    Some("""WITH c1 AS (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
           |p1 AS (SELECT DISTINCT o_orderkey AS k FROM orders),
           |o1 AS (SELECT coalesce(sum(c1.n), 0) AS orow, count(*) AS okey
           |       FROM c1 LEFT JOIN p1 USING (k) WHERE p1.k IS NULL),
           |t1 AS (SELECT sum(n) AS nr, count(*) AS nk FROM c1),
           |c2 AS (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1),
           |p2 AS (SELECT DISTINCT c_custkey AS k FROM customer),
           |o2 AS (SELECT coalesce(sum(c2.n), 0) AS orow, count(*) AS okey
           |       FROM c2 LEFT JOIN p2 USING (k) WHERE p2.k IS NULL),
           |t2 AS (SELECT sum(n) AS nr, count(*) AS nk FROM c2),
           |u AS (SELECT 'lineitem->orders' AS relation, t1.nr, t1.nk,
           |        o1.orow, o1.okey FROM t1, o1
           |      UNION ALL
           |      SELECT 'orders->customer', t2.nr, t2.nk, o2.orow, o2.okey
           |      FROM t2, o2)
           |SELECT relation, CAST(nr AS BIGINT) AS n_rows,
           |  CAST(nk AS BIGINT) AS n_keys,
           |  CAST(orow AS BIGINT) AS n_orphan_rows,
           |  CAST(okey AS BIGINT) AS n_orphan_keys,
           |  CAST(orow * 1000000 // greatest(nr, 1) AS BIGINT) AS orphan_ppm
           |FROM u ORDER BY relation""".stripMargin))

  /** Top-10 join keys by predicted row explosion — the skew-
    * mitigation list behind profile_join_fanout's max_fanout scalar.
    */
  private val profileJoinHotkeys = CatalogEntry(
    "profile_join_hotkeys",
    (s: SparkSession, dir: String) => Profiler.joinHotKeys(
        QuerySupport.table(s, dir, "orders"), "o_custkey",
        QuerySupport.table(s, dir, "customer"), "c_custkey", topN = 10)
      .orderBy("rank"),
    Some("""WITH l AS (SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS n_left
           |           FROM orders GROUP BY 1),
           |r AS (SELECT c_custkey AS key, CAST(count(*) AS BIGINT) AS n_right
           |      FROM customer GROUP BY 1),
           |j AS (SELECT l.key, n_left, n_right, n_left * n_right AS n_joined
           |      FROM l JOIN r USING (key)),
           |t AS (SELECT CAST(coalesce(sum(n_joined), 0) AS BIGINT) AS total FROM j),
           |tp AS (SELECT * FROM j ORDER BY n_joined DESC, key LIMIT 10),
           |rk AS (SELECT *, row_number() OVER (ORDER BY n_joined DESC, key) AS rank
           |       FROM tp)
           |SELECT key, n_left, n_right, CAST(n_joined AS BIGINT) AS n_joined,
           |  CAST(n_joined * 1000000 // greatest(t.total, 1) AS BIGINT) AS share_ppm,
           |  CAST(rank AS BIGINT) AS rank
           |FROM rk, t ORDER BY rank""".stripMargin))

  /** lang×source dependence audit on documents: MI terms and
    * chi-squared cell terms quantize once to integer micro-units
    * (entropy-cell scheme), so both statistics are exact BIGINT
    * sums; empty chi-squared cells fold in analytically as +n.
    */
  private val profileMutualInfo = CatalogEntry(
    "profile_mutual_info",
    (s: SparkSession, dir: String) => {
      val t = Profiler.mutualInfo(
        QuerySupport.table(s, dir, "documents"), "lang", "source")
      t.select(col("n_rows"), col("n_cells"), col("n_a"), col("n_b"),
        col("mi_unats"), QuerySupport.r6(col("mi_nats")).as("mi_nats"),
        QuerySupport.r6(col("chi2")).as("chi2"),
        QuerySupport.r6(col("cramers_v")).as("cramers_v"))
    },
    Some(s"""WITH c AS (SELECT lang AS a, source AS b, count(*) AS c
            |      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
            |      GROUP BY 1, 2),
            |ra AS (SELECT a, sum(c) AS ra FROM c GROUP BY a),
            |cb AS (SELECT b, sum(c) AS cb FROM c GROUP BY b),
            |t AS (SELECT sum(c) AS n, count(DISTINCT a) AS na,
            |        count(DISTINCT b) AS nb FROM c),
            |q AS (SELECT
            |        CAST(floor(c.c * ln((CAST(c.c AS DOUBLE) * CAST(t.n AS DOUBLE))
            |          / (CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)))
            |          * 1000000.0 + 0.5) AS BIGINT) AS mi,
            |        CAST(floor(((CAST(c.c AS DOUBLE)
            |            - (CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)) / CAST(t.n AS DOUBLE))
            |          * (CAST(c.c AS DOUBLE)
            |            - (CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)) / CAST(t.n AS DOUBLE))
            |          / ((CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)) / CAST(t.n AS DOUBLE))
            |          - (CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE)) / CAST(t.n AS DOUBLE))
            |          * 1000000.0 + 0.5) AS BIGINT) AS x2,
            |        t.n, t.na, t.nb
            |      FROM c JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN t),
            |agg AS (SELECT CAST(max(n) AS BIGINT) AS n_rows,
            |          CAST(count(*) AS BIGINT) AS n_cells,
            |          CAST(max(na) AS BIGINT) AS n_a,
            |          CAST(max(nb) AS BIGINT) AS n_b,
            |          CAST(sum(mi) AS BIGINT) AS mi_unats,
            |          CAST(sum(x2) + max(n) * 1000000 AS DOUBLE) / 1000000.0 AS chi2d
            |        FROM q)
            |SELECT n_rows, n_cells, n_a, n_b, mi_unats,
            |  ${QuerySupport.r6Sql("(CAST(mi_unats AS DOUBLE) / 1000000.0) / CAST(n_rows AS DOUBLE)")} AS mi_nats,
            |  ${QuerySupport.r6Sql("chi2d")} AS chi2,
            |  ${QuerySupport.r6Sql("sqrt(chi2d / (CAST(n_rows AS DOUBLE) * CAST(greatest(least(n_a, n_b) - 1, 1) AS DOUBLE)))")} AS cramers_v
            |FROM agg""".stripMargin))

  /** Benford first-digit audit on events.value at the exact-cents
    * grain: leading digit via the decimal rendering of a BIGINT (no
    * libm log10 on the extraction path); expected shares are the
    * quantized closed form.
    */
  private val profileBenford = CatalogEntry(
    "profile_benford",
    (s: SparkSession, dir: String) => Profiler.benfordAudit(
        QuerySupport.table(s, dir, "events"), "value")
      .orderBy("digit"),
    Some("""WITH v AS (SELECT CAST(floor(value * 100.0) AS BIGINT) AS cents
           |      FROM events WHERE value IS NOT NULL),
           |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
           |        count(*) AS n
           |      FROM v WHERE cents >= 1 GROUP BY 1),
           |t AS (SELECT sum(n) AS t FROM d),
           |sp AS (SELECT unnest(range(1, 10)) AS digit)
           |SELECT sp.digit,
           |  CAST(coalesce(d.n, 0) AS BIGINT) AS n_rows,
           |  CAST(coalesce(d.n, 0) * 1000000 // greatest(t.t, 1) AS BIGINT) AS obs_ppm,
           |  CAST(floor(ln((CAST(sp.digit AS DOUBLE) + 1.0) / CAST(sp.digit AS DOUBLE))
           |    / ln(10.0) * 1000000.0 + 0.5) AS BIGINT) AS exp_ppm,
           |  CAST(coalesce(d.n, 0) * 1000000 // greatest(t.t, 1)
           |    - floor(ln((CAST(sp.digit AS DOUBLE) + 1.0) / CAST(sp.digit AS DOUBLE))
           |      / ln(10.0) * 1000000.0 + 0.5) AS BIGINT) AS dev_ppm
           |FROM sp LEFT JOIN d USING (digit) CROSS JOIN t
           |ORDER BY digit""".stripMargin))

  /** The lineitem columns the correlation entries quantize, with the
    * per-column scales that keep price² inside int64.
    */
  private val lineitemScales = Seq(("l_quantity", 100L), ("l_extendedprice", 1L),
    ("l_discount", 1000000L), ("l_tax", 1000000L))

  /** Pairwise Pearson correlation over lineitem's numeric columns:
    * exact BIGINT moments from ONE aggregate pass, per-column
    * quantization scales chosen so price² stays inside int64, final
    * quotient a fixed IEEE sequence over casted moments.
    */
  private val profileCorrelation = CatalogEntry(
    "profile_correlation",
    (s: SparkSession, dir: String) => Profiler.correlationMatrix(
        QuerySupport.table(s, dir, "lineitem"),
        lineitemScales)
      .select(col("col_a"), col("col_b"), col("n_rows"),
        QuerySupport.r6(col("r")).as("r"))
      .orderBy("col_a", "col_b"),
    Some(lineitemPearsonSql("r")))

  /** The lineitem correlation oracles: quantize [[lineitemScales]] into
    * `q`, take the exact BIGINT moments of `moment(c)` over `from` in
    * one `m`, then each pair's fixed IEEE quotient as `rCol`. `between`
    * is the CTE text between `q` and `m` (Spearman's rank CTEs); `q` is
    * MATERIALIZED when they read it again.
    */
  private def lineitemPearsonSql(rCol: String, moment: String => String = identity,
                                 between: String = "", from: String = "q"): String = {
    val names = lineitemScales.map(_._1)
    val qCols = lineitemScales.map { case (c, sc) =>
      s"CAST(floor($c * $sc) AS BIGINT) AS $c"
    }.mkString(",\n|        ")
    val notNull = names.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val moms = (Seq("count(*) AS n") ++
      names.map(c => s"sum(${moment(c)}) AS s_$c") ++
      (for { i <- names.indices; j <- i until names.size }
        yield s"sum(${moment(names(i))} * ${moment(names(j))}) AS p_${names(i)}_${names(j)}"))
      .mkString(",\n|        ")
    val pairSelects = (for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield {
      val (a, b) = (names(i), names(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         |  CAST(n AS DOUBLE) * CAST(p_${a}_$b AS DOUBLE)
         |    - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE) AS num,
         |  CAST(n AS DOUBLE) * CAST(p_${a}_$a AS DOUBLE)
         |    - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE) AS va,
         |  CAST(n AS DOUBLE) * CAST(p_${b}_$b AS DOUBLE)
         |    - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE) AS vb
         |FROM m""".stripMargin
    }).mkString("\n|      UNION ALL\n|")
    val q = if (between.isEmpty) "q AS" else "q AS MATERIALIZED"
    s"""WITH $q (SELECT $qCols
       |      FROM lineitem WHERE $notNull),
       |${between}m AS MATERIALIZED (SELECT $moms
       |      FROM $from),
       |u AS ($pairSelects)
       |SELECT col_a, col_b, CAST(n AS BIGINT) AS n_rows,
       |  ${QuerySupport.r6Sql("CASE WHEN va <= 0 OR vb <= 0 THEN 0.0 ELSE num / sqrt(va * vb) END")} AS $rCol
       |FROM u ORDER BY col_a, col_b""".stripMargin
  }

  /** Top-5 values per orders category column: WindowGroupLimit rank
    * cut over the map-side-combined value frame, broadcast totals.
    */
  private val profileTopValues = CatalogEntry(
    "profile_top_values",
    (s: SparkSession, dir: String) => Profiler.topValues(
        QuerySupport.table(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"), k = 5)
      .orderBy("column", "rank"),
    Some("""WITH cells AS (
           |  SELECT 'o_orderstatus' AS col, CAST(o_orderstatus AS VARCHAR) AS value
           |  FROM orders WHERE o_orderstatus IS NOT NULL
           |  UNION ALL
           |  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
           |  FROM orders WHERE o_orderpriority IS NOT NULL
           |  UNION ALL
           |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
           |  FROM orders WHERE o_custkey IS NOT NULL),
           |c AS (SELECT col, value, count(*) AS n FROM cells GROUP BY 1, 2),
           |t AS (SELECT col, sum(n) AS t FROM c GROUP BY col),
           |r AS (SELECT col, value, n, row_number() OVER (
           |        PARTITION BY col ORDER BY n DESC, value) AS rank
           |      FROM c)
           |SELECT r.col AS "column", r.value, CAST(r.n AS BIGINT) AS n_rows,
           |  CAST(r.n * 1000000 // t.t AS BIGINT) AS share_ppm,
           |  CAST(r.rank AS BIGINT) AS rank
           |FROM r JOIN t USING (col) WHERE r.rank <= 5
           |ORDER BY "column", rank""".stripMargin))

  /** Self-join size estimation audit on events.user_id: end-biased
    * histogram estimate vs the exact Σc² truth, both from ONE key
    * aggregate — the join never runs.
    */
  private val profileJoinEstimate = CatalogEntry(
    "profile_join_estimate",
    (s: SparkSession, dir: String) => Profiler.joinSizeEstimate(
      QuerySupport.table(s, dir, "events"), "user_id"),
    Some("""WITH c AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
           |a AS (SELECT count(*) AS n_keys, sum(c) AS n_rows,
           |        sum(c * c) AS actual,
           |        sum(CASE WHEN c >= 50 THEN 1 ELSE 0 END) AS n_heavy,
           |        sum(CASE WHEN c >= 50 THEN c * c ELSE 0 END) AS hp,
           |        sum(CASE WHEN c < 50 THEN c ELSE 0 END) AS tn,
           |        sum(CASE WHEN c < 50 THEN 1 ELSE 0 END) AS td
           |      FROM c),
           |e AS (SELECT *, hp + CASE WHEN td = 0 THEN 0
           |          ELSE tn * tn // td END AS est FROM a),
           |f AS (SELECT *, est - actual AS num,
           |        (est - actual) // actual AS mm FROM e)
           |SELECT CAST(n_keys AS BIGINT) AS n_keys,
           |  CAST(n_rows AS BIGINT) AS n_rows,
           |  CAST(actual AS BIGINT) AS actual_pairs,
           |  CAST(n_heavy AS BIGINT) AS n_heavy,
           |  CAST(est AS BIGINT) AS est_pairs,
           |  CAST(mm * 1000000 + (num - mm * actual) * 1000000 // actual
           |    AS BIGINT) AS err_ppm
           |FROM f""".stripMargin))

  /** One-way ANOVA F of token length across languages: exact group
    * moments, per-group between-terms micro-quantized once so
    * SSB/SSW are order-free integer sums.
    */
  private val profileAnovaF = CatalogEntry(
    "profile_anova_f",
    (s: SparkSession, dir: String) => Profiler.anovaF(
        QuerySupport.table(s, dir, "documents")
          .select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        groupCol = "lang", valueCol = "n_tokens")
      .select(col("n_rows"), col("n_groups"), col("ssb_micro"),
        col("ssw_micro"), QuerySupport.r6(col("f_stat")).as("f_stat")),
    Some(s"""WITH v AS (SELECT lang AS g,
            |        CAST(len(string_split(text, ' ')) AS BIGINT) AS x
            |      FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
            |gm AS (SELECT g, count(*) AS n, sum(x) AS s, sum(x * x) AS s2
            |      FROM v GROUP BY g),
            |bt AS (SELECT *, CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
            |        / CAST(n AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS btm
            |      FROM gm),
            |a AS (SELECT count(*) AS k, sum(n) AS nr, sum(s) AS st,
            |        sum(s2) AS st2, sum(btm) AS sbt FROM bt),
            |f AS (SELECT *, CAST(floor(CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
            |        / CAST(nr AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS gmt
            |      FROM a)
            |SELECT CAST(nr AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS n_groups,
            |  CAST(sbt - gmt AS BIGINT) AS ssb_micro,
            |  CAST(st2 * 1000000 - sbt AS BIGINT) AS ssw_micro,
            |  ${QuerySupport.r6Sql(
      "CASE WHEN k <= 1 OR nr <= k OR st2 * 1000000 - sbt <= 0 THEN 0.0 " +
        "ELSE (CAST(sbt - gmt AS DOUBLE) / CAST(k - 1 AS DOUBLE)) " +
        "/ (CAST(st2 * 1000000 - sbt AS DOUBLE) / CAST(nr - k AS DOUBLE)) END")} AS f_stat
            |FROM f""".stripMargin))

  /** Null-rate drift per events column between calendar halves:
    * exact counts from one conditional aggregate, floor-div ppm
    * shares, signed delta.
    */
  private val profileNullDrift = CatalogEntry(
    "profile_null_drift",
    (s: SparkSession, dir: String) => {
      val raw = QuerySupport.table(s, dir, "events")
      Profiler.nullDrift(
        raw.select(col("value"), col("props"),
          QuerySupport.tsMicros(raw).as("t_us")),
        cols = Seq("props", "value"), timeCol = "t_us")
    },
    Some("""WITH d AS (SELECT value, props,
           |        epoch_us(ts) // 86400000000 AS b FROM events),
           |md AS (SELECT (min(b) + max(b)) // 2 AS mid FROM d),
           |m AS (SELECT
           |        sum(CASE WHEN b <= mid THEN 1 ELSE 0 END) AS na,
           |        sum(CASE WHEN b > mid THEN 1 ELSE 0 END) AS nb,
           |        sum(CASE WHEN b <= mid AND props IS NULL THEN 1 ELSE 0 END) AS za_props,
           |        sum(CASE WHEN b > mid AND props IS NULL THEN 1 ELSE 0 END) AS zb_props,
           |        sum(CASE WHEN b <= mid AND value IS NULL THEN 1 ELSE 0 END) AS za_value,
           |        sum(CASE WHEN b > mid AND value IS NULL THEN 1 ELSE 0 END) AS zb_value
           |      FROM d, md),
           |u AS (SELECT 'props' AS "column", na, nb, za_props AS za,
           |        zb_props AS zb FROM m
           |      UNION ALL
           |      SELECT 'value', na, nb, za_value, zb_value FROM m)
           |SELECT "column", CAST(na AS BIGINT) AS n_first,
           |  CAST(nb AS BIGINT) AS n_second,
           |  CAST(za * 1000000 // greatest(na, 1) AS BIGINT) AS null_first_ppm,
           |  CAST(zb * 1000000 // greatest(nb, 1) AS BIGINT) AS null_second_ppm,
           |  CAST(zb * 1000000 // greatest(nb, 1)
           |    - za * 1000000 // greatest(na, 1) AS BIGINT) AS delta_ppm
           |FROM u ORDER BY "column"""".stripMargin))

  /** Pairwise Spearman rank correlation over lineitem's numeric
    * columns: doubled midranks from value-grain windows (population
    * never sorted), exact BIGINT rank moments, fixed IEEE quotient.
    */
  private val profileSpearman = CatalogEntry(
    "profile_spearman",
    (s: SparkSession, dir: String) => Profiler.spearmanMatrix(
        QuerySupport.table(s, dir, "lineitem"),
        lineitemScales)
      .select(col("col_a"), col("col_b"), col("n_rows"),
        QuerySupport.r6(col("rho")).as("rho"))
      .orderBy("col_a", "col_b"),
    Some {
      val names = lineitemScales.map(_._1)
      val rankCtes = names.map { c =>
        s"""rc_$c AS (SELECT $c AS v, count(*) AS cnt FROM q GROUP BY 1),
           |rw_$c AS (SELECT v,
           |        2 * coalesce(sum(cnt) OVER (ORDER BY v
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |          + cnt + 1 AS r2
           |      FROM rc_$c)""".stripMargin
      }.mkString(",\n|")
      val joinOn = names.map(c => s"JOIN rw_$c ON q.$c = rw_$c.v")
        .mkString("\n|        ")
      val rSel = names.map(c => s"rw_$c.r2 AS r_$c").mkString(", ")
      lineitemPearsonSql("rho", c => s"r_$c",
        s"""$rankCtes,
           |j AS (SELECT $rSel
           |      FROM q
           |        $joinOn),
           |""", "j")
    })

  /** Per-column Shannon entropy over the documents dimensions:
    * per-value contributions pico-nat-quantized once, exact BIGINT
    * sums, normalized ratio as one fixed-shape double.
    */
  private val profileColEntropy = CatalogEntry(
    "profile_col_entropy",
    (s, dir) => Profiler.columnEntropy(
        QuerySupport.table(s, dir, "documents"), Seq("lang", "source"))
      .select(col("col_name"), col("n_rows"), col("n_distinct"),
        col("entropy_pnats"),
        QuerySupport.r6(col("entropy_nats")).as("entropy_nats"),
        QuerySupport.r6(col("norm_entropy")).as("norm_entropy")),
    Some {
      // no GROUP BY in e_$c: the aggregate must emit exactly one row
      // even for an all-NULL column (degenerate-input contract —
      // Profiler.columnEntropy coalesces its sums the same way)
      def block(c: String) =
        s"""c_$c AS (SELECT CAST($c AS VARCHAR) AS v, count(*) AS c
           |       FROM documents WHERE $c IS NOT NULL GROUP BY 1),
           |n_$c AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c_$c),
           |e_$c AS (SELECT '$c' AS col_name,
           |         CAST(coalesce(sum(c), 0) AS BIGINT) AS n_rows,
           |         CAST(count(*) AS BIGINT) AS n_distinct,
           |         CAST(coalesce(sum(CAST(floor(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
           |           * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE))
           |           * 1e12 + 0.5) AS BIGINT)), 0) AS BIGINT) AS entropy_pnats
           |       FROM c_$c CROSS JOIN n_$c)""".stripMargin
      s"""WITH ${block("lang")},
         |${block("source")},
         |u AS (SELECT * FROM e_lang UNION ALL SELECT * FROM e_source)
         |SELECT col_name, n_rows, n_distinct, entropy_pnats,
         |  ${QuerySupport.r6Sql("CAST(entropy_pnats AS DOUBLE) / 1e12")} AS entropy_nats,
         |  ${QuerySupport.r6Sql("CASE WHEN n_distinct <= 1 THEN 0.0 ELSE (CAST(entropy_pnats AS DOUBLE) / 1e12) / ln(CAST(n_distinct AS DOUBLE)) END")} AS norm_entropy
         |FROM u ORDER BY col_name""".stripMargin
    })

  /** Candidate-key uniqueness audit over three event-table subsets:
    * exact distinct counts per subset. NULL-bearing combinations are
    * excluded from distinctness and reported as `n_null_rows` on
    * BOTH engines (the r18 advice closure — Spark's struct-distinct
    * and SQL's DISTINCT disagree on NULL members otherwise); a
    * nullable key column is never a candidate key.
    */
  private val profileKeyUniqueness = CatalogEntry(
    "profile_key_uniqueness",
    (s, dir) => Profiler.keyUniqueness(
      QuerySupport.table(s, dir, "events"),
      Seq(Seq("event_id"), Seq("user_id"), Seq("user_id", "event_type"))),
    Some("""WITH a AS (SELECT 'event_id' AS key_cols, count(*) AS n_rows,
           |          count(*) FILTER (WHERE event_id IS NULL) AS n_null_rows,
           |          count(DISTINCT event_id) AS n_distinct FROM events),
           |b AS (SELECT 'user_id', count(*),
           |        count(*) FILTER (WHERE user_id IS NULL),
           |        count(DISTINCT user_id) FROM events),
           |c AS (SELECT 'user_id,event_type', count(*),
           |        count(*) FILTER (WHERE user_id IS NULL OR event_type IS NULL),
           |        count(DISTINCT (user_id, event_type))
           |          FILTER (WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
           |      FROM events),
           |u AS (SELECT * FROM a UNION ALL SELECT * FROM b
           |      UNION ALL SELECT * FROM c)
           |SELECT key_cols, CAST(n_rows AS BIGINT) AS n_rows,
           |  CAST(n_null_rows AS BIGINT) AS n_null_rows,
           |  CAST(n_distinct AS BIGINT) AS n_distinct,
           |  CAST(n_rows - n_null_rows - n_distinct AS BIGINT) AS n_dup_rows,
           |  CAST((n_rows - n_null_rows - n_distinct) * 1000000
           |    // greatest(n_rows, 1) AS BIGINT) AS dup_ppm,
           |  ((n_rows - n_null_rows - n_distinct) = 0
           |   AND n_null_rows = 0) AS is_candidate_key
           |FROM u ORDER BY key_cols""".stripMargin))

  val entries: Seq[CatalogEntry] = Seq(cleanPipeline, csvMalformed, cleanDedup,
    profileKeyUniqueness, profileColEntropy,
    profileTableSummary, profileFdOrders, profileJoinFanout, profileJoinHotkeys,
    profileFkOrphans,
    profileValueHistogram, profileMutualInfo, profileBenford,
    profileCorrelation, profileSpearman, profileJoinEstimate,
    profileNullDrift, profileAnovaF, profileTopValues)
}
