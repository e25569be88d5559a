package graft.clean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-profiling operators — the discovery pass a pipeline runs on an
  * unfamiliar table before wiring it in: per-column summaries and
  * dependency audits, each as ONE aggregate over the table (profiling
  * 100 TB must not cost more than reading it once per audit).
  */
object Profiler {

  /** One-pass per-column profile: null count, exact distinct count,
    * lexicographic min/max of the VARCHAR rendering (the portable
    * cross-type ordering — a profile wants "what does this column
    * look like", not typed arithmetic). One wide aggregate computes
    * every column's stats simultaneously (count_distinct expands to
    * an expand-node internally but stays a single shuffle), then an
    * unpivot lays the result out row-per-column.
    *
    * Output: (column, n_rows, n_nulls, n_distinct, min_str, max_str).
    */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c).cast("string")).as(s"__mn_$c"),
        max(col(c).cast("string")).as(s"__mx_$c"))
    }
    // The multi-distinct Expand multiplies every row |cols|+1 times
    // BEFORE the partial aggregate; a sub-row-group table scans as one
    // split, so without the spread guard that whole blowup runs in a
    // single task (r19 optimization round — the Classifier.features
    // precedent; at real scale the scan is many-split and this is a
    // no-op).
    val wide = graft.llmdata.Dedup.spread(df.select(cols.map(col): _*))
      .agg(count(lit(1)).as("__n"), aggs: _*)
    val stacked = cols.map { c =>
      s"'$c', __nn_$c, __nd_$c, __mn_$c, __mx_$c"
    }.mkString(", ")
    wide.select(col("__n"),
        expr(s"stack(${cols.size}, $stacked)")
          .as(Seq("col_name", "n_nulls", "n_distinct", "min_str", "max_str")))
      .select(col("col_name"), col("__n").as("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  /** Join-health profile for an equi-join `left.key = right.key` —
    * the pre-flight audit before wiring a join into a pipeline: how
    * many rows survive, how many left rows find no partner
    * (orphans), how many right keys go unmatched, and the worst
    * per-key fanout (the row-explosion predictor: joined rows per key
    * = left_n × right_n). Computed WITHOUT executing the join: both
    * sides reduce to key-grain counts first, so the audit costs two
    * map-side-combined aggregates + one key join of count frames —
    * never the joined row set itself (which is the thing you're
    * trying to predict).
    *
    * Output: one row (n_left, n_right, n_joined, n_left_orphans,
    * n_right_unmatched, n_shared_keys, max_fanout).
    */
  /** Referential-integrity ORPHAN audit: child rows whose foreign key
    * has no parent — the join-health number `joinFanout` can't show
    * (fanout predicts blowup; this predicts silent row LOSS on the
    * inner join a pipeline writes next). Null child keys count as
    * orphans (they can never match), identically on both engines (a
    * null key survives Spark's left_anti and DuckDB's
    * LEFT JOIN … IS NULL alike).
    *
    * 100 TB plan: both sides reduce to KEY-grain frames first (one
    * map-side-combined aggregate each, key columns only — the scans
    * prune to one column), and the anti-join runs at key grain; no
    * row-grain join ever forms. Output: one row —
    * (relation, n_rows, n_keys, n_orphan_rows, n_orphan_keys,
    * orphan_ppm).
    */
  def fkOrphans(child: DataFrame, childKey: String,
                parent: DataFrame, parentKey: String,
                relation: String): DataFrame = {
    val ck = child.groupBy(col(childKey).as("__k"))
      .agg(count(lit(1)).as("__n"))
      .persist() // key-grain bounded: totals + anti-join both read it
    val orphan = ck
      .join(parent.select(col(parentKey).as("__k")).distinct(),
        Seq("__k"), "left_anti")
      .agg(coalesce(sum("__n"), lit(0L)).as("n_orphan_rows"),
        count(lit(1)).as("n_orphan_keys"))
    ck.agg(sum("__n").as("n_rows"), count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(orphan))
      .select(lit(relation).as("relation"), col("n_rows"), col("n_keys"),
        col("n_orphan_rows"), col("n_orphan_keys"),
        expr("n_orphan_rows * 1000000 div greatest(n_rows, 1)")
          .as("orphan_ppm"))
  }

  def joinFanout(left: DataFrame, leftKey: String, right: DataFrame,
                 rightKey: String): DataFrame = {
    val l = left.groupBy(col(leftKey).as("__k"))
      .agg(count(lit(1)).as("__ln"))
    val r = right.groupBy(col(rightKey).as("__k"))
      .agg(count(lit(1)).as("__rn"))
    l.join(r, Seq("__k"), "full_outer")
      .agg(
        sum(coalesce(col("__ln"), lit(0L))).as("n_left"),
        sum(coalesce(col("__rn"), lit(0L))).as("n_right"),
        sum(when(col("__ln").isNotNull && col("__rn").isNotNull,
          col("__ln") * col("__rn")).otherwise(0L)).as("n_joined"),
        sum(when(col("__rn").isNull, col("__ln")).otherwise(0L))
          .as("n_left_orphans"),
        sum(when(col("__ln").isNull, col("__rn")).otherwise(0L))
          .as("n_right_unmatched"),
        sum(when(col("__ln").isNotNull && col("__rn").isNotNull, 1L)
          .otherwise(0L)).as("n_shared_keys"),
        max(when(col("__ln").isNotNull && col("__rn").isNotNull,
          col("__ln") * col("__rn"))).as("max_fanout"))
      .na.fill(0L, Seq("max_fanout"))
  }

  /** The actionable detail behind [[joinFanout]]'s `max_fanout`
    * scalar: the top-N join keys by predicted row explosion
    * (`left_n * right_n`), with each side's count and the key's ppm
    * share of all predicted joined rows — the exact list a skew
    * mitigation (salting, broadcast-isolate, key quarantine) needs.
    * Same never-execute-the-join contract: both sides reduce to
    * key-grain counts, the candidate frame is the count-frame inner
    * join, and the cut is a TakeOrdered — no window ever sees more
    * than `topN` rows. Output: (key, n_left, n_right, n_joined,
    * share_ppm, rank), rank by (n_joined desc, key asc).
    */
  def joinHotKeys(left: DataFrame, leftKey: String, right: DataFrame,
                  rightKey: String, topN: Int = 10): DataFrame = {
    val l = left.groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val r = right.groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    val joined = l.join(r, Seq("key"))
      .withColumn("n_joined", col("n_left") * col("n_right"))
    val total = joined.agg(
      coalesce(sum("n_joined"), lit(0L)).as("__total"))
    joined
      .orderBy(col("n_joined").desc, col("key").asc)
      .limit(topN)
      .crossJoin(broadcast(total))
      .withColumn("share_ppm",
        expr("n_joined * 1000000 div greatest(__total, 1)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_joined").desc, col("key").asc)).cast("long"))
      .drop("__total")
  }

  /** Functional-dependency audit `lhs -> rhs` (the profiling question
    * behind join-key discovery and normalization checks): a LHS value
    * violates the dependency when it maps to more than one distinct
    * RHS value. One group-grain aggregate then one summary row —
    * (n_lhs, n_holding, n_violating, violation_ppm, max_rhs_per_lhs).
    *
    * 100 TB plan: ONE map-side-combined aggregate to lhs grain (the
    * distinct-count expand is the only widening), one tiny rollup.
    * NULL lhs rows group together like any other value; NULL rhs is
    * IGNORED by distinct-count on both engines (an all-null lhs group
    * reports nd = 0 and counts as holding).
    */
  /** Equi-width histogram of a numeric column — the distribution the
    * per-column summary's min/max can't show (skew, modes, spikes):
    * bucket = ⌊value / width⌋ as an exact BIGINT key, per-bucket row
    * counts and exact ppm shares. NULLs are excluded (they're the
    * summary's n_nulls, not a bucket).
    *
    * 100 TB plan: one map-side-combined aggregate to bucket grain
    * (output bounded by the value range / width, not rows), totals
    * attached by broadcast. The ⌊v/width⌋ double divide is identical
    * IEEE on both engines. Output: (bucket, n_rows, share_ppm).
    */
  def valueHistogram(df: DataFrame, valueCol: String,
                     width: Double): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    val b = df.filter(col(valueCol).isNotNull)
      .withColumn("bucket",
        expr(s"cast(floor($valueCol / cast($width as double)) as bigint)"))
      .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
    val tot = b.agg(sum("n_rows").as("__n"))
    b.crossJoin(org.apache.spark.sql.functions.broadcast(tot))
      .withColumn("share_ppm",
        expr("n_rows * 1000000 div greatest(__n, 1)"))
      .select(col("bucket"), col("n_rows"), col("share_ppm"))
  }

  /** Mutual information + chi-squared dependence audit between two
    * categorical columns — the "are these independent?" question a
    * mix designer asks before stratifying on both (a lang×source MI
    * near 0 says the strata factorize; a high Cramér's V says one
    * column is nearly a function of the other, and stratifying on
    * both double-counts).
    *
    * Exactness contract (the entropy-cell scheme): each observed
    * cell's count-scaled MI term `c·ln(c·n/(r·s))` and its
    * chi-squared term `(c−E)²/E − E` (E = r·s/n) are evaluated in
    * doubles from exact corpus integers — identical IEEE op order on
    * both engines — and quantized ONCE to integer micro-units, so
    * both statistics are exact BIGINT sums, order- and
    * partition-independent. Empty cells contribute exactly E to
    * chi-squared, and `Σ_empty E = n − Σ_obs E`, so the full-table
    * statistic is `Σ_obs((c−E)²/E − E) + n` — no empty-cell frame is
    * ever materialized. MI terms can be individually negative;
    * `floor(x·1e6 + 0.5)` is the same round-half-up on both engines.
    *
    * 100 TB plan: ONE scan feeds the (a, b) contingency aggregate
    * (map-side combined; output bounded by |A|·|B| cells); both
    * marginals and the grand total derive from THAT bounded frame
    * and attach by broadcast. Output: one row — (n_rows, n_cells,
    * n_a, n_b, mi_unats, mi_nats, chi2, cramers_v).
    */
  def mutualInfo(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__c"))
    val byA = cells.groupBy("__a").agg(sum("__c").as("__ra"))
    val byB = cells.groupBy("__b").agg(sum("__c").as("__cb"))
    val tot = cells.agg(sum("__c").as("__n"),
      countDistinct("__a").as("__na"), countDistinct("__b").as("__nb"))
    cells
      .join(broadcast(byA), "__a")
      .join(broadcast(byB), "__b")
      .crossJoin(broadcast(tot))
      .withColumn("__mi", expr(
        "cast(floor(__c * ln((cast(__c as double) * cast(__n as double)) " +
          "/ (cast(__ra as double) * cast(__cb as double))) " +
          "* 1000000.0 + 0.5) as bigint)"))
      .withColumn("__e", expr(
        "(cast(__ra as double) * cast(__cb as double)) / cast(__n as double)"))
      .withColumn("__x2", expr(
        "cast(floor(((cast(__c as double) - __e) * (cast(__c as double) - __e) " +
          "/ __e - __e) * 1000000.0 + 0.5) as bigint)"))
      .groupBy()
      .agg(max("__n").as("n_rows"), count(lit(1)).as("n_cells"),
        max("__na").as("n_a"), max("__nb").as("n_b"),
        sum("__mi").as("mi_unats"), sum("__x2").as("__x2s"))
      .withColumn("mi_nats", expr(
        "(cast(mi_unats as double) / 1000000.0) / cast(n_rows as double)"))
      .withColumn("chi2", expr(
        "cast(__x2s + n_rows * 1000000 as double) / 1000000.0"))
      .withColumn("cramers_v", expr(
        "sqrt(chi2 / (cast(n_rows as double) " +
          "* cast(greatest(least(n_a, n_b) - 1, 1) as double)))"))
      .drop("__x2s")
  }

  /** Benford first-digit audit over a money-like column — the
    * fabricated-data / unit-mixing detector: naturally occurring
    * multi-scale positive amounts follow `P(d) = log10(1 + 1/d)`;
    * uniform synthetic values, capped values, or a unit mix bend the
    * curve in characteristic ways.
    *
    * The first digit is extracted WITHOUT floating log10 (whose
    * last-ulp behavior at exact powers of ten is libm-specific):
    * values quantize to exact integer cents (`floor(v·100)`, one
    * IEEE op), and the leading digit of a positive integer is the
    * first character of its decimal rendering — engine-identical by
    * definition. Expected shares quantize the closed form to ppm.
    *
    * 100 TB plan: ONE scan feeds a 9-row digit aggregate (map-side
    * combined); the digit spine joins by broadcast so zero-count
    * digits still report. Output per digit 1-9: (digit, n_rows,
    * obs_ppm, exp_ppm, dev_ppm).
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val d = df
      .filter(col(valueCol).isNotNull)
      .withColumn("__cents", expr(s"cast(floor($valueCol * 100.0) as bigint)"))
      .filter(col("__cents") >= 1L)
      .withColumn("digit", expr(
        "cast(substring(cast(__cents as string), 1, 1) as bigint)"))
      .groupBy("digit").agg(count(lit(1)).as("__n"))
    val tot = d.agg(sum("__n").as("__t"))
    val spine = df.sparkSession.range(1, 10).select(col("id").as("digit"))
    spine
      .join(broadcast(d), Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("n_rows", coalesce(col("__n"), lit(0L)))
      .withColumn("obs_ppm", expr("n_rows * 1000000 div greatest(__t, 1)"))
      .withColumn("exp_ppm", expr(
        "cast(floor(ln((cast(digit as double) + 1.0) / cast(digit as double)) " +
          "/ ln(10.0) * 1000000.0 + 0.5) as bigint)"))
      .withColumn("dev_ppm", expr("obs_ppm - exp_ppm"))
      .select(col("digit"), col("n_rows"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"))
  }

  /** Pairwise Pearson correlation matrix over a set of numeric
    * columns — the redundancy map a feature engineer reads before
    * building a model ("price and tax are r=0.98, keep one") and the
    * drift detector's multivariate sibling. Columns quantize to a
    * fixed integer grain (`floor(x·scale)` — correlation OF THE
    * QUANTIZED VALUES by contract, the covarianceMatrix precedent),
    * all five moments per pair accumulate as exact BIGINT sums in ONE
    * aggregate, and each correlation is a fixed IEEE sequence over
    * the casted moments (deterministic cross-engine because the
    * operands are exact integers).
    *
    * int64 bound: `Σ x_i·x_j` needs
    * `rows · (max|x_i|·scale_i) · (max|x_j|·scale_j) ≲ 9.2e18` — the
    * per-column scale exists exactly so a price column (scale 1) and
    * a ratio column (scale 1e6) can share one matrix without the
    * price² moment overflowing; shard the row space and add moments
    * beyond (the entropyRate convention).
    *
    * 100 TB plan: ONE map-side-combined aggregate computes every
    * moment simultaneously (k + k(k+1)/2 sums — a single scan, no
    * joins, no windows); the pair spine explodes from the one
    * aggregate row. Rows with any null column are excluded up front
    * so every moment sees the same population. Output:
    * (col_a, col_b, n_rows, r).
    */
  def correlationMatrix(df: DataFrame,
                        scaledCols: Seq[(String, Long)]): DataFrame = {
    val cols = scaledCols.map(_._1)
    pearsonFromMoments(quantized(df, scaledCols), cols, cols, "r")
  }

  /** The correlation matrices' input: rows with a null in any column
    * dropped (every moment sees the same population), each column
    * quantized to `floor(x·scale)` as BIGINT.
    */
  private def quantized(df: DataFrame, scaledCols: Seq[(String, Long)]): DataFrame = {
    require(scaledCols.size >= 2, s"need at least two columns: $scaledCols")
    df.filter(scaledCols.map { case (c, _) => col(c).isNotNull }.reduce(_ && _))
      .select(scaledCols.map { case (c, scale) =>
        expr(s"cast(floor($c * $scale) as bigint)").as(c)
      }: _*)
  }

  /** Pearson from exact BIGINT moments, the correlation matrices'
    * shared tail: ONE aggregate takes n, every Σx and every Σx·y over
    * `momentCols`, each pair's (num, va, vb) is one struct of casted
    * moments exploded from that row, and r is one fixed IEEE sequence
    * (0.0 when a column is constant). Output: (col_a, col_b, n_rows,
    * `rCol`), with each pair named by `labels`.
    */
  private def pearsonFromMoments(df: DataFrame, momentCols: Seq[String],
                                 labels: Seq[String], rCol: String): DataFrame = {
    val aggs = Seq(count(lit(1)).as("__n")) ++
      momentCols.map(c => sum(col(c)).as(s"__s_$c")) ++
      (for { i <- momentCols.indices; j <- i until momentCols.size } yield
        sum(col(momentCols(i)) * col(momentCols(j))).as(s"__p_${momentCols(i)}_${momentCols(j)}"))
    val m = df.agg(aggs.head, aggs.tail: _*)
    val structs = (for {
      i <- momentCols.indices; j <- (i + 1) until momentCols.size
    } yield {
      val (a, b) = (momentCols(i), momentCols(j))
      s"struct('${labels(i)}' AS col_a, '${labels(j)}' AS col_b, " +
        s"cast(__n as double) * cast(__p_${a}_$b as double) " +
        s"- cast(__s_$a as double) * cast(__s_$b as double) AS num, " +
        s"cast(__n as double) * cast(__p_${a}_$a as double) " +
        s"- cast(__s_$a as double) * cast(__s_$a as double) AS va, " +
        s"cast(__n as double) * cast(__p_${b}_$b as double) " +
        s"- cast(__s_$b as double) * cast(__s_$b as double) AS vb)"
    }).mkString(", ")
    m.select(col("__n").as("n_rows"),
        explode(expr(s"array($structs)")).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("n_rows"),
        expr("case when p.va <= 0 or p.vb <= 0 then 0.0 " +
          "else p.num / sqrt(p.va * p.vb) end").as(rCol))
  }

  /** One-way ANOVA F — does an integer metric differ across groups
    * more than chance allows (token length by language, value by
    * event type): the classic decomposition
    * `SST = SSB + SSW`, reported as the F statistic
    * `(SSB/(k−1)) / (SSW/(N−k))`. The order-free exactness trick:
    * group moments (n_g, Σx_g, Σx_g²) are exact BIGINT, and each
    * group's between-term `(Σx_g)²/n_g` quantizes ONCE to integer
    * micro on the |groups|-bounded frame — so SSB/SSW are exact
    * integer sums (a naive double Σ over groups would make F depend
    * on aggregation order, the last-ulp trap the micro-nat family
    * exists to kill). Int64 bound: (Σx_g)² runs in double before the
    * micro floor (exact to Σx_g ≤ ~9.4e7 at full micro precision;
    * beyond, pre-divide x — F is scale-invariant).
    *
    * 100 TB plan: one scan, one map-side-combined group-moment
    * aggregate, everything after on the |groups| frame. Output one
    * row: (n_rows, n_groups, ssb_micro, ssw_micro, f_stat).
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val g = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"),
        sum(col(valueCol) * col(valueCol)).as("__s2"))
      .withColumn("__bt", floor(
        col("__s").cast("double") * col("__s").cast("double")
          / col("__n").cast("double") * lit(1000000.0) + lit(0.5))
        .cast("long"))
    g.agg(count(lit(1)).as("n_groups"), sum("__n").as("n_rows"),
        sum("__s").as("__st"), sum("__s2").as("__st2"),
        sum("__bt").as("__sbt"))
      .withColumn("__gm", floor(
        col("__st").cast("double") * col("__st").cast("double")
          / col("n_rows").cast("double") * lit(1000000.0) + lit(0.5))
        .cast("long"))
      .withColumn("ssb_micro", col("__sbt") - col("__gm"))
      .withColumn("ssw_micro",
        col("__st2") * lit(1000000L) - col("__sbt"))
      .withColumn("f_stat", expr(
        "case when n_groups <= 1 or n_rows <= n_groups or ssw_micro <= 0 " +
          "then 0.0 else " +
          "(cast(ssb_micro as double) / cast(n_groups - 1 as double)) " +
          "/ (cast(ssw_micro as double) / cast(n_rows - n_groups as double)) " +
          "end"))
      .select(col("n_rows"), col("n_groups"), col("ssb_micro"),
        col("ssw_micro"), col("f_stat"))
  }

  /** Per-column Shannon entropy for categorical columns — the
    * information-density row the table summary's distinct count
    * alone can't give (a column with 1000 distinct values and H ≈ 0
    * is one dominant value plus noise; the same count at H ≈ ln 1000
    * is a real key signal): exact value-count frame, per-value
    * `p·ln(1/p)` contributions quantized ONCE to pico-nats (the
    * KL-drift convention — micro would round O(1/|values|)
    * contributions to nothing), exact BIGINT sum, and the normalized
    * ratio `H / ln(n_distinct)` as one fixed-shape double. NULLs are
    * excluded (SQL aggregate semantics), single-valued columns
    * report ratio 0. Degenerate columns (all-NULL or an empty frame)
    * report an explicit zero row — (n_rows 0, n_distinct 0,
    * entropy 0, ratio 0.0) — on BOTH engines: the Spark aggregate
    * coalesces its empty-input sums and the oracle's per-column
    * aggregate runs without GROUP BY so it cannot emit zero rows
    * (r18 advice closure; `Round19OpsSpec` "all-NULL column").
    *
    * 100 TB plan: one map-side-combined value-count aggregate per
    * audited column (the value-histogram class); the entropy rollup
    * rides the bounded value frame. Output: (col_name, n_rows,
    * n_distinct, entropy_pnats, entropy_nats, norm_entropy).
    */
  def columnEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnEntropy needs at least one column")
    cols.map { c =>
      val counts = df.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("__v"))
        .agg(count(lit(1)).as("__c"))
      val total = counts.agg(sum("__c").as("__n"))
      counts.crossJoin(broadcast(total))
        .withColumn("__e", floor(
          col("__c").cast("double") / col("__n").cast("double")
            * log(col("__n").cast("double") / col("__c").cast("double"))
            * lit(1e12) + lit(0.5)).cast("long"))
        .agg(coalesce(sum("__c"), lit(0L)).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          coalesce(sum("__e"), lit(0L)).as("entropy_pnats"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_distinct"),
          col("entropy_pnats"))
    }.reduce(_.unionAll(_))
      .withColumn("entropy_nats",
        col("entropy_pnats").cast("double") / lit(1e12))
      .withColumn("norm_entropy", expr(
        "case when n_distinct <= 1 then 0.0 else " +
          "(cast(entropy_pnats as double) / 1e12) " +
          "/ ln(cast(n_distinct as double)) end"))
      .orderBy("col_name")
  }

  /** Candidate-key uniqueness audit — the schema-governance question
    * upstream of every dedup/join decision: for each audited column
    * subset, the exact distinct-combination count, the duplicate-row
    * count, and whether the subset is a candidate key (zero
    * duplicates). Complements the FD audit ([[fdAudit]]): that asks
    * "does A determine B", this asks "does this set identify a row".
    *
    * NULL semantics (r18 advice closure): a combination with ANY
    * NULL component is EXCLUDED from the distinctness question on
    * both engines and counted separately as `n_null_rows` — the one
    * spelling Spark (`count_distinct(struct(...))` treats NULL
    * fields as values) and SQL (`count(DISTINCT col)` drops them)
    * can agree on exactly. A relational candidate key cannot admit
    * NULLs, so `is_candidate_key` requires zero duplicates AND zero
    * null-bearing rows; a nullable column is never a candidate key.
    * Divergence-edge spec: `Round19OpsSpec` "nullable key column".
    *
    * 100 TB plan: one exact-distinct aggregate per audited subset —
    * a map-side-combined shuffle on the subset's columns (the FD
    * class); subsets are audited independently so the union output
    * is |subsets| rows. Output: (key_cols, n_rows, n_null_rows,
    * n_distinct, n_dup_rows, dup_ppm, is_candidate_key), ordered by
    * key_cols.
    */
  def keyUniqueness(df: DataFrame, keys: Seq[Seq[String]]): DataFrame = {
    require(keys.nonEmpty, "keyUniqueness needs at least one subset")
    keys.map { ks =>
      val nonNull = ks.map(col(_).isNotNull).reduce(_ && _)
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(when(nonNull, 0L).otherwise(1L)), lit(0L))
            .as("n_null_rows"),
          count_distinct(when(nonNull, struct(ks.map(col): _*)))
            .as("n_distinct"))
        .select(lit(ks.mkString(",")).as("key_cols"), col("n_rows"),
          col("n_null_rows"), col("n_distinct"))
    }.reduce(_.unionAll(_))
      .withColumn("n_dup_rows",
        col("n_rows") - col("n_null_rows") - col("n_distinct"))
      .withColumn("dup_ppm",
        expr("n_dup_rows * 1000000 div greatest(n_rows, 1)"))
      .withColumn("is_candidate_key",
        col("n_dup_rows") === 0L && col("n_null_rows") === 0L)
      .orderBy("key_cols")
  }

  /** Null-rate DRIFT per column between calendar halves — the
    * data-quality regression detector next to the categorical PSI
    * (a feed that silently starts dropping a field shows up here
    * before any model metric moves): for each column, the exact
    * null share in the first vs second half of the observation
    * window (midpoint-day split, the categoryPsiDrift contract) and
    * the signed delta. All integer: counts from ONE conditional
    * aggregate pass, shares as floor-div ppm.
    *
    * 100 TB plan: one scan, one scalar rollup with 4 conditional
    * sums per column, the midpoint attached by broadcast; the
    * per-column unpivot is an explode of |cols| literal structs.
    * Output: (column, n_first, n_second, null_first_ppm,
    * null_second_ppm, delta_ppm), ordered by column.
    */
  def nullDrift(df: DataFrame, cols: Seq[String], timeCol: String,
                bucket: Long = 86400000000L): DataFrame = {
    require(cols.nonEmpty, "nullDrift needs >= 1 column")
    val d = df.withColumn("__b",
      graft.enrich.TimeSeriesOps.floorDivCol(timeCol, bucket))
    val mid = d.agg(expr("(min(__b) + max(__b)) div 2").as("__mid"))
    val base = d.crossJoin(broadcast(mid))
      .withColumn("__first", col("__b") <= col("__mid"))
    val aggs = Seq(
      sum(when(col("__first"), 1L).otherwise(0L)).as("__na"),
      sum(when(!col("__first"), 1L).otherwise(0L)).as("__nb")) ++
      cols.flatMap(c => Seq(
        sum(when(col("__first") && col(c).isNull, 1L).otherwise(0L))
          .as(s"__za_$c"),
        sum(when(!col("__first") && col(c).isNull, 1L).otherwise(0L))
          .as(s"__zb_$c")))
    val m = base.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map(c =>
      s"struct('$c' AS column, __za_$c AS za, __zb_$c AS zb)")
      .mkString(", ")
    m.select(col("__na"), col("__nb"),
        explode(expr(s"array($structs)")).as("p"))
      .select(col("p.column").as("column"),
        col("__na").as("n_first"), col("__nb").as("n_second"),
        expr("p.za * 1000000 div greatest(__na, 1)").as("null_first_ppm"),
        expr("p.zb * 1000000 div greatest(__nb, 1)").as("null_second_ppm"),
        expr("p.zb * 1000000 div greatest(__nb, 1) " +
          "- p.za * 1000000 div greatest(__na, 1)").as("delta_ppm"))
      .orderBy("column")
  }

  /** Self-join SIZE ESTIMATION audit — the planner number every
    * shuffle-join decision hangs on, checked against truth without
    * ever executing the join (the profile_join_fanout discipline):
    * actual output cardinality is `Σ_k c(k)²` on the key-count
    * frame; the estimate is the end-biased histogram a planner keeps
    * (heavy keys ≥ `heavyThreshold` carried exactly, the tail
    * assumed uniform over its distinct keys — Ioannidis & Christodoulakis'
    * high-frequency principle: estimation error lives in the heavy
    * keys, so spend the budget there). `err_ppm` is the signed
    * relative error as one exact two-step Horner quotient — how far
    * uniform-tail would mislead THIS key distribution.
    *
    * 100 TB plan: one map-side-combined count aggregate to the key
    * grain, one scalar rollup — the join itself never runs, no
    * shuffle beyond the key counts. Int64: Σc² ≤ n·max_c ≤ n²;
    * exact while n_rows ≤ 3e9 (shard the rollup beyond — counts
    * merge). Output one row: (n_keys, n_rows, actual_pairs, n_heavy,
    * est_pairs, err_ppm).
    */
  def joinSizeEstimate(df: DataFrame, keyCol: String,
                       heavyThreshold: Long = 50L): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .agg(count(lit(1)).as("n_keys"),
        sum("__c").as("n_rows"),
        sum(expr("__c * __c")).as("actual_pairs"),
        sum(when(col("__c") >= heavyThreshold, 1L).otherwise(0L))
          .as("n_heavy"),
        sum(when(col("__c") >= heavyThreshold, expr("__c * __c"))
          .otherwise(0L)).as("__hp"),
        sum(when(col("__c") < heavyThreshold, col("__c")).otherwise(0L))
          .as("__tn"),
        sum(when(col("__c") < heavyThreshold, 1L).otherwise(0L))
          .as("__td"))
      .withColumn("est_pairs", expr(
        "__hp + case when __td = 0 then 0 else __tn * __tn div __td end"))
      .withColumn("__num", col("est_pairs") - col("actual_pairs"))
      .withColumn("__mm", expr("__num div actual_pairs"))
      .withColumn("err_ppm", expr(
        "__mm * 1000000 + (__num - __mm * actual_pairs) * 1000000 " +
          "div actual_pairs"))
      .select(col("n_keys"), col("n_rows"), col("actual_pairs"),
        col("n_heavy"), col("est_pairs"), col("err_ppm"))

  /** Pairwise SPEARMAN rank correlation — [[correlationMatrix]]'s
    * robust sibling (monotone association, outlier-immune: the
    * number a profiler trusts on heavy-tailed columns where Pearson
    * chases the tail). Ranks are the average-rank-on-ties midranks,
    * carried DOUBLED so they stay integer (every member of a tied
    * value run has 2·rank = 2·(count below) + run + 1 — the
    * classifier-AUC discipline), and ρ is Pearson over the doubled
    * ranks (the constant factor cancels in the quotient). Exact
    * BIGINT moments from ONE aggregate pass over the rank-attached
    * frame; the final quotient is the correlationMatrix fixed IEEE
    * sequence.
    *
    * 100 TB plan: the population is never globally sorted — each
    * column's midranks come from its VALUE-grain frame (count +
    * cumulative window on distinct values, the count-of-counts
    * class) and attach back by one equi-join per column; then one
    * map-side-combined moment aggregate. The rank-attach joins are
    * the honest cost of a rank transform (they shuffle on the value,
    * not sort the corpus). Int64 bound: Σ(2r)² ≤ 4n³ — exact to
    * n ≈ 1.3e6 rows; beyond, pre-divide the doubled ranks by a
    * power of ten (ties still align) or shard and merge moments.
    * Output: one row per column pair — (col_a, col_b, n_rows, rho).
    */
  def spearmanMatrix(df: DataFrame,
                     scaledCols: Seq[(String, Long)]): DataFrame = {
    val cols = scaledCols.map(_._1)
    val q = quantized(df, scaledCols)
    val ranked = cols.foldLeft(q) { (acc, c) =>
      val byVal = q.groupBy(col(c)).agg(count(lit(1)).as("__cnt"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
        .rowsBetween(Long.MinValue, -1)
      val r2 = byVal
        .withColumn(s"__r_$c",
          lit(2L) * coalesce(sum("__cnt").over(w), lit(0L)) +
            col("__cnt") + lit(1L))
        .select(col(c), col(s"__r_$c"))
      acc.join(r2, Seq(c))
    }
    pearsonFromMoments(ranked, cols.map(c => s"__r_$c"), cols, "rho")
  }

  /** Top-k most frequent values per column — the classic profiler
    * panel next to [[tableProfile]]'s scalar stats: the dominant
    * categories, their exact shares of the column's non-null rows,
    * and (via the rank cut) a cardinality hint. Values profile in
    * their VARCHAR rendering (the tableProfile portability
    * convention).
    *
    * 100 TB plan: ONE scan explodes each row into its (column, value)
    * cells, the count aggregate map-side combines into the
    * per-column value-frequency frame, and the rank filter is a
    * WindowGroupLimit — Spark maintains per-partition top-k heaps per
    * column, so the full value frame is never globally sorted.
    * Per-column totals derive from the SAME frame and attach by
    * broadcast. Output: (column, value, n_rows, share_ppm, rank).
    */
  def topValues(df: DataFrame, cols: Seq[String], k: Int): DataFrame = {
    require(cols.nonEmpty && k >= 1, s"need columns and k >= 1: $cols, $k")
    val cells = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"),
          col(c).cast("string").as("value"))): _*)).as("__c"))
      .select(col("__c.column").as("column"), col("__c.value").as("value"))
      .filter(col("value").isNotNull)
      .groupBy("column", "value").agg(count(lit(1)).as("n_rows"))
    val tot = cells.groupBy("column").agg(sum("n_rows").as("__t"))
    val rk = org.apache.spark.sql.expressions.Window.partitionBy("column")
      .orderBy(col("n_rows").desc, col("value").asc)
    cells
      .withColumn("rank", row_number().over(rk).cast("long"))
      .filter(col("rank") <= k)
      .join(broadcast(tot), "column")
      .withColumn("share_ppm", expr("n_rows * 1000000 div __t"))
      .select(col("column"), col("value"), col("n_rows"), col("share_ppm"),
        col("rank"))
  }

  def fdAudit(df: DataFrame, lhs: String, rhs: String): DataFrame = {
    val per = df.groupBy(col(lhs))
      .agg(countDistinct(col(rhs)).as("__nd"))
    per.agg(count(lit(1)).as("n_lhs"),
        sum(when(col("__nd") <= 1L, 1L).otherwise(0L)).as("n_holding"),
        sum(when(col("__nd") > 1L, 1L).otherwise(0L)).as("n_violating"),
        max(col("__nd")).as("max_rhs_per_lhs"))
      .withColumn("violation_ppm",
        expr("n_violating * 1000000 div n_lhs"))
      .select(col("n_lhs"), col("n_holding"), col("n_violating"),
        col("violation_ppm"), col("max_rhs_per_lhs"))
  }
}
