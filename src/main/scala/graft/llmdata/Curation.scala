package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline
  * layers on top of dedup/quality filtering (builder brief; no
  * reference counterpart): benchmark decontamination, per-source caps,
  * temperature-scaled mixture sampling, and a deterministic global
  * shuffle.
  *
  * 100 TB design:
  *  - decontamination joins training shingles to the (small) benchmark
  *    shingle set — the eval side is broadcast, so the scan of the
  *    corpus never shuffles; a giant eval set would fall back to a
  *    shuffle equi-join on the gram, still never all-pairs;
  *  - per-source caps are one ranked window; Spark's WindowGroupLimit
  *    rule pushes `rank <= cap` below the exchange, so each map task
  *    pre-prunes to its local top-cap before any data moves;
  *  - temperature fractions collect only the per-stratum COUNTS to the
  *    driver (|strata| rows — languages/domains, not documents) and
  *    reuse [[Sampling.sampleStratified]]'s row-local md5 filter, so
  *    the pass over the data is shuffle-free;
  *  - the global shuffle is a range-partitioned sort on a seeded md5
  *    key plus the distributed zipWithIndex stamp — no single-partition
  *    window, no driver materialization.
  */
object Curation {

  /** Benchmark decontamination: count, per training doc, the distinct
    * word `shingleWidth`-grams it shares with ANY document of the
    * evaluation set (the Gopher/GPT-3 style n-gram overlap test).
    * Output: train columns + `n_contaminated_grams` + `contaminated`.
    * The eval gram set is deduplicated then broadcast; corpus cost is
    * one shingle projection + one broadcast join, no shuffle of the
    * training text.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // grams are deduplicated in the array domain BEFORE exploding, so
    // the per-doc overlap count is a plain count(*) after the join —
    // no distinct-aggregate expand over the exploded gram stream
    val evalGrams = Dedup.shingled(evalSet, textCol)
      .select(explode(array_distinct(col("__sh"))).as("__g")).distinct()
    val trainGrams = Dedup.shingled(train, textCol)
      .select(col(idCol), explode(array_distinct(col("__sh"))).as("__g"))
    val hits = trainGrams.join(broadcast(evalGrams), "__g")
      .groupBy(idCol).agg(count(lit(1)).as("n_contaminated_grams"))
    train.join(hits, Seq(idCol), "left")
      .withColumn("n_contaminated_grams",
        coalesce(col("n_contaminated_grams"), lit(0L)))
      .withColumn("contaminated", col("n_contaminated_grams") > 0)
  }

  /** Cluster-aware decontamination — [[decontaminate]]'s verdict
    * widened over near-dup clusters: a training document is ALSO
    * flagged when ANY member of its cluster shares eval n-grams. This
    * closes the leak path doc-level n-gram matching misses — a
    * paraphrased or perturbed near-copy of a contaminated document can
    * share no exact shingle with the eval set while being the same
    * content (the same motivation as [[Sampling.leakageFreeSplit]]:
    * leakage survives doc-level hashing, cluster-level verdicts are
    * the fix).
    *
    * The cluster verdict has TWO seed kinds (ADVICE r12 #3 closed the
    * gap): a train member that shares eval n-grams directly, and a
    * cluster member that IS an eval document — when train and eval are
    * disjoint (the standard audit split), a train doc clustered with
    * an eval doc can share no exact shingle with it (that is the whole
    * point of near-dup widening) and only the membership seed catches
    * it. With eval ⊆ train (the [[curationVerdicts]] call) the
    * membership seed is subsumed by the direct one (an eval doc shares
    * every gram with itself), so that composition's verdict is
    * unchanged.
    *
    * `clusters` is any (doc_id, root_id) labeling over a superset of
    * the train ids (eval members only seed if the labeling covers
    * them); the verdict is one whole-partition window max on `root_id`
    * above the two existing chains plus one broadcast join against the
    * eval-root set (eval-sized, never corpus-sized). Output: (doc_id,
    * root_id, n_contaminated_grams, contaminated,
    * cluster_contaminated).
    */
  def decontaminateClusters(train: DataFrame, evalSet: DataFrame,
                            clusters: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val flagged = decontaminate(train, evalSet, idCol, textCol)
      .select(col(idCol), col("n_contaminated_grams"), col("contaminated"))
    val evalRoots = clusters.select(col(idCol), col("root_id"))
      .join(evalSet.select(col(idCol)).distinct(), idCol)
      .select(col("root_id")).distinct()
      .withColumn("__eval_member", lit(true))
    val w = Window.partitionBy("root_id")
    flagged.join(clusters.select(col(idCol), col("root_id")), idCol)
      .withColumn("__direct",
        max(when(col("contaminated"), 1L).otherwise(0L)).over(w) === 1L)
      .join(broadcast(evalRoots), Seq("root_id"), "left")
      .withColumn("cluster_contaminated",
        col("__direct") || coalesce(col("__eval_member"), lit(false)))
      .select(col(idCol), col("root_id"), col("n_contaminated_grams"),
        col("contaminated"), col("cluster_contaminated"))
  }

  /** EVAL-ANCHORED near-dup decontamination — the production spelling
    * of [[decontaminateClusters]] for reuse-heavy corpora (the r17
    * zipf10 saturation finding: the full near-dup CLUSTERING is 638 s
    * of curation v4's 724 s at 100× docs, because boilerplate reuse
    * fills the LSH buckets with corpus pairs). Decontamination only
    * asks "is this train doc a near-dup of an EVAL doc", so this
    * variant forms and verifies ONLY (train, eval) pairs: the eval
    * set's band keys broadcast against the corpus band stream, exact
    * shingle-Jaccard verification on the EVAL-LINEAR survivor pairs —
    * the corpus never self-joins.
    *
    * Divergence contract (documented, the capped-LSH discipline):
    * multi-hop chains (train ≈ train′ ≈ eval while train ≉ eval) are
    * NOT flagged; [[decontaminateClusters]] stays the audit-exact
    * spelling and this is the sampled-production sibling of that
    * family. Output: (doc_id, n_contaminated_grams, contaminated,
    * near_dup_eval, flagged = contaminated || near_dup_eval).
    */
  def decontaminateAnchored(train: DataFrame, evalSet: DataFrame,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    val direct = decontaminate(train, evalSet, idCol, textCol)
      .select(col(idCol), col("n_contaminated_grams"), col("contaminated"))
    val skT = Dedup.sketch(train, idCol, textCol)
    val skE = Dedup.sketch(evalSet, idCol, textCol)
    val candT = Dedup.bandKeys(skT, idCol)
      .select(col(idCol).as("__t"), col("band"), col("key"))
    val candE = Dedup.bandKeys(skE, idCol)
      .select(col(idCol).as("__e"), col("band"), col("key"))
    val pairs = candT.join(broadcast(candE), Seq("band", "key"))
      .filter(col("__t") =!= col("__e"))
      .select("__t", "__e").distinct()
    val near = pairs
      .join(skT.select(col(idCol).as("__t"), col("__s").as("__st")), "__t")
      .join(broadcast(skE.select(col(idCol).as("__e"),
        col("__s").as("__se"))), "__e")
      .withColumn("__i", size(array_intersect(col("__st"), col("__se"))))
      .filter(col("__i").cast("double")
        / (size(col("__st")) + size(col("__se")) - col("__i"))
        >= LlmDataParams.jaccardThreshold)
      .select(col("__t").as(idCol)).distinct()
      .withColumn("near_dup_eval", lit(true))
    direct.join(near, Seq(idCol), "left")
      .withColumn("near_dup_eval",
        coalesce(col("near_dup_eval"), lit(false)))
      .withColumn("flagged", col("contaminated") || col("near_dup_eval"))
  }

  /** The eval-side contamination AUDIT — the report an eval owner
    * reads before trusting a benchmark number, complementing
    * [[decontaminate]] (which flags/drops the TRAIN side): for each
    * eval document, how many of its distinct shingles appear anywhere
    * in the training corpus (`n_leaked` / `leak_frac`) and how many
    * distinct training documents share at least one shingle
    * (`n_train_docs`). An eval doc with leak_frac near 1 is
    * effectively memorizable; one with a huge n_train_docs overlaps
    * boilerplate rather than a single copied source.
    *
    * 100 TB plan: the eval gram set is eval-sized (broadcast); the
    * train corpus is scanned ONCE and immediately semi-joined down to
    * shared grams, so both distinct-aggregates run over the shared
    * overlap only — never corpus-sized frames. Output per eval doc:
    * (doc_id, n_grams, n_leaked, leak_frac, n_train_docs).
    */
  def contaminationReport(train: DataFrame, evalSet: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val evalGrams = Dedup.shingled(evalSet, textCol)
      .select(col(idCol).as("__eid"),
        explode(array_distinct(col("__sh"))).as("__g"))
    val nGrams = evalGrams.groupBy("__eid").agg(count(lit(1)).as("n_grams"))
    val trainGrams = Dedup.shingled(train, textCol)
      .select(col(idCol).as("__tid"),
        explode(array_distinct(col("__sh"))).as("__g"))
    val pairs = trainGrams.join(broadcast(evalGrams), "__g")
    val leaked = pairs.select("__eid", "__g").distinct()
      .groupBy("__eid").agg(count(lit(1)).as("n_leaked"))
    val sharers = pairs.select("__eid", "__tid").distinct()
      .groupBy("__eid").agg(count(lit(1)).as("n_train_docs"))
    evalSet.select(col(idCol))
      .join(nGrams.withColumnRenamed("__eid", idCol), Seq(idCol), "left")
      .join(leaked.withColumnRenamed("__eid", idCol), Seq(idCol), "left")
      .join(sharers.withColumnRenamed("__eid", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_leaked"), lit(0L)).cast("double")
            / col("n_grams")).as("leak_frac"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
  }

  /** C4-style per-source cap: keep at most `cap` rows per stratum,
    * ranked by `orderCol` descending with `tieCol` ascending as the
    * deterministic tie-break. One window; the WindowGroupLimit
    * optimizer rule turns it into a map-side partial top-cap before
    * the exchange, so a hot source never ships more than `cap` rows
    * per input partition.
    */
  def capPerStratum(df: DataFrame, stratumCol: String, orderCol: String,
                    tieCol: String, cap: Int): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(stratumCol).orderBy(col(orderCol).desc, col(tieCol))))
      .filter(col("__rn") <= cap)
      .drop("__rn")

  /** Per-stratum keep-fractions for a temperature-scaled mixture
    * (UniMax/mT5 style): stratum s with count c_s is kept with
    * probability p_s ∝ c_s^(alpha-1), normalized so the expected
    * overall keep rate is `targetFraction`. alpha=1 reproduces the
    * natural mixture, alpha→0 the uniform one. Counts are collected
    * (|strata| rows) and folded in sorted-stratum order so the float
    * normalization is deterministic and oracle-replayable.
    *
    * The stratum is cast to string (so non-string key columns work) and
    * null strata are excluded — a null never equals a map key in
    * [[Sampling.sampleStratified]]'s `===` dispatch, so null-stratum
    * rows fall to its `defaultFraction` either way. Fractions are
    * clamped at 1.0: a rare stratum whose raw p_s exceeds 1 can only
    * keep all its rows, so the realized overall keep rate lands below
    * `targetFraction` by the clamped surplus (the threshold filter
    * would saturate identically — the clamp just makes it explicit).
    */
  def temperatureFractions(df: DataFrame, stratumCol: String, alpha: Double,
                           targetFraction: Double): Map[String, Double] = {
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).cast("string").as("__s")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val sumW = counts.foldLeft(0.0)((a, kv) => a + math.pow(kv._2.toDouble, alpha))
    val k = targetFraction * total.toDouble / sumW
    counts.map { case (s, c) =>
      s -> math.min(1.0, k * math.pow(c.toDouble, alpha) / c)
    }.toMap
  }

  /** Temperature-sweep planning table — the mixture a curator WOULD
    * get at each candidate temperature, before committing to one
    * (the dual of [[temperatureFractions]], which implements a chosen
    * α): per (α, source), the unnormalized weight n_s^α and its exact
    * ppm share of the α's total. α ∈ {1, ½, ¼} by nested `sqrt` —
    * sqrt is correctly-rounded IEEE on both engines, so no pow() (the
    * engine-parity rule) and no quantization drift; the α=1 row stays
    * pure integer. Shares are exact integer ppm (weights ≤ 9.2e12
    * for α=1, so the ×1e6 stays in int64 — the epochsReport bound).
    *
    * 100 TB plan: one scan into the |sources|-row token aggregate;
    * the sweep explodes 3 structs per source and re-aggregates at
    * α grain — everything after the scan is bounded by |sources|.
    * Output: (alpha_micro, source, n_tokens, weight, share_ppm).
    */
  def temperatureSweep(docs: DataFrame, sourceCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val per = docs.groupBy(col(sourceCol))
      .agg(sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
    val rows = per.select(col(sourceCol), col("n_tokens"),
      explode(expr(
        "array(" +
          "struct(cast(1000000 as bigint) AS alpha_micro, n_tokens AS w), " +
          "struct(cast(500000 as bigint) AS alpha_micro, " +
          "cast(floor(sqrt(cast(n_tokens as double))" +
          " * 1000000 + 0.5) as bigint) AS w), " +
          "struct(cast(250000 as bigint) AS alpha_micro, " +
          "cast(floor(sqrt(sqrt(cast(n_tokens as double)))" +
          " * 1000000 + 0.5) as bigint) AS w))")).as("a"))
      .select(col("a.alpha_micro"), col(sourceCol), col("n_tokens"),
        col("a.w").as("weight"))
    val tot = rows.groupBy("alpha_micro").agg(sum("weight").as("__tw"))
    rows.join(tot, Seq("alpha_micro"))
      .withColumn("share_ppm",
        expr("weight * 1000000 div greatest(__tw, 1)"))
      .select(col("alpha_micro"), col(sourceCol), col("n_tokens"),
        col("weight"), col("share_ppm"))
  }

  /** Effective-sample-size column for the temperature sweep — the
    * missing number on the [[temperatureSweep]] planning table: each
    * α trades source balance against effective corpus size, and this
    * reports the trade as the Kish ESS of the α-weighted TOKEN
    * population ([[Sampling.essAudit]]'s statistic computed WITHOUT
    * touching tokens: a source's n_s tokens share one weight, so the
    * ESS moments collapse to the |sources|-bounded sweep frame —
    * `Σ n_s·u_s` and `Σ n_s·u_s²`). Per-token weights normalize to
    * ppm of the per-α maximum before squaring (ESS is
    * scale-invariant; the raw per-token weight `n^α/n` spans ~1e12
    * and would overflow the squared sum — the cv² overflow lesson
    * applied at design time). α = 1 reports ratio 1 by construction
    * (every token weight equal) — the sweep's fixed point,
    * spec-pinned.
    *
    * 100 TB plan: the sweep's one corpus scan; everything after
    * rides the |α|×|sources| frame (normalization window included).
    * Exactness: integer moments with MILLI-normalized weights — the
    * second moment's bound is TOTAL_tokens·1e6, int64-exact to
    * ~9.2e12 total corpus tokens (pre-divide further beyond that);
    * fixed IEEE quotient under r6. Output: one row per α —
    * (alpha_micro, n_sources, n_tokens_total, ess, ess_ratio).
    */
  def temperatureEss(docs: DataFrame, sourceCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    val sweep = temperatureSweep(docs, sourceCol, textCol)
      .withColumn("__u", expr("weight * 1000000 div greatest(n_tokens, 1)"))
    val wMax = org.apache.spark.sql.expressions.Window
      .partitionBy("alpha_micro")
    sweep
      .withColumn("__mx", max("__u").over(wMax))
      // MILLI-normalized (≤1000), not micro: the squared second
      // moment sums n_tokens·__w² ACROSS sources, so its bound is
      // total_tokens·max(__w)² — at micro weights that wrapped int64
      // silently once TOTAL corpus tokens passed ~9.2e6 (ADVICE r16
      // #1: at α=1 every __w hits the max, so the bound is tight).
      // ESS is scale-invariant in the weights; milli keeps the
      // moment exact to ~9.2e12 total tokens (the epochsReport bound)
      // at 1e-3 weight granularity.
      .withColumn("__w", expr("__u * 1000 div greatest(__mx, 1)"))
      .groupBy("alpha_micro")
      .agg(count(lit(1)).as("n_sources"),
        sum("n_tokens").as("n_tokens_total"),
        sum(expr("n_tokens * __w")).as("__s1"),
        sum(expr("n_tokens * __w * __w")).as("__s2"))
      .withColumn("ess", expr(
        "case when __s2 <= 0 then 0.0 else " +
          "cast(__s1 as double) * cast(__s1 as double) " +
          "/ cast(__s2 as double) end"))
      .withColumn("ess_ratio", expr(
        "case when n_tokens_total = 0 then 0.0 " +
          "else ess / cast(n_tokens_total as double) end"))
      .select(col("alpha_micro"), col("n_sources"), col("n_tokens_total"),
        col("ess"), col("ess_ratio"))
      .orderBy(col("alpha_micro").desc)
  }

  /** Quality-threshold TOKEN-BUDGET curve — the question a curation
    * owner answers before setting the quality bar: for each candidate
    * threshold, how many documents and TOKENS survive `quality ≥ t`
    * (read the row whose token count meets the training budget — the
    * dual of [[tokenBudget]]'s keep-in-quality-order cut, as a whole
    * curve instead of one operating point). Monotone non-increasing
    * in t by construction.
    *
    * Exactness: the heuristic quality quantizes to micro once per doc
    * (the pack_curriculum key); the curve rides the quality-grain
    * COUNT-OF-COUNTS frame (docs + token sums per distinct micro
    * value), so the threshold grid never touches the corpus; shares
    * are exact ppm floor-divs.
    *
    * 100 TB plan: one kernel scan to doc grain, one map-side-combined
    * collapse to the bounded quality-value frame, a broadcast
    * threshold grid over THAT frame. Output per threshold:
    * (threshold_micro, n_docs_kept, n_tokens_kept, doc_share_ppm,
    * token_share_ppm).
    */
  def qualityBudgetCurve(docs: DataFrame, thresholdsMicro: Seq[Long],
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(thresholdsMicro.nonEmpty, "need at least one threshold")
    val spark = docs.sparkSession
    import spark.implicits._
    val grain = TextAnalysis.qualityScore(docs, idCol, textCol)
      .select(floor(col("quality") * lit(1000000.0) + lit(0.5))
        .cast("long").as("__q"), col("n_tokens"))
      .groupBy("__q")
      .agg(count(lit(1)).as("__d"), sum("n_tokens").as("__t"))
    val tot = grain.agg(sum("__d").as("__td"), sum("__t").as("__tt"))
    val th = thresholdsMicro.distinct.sorted.toDF("threshold_micro")
    grain.crossJoin(broadcast(th))
      .filter(col("__q") >= col("threshold_micro"))
      .groupBy("threshold_micro")
      .agg(sum("__d").as("n_docs_kept"), sum("__t").as("n_tokens_kept"))
      .join(th, Seq("threshold_micro"), "right")
      .na.fill(0L, Seq("n_docs_kept", "n_tokens_kept"))
      .crossJoin(broadcast(tot))
      .withColumn("doc_share_ppm",
        expr("n_docs_kept * 1000000 div greatest(__td, 1)"))
      .withColumn("token_share_ppm",
        expr("n_tokens_kept * 1000000 div greatest(__tt, 1)"))
      .select(col("threshold_micro"), col("n_docs_kept"),
        col("n_tokens_kept"), col("doc_share_ppm"), col("token_share_ppm"))
  }

  /** Token-weighted TARGET mixture rates — the explicit-targets
    * counterpart of [[temperatureFractions]] (the Pile/DoReMi shape:
    * the mixture owner hands down per-source token shares instead of
    * deriving them from counts): source s with token count n_s gets
    * the exact integer keep rate
    * `min(1e6, target_micro_s * total_tokens div n_s)` — a source
    * above its target thins toward it, a source at-or-below keeps
    * everything (the clamp surplus stays unredistributed, explicit
    * like the temperature clamp). Sources without a target get rate 0.
    * The per-doc draw is the catalog's deterministic u32 hash scheme:
    * keep iff `u32 * 1e6 < rate_micro * 2^32` — all BIGINT products
    * (exact while total tokens <= ~9.2e12; a larger corpus pre-scales
    * both token totals by the same power of two, which leaves the
    * micro-unit rate unchanged).
    *
    * 100 TB plan: one scan into a map-side-combined per-source token
    * aggregate (|sources| rows), the grand total derived from THAT
    * frame, rates broadcast back, and the draw row-local — the corpus
    * never shuffles. Output: (doc_id, source, n_tokens, rate_micro,
    * keep).
    */
  def mixtureRates(docs: DataFrame, targetsMicro: Map[String, Long],
                   idCol: String = "doc_id", sourceCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol), col(sourceCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val perSource = toks.groupBy(col(sourceCol)).agg(sum("n_tokens").as("__ns"))
    val total = perSource.agg(sum("__ns").as("__nt"))
    val targetExpr = targetsMicro.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (s, w)) => when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    val rates = perSource.crossJoin(broadcast(total))
      .withColumn("__tw", targetExpr)
      .withColumn("rate_micro",
        least(lit(1000000L), expr("__tw * __nt div __ns")))
      .select(col(sourceCol), col("rate_micro"))
    toks.join(broadcast(rates), sourceCol)
      .withColumn("__h",
        expr(s"cast(conv(substring(md5(concat('mix:', " +
          s"cast($idCol as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("keep",
        col("__h") * lit(1000000L) < col("rate_micro") * lit(4294967296L))
      .select(col(idCol), col(sourceCol), col("n_tokens"),
        col("rate_micro"), col("keep"))
  }

  /** Epochs report for a training-mixture design — the question every
    * mixture owner asks BEFORE launching a run: given a total token
    * budget and per-source target shares, how many EPOCHS of each
    * source does the plan imply (`alloc_s / n_s`), and which sources
    * cross the ~4-epoch repetition knee where additional repeats stop
    * buying loss (Muennighoff et al. 2023)? Dual of [[mixtureRates]]:
    * rates thin an over-represented source DOWN to its target; this
    * report exposes where the target forces an under-represented
    * source to REPEAT. Sources without a target get zero allocation
    * (explicit, like the rate-0 convention).
    *
    * All exact integers: `alloc = budget * target div 1e6` then
    * `epochs_micro = alloc * 1e6 div n_s` — exact while
    * `budget <= ~9.2e12` tokens (both products stay under 2^63). A
    * larger budget AUTO-pre-scales: budget is right-shifted into the
    * exact window, the allocation shifts back (error ≤ 2^shift
    * tokens — sub-ppm at any budget that needs a shift), and the
    * epochs ratio falls back to per-row double arithmetic when the
    * allocation alone exceeds the ×1e6 window — never a silent wrap
    * (overflow-edge fixture: `Round19OpsSpec` "epochsReport above
    * the exact budget window"). 100 TB plan: ONE scan into the per-source token
    * aggregate; everything after runs on the |sources|-row frame.
    * Output: one row per source — (source, n_tokens, target_micro,
    * alloc_tokens, epochs_micro, over_4_epochs).
    */
  def epochsReport(docs: DataFrame, budgetTokens: Long,
                   targetsMicro: Map[String, Long],
                   sourceCol: String = "source",
                   textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val perSource = docs
      .select(col(sourceCol),
        size(split(col(textCol), " ")).cast("long").as("__nt"))
      .groupBy(col(sourceCol)).agg(sum("__nt").as("n_tokens"))
    val targetExpr = targetsMicro.toSeq.sortBy(_._1).foldLeft(lit(0L)) {
      case (acc, (s, w)) => when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    // pre-scale the budget into the exact window: budget*1e6 < 2^63
    val exactBudgetMax = Long.MaxValue / 1000000L // ~9.2e12 tokens
    var shift = 0
    while ((budgetTokens >> shift) > exactBudgetMax) shift += 1
    val scaledBudget = budgetTokens >> shift
    perSource
      .withColumn("target_micro", targetExpr)
      .withColumn("alloc_tokens",
        expr(s"(cast($scaledBudget as bigint) * target_micro " +
          s"div 1000000) * ${1L << shift}"))
      .withColumn("epochs_micro",
        expr(s"case when alloc_tokens <= $exactBudgetMax " +
          "then alloc_tokens * 1000000 div greatest(n_tokens, 1) " +
          "else cast(floor(cast(alloc_tokens as double) * 1000000.0 " +
          "/ cast(greatest(n_tokens, 1) as double)) as bigint) end"))
      .withColumn("over_4_epochs", col("epochs_micro") > 4000000L)
  }

  /** [[temperatureFractions]] applied through the row-local
    * [[Sampling.sampleStratified]] filter: two jobs (count, filter),
    * zero shuffles of the corpus, stable under repartition/retry.
    */
  def temperatureSample(df: DataFrame, idCol: String, stratumCol: String,
                        alpha: Double, targetFraction: Double): DataFrame =
    Sampling.sampleStratified(df, idCol, stratumCol,
      temperatureFractions(df, stratumCol, alpha, targetFraction),
      defaultFraction = 0.0)

  /** The composed curation verdict — the round-trip a 100 TB corpus
    * actually takes, as ONE per-document row: survives normalized
    * exact dedup (is its normalized digest's keeper) AND passes the
    * fused quality-gate ensemble AND is not in a near-dup cluster
    * touching the eval set AND survives the explicit-target mixture
    * draw. Every conjunct is an already-oracled operator; this
    * composition pins that they CHAIN hash-exactly — the
    * `pretrain_pipeline` story extended across the round-12 gates.
    *
    * The eval set may be (and in the catalog query is) a subset of
    * `docs`: that is the real decontamination case — eval copies
    * inside the training corpus flag their whole near-dup cluster.
    * Scale shape: each verdict chain keeps its own documented plan;
    * the four id-keyed verdict frames co-partition on the id for the
    * final conjunction. Output: (doc_id, dedup_keep, quality_keep,
    * decontam_keep, mixture_keep, keep).
    */
  def curationVerdicts(docs: DataFrame, evalSet: DataFrame,
                       targetsMicro: Map[String, Long],
                       idCol: String = "doc_id", textCol: String = "text",
                       langCol: String = "lang",
                       sourceCol: String = "source",
                       qualityVerdict: Option[DataFrame] = None,
                       decontamVerdict: Option[DataFrame] = None): DataFrame = {
    // NOT persisted: an A/B (PLANS.md round-14) showed re-scanning the
    // source for each component chain costs nothing measurable at
    // rehearsal scale (columnar scans are cheap; the chains dominate),
    // while a full-corpus persist is exactly the cache a 100 TB run
    // cannot afford — the share-the-sketch discipline applies to the
    // narrow derived frames inside each chain, not the raw corpus
    val norm = docs.select(col(idCol),
      md5(Dedup.normalizedText(col(textCol))).as("__nh"))
    val groups = norm.groupBy("__nh").agg(min(col(idCol)).as("__keep_id"))
    val d1 = norm.join(groups, "__nh")
      .select(col(idCol), (col(idCol) === col("__keep_id")).as("dedup_keep"))
    // qualityVerdict: a caller-supplied precomputed (idCol,
    // quality_keep) frame — the v5 capstone passes its PERSISTED
    // weak-label frame here so the ensemble chain appears exactly
    // once in the whole pipeline DAG (VERDICT r16 §next-1/§next-5)
    val ens = qualityVerdict.getOrElse(
      TextAnalysis.qualityEnsemble(docs, idCol, textCol, langCol)
        .select(col(idCol), col("keep").as("quality_keep")))
    // decontamVerdict: a caller-supplied precomputed (idCol,
    // decontam_keep) frame — the anchored capstone passes the
    // eval-linear [[decontaminateAnchored]] verdict here so the
    // corpus-pair cluster chain never runs (the r17 zipf10 cliff:
    // 638 s of v4's 724 s at 100x docs was this chain)
    val dec = decontamVerdict.getOrElse(
      decontaminateClusters(docs, evalSet,
          Dedup.nearDupClusters(docs, idCol), idCol, textCol)
        .select(col(idCol), (!col("cluster_contaminated")).as("decontam_keep")))
    val mix = mixtureRates(docs, targetsMicro, idCol, sourceCol, textCol)
      .select(col(idCol), col("keep").as("mixture_keep"))
    d1.join(ens, idCol).join(dec, idCol).join(mix, idCol)
      .withColumn("keep", col("dedup_keep") && col("quality_keep") &&
        col("decontam_keep") && col("mixture_keep"))
  }

  /** [[curationVerdicts]] extended with the SPAN-level signal — the
    * v3 capstone (VERDICT r13 §next-7). Lee et al. 2022's central
    * result is that span-level duplication matters beyond document
    * identity: a document can be digest-unique yet mostly assembled
    * from corpus boilerplate. The added conjunct keeps a document
    * only while [[Dedup.dupSpanCoverage]]'s covered fraction stays at
    * or under `maxSpanCoverageMicro` (micro-units of token positions
    * inside some corpus-duplicated shingle).
    *
    * Composition contract (spec-pinned): every column equals the
    * standalone component operator's output bit-for-bit; `keep` is
    * their conjunction. Scale shape: the span chain adds the
    * gram-aggregate + join-back + one doc window plan `dup_span`
    * already rehearses (1.8x for 10x); the verdict join stays
    * id-keyed and narrow. Output: (doc_id, dedup_keep, quality_keep,
    * decontam_keep, mixture_keep, span_keep, keep).
    */
  def curationVerdictsV3(docs: DataFrame, evalSet: DataFrame,
                         targetsMicro: Map[String, Long],
                         maxSpanCoverageMicro: Long = 500000L,
                         idCol: String = "doc_id", textCol: String = "text",
                         langCol: String = "lang",
                         sourceCol: String = "source",
                         qualityVerdict: Option[DataFrame] = None,
                         decontamVerdict: Option[DataFrame] = None): DataFrame = {
    val v2 = curationVerdicts(docs, evalSet, targetsMicro,
      idCol, textCol, langCol, sourceCol, qualityVerdict, decontamVerdict)
    val span = Dedup.dupSpanCoverage(docs, idCol, textCol)
      .select(col(idCol),
        (col("coverage_micro") <= maxSpanCoverageMicro).as("span_keep"))
    v2.drop("keep").join(span, idCol)
      .withColumn("keep", col("dedup_keep") && col("quality_keep") &&
        col("decontam_keep") && col("mixture_keep") && col("span_keep"))
  }

  /** [[curationVerdictsV3]] extended with the round's SELECTION
    * signals — the v4 capstone: a document must ALSO (a) look at
    * least as target-like as the raw corpus under the DSIR hashed
    * importance weight (`logw_unats >= dsirMinLogwUnats` — Xie et
    * al. 2023's selection criterion at threshold grain), and (b)
    * carry at least `minNoveltyMicro` of corpus-unique n-gram mass
    * ([[Dedup.ngramNovelty]] — zero-novelty documents are
    * recombinations of boilerplate even when span coverage passes).
    * Documents too short to shingle have no novelty evidence and
    * pass that gate (the span gate's sub-shingle convention).
    *
    * Composition contract (spec-pinned like v3): every column equals
    * its standalone operator bit-for-bit; `keep` is the conjunction.
    * Scale: adds the DSIR token-stream aggregate (vocabulary never
    * shuffles) and the novelty gram-df chain (2.45x for 10x,
    * PLANS.md r13) to v3's chains; the verdict join stays id-keyed
    * and narrow. Output: v3's columns + dsir_keep + novelty_keep.
    */
  def curationVerdictsV4(docs: DataFrame, evalSet: DataFrame,
                         targetsMicro: Map[String, Long],
                         target: org.apache.spark.sql.Column,
                         maxSpanCoverageMicro: Long = 500000L,
                         dsirMinLogwUnats: Long = 0L,
                         minNoveltyMicro: Long = LlmDataParams.noveltyGateMicro,
                         idCol: String = "doc_id", textCol: String = "text",
                         langCol: String = "lang",
                         sourceCol: String = "source",
                         qualityVerdict: Option[DataFrame] = None,
                         decontamVerdict: Option[DataFrame] = None): DataFrame = {
    val v3 = curationVerdictsV3(docs, evalSet, targetsMicro,
      maxSpanCoverageMicro, idCol, textCol, langCol, sourceCol,
      qualityVerdict, decontamVerdict)
    val dsir = Dsir.dsirWeights(docs, target, idCol, textCol)
      .select(col(idCol),
        (col("logw_unats") >= dsirMinLogwUnats).as("dsir_keep"))
    val nov = Dedup.ngramNovelty(docs, idCol, textCol)
      .select(col(idCol),
        (col("novelty_micro") >= minNoveltyMicro).as("novelty_keep"))
    v3.drop("keep")
      .join(dsir, idCol)
      .join(nov, Seq(idCol), "left")
      .withColumn("novelty_keep", coalesce(col("novelty_keep"), lit(true)))
      .withColumn("keep", col("dedup_keep") && col("quality_keep") &&
        col("decontam_keep") && col("mixture_keep") && col("span_keep") &&
        col("dsir_keep") && col("novelty_keep"))
  }

  /** [[curationVerdictsV4]] extended with a SELF-TRAINED quality gate
    * — the v5 capstone: the ensemble keep flag becomes the WEAK LABEL
    * for a 2-epoch in-engine classifier fit ([[Classifier]] — the
    * fastText self-training/distillation pattern: heuristic rules
    * label the corpus, a learned model smooths and generalizes them),
    * and a kept document must also pass the TRAINED gate
    * (margin ≥ 0). The trained gate and the heuristic ensemble gate
    * DISAGREE exactly where the n-gram model generalizes past the
    * rules — the disagreement set is the interesting one, and it is
    * hash-gated here rather than eyeballed.
    *
    * Composition contract (the v2-v4 discipline): every gate column
    * equals the standalone operator bit-for-bit; `keep` is their
    * conjunction. Scale shape: the ensemble verdict is computed ONCE
    * and persisted at doc grain, serving as v4's quality gate AND the
    * fit's label frame ([[Classifier.trainScoresLabeled]]); the fit
    * then adds its per-epoch two-aggregate + broadcast-join plan over
    * RAW docs only. Output: v4's columns + (clf_keep) with `keep` the
    * 8-way conjunction.
    */
  def curationVerdictsV5(docs: DataFrame, evalSet: DataFrame,
                         targetsMicro: Map[String, Long],
                         target: org.apache.spark.sql.Column,
                         epochs: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text",
                         langCol: String = "lang",
                         sourceCol: String = "source",
                         decontamVerdict: Option[DataFrame] = None): DataFrame = {
    // The weak label IS the quality verdict v4 already gates on.
    // Compute the ensemble chain ONCE, persist the doc-grain
    // (id, bit) frame, and feed it BOTH to the v4 chain (as its
    // quality gate) and to the classifier fit as prebuilt labels —
    // before this restructure the chain re-evaluated ~5× inside one
    // query (once per training pass plus the verdict column; VERDICT
    // r16 §wrong-1, sweep 102 s vs 17.4 isolated). The cache is the
    // narrowest possible frame (~16 B/doc); the returned frame reads
    // it lazily (caller-release — the trainScores feature-cache
    // contract; the catalog harness clears the session cache between
    // queries).
    val quality = TextAnalysis.qualityEnsemble(docs, idCol, textCol, langCol)
      .select(col(idCol), col("keep").as("quality_keep")).persist()
    val v4 = curationVerdictsV4(docs, evalSet, targetsMicro, target,
      idCol = idCol, textCol = textCol, langCol = langCol,
      sourceCol = sourceCol, qualityVerdict = Some(quality),
      decontamVerdict = decontamVerdict)
    val labels = quality.select(col(idCol),
      when(col("quality_keep"), 1L).otherwise(0L).as("__y"))
    val clf = Classifier.trainScoresLabeled(
        docs.select(col(idCol), col(textCol)), labels, epochs,
        idCol, textCol)
      .select(col(idCol), (col("margin_micro") >= 0L).as("clf_keep"))
    v4.drop("keep")
      .join(clf, idCol)
      .withColumn("keep", col("dedup_keep") && col("quality_keep") &&
        col("decontam_keep") && col("mixture_keep") && col("span_keep") &&
        col("dsir_keep") && col("novelty_keep") && col("clf_keep"))
  }

  /** [[curationVerdictsV5]] extended with the TOKEN-BUDGET gate — the
    * v6 capstone, closing the curation loop at the number every run
    * actually launches with: a fixed token budget. The budget is
    * spent ONLY on documents that survive every other gate (cutting
    * before filtering would waste budget on docs the gates discard),
    * in heuristic-quality order (micro-quantized, doc-id ties — the
    * pack_curriculum key), via [[Sampling.selectByTokenBudget]]'s
    * range-sort + distributed-prefix-sum plan. `budget_keep` is true
    * for the gated docs whose cumulative token count fits; `keep` is
    * the 9-way conjunction. Composition contract: every other gate
    * column equals v5's bit-for-bit (same persisted weak-label frame,
    * same classifier gate); pass `decontamVerdict` to run on the
    * anchored production path.
    *
    * Output: v5's columns + (n_tokens, budget_keep) with `keep`
    * narrowed by the budget.
    */
  def curationVerdictsV6(docs: DataFrame, evalSet: DataFrame,
                         targetsMicro: Map[String, Long],
                         target: org.apache.spark.sql.Column,
                         tokenBudget: Long,
                         epochs: Int = 2,
                         idCol: String = "doc_id", textCol: String = "text",
                         langCol: String = "lang",
                         sourceCol: String = "source",
                         decontamVerdict: Option[DataFrame] = None): DataFrame = {
    val v5 = curationVerdictsV5(docs, evalSet, targetsMicro, target,
      epochs, idCol, textCol, langCol, sourceCol, decontamVerdict)
      .withColumnRenamed("keep", "__gates_keep")
    val qual = TextAnalysis.qualityScore(docs, idCol, textCol)
      .select(col(idCol),
        floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("__qm"),
        col("n_tokens"))
    // Persisted: doc-grain, ~10 flag columns + two longs (~40 B/doc —
    // the quality-verdict narrow-frame class, NOT the multiple-of-
    // corpus PersistPolicy class). The budget cut below EAGERLY
    // evaluates its input (selectByTokenBudget's two-pass contract),
    // and the returned frame joins the SAME rows again — without the
    // persist the entire v5 gate chain (decontam bands, span, DSIR,
    // novelty, classifier fit) ran twice per v6 query (r20 probe:
    // v6 construct re-ran v5 end to end, then execute re-ran it
    // again). Caller-release — the harness clears between queries.
    val joined = v5.join(qual, idCol).persist()
    val kept = Sampling.selectByTokenBudget(
        joined.filter(col("__gates_keep"))
          .select(col(idCol), col("__qm"), col("n_tokens")),
        scoreCol = "__qm", tokenCol = "n_tokens", tieCol = idCol,
        budget = tokenBudget)
      .select(col(idCol)).withColumn("budget_keep", lit(true))
    joined.join(kept, Seq(idCol), "left")
      .withColumn("budget_keep", coalesce(col("budget_keep"), lit(false)))
      .withColumn("keep", col("__gates_keep") && col("budget_keep"))
      .drop("__gates_keep", "__qm")
  }

  /** Deterministic global shuffle for training-order assignment:
    * `shuffle_pos` is the row's rank under `md5(seed || ':' || id)` —
    * a seeded, reproducible permutation (change the seed per epoch).
    * Range-partitioned distributed sort + the zipWithIndex stamp; no
    * global window, no driver collect.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val keyed = df
      .withColumn("__shufkey", md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .orderBy(col("__shufkey"), col(idCol))
    graft.integrate.JoinEngine.withRowId(keyed, "shuffle_pos")
      .drop("__shufkey")
  }

  /** Shuffle-quality audit over a [[deterministicShuffle]] order —
    * the pre-launch check that the training-order shuffle actually
    * broke source locality (a bad shuffle feeds the model same-source
    * clumps and shows up as loss oscillation): per source, the count
    * of ADJACENT same-source pairs in the shuffled order vs its exact
    * expectation under a uniform random permutation
    * (`n_s·(n_s−1)/n` — the (n−1) adjacent slots each match with
    * probability n_s(n_s−1)/(n(n−1))). Observed ≫ expected = clumped.
    *
    * 100 TB plan: adjacency is an `pos+1` EQUI-JOIN of the shuffled
    * frame with itself — no global-order window, no single-partition
    * sort; then two source-grain aggregates. The expectation is exact
    * integer micro (`n_s(n_s−1)·1e6 div n`) up to n_s ≈ 3.03e6 docs
    * per source; ABOVE that the op auto-pre-divides to per-row double
    * arithmetic (error ≤ 1 ppm) instead of wrapping (overflow-edge
    * fixture: `Round19OpsSpec` "shuffleAudit above the exact window").
    * Output: (source, n_docs, n_adjacent_same, expected_same_micro).
    */
  def shuffleAudit(docs: DataFrame, idCol: String = "doc_id",
                   groupCol: String = "source",
                   seed: String = "epoch0"): DataFrame = {
    val s = deterministicShuffle(
        docs.select(col(idCol), col(groupCol)), idCol, seed)
      .select(col("shuffle_pos"), col(groupCol))
    val nxt = s.select((col("shuffle_pos") - 1).as("shuffle_pos"),
      col(groupCol).as("__next"))
    val same = s.join(nxt, Seq("shuffle_pos"))
      .filter(col(groupCol) === col("__next"))
      .groupBy(groupCol).agg(count(lit(1)).as("n_adjacent_same"))
    val per = s.groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(sum("n_docs").as("__n"))
    per.join(same, Seq(groupCol), "left")
      .na.fill(0L, Seq("n_adjacent_same"))
      .crossJoin(broadcast(tot))
      // n_s(n_s-1)*1e6 < 2^63 iff n_s <= 3037000; above, double path
      .withColumn("expected_same_micro",
        expr("case when n_docs <= 3037000 " +
          "then n_docs * (n_docs - 1) * 1000000 div __n " +
          "else cast(floor(cast(n_docs as double) " +
          "* cast(n_docs - 1 as double) * 1000000.0 " +
          "/ cast(__n as double)) as bigint) end"))
      .select(col(groupCol), col("n_docs"), col("n_adjacent_same"),
        col("expected_same_micro"))
  }

  /** l-diversity audit (Machanavajjhala et al. 2007) — the refinement
    * k-anonymity misses: a quasi-id group can be large yet leak the
    * SENSITIVE attribute when every member shares it. Per quasi-id
    * combination: group size, the count of distinct sensitive values
    * (distinct l-diversity), and the at-risk flag `l < minL`.
    *
    * 100 TB plan: one aggregate to (quasi-ids × sensitive) grain
    * (map-side combined), then one to quasi-id grain — the sensitive
    * cardinality never shuffles raw rows twice. Output: quasi-id
    * columns + (n_rows, l_distinct, at_risk).
    */
  def lDiversity(df: DataFrame, quasiIds: Seq[String], sensitiveCol: String,
                 minL: Long = 3L): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier column")
    require(minL > 0, s"minL must be positive: $minL")
    df.groupBy((quasiIds :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(quasiIds.map(col): _*)
      .agg(sum("__c").as("n_rows"), count(lit(1)).as("l_distinct"))
      .withColumn("at_risk", col("l_distinct") < minL)
  }

  /** k-anonymity audit over a quasi-identifier combination (Sweeney
    * 2002) — the release-compliance check a training-data pipeline
    * runs before publishing corpus metadata: any attribute combination
    * shared by fewer than `k` rows re-identifies its members. One
    * group-grain row per combination with the at-risk flag; the
    * row-level risk fraction is `sum(n where at_risk) / sum(n)`
    * downstream.
    *
    * 100 TB plan: ONE map-side-combined aggregate to quasi-id grain —
    * output is combination-count sized, never row-sized; no windows,
    * no joins. Output: (quasi-id columns..., n_rows, at_risk).
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Long = 5L): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier column")
    require(k > 0, s"k must be positive: $k")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("at_risk", col("n_rows") < k)
  }

  /** t-closeness audit (Li/Li/Venkatasubramanian 2007) — the third
    * rung of the release-privacy ladder after [[kAnonymity]] (group
    * too small) and [[lDiversity]] (group too uniform): a group whose
    * sensitive-value DISTRIBUTION diverges from the corpus-wide one
    * leaks information even when large and diverse ("this quasi-id
    * combination is 90% lang=zh in a 40% corpus"). For a categorical
    * sensitive attribute the paper's EMD is the total variation
    * distance `tvd_g = ½ Σ_v |p_g(v) − q(v)|`.
    *
    * Exactness: per group-present value the term `|c_gv·N − c_v·n_g|`
    * is an exact integer over the common denominator `n_g·N`, and the
    * values ABSENT from the group fold in analytically —
    * `Σ_{v∉g} q_v = (N − Σ_{v∈g} c_v)/N`, so
    * `tvd_ppm = (Σ_{v∈g}|c_gv·N − c_v·n_g| + n_g·(N − Σ_{v∈g} c_v))
    * · 1e6 div (2·n_g·N)` — all-integer, no absent-cell frame ever
    * materializes (the mutualInfo empty-cell discipline). int64
    * bound: the exact ppm scaling needs `n_g·N ≲ 4.6e12` (e.g. any
    * group size at N ≤ 1e6 rows of the audited grain, or n_g ≤ 4600
    * at N = 1e9); ABOVE that window the op auto-pre-divides — the
    * ppm is computed per-row in double arithmetic (error ≤ 1 ppm)
    * instead of silently wrapping (the r17 temperatureEss defect
    * class; overflow-edge fixture: `Round19OpsSpec`
    * "tCloseness above the exact int64 window").
    *
    * 100 TB plan: ONE map-side-combined aggregate to (quasi-ids,
    * sensitive) cell grain; the global distribution and group totals
    * both derive from THAT bounded frame (no second scan) and attach
    * by broadcast. Output: (quasi-ids..., n_rows, n_sensitive_values,
    * tvd_ppm, at_risk).
    */
  def tCloseness(df: DataFrame, quasiIds: Seq[String], sensitiveCol: String,
                 tPpm: Long = 300000L): DataFrame = {
    require(quasiIds.nonEmpty, "need at least one quasi-identifier column")
    require(tPpm > 0, s"tPpm must be positive: $tPpm")
    val cells = df.groupBy((quasiIds :+ sensitiveCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val glob = cells.groupBy(col(sensitiveCol)).agg(sum("__c").as("__cv"))
    val grp = cells.groupBy(quasiIds.map(col): _*).agg(sum("__c").as("__ng"))
    val tot = cells.agg(sum("__c").as("__n"))
    cells
      .join(broadcast(glob), sensitiveCol)
      .join(broadcast(grp), quasiIds)
      .crossJoin(broadcast(tot))
      .withColumn("__term", expr("abs(__c * __n - __cv * __ng)"))
      .groupBy(quasiIds.map(col): _*)
      .agg(max("__ng").as("n_rows"),
        count(lit(1)).as("n_sensitive_values"),
        max("__n").as("__nn"),
        sum("__term").as("__ts"),
        sum("__cv").as("__present"))
      // exact integer ppm inside the int64 window (the oracle path);
      // above it, per-row double pre-divide — never a silent wrap.
      // Guard compares by division so the CHECK itself cannot
      // overflow: n_g <= (2^63-1 div 2e6) div N  <=>  2e6*n_g*N < 2^63
      .withColumn("tvd_ppm", expr(
        "case when n_rows <= 4611686018427 div __nn " +
          "then (__ts + n_rows * (__nn - __present)) * 1000000 " +
          "div (2 * n_rows * __nn) " +
          "else cast(floor((cast(__ts as double) " +
          "+ cast(n_rows as double) * cast(__nn - __present as double)) " +
          "* 1000000.0 / (2.0 * cast(n_rows as double) " +
          "* cast(__nn as double))) as bigint) end"))
      .withColumn("at_risk", col("tvd_ppm") > tPpm)
      .drop("__nn", "__ts", "__present")
  }

  /** Corpus snapshot diff — the version audit between two corpus
    * snapshots (yesterday's crawl vs today's): rows only for
    * differences, classified `added` (id only in `now`), `removed`
    * (only in `prev`), `changed` (same id, different content digest).
    * The daily operational answer to "what did the pipeline actually
    * change?".
    *
    * 100 TB plan: both sides reduce to (id, digest) projections at
    * scan (text never shuffles), then ONE full outer id-keyed
    * equi-join; unchanged rows drop immediately so the output is
    * diff-sized. Output: (doc_id, status).
    */
  def corpusDiff(prev: DataFrame, now: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val a = prev.select(col(idCol), md5(col(textCol)).as("__da"))
    val b = now.select(col(idCol), md5(col(textCol)).as("__db"))
    a.join(b, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__da").isNull, "added")
          .when(col("__db").isNull, "removed")
          .when(col("__da") =!= col("__db"), "changed"))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }
}
