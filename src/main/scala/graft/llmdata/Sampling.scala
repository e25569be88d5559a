package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-mixture tooling for training-data assembly: deterministic
  * stratified sampling and contiguous sequence packing (builder brief;
  * no reference counterpart).
  *
  * Both are single-pass and engine-portable:
  *  - sampling keeps a row iff the md5 of its id falls under a
  *    per-stratum hex threshold — a pure projection + filter (no
  *    shuffle, no RNG state), reproducible across runs, engines, and
  *    cluster sizes, and exactly replayable by the DuckDB oracle via
  *    the same md5/substring/lexicographic-compare arithmetic;
  *  - packing is one keyed window pass (cumulative token sum ->
  *    integer-divide by the budget), shuffling once on the shard key.
  */
object Sampling {

  /** 8-hex-digit threshold such that a uniform 32-bit hex string is
    * below it with probability ~`fraction`.
    */
  private[llmdata] def hexThreshold(fraction: Double): String =
    f"${math.min((fraction * 4294967296.0).toLong, 4294967295L)}%08x"

  /** Leakage-free train/holdout split: every document is assigned by
    * the md5 of its NEAR-DUP CLUSTER ROOT, so an entire cluster lands
    * on one side and the holdout can never contain a near-copy of a
    * training document — the split-time counterpart of n-gram
    * decontamination (train/eval leakage through near-duplicates
    * survives doc-level hashing; cluster-level assignment is the
    * standard fix). `clusters` is any (doc_id, root_id) labeling —
    * [[Dedup.nearDupClusters]] or its distributed sibling; the
    * assignment itself is one row-local projection over it (no
    * shuffle, stable under repartitioning and scale-out, same
    * hash-threshold scheme as [[sampleStratified]]).
    * Output: (doc_id, root_id, split).
    */
  def leakageFreeSplit(clusters: DataFrame,
                       holdoutFraction: Double = 0.2,
                       idCol: String = "doc_id"): DataFrame = {
    val key = substring(
      md5(concat(lit("split:"), col("root_id").cast("string"))), 1, 8)
    clusters.select(col(idCol), col("root_id"),
      when(key < lit(hexThreshold(holdoutFraction)), lit("holdout"))
        .otherwise(lit("train")).as("split"))
  }

  /** CONTENT-keyed k-fold assignment — cross-validation folds where
    * byte-identical duplicate documents always land in the SAME fold
    * (folding on the doc id leaks every duplicated document across
    * the train/eval boundary of some fold; folding on the content
    * digest is the doc-level analogue of [[leakageFreeSplit]]'s
    * cluster rule). The fold is the shared md5 16-bit decode of a
    * 'fold:'-salted digest of the text, mod k — row-local, no
    * shuffle, stable under repartitioning and scale-out.
    * Output: the input plus (fold). */
  def kfoldAssign(docs: DataFrame, k: Int = 5,
                  textCol: String = "text"): DataFrame = {
    require(k >= 2, s"need k >= 2 folds: $k")
    import graft.llmdata.LlmDataParams.hexDecode4
    docs
      .withColumn("__fh", md5(concat(lit("fold:"), md5(col(textCol)))))
      .withColumn("fold", expr(s"(${hexDecode4("__fh")}) % $k").cast("long"))
      .drop("__fh")
  }

  /** Per-entity TEMPORAL train/test split with an embargo gap — the
    * time-series evaluation split (the purged/embargoed split of
    * de Prado 2018 ch.7, the standard guard against look-ahead
    * leakage): each entity's first `trainPpm` of rows (by time) are
    * `train`; rows inside `embargo` time units after the entity's last
    * train row are `embargo` (discard — their features overlap the
    * train horizon); the rest are `test`. All arithmetic is exact
    * integers: the train cut is `greatest(1, n * trainPpm div 1e6)`
    * rows, so both engines pick identical boundaries.
    *
    * 100 TB plan: ONE exchange on the entity key; the row-number
    * window, the per-key count, and the train-max-time window all
    * share its sort. No joins, no driver state.
    *
    * Output: input key/time/tie columns plus `split`
    * (train | embargo | test).
    */
  def temporalSplitEmbargo(df: DataFrame, keyCol: String, timeCol: String,
                           tieCol: String, trainPpm: Long,
                           embargo: Long): DataFrame = {
    require(trainPpm > 0 && trainPpm < 1000000L,
      s"trainPpm must be in (0, 1e6), got $trainPpm")
    val byKey = Window.partitionBy(keyCol)
    val ordered = byKey.orderBy(col(timeCol).asc, col(tieCol).asc)
    val base = df.select(col(keyCol), col(timeCol), col(tieCol))
      .withColumn("__rn", row_number().over(ordered).cast("long"))
      .withColumn("__n", count(lit(1)).over(byKey))
      .withColumn("__cut", greatest(lit(1L), expr(s"__n * $trainPpm div 1000000")))
    base
      .withColumn("__train_max_t",
        max(when(col("__rn") <= col("__cut"), col(timeCol))).over(byKey))
      .withColumn("split",
        when(col("__rn") <= col("__cut"), lit("train"))
          .when(col(timeCol) <= col("__train_max_t") + embargo, lit("embargo"))
          .otherwise(lit("test")))
      .drop("__rn", "__n", "__cut", "__train_max_t")
  }

  /** Cluster-weighted SOFT dedup: instead of hard-dropping near-dup
    * cluster members, keep each one with probability `1 / |cluster|`
    * — the duplicate-downweighting alternative to removal, which
    * preserves the corpus distribution a hard dedup skews — with the
    * cluster's min-id anchor ALWAYS kept so no cluster can vanish on
    * an unlucky draw. Expected survivors per n-member cluster are
    * therefore `1 + (n-1)/n` (≈ 2 for large clusters: the guaranteed
    * anchor plus ~one drawn non-anchor; the anchor's own draw is
    * absorbed by its unconditional keep); a singleton keeps exactly
    * its one row. The draw is
    * the deterministic hash scheme the other samplers use, as exact
    * integers: the first 8 md5 hex digits as a u32, kept iff
    * `u32 * |cluster| < 2^32` — engine-replayable, stable under
    * repartitioning and retries.
    *
    * 100 TB plan: one exchange on `root_id` for the size/anchor
    * windows (the same partitioning every cluster consumer uses);
    * the draw itself is row-local. Output: (doc_id, root_id,
    * n_members, keep).
    */
  def clusterWeightedSample(clusters: DataFrame,
                            idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("root_id")
    clusters
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("__anchor", min(col(idCol)).over(w))
      .withColumn("__h",
        expr(s"cast(conv(substring(md5(concat('softdedup:', " +
          s"cast($idCol as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("keep", col(idCol) === col("__anchor") ||
        col("__h") * col("n_members") < lit(4294967296L))
      .select(col(idCol), col("root_id"), col("n_members"), col("keep"))
  }

  /** Deterministic stratified sampling: keep each row with its
    * stratum's fraction, decided by `md5('samp:' || id)` against a hex
    * threshold. Fractions >= 1.0 keep everything; strata not listed use
    * `defaultFraction`. Embarrassingly partitioned — the decision is
    * row-local, so the sample is stable under repartitioning, retries,
    * and scale-out (unlike `DataFrame.sample`, whose output depends on
    * partition layout).
    */
  def sampleStratified(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double): DataFrame = {
    val key = substring(md5(concat(lit("samp:"), col(idCol).cast("string"))), 1, 8)
    val threshold = fractions.foldLeft(lit(hexThreshold(defaultFraction))) {
      case (acc, (stratum, f)) => when(col(stratumCol) === stratum, lit(hexThreshold(f))).otherwise(acc)
    }
    // lexicographic compare of fixed-width lowercase hex == numeric.
    // A saturated threshold ("ffffffff", fraction ~>= 1.0) keeps every
    // row unconditionally — strict < alone would drop a row whose key
    // is exactly "ffffffff" (p = 2^-32 per row) against the contract.
    df.filter(key < threshold || threshold === "ffffffff")
  }

  /** Concat-and-chunk sequence assignment (the GPT-style pretraining
    * packing): within each shard (`keyCol`), documents in `orderCol`
    * order are laid end to end on a token axis that is cut every
    * `budget` tokens. `seq_id` is the 0-based chunk a document STARTS
    * in and `seq_offset` its token offset inside that chunk — a
    * document whose tokens straddle a cut continues into the next
    * chunk, exactly as the concatenated-stream tokenizer would emit it
    * (no per-sequence refitting, which would need sequential reset
    * state). One cumulative-sum window pass: shuffle once on the shard
    * key, one sorted scan, O(1) state.
    */
  /** Greedy token-budget subset selection ("fill a 1T-token training
    * budget with the best documents"): rank by `scoreCol` descending
    * (`tieCol` breaks ties), keep rows while the inclusive running
    * token total stays within `budget`. The running total is
    * [[groupedPrefixSums]] over one group, so no global window and no
    * single-partition stage; driver traffic is O(partitions).
    * Output: input columns + `cum_tokens`.
    *
    * `(scoreCol, tieCol)` MUST be a total order (in practice: tieCol
    * unique, e.g. a doc id). Null token values count 0.
    *
    * Same eager-execution contract as [[groupedPrefixSums]]: the
    * ranking runs at call time and is pinned by a non-reliable
    * `localCheckpoint`, so the selection cannot be deferred or
    * re-optimized into a larger plan; composing further lazy plan on
    * the result is fine.
    */
  def selectByTokenBudget(docs: DataFrame, scoreCol: String, tokenCol: String,
                          tieCol: String, budget: Long): DataFrame =
    groupedPrefixSums(docs, groupCol = None, sizeCol = tokenCol,
        order = Seq(col(scoreCol).desc, col(tieCol)), cumCol = "cum_tokens")
      .filter(col("cum_tokens") <= budget)

  /** Per-GROUP distributed prefix sums: rows are range-sorted on
    * (group, `order`) so each group occupies a contiguous partition
    * span, pass 1 collects per-(partition, group) sums (bounded: with
    * range contiguity that is ≤ partitions + groups rows on the
    * driver), the driver scans them in partition order to the
    * exclusive offset each (partition, group) cell starts from, and
    * pass 2 stamps the inclusive running sum with the broadcast
    * offsets — no global window and no per-group single-task window,
    * which is what `Window.partitionBy(group)` would degenerate to
    * when a bucket holds a billion rows. With no `groupCol` the whole
    * frame is one group.
    *
    * `order` MUST be a total order within a group (in practice: end
    * on a unique id) — with duplicate keys the sort is not stable
    * across partition recomputes. Null sizes count 0.
    *
    * EAGER-EXECUTION CONTRACT: the sort, the per-partition sums and a
    * `localCheckpoint(eager = true)` of the stamped result run at
    * call time, so both passes observe one sort order and the shared
    * sorted frame is unpersisted here. The checkpoint is non-reliable:
    * its blocks live on executors, and on executor loss downstream
    * actions fail rather than recompute.
    *
    * Output: input columns + `cumCol` (inclusive running `sizeCol`
    * total within the row's group, in `order`).
    */
  def groupedPrefixSums(items: DataFrame, groupCol: Option[String], sizeCol: String,
                        order: Seq[Column], cumCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = items.sparkSession
    // persisted so the sums pass and the stamp pass share one sort
    val keys = groupCol.map(col).toSeq ++ order
    val sorted = items
      .repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
      .persist()
    val gIdx = groupCol.map(sorted.schema.fieldIndex)
    val sIdx = sorted.schema.fieldIndex(sizeCol)
    def size(r: Row): Long =
      if (r.isNullAt(sIdx)) 0L else r.getAs[Number](sIdx).longValue()
    // prefix-disambiguated key: a NULL group and the literal string
    // "null" must not collapse into one running total (ADVICE r18 #3)
    def group(r: Row): String = gIdx.fold("") { i =>
      if (r.isNullAt(i)) "\u0000" else "v:" + String.valueOf(r.get(i))
    }
    val rdd = sorted.rdd
    // pass 1: per-(partition, group) sums, group order preserved
    val partGroupSums: Array[(Int, Seq[(String, Long)])] = rdd
      .mapPartitionsWithIndex { (i, it) =>
        val acc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach(r => acc.updateWith(group(r))(v => Some(v.getOrElse(0L) + size(r))))
        Iterator.single(i -> acc.toSeq)
      }
      .collect().sortBy(_._1)
    // driver scan: exclusive offset per (partition, group)
    val running = scala.collection.mutable.HashMap.empty[String, Long]
    val offsets: Map[(Int, String), Long] = partGroupSums.flatMap {
      case (p, groups) => groups.map { case (g, s) =>
        val off = running.getOrElse(g, 0L)
        running(g) = off + s
        (p, g) -> off
      }
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val stamped = rdd.mapPartitionsWithIndex { (i, it) =>
      var curGroup: String = null
      var cum = 0L
      it.map { r =>
        val g = group(r)
        if (g != curGroup) { curGroup = g; cum = bc.value((i, g)) }
        cum += size(r)
        Row.fromSeq(r.toSeq :+ cum)
      }
    }
    val schema = sorted.schema.add(cumCol, LongType, nullable = false)
    val out = spark.createDataFrame(stamped, schema).localCheckpoint(true)
    sorted.unpersist(false)
    out
  }

  /** Balanced shard assignment (snake/boustrophedon over the size
    * rank): rank documents by token count descending and deal rank r
    * to shard `snake(r mod 2N)` — forward then backward — so every
    * window of 2N consecutive sizes spreads one large+one small doc
    * per shard. Per-shard token totals differ by at most one
    * document's tokens; a training job then reads N statistically
    * equal shards (greedy LPT needs sequential bin state; the snake
    * gets within one doc of it as pure rank arithmetic).
    *
    * 100 TB plan: one range-partitioned distributed sort + the
    * zipWithIndex stamp (no global window, no driver state), then a
    * row-local shard projection — the downstream
    * `write.partitionBy(shard)` is the balanced-output path. Output:
    * input columns + (size_rank 0-based, shard 0..nShards-1).
    */
  def assignShards(docs: DataFrame, idCol: String, tokenCol: String,
                   nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be positive: $nShards")
    val n2 = 2 * nShards
    val ranked = graft.integrate.JoinEngine.withRowId(
      docs.orderBy(col(tokenCol).desc, col(idCol)), "size_rank")
    ranked.withColumn("shard", expr(
      s"""cast(CASE WHEN size_rank % $n2 < $nShards THEN size_rank % $n2
         |     ELSE $n2 - 1 - size_rank % $n2 END as int)""".stripMargin))
  }

  /** Deterministic WEIGHTED sample-without-replacement of exactly `k`
    * rows — Efraimidis & Spirakis 2006 (A-ES): each row draws a
    * deterministic uniform `u` from its id digest and is ranked by
    * the exponential key `-ln(u) / w` ASCENDING; the k smallest keys
    * are a weighted sample without replacement (heavier rows draw
    * proportionally smaller keys). The curation use: "pick 1M
    * documents, token-count-weighted, reproducibly" — where
    * `DataFrame.sample` is neither weighted, exact-k, nor layout-
    * stable.
    *
    * Replay contract: `u = (u32(md5) + 1) / 2^32` is a rational, and
    * the key is quantized ONCE per row
    * (`floor(-ln(u) * 1e12 / w)` — the BM25/surprisal ln-on-rationals
    * scheme) so ordering and hashes replay engine-identically; ties
    * break on the id.
    *
    * 100 TB plan: the key is row-local; the k-row cut is a
    * TakeOrdered (per-partition heaps + a k-row driver merge — no
    * global sort, no shuffle of the corpus); only the k survivors see
    * the rank window. Output: (id, weight, key_pico, rank).
    */
  def sampleWeightedTopK(df: DataFrame, idCol: String, weightCol: String,
                         k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val u32 = s"cast(conv(substring(md5(concat('wsamp:', " +
      s"cast($idCol as string))), 1, 8), 16, 10) as bigint)"
    val keyed = df
      .select(col(idCol), col(weightCol).cast("long").as("weight"))
      .filter(col("weight") > 0L)
      // `4294967296.0` would parse as a DECIMAL literal in Spark SQL,
      // making the division DECIMAL (quotient truncated at scale 12 —
      // u off by ~1e-13, enough to flip a pico-quantized floor) while
      // DuckDB computes the same text in double; the explicit double
      // cast keeps both engines on the correctly-rounded IEEE quotient
      .withColumn("key_pico", expr(
        s"cast(floor(-ln((($u32) + 1) / cast(4294967296 as double)) " +
          "* 1000000000000.0 / weight) as bigint)"))
    keyed
      .orderBy(col("key_pico").asc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("key_pico").asc, col(idCol).asc)).cast("long"))
  }

  /** Bottom-k PRIORITY sample per group (the mergeable uniform sample
    * of Efraimidis–Spirakis at weight 1): every DISTINCT member draws
    * a deterministic uniform from its id digest, and the group keeps
    * the k smallest. The representation is a SKETCH — bottom-k of a
    * union is the bottom-k of concatenated bottom-k's — so the sample
    * merges across partitions, days, or a stream in any order and
    * always converges to the same k rows.
    *
    * 100 TB plan: one distinct-projection, one per-group rank window
    * that Spark 4 executes with WindowGroupLimit (per-partition
    * bottom-k heaps BELOW the exchange — only ~k rows per group ever
    * shuffle). Output: (group, id, h, rank).
    */
  def prioritySamplePerGroup(df: DataFrame, groupCol: String, idCol: String,
                             k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    df.select(col(groupCol).as("group"), col(idCol).as("id")).distinct()
      .withColumn("h", expr("cast(conv(substring(md5(concat('psamp:', " +
        "cast(id as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("group")
          .orderBy(col("h").asc, col("id").asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  /** NEYMAN-allocation stratified sample (Neyman 1934 — the optimal
    * allocation for estimating a mean under a fixed budget): stratum
    * h receives budget `k_h ∝ n_h · s_h` (size × standard deviation
    * of `valueCol`), rounded by the largest-remainder method, then
    * each stratum draws its `k_h` members by the deterministic
    * bottom-k priority hash. High-variance strata get proportionally
    * more budget — the statistically right answer the naive
    * equal-k-per-stratum sample ignores.
    *
    * Determinism: per-stratum (n, Σv, Σv²) are exact BIGINTs; s_h and
    * the quotas compute in double FROM those sums with one fixed
    * expression (engine-identical); remainder ties break on the
    * stratum key. Singleton strata carry no variance signal and get
    * weight 0 (documented, mirrored by the oracle). The allocation
    * happens on the driver over the STRATA frame (bounded by stratum
    * cardinality — the globalQuantiles bounded-collect discipline),
    * never over rows.
    *
    * 100 TB plan: one map-side-combined stats aggregate, a
    * strata-sized driver computation, one hash projection + per-
    * stratum WindowGroupLimit bottom-k. Output: (stratum, k_h, id,
    * h, rank).
    */
  def sampleNeyman(df: DataFrame, stratumCol: String, idCol: String,
                   valueCol: String, totalK: Int): DataFrame = {
    require(totalK > 0, s"totalK must be positive: $totalK")
    val stats = df
      .select(col(stratumCol).cast("string").as("stratum"),
        col(idCol).as("id"), col(valueCol).cast("long").as("__v"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n"), sum("__v").as("sv"),
        sum(expr("__v * __v")).as("svv"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val weights = stats.map { case (st, n, sv, svv) =>
      val wh =
        if (n >= 2)
          n.toDouble * math.sqrt((svv - sv.toDouble * sv / n) / (n - 1))
        else 0.0
      (st, wh)
    }
    // deterministic fold order on the driver; the SQL oracle's sum
    // order is engine-chosen, but a quota would have to sit within
    // ~1 ulp of an integer for that to flip a floor — the accepted
    // double-risk class (ln quantization) at far lower odds
    val totalW = weights.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _)
    val quotas = weights.map { case (st, wh) =>
      val q = if (totalW > 0) totalK * wh / totalW else 0.0
      (st, q, math.floor(q).toLong)
    }
    val extras = totalK - quotas.map(_._3).sum
    val bumped = quotas
      .sortBy { case (st, q, base) => (-(q - math.floor(q)), st) }
      .zipWithIndex
      .map { case ((st, _, base), i) =>
        st -> (base + (if (i < extras) 1L else 0L))
      }.toMap
    val alloc = df.sparkSession.createDataFrame(
      bumped.toSeq.map { case (st, k) => (st, k) })
      .toDF("stratum", "k_h")
    val ranked = df
      .select(col(stratumCol).cast("string").as("stratum"),
        col(idCol).as("id"))
      .distinct()
      .withColumn("h", expr("cast(conv(substring(md5(concat('nsamp:', " +
        "cast(id as string))), 1, 8), 16, 10) as bigint)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("stratum")
          .orderBy(col("h").asc, col("id").asc)).cast("long"))
    ranked.join(broadcast(alloc), "stratum")
      .filter(col("rank") <= col("k_h"))
      .select(col("stratum"), col("k_h"), col("id"), col("h"), col("rank"))
  }

  /** [[sampleWeightedTopK]] per stratum — exact `k` rows from EVERY
    * stratum (balanced eval-set construction: "500 docs per language,
    * token-weighted"), same deterministic A-ES key. The cut is a
    * stratum-keyed rank window, which Spark 4 executes with
    * WindowGroupLimit: per-partition top-k heaps BELOW the exchange,
    * so only ~k rows per stratum ever shuffle. Strata with fewer than
    * k rows keep them all. Output: (stratum, id, weight, key_pico,
    * rank).
    */
  def sampleWeightedPerStratum(df: DataFrame, idCol: String,
                               stratumCol: String, weightCol: String,
                               k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val u32 = s"cast(conv(substring(md5(concat('wsamp:', " +
      s"cast($idCol as string))), 1, 8), 16, 10) as bigint)"
    df.select(col(stratumCol).as("stratum"), col(idCol),
        col(weightCol).cast("long").as("weight"))
      .filter(col("weight") > 0L)
      // `4294967296.0` would parse as a DECIMAL literal in Spark SQL,
      // making the division DECIMAL (quotient truncated at scale 12 —
      // u off by ~1e-13, enough to flip a pico-quantized floor) while
      // DuckDB computes the same text in double; the explicit double
      // cast keeps both engines on the correctly-rounded IEEE quotient
      .withColumn("key_pico", expr(
        s"cast(floor(-ln((($u32) + 1) / cast(4294967296 as double)) " +
          "* 1000000000000.0 / weight) as bigint)"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("stratum")
          .orderBy(col("key_pico").asc, col(idCol).asc)).cast("long"))
      .filter(col("rank") <= k)
  }

  def packSequences(docs: DataFrame, keyCol: String, orderCol: String,
                    tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    val w = Window.partitionBy(keyCol).orderBy(col(orderCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn("seq_id", floor((col("__cum") - col(tokenCol)) / budget).cast("long"))
      .withColumn("seq_offset", (col("__cum") - col(tokenCol)) % budget)
      .drop("__cum")
  }

  /** Padding-waste report — the pre-launch number that justifies
    * [[packSequences]]: per key, sequence counts and utilization
    * under (a) concat-and-chunk packing (`⌈Σtokens / budget⌉`
    * sequences; only the final partial chunk pads) vs (b) the naive
    * one-doc-per-sequence layout (each doc pads to the next multiple
    * of `budget` — `Σ⌈tokens_i / budget⌉` sequences). The utilization
    * gap IS the GPU-hours packing saves.
    *
    * 100 TB plan: one map-side-combined aggregate to key grain —
    * ceil-division is `(x + budget − 1) div budget`, all exact
    * BIGINT; no window, no packing pass needed to DECIDE on packing.
    * Output: (key, n_docs, n_tokens, n_seqs_packed, n_seqs_padded,
    * util_packed_micro, util_padded_micro).
    */
  def packPaddingWaste(docs: DataFrame, keyCol: String, tokenCol: String,
                       budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    docs
      .withColumn("__ceil", expr(s"(${tokenCol} + $budget - 1) div $budget"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCol)).as("n_tokens"),
        sum("__ceil").as("n_seqs_padded"))
      .withColumn("n_seqs_packed",
        expr(s"(n_tokens + $budget - 1) div $budget"))
      .withColumn("util_packed_micro",
        expr(s"n_tokens * 1000000 div greatest(n_seqs_packed * $budget, 1)"))
      .withColumn("util_padded_micro",
        expr(s"n_tokens * 1000000 div greatest(n_seqs_padded * $budget, 1)"))
      .select(col(keyCol), col("n_docs"), col("n_tokens"),
        col("n_seqs_packed"), col("n_seqs_padded"),
        col("util_packed_micro"), col("util_padded_micro"))
  }

  /** Kish effective-sample-size audit for a weighted sampling scheme
    * (Kish 1965): `ESS = (Σw)² / Σw²` — the importance-sampling
    * diagnostic every weighted sampler in this catalog (DSIR,
    * temperature, A-ES) should be read with: an ESS ratio near 1
    * says the weights barely reweight; near 0 says a handful of
    * documents dominate and the "n-document" corpus is effectively
    * tiny. Weights must be non-negative integers (the catalog's
    * micro convention); nulls are excluded, zero weights contribute
    * to neither sum nor the effective denominator (a never-sampled
    * doc is not part of the design — `n_pos` is the stated base).
    *
    * Exactness: both sums are exact BIGINT from ONE map-side-combined
    * aggregate; the quotient is a fixed IEEE double sequence under
    * r6 (the correlationMatrix discipline). Int64 bound:
    * n·max_w² ≤ 9.2e18 (~9e6 docs at micro weights); ESS is
    * SCALE-INVARIANT, so pre-dividing weights to milli extends the
    * bound 1e6× without changing the statistic beyond the stated
    * truncation grain.
    *
    * 100 TB plan: one scan, one scalar rollup — nothing shuffles but
    * the partial aggregates. Output one row: (n_rows, n_pos, sum_w,
    * sum_w2, ess, ess_ratio).
    */
  def essAudit(df: DataFrame, weightCol: String): DataFrame =
    df.filter(col(weightCol).isNotNull)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col(weightCol) > 0L, 1L).otherwise(0L)).as("n_pos"),
        sum(col(weightCol)).as("sum_w"),
        sum(col(weightCol) * col(weightCol)).as("sum_w2"))
      .withColumn("ess", expr(
        "case when sum_w2 <= 0 then 0.0 else " +
          "cast(sum_w as double) * cast(sum_w as double) " +
          "/ cast(sum_w2 as double) end"))
      .withColumn("ess_ratio", expr(
        "case when n_pos = 0 then 0.0 else ess / cast(n_pos as double) end"))
      .select(col("n_rows"), col("n_pos"), col("sum_w"), col("sum_w2"),
        col("ess"), col("ess_ratio"))
}
