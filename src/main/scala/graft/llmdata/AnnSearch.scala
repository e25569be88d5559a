package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import LlmDataParams._

/** Similarity search over an embedding column (`array<float>`) — the
  * approximate-nearest-neighbor family for training-data curation
  * (builder brief; no counterpart in the reference).
  *
  * 100 TB design:
  *  - brute-force top-k is the *baseline*: the (small) query set is
  *    broadcast, the corpus is scanned once, cosine is one codegen'd
  *    kernel expression (no UDF), and top-k is a per-query
  *    window — shuffle is bounded by |queries| * |corpus| rows only if
  *    materialized, so the threshold/rank filter runs before anything
  *    else. Exact, but scans the full corpus per query batch;
  *  - the scale path is bucketed: IVF (nearest-of-K-centroids
  *    partitioning, probe nProbe buckets) for search, and
  *    random-hyperplane LSH tables for near-dup pairs — both turn the
  *    pair space into *equi-joins on a bucket key*. Centroids here are
  *    a deterministic lattice (so the DuckDB oracle replays them
  *    bit-exactly); in production they'd come from k-means on a sample,
  *    which changes the constants, not the plan shape.
  */
object AnnSearch {

  /** Sequential left-fold dot product (codegen expression — same op
    * order as the HOF spelling and the oracle's `list_sum`, so doubles
    * match bit-for-bit; see [[DotProductExpression]]).
    */
  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    DotProductExpression.dot(a, b)

  private def dotLattice(v: String, seedOffset: Long, planeIdx: Int) = {
    // Literal doubles computed host-side: `n.toDouble / 1000.0 - 0.5`
    // is the identical IEEE-754 sequence to the SQL fragment
    // `(n / 1000.0 - 0.5)` it replaces (long→double cast, divide,
    // subtract), so every dot is bit-for-bit unchanged — but the plan
    // carries ONE Literal node per element instead of a parsed
    // Divide/Subtract tree (~3 nodes/element × embDim × kc planes;
    // at kc = 32 those trees dominated DRIVER plan-construction time
    // for the scaled kNN-graph family — r20 probe: construct 3.2 s,
    // jobs = 1, guide §1 "decide where the time goes" + §4 expression
    // hygiene).
    val ds = latticeInts(seedOffset, planeIdx)
      .map(n => n.toDouble / 1000.0 - 0.5)
    dot(col(v), array(ds.map(d => lit(d)): _*))
  }

  /** The second-best-bucket probe mask: the best bucket's score is
    * floored out so `array_position(.., array_max(..))` yields the
    * runner-up. Shared by every IVF search variant — probe semantics
    * (and any future ivfProbes > 2 generalization) change HERE.
    */
  private def maskedSecondBucket(kc: Int, scoresCol: String): String =
    s"""transform(sequence(1, $kc),
       | i -> CASE WHEN i = __b1 THEN cast(-1e18 as double)
       |           ELSE element_at($scoresCol, i) END)""".stripMargin

  /** Per-query top-k tail shared by every search variant: rank window
    * over `query_id` (vec_id tie-break — the oracles' row_number
    * spelling), keep k, project the output contract.
    */
  private def rankTail(cands: DataFrame, k: Int,
                       order: org.apache.spark.sql.Column,
                       scoreCol: String): DataFrame =
    cands
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(order, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        col(scoreCol))

  /** Corpus projection: id, double vector `v`, L2 norm `nrm`. */
  def vectors(emb: DataFrame, idCol: String = "vec_id",
              embCol: String = "embedding"): DataFrame =
    emb.select(col(idCol), col(embCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(DotProductExpression.dot(col("v"), col("v"))))

  /** Exact brute-force cosine top-k: queries broadcast, corpus scanned
    * once, per-query rank window. Output:
    * (query_id, neighbor_id, rnk, cosine).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    rankTail(
      corpus.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm"))),
      k, col("cos").desc, "cos")
  }

  /** kNN LABEL PURITY — the embedding-space sanity check every
    * labeled corpus runs before trusting the vectors for retrieval
    * or classification: for each query, its exact top-k cosine
    * neighbors' label agreement with the query's own label, rolled
    * up per label. A label whose purity sits at the label's base
    * rate means the embedding carries no signal for it; near-1 means
    * the classes are linearly recoverable (the 1-NN error bound of
    * Cover & Hart 1967 motivates exactly this statistic).
    *
    * 100 TB plan: the ranking is [[bruteForceTopK]]'s one-scan
    * broadcast plan (queries-sized); query labels attach by broadcast
    * and neighbor labels by an id-keyed equi-join of the NARROW
    * (id, label) projection against the k·|queries|-row ranked frame
    * (Spark broadcasts the small ranked side — the wide vectors are
    * already dropped); the rollup is |labels| rows. Output:
    * (label, n_queries, n_neighbors, n_same_label, purity_ppm).
    */
  def knnLabelPurity(emb: DataFrame, queryPred: org.apache.spark.sql.Column,
                     k: Int, idCol: String = "vec_id",
                     labelCol: String = "label",
                     embCol: String = "embedding"): DataFrame = {
    val v = vectors(emb, idCol, embCol)
    val labels = emb.select(col(idCol), col(labelCol).cast("long").as("__lab"))
    val ranked = bruteForceTopK(v, v.filter(queryPred), k)
    ranked
      .join(broadcast(labels.filter(queryPred)
        .select(col(idCol).as("query_id"), col("__lab").as("__ql"))),
        "query_id")
      .join(labels.select(col(idCol).as("neighbor_id"),
        col("__lab").as("__nl")), "neighbor_id")
      .groupBy(col("__ql").as("label"))
      .agg(count_distinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") === col("__ql"), 1L).otherwise(0L))
          .as("n_same_label"))
      .withColumn("purity_ppm",
        expr("n_same_label * 1000000 div greatest(n_neighbors, 1)"))
  }

  /** Exact cosine RADIUS (threshold) search — the range-query member
    * of the ANN family: every corpus vector whose cosine to a query
    * is at least `thetaMicro` (integer micro-units), the "everything
    * this similar" question dedup audits and near-neighbor sweeps
    * ask, where top-k's fixed cutoff is the wrong shape. The
    * threshold compares the QUANTIZED cosine (`floor(cos·1e6 + 0.5)`)
    * — the same number both engines report — so the boundary is
    * hash-exact; a raw-double compare would let a 1-ulp divergence
    * flip a row sitting on the threshold. `n_matches` (per query,
    * window over the bounded match set) makes empty-radius queries
    * visible downstream.
    *
    * 100 TB plan: queries broadcast (query-set-sized), ONE corpus
    * scan, row-local codegen dot product, and the only shuffle is
    * the per-query window over the MATCH set (radius-bounded).
    * Unlike top-k, bucketed IVF cannot prune a radius query without
    * recall loss (any bucket may hold an above-threshold vector), so
    * this linear-scan spelling IS the production path; batch queries
    * to amortize the scan. Output: (query_id, neighbor_id, cosine,
    * n_matches), one row per above-threshold pair.
    */
  def radiusSearch(corpus: DataFrame, queries: DataFrame,
                   thetaMicro: Long): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn"))
    cosineAtLeast(corpus.crossJoin(broadcast(q)), thetaMicro)
  }

  /** The radius searches' match step over (query, corpus) pair rows: a
    * non-self pair matches when its micro-quantized cosine is at least
    * `thetaMicro`. Output: (query_id, neighbor_id, cosine, n_matches).
    */
  private def cosineAtLeast(pairs: DataFrame, thetaMicro: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    pairs
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("__cm", floor(
        dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .filter(col("__cm") >= thetaMicro)
      .withColumn("n_matches", count(lit(1)).over(w))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("__cm").cast("double") / lit(1000000.0)).as("cosine"),
        col("n_matches"))
  }

  /** Pruning pad for the ball-bound compare, in radians. 1e-9 was
    * NOT a rigorous bound (r18 advice): `acos` amplifies input error
    * by `1/sqrt(1−x²)`, so for a bucket whose members sit within
    * ~1e-14 of cosine 1 to the centroid (tight near-dup clusters)
    * the computed `acos(rcmin)` can understate the true bucket
    * radius by ~1e-8 rad — enough to prune a boundary match in
    * principle. 1e-6 rad dominates that worst case by two orders of
    * magnitude while costing no measurable pruning power (a bucket
    * pruned by less than a microradian of slack was never a real
    * reject).
    */
  private val radiusPadRad = 1e-6

  /** Bucket mean directions + minimum member cosine for an assigned
    * corpus frame — the geometry both radius-search paths and the
    * adaptive path-pick read. Mean directions are exact double sums
    * of unit vectors (cosine against the SUM equals cosine against
    * the mean), collected at the driver (bounded: kc × dim doubles)
    * and rebroadcast; radii ride one bounded aggregate.
    */
  private def bucketGeometry(assigned: DataFrame)
      : (DataFrame, DataFrame) = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val sums = assigned
      .select(col("bucket"), posexplode(expr(
        "transform(v, x -> x / nrm)")))
      .groupBy("bucket", "pos").agg(sum("col").as("s"))
      .collect() // bounded: kc * dim doubles
    val cent = sums.groupBy(_.getLong(0)).map { case (b, rows) =>
      val dim = rows.map(_.getInt(1)).max + 1
      val arr = new Array[Double](dim)
      rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      val n = math.sqrt(arr.map(x => x * x).sum)
      (b, arr.toSeq, n)
    }.toSeq
    val centDf = broadcast(cent.toDF("bucket", "carr", "cnrm"))
    val withCos = assigned.join(centDf, "bucket")
      .withColumn("__mc",
        dot(col("v"), col("carr")) / (col("nrm") * col("cnrm")))
    // r_b as its cosine form: the bucket's minimum member cosine
    val radii = broadcast(withCos.groupBy("bucket")
      .agg(min("__mc").as("rcmin")))
    (centDf, radii)
  }

  /** EXACT bucket-pruned radius search — the scale path of
    * [[radiusSearch]] that is still EXACT (ball-tree pruning on the
    * unit sphere, Omohundro 1989 / the metric-tree bound): angular
    * distance is a metric, so for any member x of bucket b,
    * `θ(q,x) ≥ θ(q,c_b) − r_b` with `r_b` the bucket's max member
    * angle to its own mean direction — a bucket whose lower angle
    * bound exceeds `arccos(θ*)` PROVABLY holds no match and is
    * skipped without recall loss (unlike top-k IVF probing, which is
    * approximate by construction). The bound is padded by
    * [[radiusPadRad]] (1e-6 rad) against the dot/norm/acos rounding
    * chain and evaluated against `(thetaMicro − ½)/1e6` — the loosest
    * raw cosine that could still QUANTIZE to the threshold — so the
    * survivor set provably contains every brute match; the in-bucket
    * verify is then the same quantized compare as [[radiusSearch]],
    * making the output IDENTICAL row-for-row (spec-pinned).
    *
    * Zero-norm vectors have no direction: they can never pass the
    * cosine threshold (NaN compares false on both engines, the brute
    * contract) and are excluded from the index outright.
    *
    * 100 TB plan: bucket mean directions and radii are TWO bounded
    * aggregates over the assigned corpus (kc×dim and kc rows — the
    * kmeansState collect class); per query only the SURVIVING buckets'
    * members are scanned (a bucket-keyed equi-join against the
    * broadcast survivor list), so a tight radius touches a small
    * corpus fraction instead of all of it. Output: (query_id,
    * neighbor_id, cosine, n_matches) — [[radiusSearch]]'s exact shape.
    */
  def radiusSearchIvf(emb: DataFrame,
                      queryPred: org.apache.spark.sql.Column,
                      thetaMicro: Long): DataFrame = {
    val assigned = PersistPolicy.persistGated(
      ivfAssigned(emb).filter(col("nrm") > 0)
        .select(col("vec_id"), col("v"), col("nrm"),
          col("__b1").as("bucket")),
      emb) // read by the centroid, radius, and scan passes
    val (centDf, radii) = bucketGeometry(assigned)
    val thetaEff = math.min(1.0, math.max(-1.0,
      (thetaMicro.toDouble - 0.5) / 1e6))
    val survivors = assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      .crossJoin(centDf)
      .withColumn("__qc",
        dot(col("qv"), col("carr")) / (col("qn") * col("cnrm")))
      .join(radii, "bucket")
      .filter(
        acos(least(lit(1.0), greatest(lit(-1.0), col("__qc"))))
          - acos(least(lit(1.0), greatest(lit(-1.0), col("rcmin"))))
          <= lit(math.acos(thetaEff) + radiusPadRad))
      .select(col("query_id"), col("qv"), col("qn"), col("bucket"))
    cosineAtLeast(assigned.join(broadcast(survivors), "bucket"), thetaMicro)
  }

  /** Measured pruning power of the ball bound on a deterministic
    * `1/sampleMod` corpus sample: the fraction of (proxy query ×
    * bucket) pairs the [[radiusSearchIvf]] survivor filter would
    * reject, from SAMPLED bucket geometry and up to
    * `maxProxyQueries` lowest-id sample rows as proxy queries (the
    * sample is corpus-shaped, so its reject rate estimates the real
    * one). None when the sample is empty. Cost: a `1/sampleMod`
    * assignment pass plus a (proxies × kc)-row local compare —
    * negligible next to either search path.
    */
  private[graft] def sampledPrunedFraction(
      emb: DataFrame, thetaMicro: Long, sampleMod: Long = 16L,
      maxProxyQueries: Int = 64): Option[Double] = {
    val sample = ivfAssigned(
        emb.filter(pmod(col("vec_id"), lit(sampleMod)) === 0L))
      .filter(col("nrm") > 0)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("__b1").as("bucket"))
    if (sample.isEmpty) return None
    val (centDf, radii) = bucketGeometry(sample)
    val thetaEff = math.min(1.0, math.max(-1.0,
      (thetaMicro.toDouble - 0.5) / 1e6))
    val proxies = sample.orderBy("vec_id").limit(maxProxyQueries)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val row = proxies.crossJoin(centDf).join(radii, "bucket")
      .withColumn("__qc",
        dot(col("qv"), col("carr")) / (col("qn") * col("cnrm")))
      .withColumn("__pruned",
        acos(least(lit(1.0), greatest(lit(-1.0), col("__qc"))))
          - acos(least(lit(1.0), greatest(lit(-1.0), col("rcmin"))))
          > lit(math.acos(thetaEff) + radiusPadRad))
      .agg(avg(when(col("__pruned"), 1.0).otherwise(0.0)).as("f"))
      .first()
    if (row.isNullAt(0)) None else Some(row.getDouble(0))
  }

  /** Plan-ADAPTIVE exact radius search (VERDICT r17 next-4): picks
    * [[radiusSearch]] (brute broadcast scan) vs [[radiusSearchIvf]]
    * (ball-pruned bucket join) from the MEASURED pruning power on a
    * corpus sample, instead of always paying the IVF prep. The r17
    * read-out showed why: on the diffuse bench corpus the ball bound
    * rejects almost nothing (bucket radii ≈ the threshold angle), so
    * the pruned path was 1.8× SLOWER than brute — pruning must earn
    * its assignment pass. Decision: prune only when the sampled
    * reject rate clears `minPrunedFraction` (default ½ — at the toy
    * kc ≈ |queries| regime the bucket path's prep costs about one
    * brute scan, so it must at least halve the scanned mass;
    * clustered encoder output clears this easily, diffuse corpora
    * never do). Both paths emit IDENTICAL rows (both exact, the
    * Round19PlanSpec pin), so the choice is pure physics — the
    * sampling decision can never flip a result row.
    *
    * 100 TB plan: the decision pass reads `1/sampleMod` of the
    * corpus once; a clustered 100 TB embedding store then scans only
    * surviving buckets, while a diffuse one skips the pointless
    * index build entirely and takes the one linear scan it was
    * always going to need.
    */
  def radiusSearchAdaptive(emb: DataFrame,
                           queryPred: org.apache.spark.sql.Column,
                           thetaMicro: Long, sampleMod: Long = 16L,
                           minPrunedFraction: Double = 0.5): DataFrame = {
    val prunable = sampledPrunedFraction(emb, thetaMicro, sampleMod)
      .getOrElse(0.0)
    if (prunable >= minPrunedFraction)
      radiusSearchIvf(emb, queryPred, thetaMicro)
    else {
      val c = vectors(emb)
      radiusSearch(c, c.filter(queryPred), thetaMicro)
    }
  }

  /** Reciprocal-rank fusion over N retrieval rankings (Cormack et al.
    * 2009) — the standard hybrid-retrieval combiner (dense ANN +
    * lexical BM25, or an ensemble of ANN variants): fused score is
    * `sum_lists 1/(kRrf + rank)`, each contribution quantized ONCE to
    * integer micro-units so the fused ordering replays
    * engine-identically (one double division per row, no float sums).
    * Candidates absent from a list simply contribute nothing —
    * spelled as a rank-keyed union + group-by, not an N-way outer
    * join. `n_lists` reports how many rankings surfaced the pair.
    *
    * 100 TB plan: one shuffle on (query_id, neighbor_id) with
    * map-side combine over inputs that are already top-k-bounded
    * (k * n_lists rows per query), then a per-query window over those
    * same few rows — cost is proportional to the RANKINGS, never the
    * corpus. Output: (query_id, neighbor_id, rnk, n_lists,
    * rrf_micro).
    */
  def rrfFuse(rankings: Seq[DataFrame], kRrf: Int = 60,
              topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings.map(_.select(col("query_id"), col("neighbor_id"),
      floor(lit(1000000.0) / (lit(kRrf) + col("rnk")) + lit(0.5))
        .cast("long").as("__c")))
    contribs.reduce(_ unionByName _)
      .groupBy("query_id", "neighbor_id")
      .agg(sum("__c").as("rrf_micro"), count(lit(1)).as("n_lists"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_micro").desc, col("neighbor_id"))))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("n_lists"), col("rrf_micro"))
  }

  /** IVF assignment: dot against each centroid, `__b1` = argmax bucket
    * (1-based, first-wins on ties like the oracle's `list_position`).
    */
  def ivfAssigned(emb: DataFrame): DataFrame = {
    val dots = (0 until ivfCentroids).map(kc => dotLattice("v", 0L, kc))
    vectors(emb)
      .withColumn("__dots", array(dots: _*))
      .withColumn("__b1", expr("array_position(__dots, array_max(__dots))"))
  }

  /** IVF top-k: queries probe their `ivfProbes` nearest centroid
    * buckets; candidates are an equi-join on the bucket id; exact
    * cosine re-rank within candidates. Output:
    * (query_id, neighbor_id, rnk, cosine).
    */
  def ivfTopK(emb: DataFrame, queryFilter: org.apache.spark.sql.Column,
              k: Int): DataFrame = {
    twoBucketTopK(ivfAssigned(emb), queryFilter,
      maskedSecondBucket(ivfCentroids, "__dots"), k)
  }

  /** The two-probe IVF top-k over bucketed vectors `base` (vec_id, v,
    * nrm, first bucket `__b1`): each query selected by `queryFilter`
    * also probes the arg-max of `masked` (its scores with `__b1` masked
    * out); candidates are an equi-join on the bucket, re-ranked by
    * exact cosine.
    */
  private def twoBucketTopK(base: DataFrame, queryFilter: org.apache.spark.sql.Column,
                            masked: String, k: Int): DataFrame = {
    val corpus = base.select(col("vec_id"), col("v"), col("nrm"),
      col("__b1").as("bucket"))
    val probes = base.filter(queryFilter)
      .withColumn("__b2", expr(s"array_position($masked, array_max($masked))"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array(col("__b1"), col("__b2"))).as("bucket"))
    rankTail(
      corpus.join(broadcast(probes), "bucket")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm"))),
      k, col("cos").desc, "cos")
  }

  /** Corpus kNN graph: every vector's k nearest neighbors by cosine
    * among its `ivfProbes` probe buckets — the self-join shape of IVF
    * search (queries = the WHOLE corpus), the building block for
    * graph-based clustering, SemDeDup-style pruning, and NN-descent
    * refinement.
    *
    * 100 TB design: unlike [[ivfTopK]] the query side is corpus-sized,
    * so probes are never broadcast — the candidate join is an
    * equi-join on the bucket id that size-based planning/AQE executes
    * as a shuffled hash join at scale (broadcast only at toy scale);
    * vectors are dropped BEFORE the per-query rank window, so the
    * window exchange carries only (query_id, neighbor_id, cos) — the
    * sf1-rehearsal rule that a wide payload must never ride a
    * join-multiplied shuffle — and Spark 4's WindowGroupLimit prunes
    * to k per query below that exchange. Per-bucket pair work is
    * |bucket|-squared-shaped, so the centroid count `kc` must scale
    * with the corpus (~sqrt(n) buckets; same contract as the
    * fixed-bucket-count caveat on the embedding-LSH dedup) — the
    * lattice default is the oracle-replayable toy config, and
    * [[kmeansState]] centroids are the production source.
    * Output: (query_id, neighbor_id, rnk, cos).
    */
  def knnGraph(emb: DataFrame, k: Int, kc: Int = ivfCentroids): DataFrame = {
    val dots = (0 until kc).map(c => dotLattice("v", 0L, c))
    probeGraph(vectors(emb).withColumn("__dots", array(dots: _*)), "__dots", kc, k)
  }

  /** The kNN-graph body shared by [[knnGraph]] and [[knnGraphLearned]]:
    * `scored` vectors carry one score per bucket in `scores`; each
    * probes its best and second-best bucket, candidates equi-join on
    * the bucket id, and the per-query rank window keeps k.
    */
  private def probeGraph(scored: DataFrame, scores: String, kc: Int, k: Int): DataFrame = {
    val assigned = scored
      .withColumn("__b1", expr(s"array_position($scores, array_max($scores))"))
    val corpus = assigned.select(col("vec_id"), col("v"), col("nrm"),
      col("__b1").as("bucket"))
    val masked = maskedSecondBucket(kc, scores)
    val probes = assigned
      .withColumn("__b2", expr(s"array_position($masked, array_max($masked))"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array(col("__b1"), col("__b2"))).as("bucket"))
    rankTail(
      corpus.join(probes, "bucket")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
        .select(col("query_id"), col("vec_id"), col("cos")),
      k, col("cos").desc, "cos")
  }

  /** IVF bucket-occupancy audit — the operational number behind the
    * whole family's kc contract: per-bucket vector counts, corpus
    * share, and the occupancy ratio vs perfect balance
    * (`n_b · kc / n`, 1e6 = balanced). This is the audit that decides
    * WHEN kc must grow (occupancy² self-join cost tracks the max
    * ratio) and whether the lattice fits the corpus (a degenerate
    * corpus drains into few buckets — visible here long before the
    * graph build pays for it).
    *
    * 100 TB plan: one corpus scan into a kc-row map-side-combined
    * aggregate; totals attach by broadcast; output is kc rows.
    * `n_vectors · kc · 1e6` is exact to n ~ 2.8e11 vectors at kc=32
    * (the epochsReport bound class). Output: (bucket, n_vectors,
    * share_micro, occupancy_ratio_micro, n_buckets_used).
    */
  def bucketBalance(emb: DataFrame, kc: Int = ivfCentroids): DataFrame = {
    val dots = (0 until kc).map(c => dotLattice("v", 0L, c))
    val per = vectors(emb)
      .withColumn("__dots", array(dots: _*))
      .withColumn("bucket", expr("array_position(__dots, array_max(__dots))"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vectors"))
    val tot = per.agg(sum("n_vectors").as("__n"),
      count(lit(1)).as("n_buckets_used"))
    per.crossJoin(broadcast(tot))
      .withColumn("share_micro", expr("n_vectors * 1000000 div __n"))
      .withColumn("occupancy_ratio_micro",
        expr(s"n_vectors * $kc * 1000000 div __n"))
      .select(col("bucket").cast("long").as("bucket"), col("n_vectors"),
        col("share_micro"), col("occupancy_ratio_micro"),
        col("n_buckets_used"))
  }

  /** MUTUAL kNN pairs over [[knnGraph]]: the pairs (a, b) where each
    * is in the OTHER's top-k — the reciprocal-neighbor filter that
    * turns a kNN graph into high-precision duplicate/alias candidates
    * (one-directional neighbors are dominated by hub vectors; mutual
    * ones almost never are — the standard re-ranking trick from
    * instance retrieval, e.g. Qin et al. 2011 "Hello neighbor").
    *
    * Plan: the graph builds ONCE (persisted), then one pair-keyed
    * equi-join of its two direction-split halves — both k·n-row
    * verdict-narrow frames, no vectors on either side. Inherits the
    * graph's fixed-kc occupancy² contract; pass a scaled `kc` for the
    * 100 TB path exactly as [[knnGraph]] documents.
    *
    * Output: (vec_a, vec_b, rnk_ab, rnk_ba, cos) with vec_a < vec_b.
    */
  def knnMutual(emb: DataFrame, k: Int, kc: Int = ivfCentroids): DataFrame = {
    val edges = knnGraph(emb, k, kc)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cos"))
      .persist() // both direction splits read it
    val fwd = edges.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"),
        col("rnk").as("rnk_ab"), col("cos"))
    val rev = edges.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("vec_a"), col("query_id").as("vec_b"),
        col("rnk").as("rnk_ba"))
    fwd.join(rev, Seq("vec_a", "vec_b"))
  }

  /** Per-node triangle count + local clustering coefficient over the
    * symmetrized [[knnGraph]] — the graph-density audit that separates
    * tight duplicate/community clumps (coefficient near 1) from
    * hub-dominated neighborhoods (near 0); the standard signal for
    * picking near-dup cluster seeds and for spotting degenerate
    * embedding regions before they poison SemDeDup.
    *
    * 100 TB plan: the compact-forward / degree-ordering MapReduce
    * algorithm (Suri & Vassilvitskii 2011): rank nodes by (degree, id),
    * point every undirected edge at its higher-rank endpoint, and
    * enumerate wedges only from each node's HIGHER-RANK out-edges — so
    * a hub of degree d contributes O(out_deg²) with out-degree bounded
    * by ~sqrt(m) instead of d², the exact trick that keeps celebrity
    * nodes from serializing a reducer. Wedge generation and closure are
    * both id-keyed equi-joins on k·n-row, vector-free frames; the
    * triangle credit is a union of three projections into one
    * map-side-combined count. The coefficient is exact integer
    * `2·T·1e6 div deg·(deg-1)`. Inherits the graph's kc contract (pass
    * a scaled `kc` at scale). Output: (vec_id, degree, n_triangles,
    * clustering_micro).
    */
  def knnTriangles(emb: DataFrame, k: Int, kc: Int = ivfCentroids): DataFrame = {
    val edges = knnGraph(emb, k, kc)
    // EAGER materialization: five downstream branches (degree,
    // direction, wedges twice, closure) would otherwise race the lazy
    // cache and each recompute the whole graph lineage (measured 20x
    // on the catalog entry); the checkpoint also truncates the
    // window-bearing graph lineage so AQE replans only the tail
    val und = edges.select(
        least(col("query_id"), col("neighbor_id")).as("a"),
        greatest(col("query_id"), col("neighbor_id")).as("b"))
      .distinct()
      .localCheckpoint(true)
    trianglesOverUndirected(und)
      .withColumnRenamed("node_id", "vec_id")
  }

  /** The compact-forward triangle enumeration over ANY canonical
    * undirected edge frame `(a, b)` with a < b, deduplicated and
    * (for multi-branch lineages) already materialized by the caller
    * — the graph kernel [[knnTriangles]] runs on its kNN edges and
    * [[Dedup.candidateGraphTransitivity]] runs on the LSH candidate
    * pairs. Output: (node_id, degree, n_triangles, clustering_micro).
    */
  private[llmdata] def trianglesOverUndirected(und: DataFrame): DataFrame = {
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    // direct each edge at its higher-(degree, id) endpoint — the order
    // is the lexicographic TUPLE compare itself, so no global rank
    // window ever materializes over the (corpus-sized) node frame
    val dd = und
      .join(deg.select(col("v").as("a"), col("degree").as("dega")), "a")
      .join(deg.select(col("v").as("b"), col("degree").as("degb")), "b")
      .select(
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
          col("b")).otherwise(col("a")).as("w"))
    val wedges = dd.select(col("u"), col("w").as("v1"))
      .join(dd.select(col("u"), col("w").as("v2")), "u")
      .filter(col("v1") < col("v2"))
      // named canonical-pair keys so the closure is a plain equi-join
      // (expression keys against a self-lineage frame risk a
      // nested-loop fallback)
      .withColumn("lo", least(col("v1"), col("v2")))
      .withColumn("hi", greatest(col("v1"), col("v2")))
    val tri = wedges.join(
        und.select(col("a").as("lo"), col("b").as("hi")), Seq("lo", "hi"))
      .select(col("u"), col("v1"), col("v2"))
    val credit = tri.select(col("u").as("v"))
      .unionAll(tri.select(col("v1").as("v")))
      .unionAll(tri.select(col("v2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    deg.join(credit, Seq("v"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .withColumn("clustering_micro",
        when(col("degree") >= 2,
          expr("n_triangles * 2 * 1000000 div (degree * (degree - 1))"))
          .otherwise(0L))
      .select(col("v").as("node_id"), col("degree"), col("n_triangles"),
        col("clustering_micro"))
  }

  /** One-row transitivity rollup shared by the graph-family scalar
    * audits — see [[globalClustering]] for the identities. */
  private[llmdata] def clusteringRollup(perNode: DataFrame): DataFrame =
    perNode
      .agg(count(lit(1)).as("n_nodes"),
        sum("degree").as("__sd"),
        sum("n_triangles").as("__st"),
        sum(expr("degree * (degree - 1)")).as("__sw"),
        sum("clustering_micro").as("__sc"))
      .select(col("n_nodes"),
        expr("__sd div 2").as("n_edges"),
        expr("__st div 3").as("n_triangles"),
        expr("__sw div 2").as("n_wedges"),
        expr("case when __sw = 0 then 0 " +
          "else 2 * __st * 1000000 div __sw end")
          .as("global_clustering_micro"),
        expr("__sc div n_nodes").as("avg_local_clustering_micro"))

  /** GLOBAL clustering coefficient — [[knnTriangles]]' one-number
    * rollup (Watts–Strogatz transitivity, `C = 3·triangles/wedges`):
    * the scalar that says whether the embedding space's kNN graph is
    * community-structured (high C — near-dup clumps, SemDeDup will
    * bite) or hub-degenerate (low C — a few centroids absorb
    * everything). Derived entirely from the per-node frame: Σdeg is
    * 2·edges, Σtri_v is 3·T (each triangle credits its three
    * corners), Σdeg·(deg−1) is 2·wedges — so
    * `C_micro = 2·Σtri_v·1e6 div Σdeg·(deg−1)`, exact BIGINT
    * (int64 while Σtri ≤ 4.6e12; the counts merge, shard beyond).
    * The average LOCAL coefficient reports next to it — the two
    * diverge exactly when hubs dominate, which is the diagnostic.
    *
    * 100 TB plan: [[knnTriangles]]' cost plus one scalar rollup.
    * Output one row: (n_nodes, n_edges, n_triangles, n_wedges,
    * global_clustering_micro, avg_local_clustering_micro).
    */
  def globalClustering(emb: DataFrame, k: Int,
                       kc: Int = ivfCentroids): DataFrame =
    clusteringRollup(knnTriangles(emb, k, kc))

  /** Matryoshka-truncation recall audit (Kusupati et al. 2022): for
    * each prefix width `d`, the exact cosine top-k computed on the
    * FIRST d dimensions is scored against the full-width exact top-k
    * — the table that tells a serving stack how short it can truncate
    * stored vectors (2–8× memory/bandwidth) before recall pays. The
    * audit is the decision tool; production then truncates the
    * corpus column once and runs the ordinary IVF/PQ path at width d.
    *
    * 100 TB plan: queries are the fixed broadcast-sized eval set (the
    * `ann_recall` discipline), so each prefix pass is one corpus scan
    * with a query-bounded rank window; prefixes slice at scan
    * (`slice` is codegen'd — no vector rebuild). Output: (dim,
    * query_id, n_overlap, recall_micro).
    */
  def matryoshkaRecall(emb: DataFrame,
                       queryFilter: org.apache.spark.sql.Column, k: Int,
                       dims: Seq[Int] = Seq(8, 16, 32),
                       dim: Int = embDim): DataFrame = {
    require(dims.nonEmpty && dims.forall(d => d > 0 && d < dim),
      s"prefix dims must be in (0, $dim): $dims")
    def topk(width: Option[Int]): DataFrame = {
      val base = width match {
        case Some(d) => emb.select(col("vec_id"),
          expr(s"slice(cast(embedding as array<double>), 1, $d)").as("v"))
          .withColumn("nrm", sqrt(DotProductExpression.dot(col("v"), col("v"))))
          // an all-zero PREFIX slice is plausible even for a non-zero
          // vector; its cosine is NaN and the top-k ordering unstable —
          // drop it on both the query and corpus side, mirroring the
          // docTfVectors nn > 0 guard (r14 advice #4). A dropped query
          // emits no rows at that width (no evidence to rank with).
          .filter(col("nrm") > 0)
        case None => vectors(emb)
      }
      bruteForceTopK(base, base.filter(queryFilter), k)
        .select(col("query_id"), col("neighbor_id"))
    }
    val full = topk(None).withColumn("__hit", lit(true))
      .localCheckpoint(true)
    dims.map { d =>
      // left join so a query with ZERO overlap still reports (its k
      // prefix rows survive; n_overlap sums to 0)
      topk(Some(d))
        .join(full, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as("n_overlap"))
        .withColumn("dim", lit(d.toLong))
        .withColumn("recall_micro", expr(s"n_overlap * 1000000 div $k"))
        .select(col("dim"), col("query_id"), col("n_overlap"),
          col("recall_micro"))
    }.reduce(_ unionAll _)
  }

  /** Johnson–Lindenstrauss random-projection recall audit — the
    * DATA-INDEPENDENT companion to [[matryoshkaRecall]] (which needs
    * Matryoshka-trained vectors to mean anything): project every
    * vector to `rp` dimensions with fixed Achlioptas ±1 sign rows
    * (Achlioptas 2003 — ±1 entries satisfy the JL lemma; here as
    * shared-LCG literals so both engines inline the identical
    * matrix), then score the projected exact top-k against the
    * full-width exact top-k. The table that tells a serving stack
    * how hard it can compress WITHOUT retraining embeddings.
    *
    * 100 TB plan: the projection is `rp` codegen'd literal dots per
    * vector in the scan projection — one pass, no shuffle; both
    * brute-force passes are query-bounded rank windows, and the
    * projected pass compares `rp`-wide vectors (the 8× bandwidth win
    * being audited). Zero-norm projections drop on both sides (the
    * matryoshka guard — a sign-flip cancellation is possible for a
    * degenerate vector). Output: (rp_dim, query_id, n_overlap,
    * recall_micro).
    */
  def rpRecall(emb: DataFrame, queryFilter: org.apache.spark.sql.Column,
               k: Int, rp: Int = rpDim): DataFrame = {
    require(rp > 0, s"rp must be positive: $rp")
    val v = vectors(emb)
    val full = bruteForceTopK(v, v.filter(queryFilter), k)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(true))
      .localCheckpoint(true)
    val comps = (0 until rp).map { kk =>
      val arr = rpSignTerms(kk).mkString(", ")
      dot(col("v"), expr(s"array($arr)"))
    }
    val proj = v.select(col("vec_id"), array(comps: _*).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
    bruteForceTopK(proj, proj.filter(queryFilter), k)
      .select(col("query_id"), col("neighbor_id"))
      .join(full, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("rp_dim", lit(rp.toLong))
      .withColumn("recall_micro", expr(s"n_overlap * 1000000 div $k"))
      .select(col("rp_dim"), col("query_id"), col("n_overlap"),
        col("recall_micro"))
  }

  /** Contrastive TRIPLET mining over the [[knnGraph]] — the training
    * frame for a metric-learning/embedding fine-tune (the FaceNet /
    * SBERT recipe): anchors pair with a mutual (reciprocal) top-k
    * neighbor as the POSITIVE (the high-precision cut of
    * [[knnMutual]]), and with the anchor's best-ranked NON-mutual
    * neighbor as the hard NEGATIVE — close enough to be informative,
    * not reciprocal enough to be a duplicate. One triplet per mutual
    * pair (anchor = lower id); anchors whose entire top-k is mutual
    * have no negative to offer and emit nothing.
    *
    * 100 TB plan: the graph builds ONCE (eagerly checkpointed — five
    * downstream branches, same rationale as [[knnTriangles]]); every
    * derived frame is k·n-row and vector-free; the negative pick is a
    * per-query rank window over at most k rows (WindowGroupLimit).
    * Inherits the graph's kc contract. Output: (anchor, positive,
    * negative, pos_cos, neg_cos).
    */
  def tripletMining(emb: DataFrame, k: Int, kc: Int = ivfCentroids): DataFrame = {
    val edges = knnGraph(emb, k, kc)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("cos"))
      .localCheckpoint(true)
    val fwd = edges.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("vec_a"), col("neighbor_id").as("vec_b"),
        col("cos"))
    val rev = edges.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("vec_a"), col("query_id").as("vec_b"))
    val mutual = fwd.join(rev, Seq("vec_a", "vec_b"))
    val partners = mutual
      .select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"))
      .unionAll(mutual
        .select(col("vec_b").as("query_id"), col("vec_a").as("neighbor_id")))
    val negs = edges
      .join(partners, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("rnk").asc, col("neighbor_id").asc)))
      .filter(col("__r") === 1)
      .select(col("query_id").as("vec_a"),
        col("neighbor_id").as("negative"), col("cos").as("neg_cos"))
    mutual.join(negs, "vec_a")
      .select(col("vec_a").as("anchor"), col("vec_b").as("positive"),
        col("negative"), col("cos").as("pos_cos"), col("neg_cos"))
  }

  /** One-step label propagation over the [[knnGraph]] — the
    * semi-supervised labeling pass of a weak-supervision pipeline
    * (Zhu & Ghahramani 2002's one-iteration special case): every
    * held-out node (deterministic `vec_id % holdoutMod == 0` slice)
    * takes the cosine-weighted majority label of its labeled
    * neighbors, and the output carries the true label so the same
    * frame doubles as the propagation accuracy audit.
    *
    * Exactness: per-edge cosines quantize to integer micro BEFORE the
    * vote sum, so each (node, label) vote is an exact BIGINT —
    * order- and partition-free; the argmax tie-breaks on the smaller
    * label id. 100 TB plan: the graph's k·n edge frame joins the
    * label frame id-keyed (no vectors on either side), votes are one
    * map-side-combined aggregate to (node × labels) grain, and the
    * argmax is a per-node rank window over at most |labels| rows
    * (WindowGroupLimit prunes below the exchange). Inherits the
    * graph's kc contract. Nodes whose top-k contains no labeled
    * neighbor have no evidence to vote with and emit no row. Output:
    * (vec_id, true_label, pred_label, n_labeled_neighbors,
    * vote_micro, correct).
    */
  def labelPropagation(emb: DataFrame, k: Int, kc: Int = ivfCentroids,
                       holdoutMod: Int = 5): DataFrame = {
    require(holdoutMod > 1, s"holdoutMod must be > 1: $holdoutMod")
    val labels = emb.select(col("vec_id"), col("label"))
    val holdout = labels.filter(col("vec_id") % holdoutMod === 0)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
    val known = labels.filter(col("vec_id") % holdoutMod =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("label").as("nb_label"))
    val votes = knnGraph(emb, k, kc)
      .join(holdout, "query_id")
      .join(known, "neighbor_id")
      .withColumn("cos_micro",
        expr("cast(floor(cos * 1000000 + 0.5) as bigint)"))
      .groupBy("query_id", "true_label", "nb_label")
      .agg(count(lit(1)).as("n_votes"), sum("cos_micro").as("vote_micro"))
    val byNode = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    votes
      .withColumn("rnk", row_number().over(
        byNode.orderBy(col("vote_micro").desc, col("nb_label").asc)))
      .withColumn("n_labeled_neighbors", sum("n_votes").over(byNode))
      .filter(col("rnk") === 1)
      .select(col("query_id").as("vec_id"), col("true_label"),
        col("nb_label").as("pred_label"), col("n_labeled_neighbors"),
        col("vote_micro"),
        (col("true_label") === col("nb_label")).as("correct"))
  }

  /** [[knnGraph]] over LEARNED buckets — the production composition the
    * lattice docs promise (`kmeansState` centroids instead of the fixed
    * lattice planes), end-to-end. Identical plan shape: corpus-sized
    * probe side, candidate equi-join on the bucket id (never broadcast
    * — both sides are corpus-sized), vectors dropped before the
    * per-query rank window. The k-means pre-pass costs `iters` corpus
    * scans plus one k*dim partial-sum shuffle per iteration, amortized
    * across every graph rebuild on the same corpus; data-adaptive
    * buckets track the real density, so at equal `kc` the learned graph
    * recalls at least as much of the true top-k as the lattice one on
    * any corpus the lattice doesn't happen to fit (asserted in
    * `AnnSearchSpec`). Output: (query_id, neighbor_id, rnk, cos).
    */
  def knnGraphLearned(emb: DataFrame, k: Int, kc: Int = ivfCentroids,
                      iters: Int = 2, dim: Int = embDim): DataFrame = {
    val state = kmeansState(emb, kc, iters, dim)
    probeGraph(vectors(emb)
      .withColumn("vi", expr("transform(v, x -> cast(floor(x * 1000000) as bigint))"))
      .withColumn("__scores", kmeansScores(state)), "__scores", kc, k)
  }

  /** Recall@k audit of the IVF index against exact brute force — THE
    * acceptance metric for an ANN index (how much of the true top-k
    * the bucketed search finds). Per query: hits = |ivf ∩ exact| over
    * the same k, recall = hits/k; queries the index misses entirely
    * still appear with recall 0.
    *
    * 100 TB plan: the exact side is the one full-scan pass you pay to
    * AUDIT (run on a sampled query set, never per-query in serving);
    * the hit join is per-query-keyed and tiny (k rows per query per
    * side). Output: (query_id, n_hits, recall).
    */
  private def recallOf(exact: DataFrame, approx: DataFrame,
                       k: Int): DataFrame = {
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__h"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("__h"), lit(0L)).as("n_hits"))
      .withColumn("recall", col("n_hits").cast("double") / k)
  }

  /** IVF PROBE-COUNT sweep — the third planner in the suite (banding
    * planner = LSH axis, width planner = estimator axis, this = the
    * recall/cost axis an IVF owner actually tunes): recall@k at
    * probes = 1 vs probes = 2 against ONE shared brute-force truth,
    * as corpus-calibrated aggregate rows. Probe-1 searches only the
    * argmax bucket; probe-2 adds the masked-second bucket (the
    * serving configuration). Recall is exact integer micro:
    * `sum_hits·1e6 div (n_queries·k)`.
    *
    * 100 TB plan: the brute side is the one audit-scale full scan,
    * paid ONCE and shared by both probe configurations; each probe's
    * candidate join is the bucket equi-join, and the hit join is
    * per-query-keyed k-row frames. Output: one row per probe count —
    * (n_probes, n_queries, sum_hits, possible, recall_micro).
    */
  def ivfProbeSweep(emb: DataFrame,
                    queryFilter: org.apache.spark.sql.Column,
                    k: Int): DataFrame = {
    val v = vectors(emb)
    val exact = bruteForceTopK(v, v.filter(queryFilter), k)
      .select(col("query_id"), col("neighbor_id"))
      .persist() // shared truth: both probe configs join against it
    val assigned = ivfAssigned(emb)
    val corpus = assigned.select(col("vec_id"), col("v"), col("nrm"),
      col("__b1").as("bucket"))
    val masked = maskedSecondBucket(ivfCentroids, "__dots")
    val qbase = assigned.filter(queryFilter)
      .withColumn("__b2", expr(s"array_position($masked, array_max($masked))"))
    def approx(nProbes: Int): DataFrame = {
      val buckets =
        if (nProbes == 1) array(col("__b1"))
        else array(col("__b1"), col("__b2"))
      val probes = qbase.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qn"),
        explode(buckets).as("bucket"))
      rankTail(
        corpus.join(broadcast(probes), "bucket")
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm"))),
        k, col("cos").desc, "cos")
        .select("query_id", "neighbor_id")
    }
    Seq(1, 2).map { p =>
      recallOf(exact, approx(p), k)
        .agg(count(lit(1)).as("n_queries"), sum("n_hits").as("sum_hits"))
        .select(lit(p.toLong).as("n_probes"), col("n_queries"),
          col("sum_hits"))
    }.reduce(_ unionByName _)
      .withColumn("possible", col("n_queries") * lit(k.toLong))
      .withColumn("recall_micro",
        expr("sum_hits * 1000000 div greatest(possible, 1)"))
  }

  /** Recall@k of brute-force search in the INT8-DEQUANTIZED space vs
    * the float truth — the "can we serve from the quantized index?"
    * audit that turns [[EmbeddingOps.quantizeInt8]]'s per-vector
    * `max_abs_err` into the number a retrieval owner actually cares
    * about: ranking overlap after 4x compression. Dequantization
    * round-trips THROUGH the oracled quantizer (codes parsed back
    * from its q_csv, reconstructed as `q·scale/127`), so this audit
    * scores exactly the artifact the quantize op ships, not a
    * re-derived approximation.
    *
    * 100 TB plan: both sides are the audit-scale brute pass (the
    * recall-family contract — run on a sampled query set, never in
    * serving); the dequantized frame derives from the quantizer's
    * own output in one projection, and the hit join is
    * per-query-keyed k-row frames. Quantized-space cosine ties break
    * on neighbor_id identically in both engines. Output:
    * (query_id, n_hits, recall).
    */
  def int8Recall(emb: DataFrame, queryFilter: org.apache.spark.sql.Column,
                 k: Int): DataFrame = {
    val v = vectors(emb)
    val exact = bruteForceTopK(v, v.filter(queryFilter), k)
      .select(col("query_id"), col("neighbor_id"))
    val dq = EmbeddingOps.quantizeInt8(emb)
      .select(col("vec_id"), expr(
        "transform(split(q_csv, ','), s -> cast(s as double) * scale / 127.0)")
        .as("v"))
      .withColumn("nrm", sqrt(DotProductExpression.dot(col("v"), col("v"))))
    val approx = bruteForceTopK(dq, dq.filter(queryFilter), k)
      .select(col("query_id"), col("neighbor_id"))
    recallOf(exact, approx, k)
  }

  /** Recall@k CURVE for the IVF index, k ∈ ks — the depth axis of the
    * planner suite (banding = LSH axis, width = estimator axis,
    * probes = recall/cost axis, this = "how deep must k go before the
    * missing neighbors are real losses"): both the brute truth and
    * the IVF ranking are computed ONCE at max(ks), and each k's
    * recall cuts the SAME two rank columns — recall@k =
    * Σ_q |truth_k(q) ∩ ivf_k(q)| / (|Q|·k), exact integer micro.
    *
    * 100 TB plan: one audit-scale brute pass + one bucket-equi-join
    * IVF pass, shared by every k on the curve (the probe-sweep
    * shared-truth discipline); the overlap join is per-query-keyed
    * kmax-row frames and the k spine is a broadcast literal. Output:
    * one row per k — (k, n_queries, sum_hits, recall_micro).
    */
  def ivfRecallCurve(emb: DataFrame,
                     queryFilter: org.apache.spark.sql.Column,
                     ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ > 0), s"ks must be positive: $ks")
    val spark = emb.sparkSession
    import spark.implicits._
    val kmax = ks.max
    val v = vectors(emb)
    val exact = bruteForceTopK(v, v.filter(queryFilter), kmax)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
    val approx = ivfTopK(emb, queryFilter, kmax)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("__arnk"))
    val nq = exact.select("query_id").distinct()
      .agg(count(lit(1)).as("__nq"))
    val overlap = exact.join(approx, Seq("query_id", "neighbor_id"))
    val spine = ks.distinct.sorted.toDF("k")
    overlap
      .crossJoin(broadcast(spine))
      .filter(col("rnk") <= col("k") && col("__arnk") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("sum_hits"))
      .join(spine, Seq("k"), "right")
      .na.fill(0L, Seq("sum_hits"))
      .crossJoin(broadcast(nq))
      .withColumn("n_queries", col("__nq"))
      .withColumn("recall_micro", expr(
        "sum_hits * 1000000 div greatest(n_queries * k, 1)"))
      .select(col("k").cast("long").as("k"), col("n_queries"),
        col("sum_hits"), col("recall_micro"))
  }

  def ivfRecall(emb: DataFrame, queryFilter: org.apache.spark.sql.Column,
                k: Int): DataFrame = {
    val v = vectors(emb)
    val exact = bruteForceTopK(v, v.filter(queryFilter), k)
      .select(col("query_id"), col("neighbor_id"))
    recallOf(exact,
      ivfTopK(emb, queryFilter, k).select("query_id", "neighbor_id"), k)
  }

  /** [[ivfRecall]] for the Lloyd-LEARNED index — the audit a
    * production index owner actually runs (the lattice is the
    * oracle-comparable toy; the learned centroids are the shipped
    * configuration, and their recall is the number that decides
    * probe count / kc). Same exact-vs-approx overlap machinery.
    */
  def ivfKmeansRecall(emb: DataFrame,
                      queryFilter: org.apache.spark.sql.Column,
                      k: Int, kc: Int = ivfCentroids, iters: Int = 2,
                      dim: Int = embDim): DataFrame = {
    val v = vectors(emb)
    val exact = bruteForceTopK(v, v.filter(queryFilter), k)
      .select(col("query_id"), col("neighbor_id"))
    recallOf(exact,
      ivfKmeansTopK(emb, queryFilter, k, kc, iters, dim)
        .select("query_id", "neighbor_id"), k)
  }

  // ------------------------------------------------------------ k-means

  /** Integer-scaled corpus: `vi[d] = floor(embedding[d] * 1e6)` as
    * longs. All k-means arithmetic happens in this exact integer
    * space, so results are independent of partitioning AND engine.
    */
  private def intVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      expr("transform(cast(embedding as array<double>), x -> cast(floor(x * 1000000) as bigint))").as("vi"))

  /** Iteration-0 centroids: the IVF lattice planes scaled into the
    * same 1e6 integer space ((v/1000 - 0.5) * 1e6 == v*1000 - 500000,
    * exact). A centroid is carried as its exact (elementwise long
    * sum, member count) pair, never a lossy mean.
    */
  private def kmeansInit(k: Int, dim: Int): IndexedSeq[(IndexedSeq[Long], Long)] =
    (0 until k).map(j => (latticeInts(0L, j).take(dim).map(v => v * 1000L - 500000L), 1L))

  /** Per-vector centroid scores for the current state: the argmax of
    * `dot(vi, sum_j) / cnt_j` equals the argmax of the true mean dot.
    * The dot is an exact integer fold; the only float ops are one
    * cast and one divide on both engines, so scores are bit-identical
    * in any partition order.
    *
    * Overflow bound: each term is `vi[d] * sum_j[d]` with |vi[d]| <=
    * 1e6 (unit-ish embeddings x 1e6) and |sum_j[d]| <= 1e6 * |bucket|,
    * so the BIGINT fold stays exact while dim * 1e12 * |bucket| <
    * 2^63 — about 1e6 rows per centroid bucket at dim 8. Beyond that
    * Spark's fold wraps while an engine promoting to wider ints (DuckDB
    * HUGEINT) would not: rescale the centroid sums (shift both sides
    * right — the argmax is scale-invariant) before trusting the scores
    * at larger bucket sizes.
    */
  private def kmeansScores(state: Seq[(Seq[Long], Long)]): org.apache.spark.sql.Column =
    // one JIT'd pass over the centroid matrix instead of k interpreted
    // zip_with/aggregate folds per row — same exact long dot, same
    // single cast + divide per centroid, bit-identical scores
    // (parity-spec'd in AnnSearchSpec)
    PqKernelExpressions.centroidDotScores(col("vi"), state)

  /** Distributed Lloyd's k-means assignment — the production centroid
    * source for IVF ([[ivfAssigned]]'s fixed lattice is the zero-scan
    * stand-in; this learns data-adaptive buckets in `iters` passes).
    *
    * 100 TB: each iteration is one corpus scan (assignment, codegen'd
    * integer HOF) plus one map-side-combined (bucket, dim) partial-sum
    * shuffle with k*dim result cells; only k*(dim+1) longs ever reach
    * the driver per iteration, regardless of corpus size. Empty
    * buckets keep their previous centroid. Output: (vec_id, bucket),
    * bucket 1-based, ties first-wins like `array_position`.
    */
  /** Centroid-based silhouette of the learned k-means clustering —
    * the cluster-quality number next to [[kmeansAssign]]'s labels:
    * per vector, `a` = Euclidean distance to its OWN centroid, `b` =
    * distance to the nearest OTHER centroid, silhouette
    * `(b − a)/max(a, b)` ∈ [−1, 1]; a bucket whose mean hugs 0 is a
    * split/merge candidate, negative means vectors sit closer to a
    * foreign centroid than their own (the classic Rousseeuw score at
    * the centroid grain — O(n·k), not O(n²) pairs, the scale-sane
    * variant).
    *
    * Replay contract: centroids are the exact (sum, count) integer
    * state the assignment itself used; each per-centroid distance is
    * an ORDERED left fold over the dims (Spark `aggregate` HOF =
    * DuckDB `list_sum(list_transform(...))` — the bp-cosine parity
    * relied on by every ann oracle), and the per-vector silhouette
    * quantizes ONCE to integer micro before the exact per-bucket
    * mean. Interpreted-HOF cost is acceptable here BY CONTRACT: this
    * is an audit op over k·dim cells per row, not a serving path.
    *
    * 100 TB plan: ONE corpus scan against the broadcast k·(dim+1)
    * literal state (same shape as the assignment pass), then one
    * map-side-combined aggregate to the k-row output. Output:
    * (bucket, n_vecs, mean_sil_micro).
    */
  def kmeansSilhouette(emb: DataFrame, k: Int = ivfCentroids,
                       iters: Int = 2, dim: Int = embDim): DataFrame = {
    val state = kmeansState(emb, k, iters, dim)
    val dists = state.map { case (s, c) =>
      val sLit = s.map(v => s"${v}L").mkString(",")
      s"sqrt(aggregate(zip_with(vi, array($sLit), (x, sv) -> " +
        s"(cast(x as double) - cast(sv as double) / cast($c as double)) * " +
        s"(cast(x as double) - cast(sv as double) / cast($c as double))), " +
        "0.0D, (acc, t) -> acc + t))"
    }.mkString(", ")
    intVectors(emb)
      .withColumn("__scores", kmeansScores(state))
      .withColumn("bucket",
        expr("array_position(__scores, array_max(__scores))").cast("int"))
      .withColumn("__d", expr(s"array($dists)"))
      .withColumn("__a", expr("element_at(__d, bucket)"))
      .withColumn("__b", expr(
        "array_min(filter(transform(__d, (x, i) -> " +
          "case when i + 1 = bucket then cast(null as double) else x end), " +
          "x -> x is not null))"))
      .withColumn("__sil", expr(
        "case when greatest(__a, __b) <= 0.0D then cast(0 as bigint) " +
          "else cast(floor((__b - __a) / greatest(__a, __b) * 1000000.0 + 0.5) " +
          "as bigint) end"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), sum("__sil").as("__ss"))
      .withColumn("mean_sil_micro", expr("__ss div n_vecs"))
      .select(col("bucket"), col("n_vecs"), col("mean_sil_micro"))
  }

  def kmeansAssign(emb: DataFrame, k: Int = ivfCentroids, iters: Int = 2,
                   dim: Int = embDim): DataFrame = {
    val state = kmeansState(emb, k, iters, dim)
    intVectors(emb)
      .withColumn("__scores", kmeansScores(state))
      .withColumn("bucket", expr("array_position(__scores, array_max(__scores))").cast("int"))
      .select(col("vec_id"), col("bucket"))
  }

  /** The Lloyd iterations themselves: returns the final exact
    * (sum, count) centroid state after `iters - 1` recomputes.
    */
  def kmeansState(emb: DataFrame, k: Int = ivfCentroids, iters: Int = 2,
                  dim: Int = embDim): IndexedSeq[(IndexedSeq[Long], Long)] = {
    require(iters >= 1 && k >= 1)
    val vi = intVectors(emb)
    var state = kmeansInit(k, dim)
    for (_ <- 1 until iters) {
      val assigned = vi
        .withColumn("__scores", kmeansScores(state))
        .withColumn("__b", expr("array_position(__scores, array_max(__scores))"))
      val stats = assigned
        .select(col("__b"), posexplode(col("vi")))
        .toDF("__b", "pos", "x")
        .groupBy("__b", "pos")
        .agg(sum("x").as("s"), count(lit(1)).as("c"))
        .collect() // bounded: k * dim rows of longs
      val byBucket = stats.groupBy(_.getAs[Long]("__b"))
      state = (0 until k).map { j =>
        byBucket.get(j + 1L) match {
          case Some(rows) =>
            val arr = Array.fill(dim)(0L)
            rows.foreach(r => arr(r.getAs[Int]("pos")) = r.getAs[Long]("s"))
            (arr.toIndexedSeq, rows.head.getAs[Long]("c"))
          case None => state(j)
        }
      }
    }
    state
  }

  /** IVF top-k over LEARNED buckets: identical plan shape to
    * [[ivfTopK]] (probe the best and second-best bucket, candidate
    * equi-join on the bucket id, exact cosine re-rank) but the buckets
    * come from [[kmeansState]] instead of the fixed lattice — the
    * "production swap" the lattice docs promise, end-to-end. The
    * k-means pre-pass costs `iters` extra corpus scans, amortized
    * across every subsequent query batch against the same corpus.
    */
  def ivfKmeansTopK(emb: DataFrame, queryFilter: org.apache.spark.sql.Column,
                    k: Int, kc: Int = ivfCentroids, iters: Int = 2,
                    dim: Int = embDim): DataFrame = {
    val state = kmeansState(emb, kc, iters, dim)
    val base = vectors(emb)
      .withColumn("vi", expr("transform(v, x -> cast(floor(x * 1000000) as bigint))"))
      .withColumn("__scores", kmeansScores(state))
      .withColumn("__b1", expr("array_position(__scores, array_max(__scores))"))
    twoBucketTopK(base, queryFilter, maskedSecondBucket(kc, "__scores"), k)
  }

  /** Product quantization assignment (Jégou et al. 2011): the
    * `embDim`-dim vector is split into `subspaces` contiguous
    * sub-vectors; each is assigned to its nearest (squared-Euclidean)
    * of `codebook` sub-centroids. 64 floats compress to `subspaces`
    * small codes — the storage path for 100 TB embedding corpora
    * (codes + codebooks reconstruct approximate vectors; ADC search
    * scans codes without touching raw floats).
    *
    * All distances are exact integer arithmetic in the 1e6-scaled
    * space (vectors `floor(x*1e6)`, lattice sub-centroids
    * `v*1000 - 500000` — the k-means iteration-0 convention), so the
    * argmin and the total residual are engine-exact: code ties are
    * first-wins like `array_position` on both engines. One projection,
    * no shuffle, embarrassingly parallel. Output: (vec_id, code_1..M
    * int, sq_err bigint). In production the codebooks come from
    * per-subspace k-means ([[kmeansState]] machinery); the lattice
    * keeps the oracle replayable — constants, not plan shape.
    */
  /** The full lattice codebook as a literal matrix (subspace x code x
    * sub-dim) in the exact 1e6-scaled integer space — the constant
    * side of [[PqCodesExpression]], which replaced the per-subspace
    * HOF score arrays (2 x subspaces x codebook interpreted folds per
    * row) with one JIT'd pass; codes, residuals and ADC tables are
    * value-identical (parity-spec'd in `AnnSearchSpec`).
    */
  private def pqCodebook(subspaces: Int, codebook: Int): Seq[Seq[Seq[Long]]] = {
    val subDim = embDim / subspaces
    (0 until subspaces).map(m => (0 until codebook).map(j => pqCentroid(m, j, subDim)))
  }

  def pqAssign(emb: DataFrame, subspaces: Int = 8, codebook: Int = 16): DataFrame =
    pqAssignWith(emb, pqCodebook(subspaces, codebook), subspaces)

  private def pqAssignWith(emb: DataFrame, cb: Seq[Seq[Seq[Long]]],
                           subspaces: Int): DataFrame = {
    require(embDim % subspaces == 0, s"embDim $embDim not divisible by $subspaces")
    intVectors(emb)
      .withColumn("__pq", PqKernelExpressions.pqCodes(col("vi"), cb,
        withTables = false))
      .select(col("vec_id") +:
        (1 to subspaces).map(m =>
          element_at(col("__pq.codes"), m).as(s"code_$m")) :+
        col("__pq.sq_err").as("sq_err"): _*)
  }

  /** Per-subspace Lloyd-learned PQ codebooks — the production codebook
    * source the lattice docs promise ([[pqAssign]]'s fixed lattice is
    * the zero-scan stand-in). Init = the exact lattice sub-centroids
    * (iteration 0, oracle-replayable); each further iteration is ONE
    * [[PqKernelExpressions.pqCodes]] scan (codes for the current
    * codebooks) plus one map-side-combined (subspace, code, dim)
    * partial-sum shuffle — only `subspaces * codebook * subDim` cells
    * (8*16*8 = 1024 longs) ever reach the driver per iteration,
    * regardless of corpus size. New centroid cells are the exact
    * TRUNCATING division of (sum, count) back into the 1e6 integer
    * space (Scala `Long./` = DuckDB's `//` — both truncate toward
    * zero; `Math.floorDiv` would disagree with the oracle on negative
    * sums), empty cells keep their previous centroid — the same
    * conventions as [[kmeansState]], in the squared-Euclidean metric
    * PQ uses.
    */
  def pqLearnedCodebook(emb: DataFrame, subspaces: Int = 8,
                        codebook: Int = 16,
                        iters: Int = 2): Seq[Seq[Seq[Long]]] = {
    require(iters >= 1 && embDim % subspaces == 0)
    val subDim = embDim / subspaces
    var cb = pqCodebook(subspaces, codebook)
    if (iters == 1) return cb
    val vi = intVectors(emb)
    for (_ <- 1 until iters) {
      val stats = vi
        .withColumn("__pq", PqKernelExpressions.pqCodes(col("vi"), cb,
          withTables = false))
        .select(col("__pq.codes").as("__codes"), posexplode(col("vi")))
        .toDF("__codes", "pos", "x")
        .withColumn("m", expr(s"cast(pos div $subDim as int)"))
        .withColumn("d", expr(s"cast(pos % $subDim as int)"))
        .withColumn("code", expr("element_at(__codes, m + 1)"))
        .filter(col("code").isNotNull)
        .groupBy("m", "code", "d")
        .agg(sum("x").as("s"), count(lit(1)).as("c"))
        .collect() // bounded: subspaces * codebook * subDim cells
      val cells = stats.map { r =>
        (r.getAs[Int]("m"), r.getAs[Int]("code") - 1, r.getAs[Int]("d")) ->
          (r.getAs[Long]("s"), r.getAs[Long]("c"))
      }.toMap
      cb = cb.zipWithIndex.map { case (codes, m) =>
        codes.zipWithIndex.map { case (cent, j) =>
          cent.zipWithIndex.map { case (c0, d) =>
            cells.get((m, j, d))
              .map { case (s, c) => s / c } // truncating, = DuckDB //
              .getOrElse(c0)
          }
        }
      }
    }
    cb
  }

  /** [[pqAssign]] over the LEARNED codebooks — same output contract
    * (vec_id, code_1..M 1-based, sq_err exact BIGINT); the Lloyd
    * pre-pass costs `iters - 1` extra corpus scans, amortized across
    * every encode of the same corpus. Lloyd monotonicity guarantees
    * the learned codebooks' total residual never exceeds the lattice's
    * on the training corpus (asserted in `AnnSearchSpec` up to the
    * 1-ulp integer floor of the centroid cells).
    */
  def pqAssignLearned(emb: DataFrame, subspaces: Int = 8, codebook: Int = 16,
                      iters: Int = 2): DataFrame =
    pqAssignWith(emb, pqLearnedCodebook(emb, subspaces, codebook, iters),
      subspaces)

  /** ADC top-k search over PQ codes (the search half of the PQ storage
    * path): the corpus side is ONLY `(vec_id, code_1..M)` — `subspaces`
    * small ints per row, raw floats never touched, which is the point
    * at 100 TB (the code table is ~1/32nd the size of the float
    * corpus and scans from cold storage at that ratio). Each query
    * computes its per-subspace distance table (the same score arrays
    * the assignment uses — table_m[j] = exact squared distance of the
    * query's m-th sub-vector to sub-centroid j), and a corpus row's
    * approximate distance is the sum of `table_m[code_m]` lookups.
    * All arithmetic is exact BIGINT in the 1e6-scaled space, so
    * ranking and distances replay engine-exactly. Plan: code
    * projection (no shuffle) × broadcast query tables, per-query rank
    * window (WindowGroupLimit prunes below the exchange). Output:
    * (query_id, neighbor_id, rnk, adc_dist).
    */
  /** PQ distortion report — quantization quality as ONE gated row:
    * total exact squared error (1e6-integer space) of the zero-scan
    * lattice codebooks vs the Lloyd-learned ones on the same corpus,
    * with the improvement in ppm. Lloyd monotonicity (learned <=
    * lattice on the training corpus, up to the integer floor of
    * centroid cells) stops being a spec assertion and becomes a
    * number the driver's hash gate checks.
    *
    * 100 TB plan: two [[PqKernelExpressions.pqCodes]] scans (the
    * learned pass's Lloyd pre-pass is the documented `iters - 1`
    * extra) into scalar aggregates; totals are exact while
    * n_vectors * dim * (1e6)^2 < 2^63 (~1.4e5 unit-scale vectors per
    * shard at dim 64 — shard and add beyond). Output: (n_vectors,
    * lattice_total_sq, learned_total_sq, improvement_ppm).
    */
  def pqDistortion(emb: DataFrame, subspaces: Int = 8, codebook: Int = 16,
                   iters: Int = 2): DataFrame = {
    val lat = pqAssign(emb, subspaces, codebook)
      .agg(count(lit(1)).as("n_vectors"),
        sum("sq_err").as("lattice_total_sq"))
    val lrn = pqAssignLearned(emb, subspaces, codebook, iters)
      .agg(sum("sq_err").as("learned_total_sq"))
    // totals are ~1e15-scale: a *1e6 integer multiply overflows int64
    // (and Spark with ANSI off would WRAP silently while DuckDB
    // errors) — the ratio is computed in double from the exact BIGINT
    // sums, the kappa/DSIR discipline
    lat.crossJoin(broadcast(lrn))
      .withColumn("improvement_ppm", expr(
        "cast(floor(cast(lattice_total_sq - learned_total_sq as double)" +
          " / cast(greatest(lattice_total_sq, 1) as double)" +
          " * 1000000.0 + 0.5) as bigint)"))
      .select(col("n_vectors"), col("lattice_total_sq"),
        col("learned_total_sq"), col("improvement_ppm"))
  }

  def pqTopK(emb: DataFrame, queryFilter: org.apache.spark.sql.Column, k: Int,
             subspaces: Int = 8, codebook: Int = 16): DataFrame = {
    require(embDim % subspaces == 0, s"embDim $embDim not divisible by $subspaces")
    val codes = pqAssign(emb, subspaces, codebook)
      .select(col("vec_id") +: (1 to subspaces).map(m => col(s"code_$m")): _*)
    val queries = intVectors(emb).filter(queryFilter)
      .withColumn("__pq", PqKernelExpressions.pqCodes(
        col("vi"), pqCodebook(subspaces, codebook), withTables = true))
      .select(col("vec_id").as("query_id") +:
        (1 to subspaces).map(m =>
          element_at(col("__pq.tables"), m).as(s"qt_$m")): _*)
    val dist = (1 to subspaces).map(m =>
      expr(s"element_at(qt_$m, code_$m)")).reduce(_ + _)
    rankTail(
      codes.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("adc_dist", dist.cast("long")),
      k, col("adc_dist").asc, "adc_dist")
  }

  /** Lattice sub-centroid for PQ subspace `m`, code `j`, in the exact
    * 1e6-scaled integer space (shared with the oracle's SQL).
    */
  def pqCentroid(m: Int, j: Int, subDim: Int): IndexedSeq[Long] =
    latticeInts(4242L, m * 64 + j).take(subDim).map(v => v * 1000L - 500000L)

  /** IVF-PQ search — the two halves composed the way a production
    * billion-vector index runs them (IVFADC, Jégou et al. 2011 §IV-A):
    * a coarse learned-k-means quantizer restricts each query to its
    * `ivfProbes` most promising buckets, and within those buckets the
    * ranking runs over PQ CODES via ADC table lookups — the corpus side
    * of the search join carries (bucket, code_1..M), never raw floats.
    *
    * 100 TB plan: the k-means pre-pass is `iters` corpus scans with
    * k*dim-cell partial-sum shuffles; assignment + code projection is
    * one scan, no shuffle; the search itself is a broadcast of
    * |queries| * (2 probes + M small distance tables) against a scan of
    * the ~1/32nd-sized code table, pruned to the probed buckets, with
    * WindowGroupLimit cutting below the per-query rank exchange. The
    * bucket restriction multiplies the scan saving ON TOP of the code
    * compression — this is the operator whose cost model survives a
    * corpus that no longer fits hot storage. All distances are exact
    * BIGINT sums in the 1e6-scaled space, so rank and distance replay
    * engine-exactly. Output: (query_id, neighbor_id, rnk, adc_dist).
    */
  def ivfPqTopK(emb: DataFrame, queryFilter: org.apache.spark.sql.Column, k: Int,
                kc: Int = ivfCentroids, iters: Int = 2, dim: Int = embDim,
                subspaces: Int = 8, codebook: Int = 16): DataFrame = {
    require(embDim % subspaces == 0, s"embDim $embDim not divisible by $subspaces")
    val state = kmeansState(emb, kc, iters, dim)
    val base = intVectors(emb)
      .withColumn("__scores", kmeansScores(state))
      .withColumn("__b1", expr("array_position(__scores, array_max(__scores))"))
    val withCodes = base.withColumn("__pq", PqKernelExpressions.pqCodes(
      col("vi"), pqCodebook(subspaces, codebook), withTables = false))
    val corpus = withCodes.select(
      Seq(col("vec_id"), col("__b1").as("bucket")) ++
        (1 to subspaces).map(m =>
          element_at(col("__pq.codes"), m).as(s"code_$m")): _*)
    val masked = maskedSecondBucket(kc, "__scores")
    val probes = base.filter(queryFilter)
      .withColumn("__b2", expr(s"array_position($masked, array_max($masked))"))
      .withColumn("__pq", PqKernelExpressions.pqCodes(
        col("vi"), pqCodebook(subspaces, codebook), withTables = true))
      .select(Seq(col("vec_id").as("query_id")) ++
        (1 to subspaces).map(m =>
          element_at(col("__pq.tables"), m).as(s"qt_$m")) :+
        explode(array(col("__b1"), col("__b2"))).as("bucket"): _*)
    val dist = (1 to subspaces).map(m =>
      expr(s"element_at(qt_$m, code_$m)")).reduce(_ + _)
    rankTail(
      corpus.join(broadcast(probes), "bucket")
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("adc_dist", dist.cast("long")),
      k, col("adc_dist").asc, "adc_dist")
  }

  /** IVFADC with re-ranking (IVFADC+R, Jégou et al. 2011 §IV-B): the
    * ADC pass over PQ codes produces a `kPrime > k` candidate
    * shortlist per query, then the shortlist alone is joined back to
    * the FLOAT vectors by id and re-ranked by exact cosine — the
    * quantization error that ADC bakes into its distance estimates is
    * paid only on |queries| * kPrime rows instead of the whole corpus.
    * Guarantee: the re-ranked top-k per query is the best-possible
    * k-subset of the shortlist under true cosine, so recall@k is >=
    * plain ADC's for every query (ADC's top-k is one particular
    * k-subset of the same shortlist) — pinned by `AnnSearchSpec`.
    *
    * 100 TB plan: the shortlist (|queries| * kPrime id pairs) is
    * broadcast against ONE more scan of the float corpus — a
    * broadcast-semi-join-shaped candidate fetch, never a second
    * all-pairs pass; the query vectors are broadcast as in the
    * brute-force baseline. Output: (query_id, neighbor_id, rnk, cos).
    */
  def ivfPqRerankTopK(emb: DataFrame, queryFilter: org.apache.spark.sql.Column,
                      k: Int, kPrime: Int, kc: Int = ivfCentroids,
                      iters: Int = 2, dim: Int = embDim,
                      subspaces: Int = 8, codebook: Int = 16): DataFrame = {
    require(kPrime >= k, s"ivfPqRerankTopK: kPrime ($kPrime) must be >= k ($k)")
    val shortlist = ivfPqTopK(emb, queryFilter, kPrime, kc, iters, dim,
        subspaces, codebook)
      .select(col("query_id"), col("neighbor_id").as("vec_id"))
    val vecs = vectors(emb)
    val q = vecs.filter(queryFilter)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    rankTail(
      vecs.join(broadcast(shortlist), "vec_id")
        .join(broadcast(q), "query_id")
        .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm"))),
      k, col("cos").desc, "cos")
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"): rank every vector by cosine to its own learned
    * cluster's centroid and drop the most prototypical
    * `protoPruneNum/protoPruneDen` of each cluster — on a big corpus
    * the easy/redundant examples near the cluster core contribute the
    * least marginal signal, so data pruning removes THEM, keeping the
    * informative outskirts.
    *
    * 100 TB plan: assignment is the k-means scan; centroids are exact
    * per-bucket (elementwise sum, count) pairs from ONE map-side-
    * combined shuffle with k*dim result cells; the centroid table (k
    * rows) broadcasts back; the rank is one per-bucket window. The
    * centroid dot is an exact BIGINT fold (overflow bound as in
    * [[kmeansScores]]: ~1e6 rows/bucket at dim 64 before rescaling is
    * needed); cos and the prune flag derive from fixed-order float ops
    * and integer rank arithmetic, so the whole output replays
    * engine-exactly. Output: (vec_id, bucket, rnk, n_bucket, pruned,
    * cos).
    */
  def prototypePrune(emb: DataFrame, kc: Int = ivfCentroids, iters: Int = 2,
                     dim: Int = embDim, pruneNum: Int = protoPruneNum,
                     pruneDen: Int = protoPruneDen): DataFrame = {
    val state = kmeansState(emb, kc, iters, dim)
    val a = intVectors(emb)
      .withColumn("__scores", kmeansScores(state))
      .withColumn("bucket", expr("array_position(__scores, array_max(__scores))").cast("int"))
      .select("vec_id", "vi", "bucket")
    val centroids = a
      .select(col("bucket"), posexplode(col("vi")))
      .toDF("bucket", "pos", "x")
      .groupBy("bucket", "pos")
      .agg(sum("x").as("s"))
      .groupBy("bucket")
      .agg(expr("transform(array_sort(collect_list(struct(pos, s))), p -> p.s)").as("sv"))
    val w = Window.partitionBy("bucket")
    a.join(broadcast(centroids), "bucket")
      .withColumn("__dot", expr(
        "aggregate(zip_with(vi, sv, (x, y) -> x * y), cast(0 as bigint), (acc, x) -> acc + x)"))
      .withColumn("__nv", expr(
        "sqrt(cast(aggregate(zip_with(vi, vi, (x, y) -> x * y), cast(0 as bigint), (acc, x) -> acc + x) as double))"))
      // centroid-sum self-products overflow BIGINT (sum elements scale
      // with bucket size: (1e6 * |bucket|)^2), so this norm folds in
      // doubles — fixed left-to-right order, same spelling as the
      // oracle's list_sum
      .withColumn("__ns", expr(
        "sqrt(aggregate(zip_with(sv, sv, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, x) -> acc + x))"))
      .withColumn("cos", col("__dot").cast("double") / (col("__nv") * col("__ns")))
      .withColumn("rnk", row_number().over(w.orderBy(col("cos").desc, col("vec_id"))))
      .withColumn("n_bucket", count(lit(1)).over(w))
      .withColumn("pruned", col("rnk") * pruneDen <= col("n_bucket") * pruneNum)
      .select(col("vec_id"), col("bucket"), col("rnk"), col("n_bucket"),
        col("pruned"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup by k-means-cluster
    * then within-cluster cosine pruning — near-duplicate MEANING, not
    * near-duplicate text, which MinHash can't see. A vector is removed
    * iff some LOWER-id vector in its own cluster has cosine >=
    * `threshold` with it (lowest id is the canonical survivor, the
    * same survivor rule as the MinHash cluster roots).
    *
    * 100 TB plan: the learned k-means assignment partitions the
    * pair space, so the only join is a bucket-keyed equi-self-join —
    * bounded by the largest cluster, never n². The cosine is the same
    * codegen'd exact-fold kernel as every other embedding op. An
    * oversized cluster is the LSH hot-bucket problem in disguise:
    * split it by re-clustering within the bucket (recursive k-means)
    * or cap it like [[Dedup]]'s star-expansion before the self-join.
    * Output: (vec_id, bucket, removed).
    */
  def semanticNearDups(emb: DataFrame,
                       threshold: Double = semDedupThreshold): DataFrame = {
    val av = vectors(emb).join(kmeansAssign(emb), "vec_id")
      .persist() // read by both self-join sides and the output spine;
                 // released by the session cache clear between queries
    val a = av.select(col("bucket"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = av.select(col("bucket"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val removed = a.join(b, "bucket")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("__rm", lit(true))
    av.select("vec_id", "bucket")
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"),
        coalesce(col("__rm"), lit(false)).as("removed"))
  }

  /** Random-hyperplane LSH keys: one `(vec_id, tbl, bucket)` row per
    * hash table; bucket = sign bits of `lshBits` hyperplane dots.
    */
  def lshKeys(emb: DataFrame): DataFrame = {
    val structs: Seq[org.apache.spark.sql.Column] = (0 until lshTables).map { t =>
      val bucket = (0 until lshBits).map { b =>
        when(dotLattice("v", 7777L, t * lshBits + b) >= 0, lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    vectors(emb)
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array(structs: _*)).as("k"))
      .select(col("vec_id"), col("v"), col("nrm"), col("k.tbl"), col("k.bucket"))
  }

  /** Cross-corpus embedding near-dups (the incremental-crawl shape,
    * twin of [[Dedup.crossCorpusNearDups]] in embedding space): LSH
    * keys of a NEW corpus equi-joined against keys of a REFERENCE
    * corpus — the reference is never self-paired, so yesterday's
    * 100 TB index is banded once (persisted, bucketed by (tbl,
    * bucket)) and each day's crawl joins against it at crawl-sized
    * cost. Exact cosine verification on the candidates. Output:
    * (new_id, ref_id, cos) at >= `embDupThreshold`.
    */
  def crossCorpusEmbeddingDups(fresh: DataFrame, ref: DataFrame): DataFrame = {
    // Candidates are ids ONLY: the bucket join multiplies each pair by
    // the number of tables it collides in, so carrying the float
    // vectors through the join + dedup shuffle ships (and LZ4-crunches)
    // each vector once per collision — the r9 sf1 rehearsal measured
    // this as a 561 s straggler (9x the ids-only spelling) with one
    // task pinned in shuffle-write compression. Vectors re-attach by
    // id AFTER the pair set is distinct, exactly like
    // [[embeddingNearDups]]; results are identical.
    val kn = lshKeys(fresh).select(col("tbl"), col("bucket"), col("vec_id").as("new_id"))
    val kr = lshKeys(ref).select(col("tbl"), col("bucket"), col("vec_id").as("ref_id"))
    val cand = kn.join(kr, Seq("tbl", "bucket"))
      .select("new_id", "ref_id").distinct()
    val vn = vectors(fresh).select(col("vec_id").as("new_id"),
      col("v").as("__va"), col("nrm").as("__na"))
    val vr = vectors(ref).select(col("vec_id").as("ref_id"),
      col("v").as("__vb"), col("nrm").as("__nb"))
    cand.join(vn, "new_id").join(vr, "ref_id")
      .withColumn("cos", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") >= embDupThreshold)
      .select("new_id", "ref_id", "cos")
  }

  /** Embedding-cosine near-dup pairs: candidates from the LSH-table
    * bucket self-join (same bucket in ANY table), exact cosine >=
    * `embDupThreshold`. Output: (vec_a, vec_b, cos).
    *
    * Scale note (measured, r9 sf1 rehearsal): with a FIXED bucket
    * count (16/table here, the oracle-replayable config) bucket
    * occupancy grows linearly with the corpus, so this exact
    * variant's candidate set — and its contract-mandated output — is
    * quadratic in corpus density (58x time for 10x vectors). At scale
    * either grow `lshBits` ~ log(n) so occupancy stays flat, or use
    * [[embeddingNearDupsCapped]] (per-bucket cost |bucket|, not
    * |bucket|^2).
    */
  def embeddingNearDups(emb: DataFrame): DataFrame = {
    val keys = lshKeys(emb).select("vec_id", "tbl", "bucket")
    val cand = keys.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
      .join(keys.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    dupPairCosines(emb, cand)
  }

  /** The embedding near-dup operators' verify step: each candidate
    * (vec_a, vec_b) pair joins both vectors and survives when its exact
    * cosine reaches `embDupThreshold`. Output: (vec_a, vec_b, cos).
    */
  private def dupPairCosines(emb: DataFrame, cand: DataFrame): DataFrame = {
    val n = vectors(emb)
    cand
      .join(n.select(col("vec_id").as("vec_a"), col("v").as("__va"), col("nrm").as("__na")), "vec_a")
      .join(n.select(col("vec_id").as("vec_b"), col("v").as("__vb"), col("nrm").as("__nb")), "vec_b")
      .withColumn("cos", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos") >= embDupThreshold)
      .select("vec_a", "vec_b", "cos")
  }

  /** Hot-bucket capped embedding near-dups — [[embeddingNearDups]]
    * with [[Dedup.minhashCandidates]]'s star-expansion cap carried
    * over to the hyperplane buckets. Bucket sizes are counted first
    * (one map-side partial agg on `(tbl, bucket)`); buckets above
    * `maxBucket` skip the quadratic self-join and pair every member
    * with the bucket's min-id representative instead, so per-bucket
    * cost drops from |bucket|^2 to |bucket|.
    *
    * Why this exists: the exact variant's candidate count is quadratic
    * in bucket OCCUPANCY, and occupancy grows linearly with corpus
    * size when the bucket count is fixed — the r9 sf1 rehearsal
    * measured ~100x candidate growth for 10x vectors (16 buckets/
    * table). Production either scales `lshBits` with log(n) or caps —
    * this is the capped path, cosine-verified like the exact one, with
    * members of a hot bucket still transitively connected through the
    * representative for downstream clustering. Output:
    * (vec_a, vec_b, cos) at >= `embDupThreshold`.
    */
  def embeddingNearDupsCapped(emb: DataFrame,
                              maxBucket: Int = lshMaxBucket): DataFrame = {
    val keys = lshKeys(emb).select("vec_id", "tbl", "bucket")
    val stats = keys.groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("__n"), min(col("vec_id")).as("__rep"))
    val kk = keys.join(stats, Seq("tbl", "bucket"))
    val small = kk.filter(col("__n") <= maxBucket)
    val allPairs = small.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"))
      .join(small.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val starPairs = kk
      .filter(col("__n") > maxBucket && col("vec_id") =!= col("__rep"))
      .select(col("__rep").as("vec_a"), col("vec_id").as("vec_b"))
    val cand = allPairs.union(starPairs).distinct()
    dupPairCosines(emb, cand)
  }

  /** Dominant direction of the embedding cloud (UNCENTERED Gram-matrix
    * power iteration — the top singular direction of the raw vectors,
    * the embedding-ops sibling of [[kmeansState]]'s bounded-driver
    * pattern): the corpus is reduced to one exact dim x dim integer
    * Gram matrix, the iteration runs on the driver over exact
    * integers, and the learned direction broadcasts back as literal
    * milli-unit weights.
    *
    * Replay contract — EVERY step is order-free integer arithmetic,
    * so the result is engine- and partition-exact with no float
    * anywhere: Gram entries are exact BIGINT sums of 1e6-quantized
    * products. Exactness bound (the [[kmeansScores]] bound, restated
    * here because it is the scale limit of this operator): each
    * per-vector product is <= 1e12 for unit-scale components, so the
    * Long Gram sum is exact while `n_vectors * 1e12 < 2^63`, i.e. up
    * to ~9.2M vectors — beyond that Spark's Long `sum` wraps silently
    * while DuckDB promotes to HUGEINT and the engines diverge. A
    * larger corpus must pre-scale the quantization (drop the quantum
    * to 1e5 per 100x corpus growth: the bound loosens by 1e2 per 1e1
    * of quantum) — the direction only needs milli-unit precision after
    * renormalization, so the headroom is real. The matrix is
    * pre-scaled by a data-derived integer
    * divisor (`max|G| // 1e11 + 1`, truncating division both sides)
    * so each iteration's matrix-vector product stays within Long
    * (|Gs| <= 1e11, |w| <= 1000 milli-units, dim <= 64 => |raw| <=
    * 6.4e15, and the renorm product `|raw| * 1000` <= 6.4e18 < 2^63);
    * after each product the vector renormalizes to L-inf 1000 by
    * truncating division. Deterministic fixed seed vector; sign
    * follows the seed's overlap with the dominant direction.
    *
    * 100 TB plan: ONE scan of the corpus into a dim²-row map-side-
    * combined aggregate (the only shuffle, 4096 rows), driver math on
    * a 64x64 Long matrix, then a shuffle-free projection — the same
    * scan/collect/broadcast shape as the learned-centroid path.
    */
  def topComponent(emb: DataFrame, iters: Int = 8,
                   dim: Int = embDim): IndexedSeq[Long] =
    powerIterate(gramScaled(emb, dim),
      (1 to dim).map(i => ((i.toLong * 37 + 11) % 2001) - 1000), iters)

  /** The corpus reduced to its pre-scaled dim x dim integer Gram
    * matrix — [[topComponent]]'s one corpus scan, shared with the
    * deflated second-direction path so 2-D maps pay it once. */
  private def gramScaled(emb: DataFrame, dim: Int): Array[Array[Long]] = {
    val vi = intVectors(emb)
    val rows = vi
      .select(col("vi"), posexplode(col("vi")).as(Seq("i", "x")))
      .select(col("i"), col("x"), posexplode(col("vi")).as(Seq("j", "y")))
      .groupBy("i", "j")
      .agg(sum(expr("x * y")).as("g"))
      .collect() // bounded: dim * dim rows of longs
    val G = Array.ofDim[Long](dim, dim)
    rows.foreach(r => G(r.getAs[Int]("i"))(r.getAs[Int]("j")) = r.getAs[Long]("g"))
    val maxAbs = G.map(_.map(math.abs).max).max
    // Scala Long `/` truncates toward zero; the DuckDB oracle spells
    // the same truncation as a sign-split around floor-div `//`.
    val divisor = maxAbs / 100000000000L + 1L
    G.map(_.map(_ / divisor))
  }

  private def powerIterate(gs: Array[Array[Long]], seed: IndexedSeq[Long],
                           iters: Int): IndexedSeq[Long] = {
    val dim = gs.length
    var w = seed
    for (_ <- 1 to iters) {
      val raw = (0 until dim).map(i =>
        (0 until dim).map(j => gs(i)(j) * w(j)).sum)
      val m = math.max(raw.map(math.abs).max, 1L)
      w = raw.map(r => r * 1000 / m)
    }
    w
  }

  /** First TWO principal directions of the raw-vector cloud and the
    * per-vector 2-D projection — the planar data map a curator plots
    * (cluster structure, drift, outlier shells) from the same ONE
    * corpus scan as [[topComponent]]: direction 1 is bit-identical to
    * [[topComponent]]'s (same Gram, same seed, same iteration —
    * spec-pinned), direction 2 is orthogonal iteration with an exact
    * integer Gram-Schmidt deflation each step.
    *
    * Replay contract (every step order-free integer arithmetic, both
    * engines): each iteration multiplies by the pre-scaled Gram,
    * renormalizes to L-inf 1000 milli-units FIRST, and only then
    * orthogonalizes against w1 — `s_i = r_i - trunc(d * w1_i / n1)`
    * with `d = sum(r_i * w1_i)`, `n1 = sum(w1_i^2)` — so every
    * intermediate stays far inside Long (|r| <= 1000 after the
    * renorm, d <= 64e6, d * w1_i <= 6.4e10; orthogonalizing the RAW
    * product instead would overflow at d ~ 4e20). Truncating division
    * on negatives is the sign-split `//` spelling in the oracle. The
    * deflation is exact integer arithmetic, so w2's residual overlap
    * with w1 is bounded by the truncation grain, not by float drift
    * (the spec bounds |cos(w1, w2)| in milli-units). Output:
    * (vec_id, proj_milli, proj2_milli).
    */
  def pca2Directions(emb: DataFrame, iters: Int = 8, dim: Int = embDim)
      : (IndexedSeq[Long], IndexedSeq[Long]) = {
    val gs = gramScaled(emb, dim)
    val w1 = powerIterate(gs,
      (1 to dim).map(i => ((i.toLong * 37 + 11) % 2001) - 1000), iters)
    val n1 = math.max(w1.map(x => x * x).sum, 1L)
    var v: IndexedSeq[Long] =
      (1 to dim).map(i => ((i.toLong * 53 + 17) % 2001) - 1000)
    for (_ <- 1 to iters) {
      val raw = (0 until dim).map(i =>
        (0 until dim).map(j => gs(i)(j) * v(j)).sum)
      val m = math.max(raw.map(math.abs).max, 1L)
      val rp = raw.map(r => r * 1000 / m)
      val d = (0 until dim).map(i => rp(i) * w1(i)).sum
      val s = (0 until dim).map(i => rp(i) - d * w1(i) / n1)
      val m2 = math.max(s.map(math.abs).max, 1L)
      v = s.map(x => x * 1000 / m2)
    }
    (w1, v)
  }

  def pca2Projection(emb: DataFrame, iters: Int = 8,
                     dim: Int = embDim): DataFrame = {
    val (w1, v) = pca2Directions(emb, iters, dim)
    val t1 = (0 until dim)
      .map(i => s"element_at(vi, ${i + 1}) * ${w1(i)}").mkString(" + ")
    val t2 = (0 until dim)
      .map(i => s"element_at(vi, ${i + 1}) * ${v(i)}").mkString(" + ")
    intVectors(emb)
      .withColumn("proj_milli", expr(t1))
      .withColumn("proj2_milli", expr(t2))
      .select(col("vec_id"), col("proj_milli"), col("proj2_milli"))
  }

  /** PageRank over the corpus kNN graph — graph centrality as a data-
    * selection signal (a document whose neighborhood keeps pointing at
    * it is a hub of its semantic region; the graph-analytics
    * composition over [[knnGraph]]'s edges). Damping 0.85 in the
    * catalog's micro-unit convention, a FIXED iteration count, and
    * every step exact order-free integer arithmetic so ranks replay
    * engine-identically: per-edge contributions truncate BEFORE the
    * incoming sum (`(r_src * d_micro) div (1e6 * outdeg)` — already-
    * truncated integers sum exactly in any order), and each node
    * restarts from the exact `(1e6 - d_micro)` floor. Dangling mass
    * (nodes whose bucket held no other vector) is dropped, not
    * redistributed — ranks are a selection SIGNAL, not a probability
    * distribution, and the contract documents it.
    *
    * 100 TB plan: the edge frame (n x k rows) is built once, joined
    * with its out-degrees, and persisted pre-partitioned; the n-row
    * id frame is ALSO persisted pre-partitioned on hash(id) (r20 —
    * the old spelling re-scanned the embeddings parquet and
    * re-exchanged the id projection once per iteration for the
    * base-rank left join), so each of the `iters` rounds is exactly
    * ONE exchange: the rank frame enters the src-keyed contribution
    * join already hash-partitioned (id = src, preserved through the
    * previous round's left join), the dst-keyed map-side-combined sum
    * is the round's one shuffle, and the base-rank left join reads
    * the cached hash(id) nodes against the hash(dst)-clustered
    * contributions exchange-free. No windows, no driver state,
    * lineage depth fixed by `iters`, zero extra corpus scans.
    */
  def knnPageRank(emb: DataFrame, k: Int = annK, kc: Int = ivfCentroids,
                  iters: Int = 4, dampingMicro: Long = 850000L): DataFrame = {
    // n-row, 1 column; read iters+1 times (caller-release — the
    // Dedup.sketch contract; the harness clears between queries)
    val nodes = emb.select(col("vec_id").as("id"))
      .repartition(col("id")).persist()
    val edges = knnGraph(emb, k, kc)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val odeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // consumed once per iteration: without the persist the whole
    // bucketed self-join would replay `iters` times
    val ed = edges.join(odeg, "src").persist()
    var rank = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      val contrib = ed
        .join(rank.withColumnRenamed("id", "src"), "src")
        .select(col("dst"),
          expr(s"(r * $dampingMicro) div (1000000 * deg)").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      rank = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .withColumn("r",
          lit(1000000L - dampingMicro) + coalesce(col("s"), lit(0L)))
        .select("id", "r")
    }
    rank.select(col("id").as("vec_id"), col("r").as("rank_micro"))
  }

  /** [[knnPageRank]] with CONVERGENCE INSTRUMENTATION (VERDICT r12
    * next-6): returns the final ranks plus the per-iteration residual
    * `max_id |r_i(id) - r_{i-1}(id)|` in exact micro-units — the
    * evidence that the fixed iteration count has actually stabilized
    * the ranks (a selection signal read mid-transition orders
    * documents by noise). Every residual is exact integer arithmetic
    * over the same truncated ranks the un-instrumented operator
    * produces, so `ranks` here is bit-identical to [[knnPageRank]]'s
    * output at the same `iters` (spec-pinned).
    *
    * Cost of the instrumentation, and why the plain variant stays
    * separate: the residual is an ACTION per iteration (one
    * map-side-combined max over the n-row rank frame, one driver
    * Long), so each iteration's rank frame is localCheckpointed to
    * keep iteration i+1 and the residual from replaying the whole
    * chain — the lazy single-action lineage of [[knnPageRank]] is
    * traded for `iters` bounded jobs. Driver traffic is `iters` Longs.
    * Non-reliable checkpoint caveat as [[Sampling.selectByTokenBudget]]:
    * executor loss mid-run fails the job rather than recomputing.
    */
  def knnPageRankResiduals(emb: DataFrame, k: Int = annK,
                           kc: Int = ivfCentroids, iters: Int = 4,
                           dampingMicro: Long = 850000L)
      : (DataFrame, IndexedSeq[Long]) = {
    val nodes = emb.select(col("vec_id").as("id"))
    val edges = knnGraph(emb, k, kc)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
    val odeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(odeg, "src").persist()
    var rank = nodes.withColumn("r", lit(1000000L)).localCheckpoint(true)
    val residuals = (1 to iters).map { _ =>
      val contrib = ed
        .join(rank.withColumnRenamed("id", "src"), "src")
        .select(col("dst"),
          expr(s"(r * $dampingMicro) div (1000000 * deg)").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      val next = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .withColumn("r",
          lit(1000000L - dampingMicro) + coalesce(col("s"), lit(0L)))
        .select("id", "r")
        .localCheckpoint(true)
      val resid = next.join(rank.withColumnRenamed("r", "__prev"), "id")
        .agg(max(abs(col("r") - col("__prev"))).as("d"))
        .collect()(0).getLong(0)
      rank.unpersist(false)
      rank = next
      resid
    }
    ed.unpersist(false)
    (rank.select(col("id").as("vec_id"), col("r").as("rank_micro")), residuals)
  }

  /** Per-vector projection onto [[topComponent]]'s direction — the
    * 1-D reduction a curator plots/thresholds (outlier screens, data
    * maps). Exact BIGINT dot of the 1e6-quantized vector with the
    * milli-unit direction; the projection itself is one shuffle-free
    * codegen'd projection over the corpus. Output: (vec_id,
    * proj_milli).
    */
  def topComponentProjection(emb: DataFrame, iters: Int = 8,
                             dim: Int = embDim): DataFrame = {
    val w = topComponent(emb, iters, dim)
    val terms = (0 until dim)
      .map(i => s"element_at(vi, ${i + 1}) * ${w(i)}").mkString(" + ")
    intVectors(emb)
      .withColumn("proj_milli", expr(terms))
      .select(col("vec_id"), col("proj_milli"))
  }

  /** Robust per-label OUTLIER screen on [[topComponentProjection]]'s
    * 1-D reduction — the data-map triage a curator runs before
    * trusting a stratum (a mislabeled batch, an encoder regression,
    * or adversarial inserts sit far from their label's mass along the
    * dominant direction): per label, the exact rank-picked median of
    * the projection and the exact median absolute deviation (the
    * `ceil(n*0.5)` row-pick of the corpus-stats quantiles — no
    * normality assumption, no approx sketch), flagging
    * `|proj - med| * 1000 > kMilli * mad` in exact integers
    * (kMilli 3000 = the classic 3-MAD screen). A zero-MAD label
    * (over half its mass at one value) flags ANY deviation — the
    * conservative reading, stated here.
    *
    * 100 TB plan: the projection is a shuffle-free scan; both median
    * chains are label-bounded windows sharing ONE label exchange —
    * never a whole-frame window. Output: (vec_id, label, proj_milli,
    * med_milli, mad_milli, outlier).
    */
  def projectionOutliers(emb: DataFrame, kMilli: Long = 3000L,
                         iters: Int = 8, dim: Int = embDim,
                         labelCol: String = "label"): DataFrame = {
    val lw = Window.partitionBy("label")
    topComponentProjection(emb, iters, dim)
      .join(emb.select(col("vec_id"), col(labelCol).as("label")), "vec_id")
      .withColumn("__rn", row_number().over(
        lw.orderBy(col("proj_milli"), col("vec_id"))).cast("long"))
      .withColumn("__n", count(lit(1)).over(lw))
      .withColumn("med_milli",
        max(when(col("__rn") === ceil(col("__n") * 0.5), col("proj_milli"))).over(lw))
      .withColumn("__dev", abs(col("proj_milli") - col("med_milli")))
      .withColumn("__rn2", row_number().over(
        lw.orderBy(col("__dev"), col("vec_id"))).cast("long"))
      .withColumn("mad_milli",
        max(when(col("__rn2") === ceil(col("__n") * 0.5), col("__dev"))).over(lw))
      .withColumn("outlier", col("__dev") * 1000L > lit(kMilli) * col("mad_milli"))
      .select(col("vec_id"), col("label"), col("proj_milli"),
        col("med_milli"), col("mad_milli"), col("outlier"))
  }
}
