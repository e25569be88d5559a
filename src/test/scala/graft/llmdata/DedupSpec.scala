package graft.llmdata

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.SparkSpec

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exactDedup groups identical content and keeps the lowest id") {
    val d = docs(
      0L -> "alpha beta gamma delta",
      1L -> "alpha beta gamma delta",
      2L -> "something else entirely here",
      7L -> "alpha beta gamma delta")
    val res = Dedup.exactDedup(d).orderBy("keep_id").collect()
    assert(res.length == 2)
    assert(res(0).getAs[Long]("keep_id") == 0L)
    assert(res(0).getAs[Long]("n_copies") == 3L)
    assert(res(1).getAs[Long]("keep_id") == 2L)
  }

  test("ngramNovelty: unshared grams count, duplicated docs score zero, short docs absent") {
    val d = docs(
      0L -> "a b c d e", // shares 'a b c'..'c d e' with nothing -> novelty 1
      1L -> "x y z w", // 'x y z' shared with 2, 'y z w' unique
      2L -> "x y z q",
      3L -> "x y z q", // exact duplicate of 2 -> every gram df >= 2
      4L -> "too short")
    val out = Dedup.ngramNovelty(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(0L) == ((3L, 3L, 1000000L)))
    assert(out(1L) == ((2L, 1L, 500000L))) // 'y z w' unique, 'x y z' df=3
    assert(out(2L) == ((2L, 0L, 0L))) // both grams shared with 3
    assert(out(3L) == ((2L, 0L, 0L)))
    assert(!out.contains(4L)) // under 3 tokens: nothing to measure
  }

  test("minhashJaccardAudit: identical docs score exactly 1, estimates bounded") {
    val base = (1 to 15).map(i => s"t$i").mkString(" ")
    val d = docs(
      0L -> base,
      1L -> base, // identical -> est = exact = 1
      2L -> (base + " extra tokens here"), // near-dup, exact < 1
      3L -> "unrelated other totally different words now")
    val out = Dedup.minhashJaccardAudit(Dedup.sketch(d)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out((0L, 1L)) == ((12L, 1000000L, 1000000L, 0L)))
    out.values.foreach { case (m, est, exact, err) =>
      assert(m >= 0L && m <= 12L)
      assert(est >= 0L && est <= 1000000L)
      assert(exact >= 0L && exact <= 1000000L)
      assert(err == est - exact)
    }
    assert(out.contains((0L, 2L)) && out((0L, 2L))._3 < 1000000L)
  }

  test("exactDedupNormalized collapses case/punctuation/whitespace variants only") {
    val d = docs(
      0L -> "Alpha beta, gamma delta.",
      1L -> "alpha  beta gamma delta!!", // case + spacing + punct variant
      2L -> "ALPHA BETA: GAMMA DELTA",
      3L -> "alpha beta gamma epsilon", // genuinely different
      4L -> "alpha beta gamma epsilon")
    val res = Dedup.exactDedupNormalized(d).orderBy("keep_id").collect()
    assert(res.length == 2)
    assert(res(0).getAs[Long]("keep_id") == 0L)
    assert(res(0).getAs[Long]("n_copies") == 3L)
    assert(res(1).getAs[Long]("keep_id") == 3L)
    assert(res(1).getAs[Long]("n_copies") == 2L)
    // bit-exact dedup sees all of 0/1/2 as distinct — the gap this
    // operator exists to close
    assert(Dedup.exactDedup(d).count() == 4)
  }

  test("shingled produces word trigrams, empty under 3 tokens") {
    val d = docs(0L -> "a b c d", 1L -> "x y")
    val sh = Dedup.shingled(d).select("doc_id", "__sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(0L) == Seq("a b c", "b c d"))
    assert(sh(1L).isEmpty)
  }

  test("minhash LSH finds near-identical docs without all-pairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs(
      0L -> base,
      1L -> (base + " extra"),   // near-dup of 0
      2L -> "completely different content about spark catalyst optimizer internals rules",
      3L -> "unrelated words describing weather patterns in northern coastal regions")
    val cands = Dedup.minhashCandidates(Dedup.sketch(d)).as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 1L)))
    assert(!cands.contains((2L, 3L)))
  }

  test("clusterSizeHistogram counts singleton and dup mass exactly") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely different content about spark catalyst optimizer internals rules"
    // cluster of 3 (base + two near-copies), cluster of 1 (other)
    val d = docs(
      0L -> base, 1L -> base, 2L -> (base + " extra"),
      3L -> other)
    val out = Dedup.clusterSizeHistogram(d).orderBy("cluster_size").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == ((1L, 1L, 250000L)), out.toString)
    assert(out(3L) == ((1L, 3L, 750000L)), out.toString)
    assert(out.size == 2)
  }

  test("incrementalAssign: best partner wins, ties break low, fresh docs flagged") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val ref = docs(
      10L -> base,                     // exact text of new doc 0
      11L -> (base + " extra"),        // weaker partner of new doc 0
      12L -> "completely different content about spark catalyst optimizer internals rules")
    val fresh = docs(
      0L -> base,
      1L -> "unrelated words describing weather patterns in northern coastal regions")
    val out = Dedup.incrementalAssign(fresh, ref).orderBy("new_id").collect()
    val r0 = out(0)
    // doc 0's best partner is the EXACT copy (jaccard 1), not the superset
    assert(r0.getAs[Long]("ref_id") == 10L)
    assert(r0.getAs[Long]("jaccard_micro") == 1000000L)
    assert(!r0.getAs[Boolean]("is_new"))
    val r1 = out(1)
    assert(r1.isNullAt(1) && r1.isNullAt(2) && r1.getAs[Boolean]("is_new"))
    // equal-score ties attach to the LOWEST ref id (two exact copies)
    val ref2 = docs(20L -> base, 7L -> base)
    val tie = Dedup.incrementalAssign(docs(0L -> base), ref2).head()
    assert(tie.getAs[Long]("ref_id") == 7L)
  }

  test("blockingAudit: completeness 1 on long exact dups, 0 under the shingle floor") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "completely different content about spark catalyst optimizer internals rules"
    val d = docs(
      0L -> base, 1L -> base,          // exact dup pair, sketchable
      2L -> other,
      3L -> "unrelated words describing weather patterns in northern coastal regions")
    val r = Dedup.blockingAudit(d).head()
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("n_total_pairs") == 6L)
    assert(r.getAs[Long]("n_truth_pairs") == 1L)
    assert(r.getAs[Long]("n_truth_found") == 1L)
    assert(r.getAs[Long]("pair_completeness_micro") == 1000000L)
    // quality <= 1, reduction consistent with the candidate count —
    // divide-first spelling (r14 advice #1: total*1e6 overflowed
    // int64 past ~4.3M docs; rounding differs from the old
    // (total-cand)*1e6/total by at most 1 micro, upward)
    val cand = r.getAs[Long]("n_candidate_pairs")
    assert(r.getAs[Long]("reduction_ratio_micro") ==
      1000000L - cand * 1000000L / 6L)
    assert(r.getAs[Long]("pair_quality_micro") == 1000000L / cand)
    // docs under the 3-token shingle width sketch EMPTY: their dup
    // pair is ground truth LSH can never find — completeness reports
    // the miss instead of hiding it
    val short = docs(0L -> "aa bb", 1L -> "aa bb", 2L -> other, 3L -> base)
    val rs = Dedup.blockingAudit(short).head()
    assert(rs.getAs[Long]("n_truth_pairs") == 1L)
    assert(rs.getAs[Long]("n_truth_found") == 0L)
    assert(rs.getAs[Long]("pair_completeness_micro") == 0L)
  }

  test("hot-bucket cap star-expands big buckets, leaves small ones exact") {
    val boiler = "this exact boilerplate footer repeats on every single page forever"
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val d = docs(
      // 6 identical docs -> every band bucket has 6 members (> cap 3)
      (10L to 15L).map(i => i -> boiler) ++ Seq(
        0L -> base,
        1L -> (base + " extra")): _*) // small natural bucket, <= cap
    val cands = Dedup.minhashCandidates(Dedup.sketch(d), maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    // star path: hot members pair ONLY with the bucket min (10), linear count
    assert((11L to 15L).forall(i => cands.contains((10L, i))))
    assert(!cands.exists { case (a, b) => a >= 11L && b >= 11L })
    // small bucket keeps the exact all-pairs edge
    assert(cands.contains((0L, 1L)))
    // uncapped default still produces the full quadratic set
    val full = Dedup.minhashCandidates(Dedup.sketch(d)).as[(Long, Long)].collect().toSet
    assert(full.count { case (a, b) => a >= 10L && b >= 10L } == 15) // C(6,2)
  }

  // Four texts that share their band-0 bucket (the common low-hash
  // core shingle "oak kit bee") while pairwise signature agreement
  // stays at most 4 of 12, below the 5-of-12 gate.
  test("bandKeys: a shared core shingle puts texts in one bucket below the gate") {
    val df = docs(
      11L -> "oak kit bee owl oak fen bee",
      12L -> "oak kit bee fen elm green fox",
      13L -> "oak kit bee kit sky ash bee",
      14L -> "oak kit bee red fen sky green")
    val keys = Dedup.bandKeys(Dedup.sketch(df))
      .filter(col("band") === 0).select("key").distinct().count()
    assert(keys == 1L, "all four must land in ONE band-0 bucket")
    // no pair passes the near-dup gate (exact OR estimate)
    assert(Dedup.verifiedNearDups(Dedup.sketch(df)).count() == 0L)
  }

  // A 7-of-12 signature match (above the gate) that shares its band-0
  // bucket with the original and differs in bands 1-3.
  test("bandKeys: a partial-band near-dup shares only band 0 and passes the gate") {
    val df = docs(
      31L -> "the quick brown fox jumps over the lazy dog tonight",
      32L -> "sky quick brown fox jumps over the lazy dog tonight")
    val shared = Dedup.bandKeys(Dedup.sketch(df))
      .groupBy("band", "key").count().filter(col("count") === 2)
      .select("band").as[Int].collect().toSeq
    assert(shared == Seq(0), s"must share exactly band 0, got $shared")
    assert(Dedup.minhashCandidates(Dedup.sketch(df)).count() == 1L)
  }

  test("verifiedNearDups scores candidates with exact jaccard in (0,1]") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val d = docs(0L -> base, 1L -> base, 2L -> "a b c d e f g h i j")
    val v = Dedup.verifiedNearDups(Dedup.sketch(d)).collect()
    assert(v.length == 1)
    assert(v(0).getAs[Long]("doc_a") == 0L)
    assert(v(0).getAs[Double]("jaccard") == 1.0)
  }

  test("cluster invariants: roots are minimal, idempotent, and closed") {
    val base = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val d = docs(
      5L -> base, 1L -> (base + " x"), 9L -> (base + " x y"),
      3L -> "zz yy xx ww vv uu tt ss rr qq pp oo")
    val roots = Dedup.nearDupClusters(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every root is itself a root (closure), and the minimum of its cluster
    roots.values.foreach(r => assert(roots(r) == r))
    roots.foreach { case (doc, root) => assert(root <= doc) }
    // cluster of 1,5,9 shares root 1; 3 is singleton
    assert(roots(5L) == 1L && roots(9L) == 1L && roots(1L) == 1L)
    assert(roots(3L) == 3L)
  }

  test("selectCanonical keeps exactly the best-quality member per cluster") {
    val base = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val d = docs(
      5L -> base, 1L -> (base + " x"), 9L -> (base + " x y"),
      3L -> "zz yy xx ww vv uu tt ss rr qq pp oo")
    val out = Dedup.selectCanonical(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 4)
    // cluster {1, 5, 9} rooted at 1; 3 is its own singleton cluster
    assert(Seq(1L, 5L, 9L).forall(i => out(i).getAs[Long]("root_id") == 1L))
    assert(out(3L).getAs[Long]("root_id") == 3L)
    assert(Seq(1L, 5L, 9L).forall(i => out(i).getAs[Long]("n_members") == 3L))
    assert(out(3L).getAs[Long]("n_members") == 1L)
    // exactly one canonical member per cluster, and it is the argmax
    // quality (ties to smallest doc_id)
    val cluster = Seq(1L, 5L, 9L).map(out)
    assert(cluster.count(_.getAs[Long]("is_canonical") == 1L) == 1)
    val best = cluster.maxBy(r => (r.getAs[Double]("quality"), -r.getAs[Long]("doc_id")))
    assert(best.getAs[Long]("is_canonical") == 1L)
    assert(out(3L).getAs[Long]("is_canonical") == 1L) // singleton keeps itself
  }

  test("selectCanonicalDist matches the driver-path selection row for row") {
    // same fixture as above: the distributed clustering labels every
    // component with its minimum id exactly like the union-find, so
    // the full selection output (roots, sizes, flags, quality) must be
    // identical — the 100 TB spelling is not a different answer
    val base = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val d = docs(
      5L -> base, 1L -> (base + " x"), 9L -> (base + " x y"),
      3L -> "zz yy xx ww vv uu tt ss rr qq pp oo")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("root_id"),
        r.getAs[Double]("quality"), r.getAs[Long]("n_members"),
        r.getAs[Long]("is_canonical"))).toSet
    assert(rows(Dedup.selectCanonicalDist(d)) == rows(Dedup.selectCanonical(d)))
  }

  test("leakageFreeSplit never splits a near-dup cluster across train and holdout") {
    val base = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val d = docs(
      5L -> base, 1L -> (base + " x"), 9L -> (base + " x y"),
      3L -> "zz yy xx ww vv uu tt ss rr qq pp oo")
    val out = Sampling.leakageFreeSplit(Dedup.nearDupClusters(d)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("root_id"),
        r.getAs[String]("split")))
    assert(out.length == 4)
    // one side per cluster — the invariant that makes the split
    // leakage-free
    out.groupBy(_._2).values.foreach { cluster =>
      assert(cluster.map(_._3).distinct.length == 1,
        s"cluster straddles the split: ${cluster.toSeq}")
    }
    // assignment is a pure function of the root: rerunning or
    // repartitioning cannot move a document
    val again = Sampling.leakageFreeSplit(Dedup.nearDupClusters(d.repartition(7)))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("split"))).toSet
    assert(again == out.map(t => (t._1, t._3)).toSet)
    // fraction 0 -> all train; fraction 1 -> all holdout (threshold cap)
    val all = Sampling.leakageFreeSplit(Dedup.nearDupClusters(d), 0.0).collect()
    assert(all.forall(_.getAs[String]("split") == "train"))
  }

  test("verified jaccard is order-insensitive at the doc level") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d1 = docs(0L -> a, 1L -> (a + " tail"))
    val d2 = docs(1L -> (a + " tail"), 0L -> a) // same corpus, swapped rows
    val j1 = Dedup.verifiedNearDups(Dedup.sketch(d1)).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val j2 = Dedup.verifiedNearDups(Dedup.sketch(d2)).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(j1.toSet == j2.toSet)
  }

  test("nearDupClusters is transitive: A~B and B~C share one root") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = docs(
      0L -> base,
      1L -> (base + " extra"),          // ~0
      2L -> (base + " extra words"),    // ~1 (and transitively ~0)
      3L -> "completely unrelated text about catalyst physical planning rules")
    val roots = Dedup.nearDupClusters(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(roots(0L) == 0L)
    assert(roots(1L) == 0L)
    assert(roots(2L) == 0L) // transitive closure, not just direct pairs
    assert(roots(3L) == 3L) // singleton is its own root
  }

  test("labelPropagation matches the driver union-find above maxEdges") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = docs(
      0L -> base,
      1L -> (base + " extra"),
      2L -> (base + " extra words"),
      4L -> "completely unrelated text about catalyst physical planning rules",
      6L -> base,                       // second component member
      8L -> (base + " extra"))
    val exact = Dedup.nearDupClusters(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // maxEdges = 0 forces the distributed large-star/small-star path
    val dist = Dedup.nearDupClusters(d, maxEdges = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == exact)
    assert(dist(4L) == 4L)
  }

  test("labelPropagation handles a dense clique and a long chain") {
    // clique 0..19 (190 edges) + chain 100-101-102-103 + isolated-free graph
    val clique = for (a <- 0L until 20L; b <- (a + 1) until 20L) yield (a, b)
    val chain = Seq((100L, 101L), (101L, 102L), (102L, 103L))
    val pairs = (clique ++ chain).toDF("doc_a", "doc_b")
    val roots = Dedup.labelPropagation(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L until 20L).foreach(x => assert(roots(x) == 0L))
    Seq(101L, 102L, 103L).foreach(x => assert(roots(x) == 100L))
    assert(!roots.contains(0L) || roots(0L) == 0L)
  }

  test("passageDupStats counts corpus-wide duplicated passages") {
    // 4-token passages: doc 0 and 1 share their first passage exactly;
    // doc 2 is unique throughout
    val d = docs(
      0L -> "a b c d e f g h",
      1L -> "a b c d x y z w",
      2L -> "p q r s t u v n")
    val res = Dedup.passageDupStats(d, passageTokens = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_passages"), r.getAs[Long]("n_dup_passages")))).toMap
    assert(res(0L) == ((2L, 1L)))
    assert(res(1L) == ((2L, 1L)))
    assert(res(2L) == ((2L, 0L)))
  }

  test("dedupPassages keeps first occurrences and reassembles text") {
    val d = docs(
      0L -> "a b c d e f g h", // both passages first occurrences
      1L -> "a b c d x y z w", // first passage already seen -> dropped
      2L -> "a b c d e f g h") // fully contained -> empty string
    val res = Dedup.dedupPassages(d, passageTokens = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_kept"), r.getAs[String]("text_dedup")))).toMap
    assert(res(0L) == ((2L, "a b c d e f g h")))
    assert(res(1L) == ((1L, "x y z w")))
    assert(res(2L) == ((0L, "")))
  }

  test("crossCorpusNearDups pairs new docs with the reference only") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val fresh = Dedup.sketch(docs(
      10L -> (base + " extra"),
      11L -> "nothing like anything in the reference corpus at all honestly"))
    val ref = Dedup.sketch(docs(
      0L -> base,
      1L -> base)) // ref-internal dup must NOT pair with itself
    val pairs = Dedup.crossCorpusNearDups(fresh, ref)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set(10L -> 0L, 10L -> 1L))
    fresh.unpersist(); ref.unpersist()
  }

  test("bloomPrefilteredMatches is exact despite a high-fpp filter") {
    val incoming = Seq(
      (0L, "match-a"), (1L, "match-b"), (2L, "only-incoming"),
      (3L, "another-miss"), (4L, "match-a")).toDF("doc_id", "head")
    val reference = Seq(
      (10L, "match-a"), (11L, "match-b"), (12L, "ref-only")).toDF("doc_id", "head")
    // fpp 0.5: plenty of Bloom false positives possible — the exact
    // semi-join must still return precisely the true matches
    val res = Dedup.bloomPrefilteredMatches(incoming, reference, "head", fpp = 0.5)
      .orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("head"))
    assert(res.toSeq == Seq(0L -> "match-a", 1L -> "match-b", 4L -> "match-a"))
  }

  test("bloomPrefilteredMatches never drops a true match (no false negatives)") {
    val n = 200
    val incoming = (0L until n.toLong).map(i => (i, s"key-${i % 50}")).toDF("doc_id", "head")
    val reference = (0 until 25).map(j => (1000L + j, s"key-$j")).toDF("doc_id", "head")
    val res = Dedup.bloomPrefilteredMatches(incoming, reference, "head").collect()
    // every incoming row whose key-mod lands in [0, 25) must survive
    assert(res.length == (0 until n).count(_ % 50 < 25))
  }

  test("passageDupMulti unions grain masks; overlapping windows catch non-aligned dups") {
    // grains: (4,4) tiling + (6,2) stride-overlap on tiny docs.
    // docs 0/1 share the 8-token run "p q r s t u v w" at offset 2 in
    // doc 1, so no 4-token tile matches, but the stride-2 6-token
    // windows re-align inside the run: doc0[1..6]==doc1[3..8] and
    // doc0[3..8]==doc1[5..10] -> exactly tokens 1..8 / 3..10 masked.
    val d = docs(
      0L -> "p q r s t u v w x1 y1 z1 w1",
      1L -> "a2 b2 p q r s t u v w x2 y2",
      2L -> "all unique tokens in this document only nine here")
    val out = Dedup.passageDupMulti(d, grains = Seq((4, 4), (6, 2))).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_tokens"))).toMap
    assert(out(2L) == (9L, 0L))
    assert(out(0L) == (12L, 8L))
    assert(out(1L) == (12L, 8L))
    // single-grain tiling alone misses the non-aligned run
    val tiled = Dedup.passageDupMulti(d, grains = Seq((4, 4))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_tokens")).toMap
    assert(tiled(0L) == 0L && tiled(1L) == 0L)
  }

  test("bloomPrefilteredMatches sizes a stats-less (RDD-backed) reference by count, not the sentinel") {
    val incoming = Seq((0L, "k-1"), (1L, "k-2"), (2L, "nope")).toDF("doc_id", "head")
    // parallelize -> LogicalRDD leaf: no rowCount, sizeInBytes = the
    // defaultSizeInBytes sentinel — must fall back to an exact count()
    // instead of building a cap-sized ~2.5 GB sketch (r8 advice #1)
    val reference = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(10L, "k-1"), Row(11L, "k-2"))),
      new StructType().add("doc_id", LongType).add("head", StringType))
    val res = Dedup.bloomPrefilteredMatches(incoming, reference, "head")
      .orderBy("doc_id").collect().map(_.getAs[Long]("doc_id"))
    assert(res.toSeq == Seq(0L, 1L))
  }

  test("bloomPrefilteredMatches refuses a single filter beyond the 2^31-key bound") {
    val incoming = Seq((0L, "k")).toDF("doc_id", "head")
    val reference = Seq((1L, "k")).toDF("doc_id", "head")
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomPrefilteredMatches(incoming, reference, "head",
        expectedKeys = (1L << 31) + 1L)
    }
    assert(e.getMessage.contains("shard"))
  }

  test("bloomPrefilteredMatches sharded mode equals the single-filter result") {
    val incoming = (0L until 60L).map(i => (i, s"key-${i % 30}")).toDF("doc_id", "head")
    val reference = (0L until 20L).map(i => (100L + i, s"key-$i")).toDF("doc_id", "head")
    val single = Dedup.bloomPrefilteredMatches(incoming, reference, "head",
        expectedKeys = 20L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // tiny per-shard cap forces ceil(20/6) = 4 hash shards
    val sharded = Dedup.bloomPrefilteredMatches(incoming, reference, "head",
        expectedKeys = 20L, maxShards = 8, shardCapKeys = 6L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sharded == single)
    // exactness: every incoming row whose key is in the reference, none other
    val expected = (0L until 60L).map(i => (i, s"key-${i % 30}"))
      .filter { case (_, k) => (0L until 20L).exists(j => s"key-$j" == k) }.toSet
    assert(sharded == expected)
    // still refuses when the shard count would exceed the opt-in bound
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomPrefilteredMatches(incoming, reference, "head",
        expectedKeys = 20L, maxShards = 2, shardCapKeys = 6L)
    }
    assert(e.getMessage.contains("maxShards"))
  }

  test("simhash: identical docs share a signature, n_bucket counts them") {
    val d = docs(
      0L -> "spark catalyst tungsten codegen shuffle partition",
      1L -> "spark catalyst tungsten codegen shuffle partition",
      2L -> "entirely different vocabulary with zero overlap whatsoever")
    val s = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("simhash"), r.getAs[Long]("n_bucket"))).toMap
    assert(s(0L)._1 == s(1L)._1)
    assert(s(0L)._2 >= 2L)
    assert(s(0L)._1 >= 0L && s(0L)._1 < (1L << LlmDataParams.simhashBits))
  }

  test("simhash maps a null text to signature 0 (the old SQL ELSE-0 contract)") {
    // The kernel itself is null-intolerant (null in -> null out); the
    // operator-level coalesce preserves the original per-bit CASE
    // spelling, whose null predicate fell through to ELSE 0.
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val d = spark.createDataFrame(
      java.util.Arrays.asList(Row(0L, null), Row(1L, "some actual text here")),
      schema)
    val s = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("simhash")).toMap
    assert(s(0L) == 0L)
    // and the bare kernel really is null-out, so the coalesce is load-bearing
    val raw = d.select(SimHashExpression.simhash(col("text"),
      LlmDataParams.simhashBits).as("sig")).collect()
    assert(raw.exists(_.isNullAt(0)))
  }

  test("spread volume gate: tiny inputs pass through, gate-off spreads") {
    val par = spark.sparkContext.defaultParallelism
    val tiny = docs((0L until 64L).map(i => i -> s"doc $i body"): _*).coalesce(1)
    // estimated size is far under spreadMinBytes -> untouched
    assert(Dedup.spread(tiny).rdd.getNumPartitions == 1)
    // with the gate off, the sub-parallelism input is spread
    assert(Dedup.spread(tiny, minBytes = 0L).rdd.getNumPartitions == par)
    // already-spread inputs are never reshuffled even with the gate off
    val wide = tiny.repartition(par + 4)
    assert(Dedup.spread(wide, minBytes = 0L).rdd.getNumPartitions == par + 4)
  }

  test("SimHashExpression matches the interpreted HOF spelling exactly") {
    import org.apache.spark.sql.functions.{col, expr, split}
    import LlmDataParams.{hexDecode4, simhashBits}
    val bitsSql = (0 until simhashBits).map { k =>
      val p = 1 << k
      s"""(CASE WHEN aggregate(__tv, 0,
         | (acc, v) -> acc + (CASE WHEN (v div $p) % 2 = 1 THEN 1 ELSE -1 END)) >= 0
         | THEN $p ELSE 0 END)""".stripMargin
    }.mkString(" + ")
    val texts = Seq(
      "",                                     // the empty token is a distinct member
      " ",                                    // two empties, one distinct token
      "one",
      "the the the repeated words collapse",
      "  leading  and  trailing  ",
      "Ünïcödé tøkens ☃ 的 是 mixed bytes",
      "a b c d e f g h i j k l m n o p q r s t u v w x y z",
      ("spark shuffle " * 40).trim)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = d
      .withColumn("__w", split(col("text"), " "))
      .withColumn("__tv", expr(
        s"transform(transform(array_distinct(__w), t -> md5(t)), h -> ${hexDecode4("h")})"))
      .select(col("doc_id"),
        expr(s"CAST($bitsSql AS BIGINT)").as("ref"),
        SimHashExpression.simhash(col("text"), simhashBits).as("sig"))
    both.collect().foreach { r =>
      assert(r.getAs[Long]("sig") == r.getAs[Long]("ref"), s"doc ${r.getLong(0)}")
    }
    // fuzz: token fragments with dup/empty/multi-byte collisions
    val frags = Array("the", "a", "", " ", "spark", "的", "Ünï", "😀", "b", "-", "123")
    val rnd = new scala.util.Random(11)
    val fuzz = (0 until 300).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(12)))
        .map(_ => frags(rnd.nextInt(frags.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val fz = fuzz
      .withColumn("__w", split(col("text"), " "))
      .withColumn("__tv", expr(
        s"transform(transform(array_distinct(__w), t -> md5(t)), h -> ${hexDecode4("h")})"))
      .select(col("text"),
        expr(s"CAST($bitsSql AS BIGINT)").as("ref"),
        SimHashExpression.simhash(col("text"), simhashBits).as("sig"))
    fz.collect().foreach { r =>
      assert(r.getAs[Long]("sig") == r.getAs[Long]("ref"),
        s"fuzz '${r.getAs[String]("text")}'")
    }
  }
}
