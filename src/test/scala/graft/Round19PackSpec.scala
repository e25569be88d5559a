package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llmdata.{Multimodal, Sampling, TextAnalysis}

/** Semantic pins for the grouped-prefix-sum packing family and the
  * MSTTR diversity op (the catalog oracles carry the sf-fixture
  * exactness; these pin the invariants on adversarial shapes the
  * sf-fixtures can't reach — groups spanning many partitions, exact
  * tiny-fixture arithmetic, the row-local plan claim). */
class Round19PackSpec extends SparkSpec {
  import spark.implicits._

  test("groupedPrefixSums equals the sequential window spelling on a skewed fixture") {
    // one group large enough to span several of the 4 test partitions,
    // one tiny group, sizes varied so misordered stamps can't cancel
    val items = (0L until 1000L).map(i => ("big", i, i % 7 + 1))
      .++((0L until 5L).map(i => ("tiny", i, i + 100L)))
      .toDF("bucket", "id", "sz")
    val got = Sampling.groupedPrefixSums(items, Some("bucket"), "sz", Seq(col("id")), "cum")
      .select("bucket", "id", "cum")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = items
      .withColumn("cum", sum("sz").over(
        Window.partitionBy("bucket").orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got == want)
  }

  test("groupedPrefixSums: a group's rows really span multiple partitions") {
    // guard that the fixture above exercises the cross-partition offset
    // hand-off instead of degenerating to one partition per group
    val items = (0L until 1000L).map(i => ("big", i, 1L)).toDF("bucket", "id", "sz")
    val stamped = Sampling.groupedPrefixSums(items, Some("bucket"), "sz", Seq(col("id")), "cum")
    assert(stamped.rdd.getNumPartitions > 1)
    val nonEmpty = stamped.rdd
      .mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    assert(nonEmpty > 1, "the big group must span partitions for this pin to bite")
  }

  test("aspectBucketPack: offsets stay under budget, batches contiguous per bucket") {
    val media = Multimodal.asMediaTable(
      (0L until 400L).map(i => (i, ("tok " * ((i % 97).toInt + 1)).trim)).toDF("doc_id", "text"))
    val out = Multimodal.aspectBucketPack(media, pixelBudget = 1000000L)
      .collect()
    assert(out.nonEmpty)
    // an item is never split: every item STARTS inside its batch's budget
    assert(out.forall(_.getAs[Long]("batch_offset_px") < 1000000L))
    // batch ids are 0-based and contiguous per bucket
    out.groupBy(r => (r.getString(1), r.getString(2))).foreach { case (_, rows) =>
      val ids = rows.map(_.getAs[Long]("batch_id")).distinct.sorted.toSeq
      assert(ids.headOption.contains(0L) && ids == (0L until ids.length.toLong).toSeq,
        s"batch ids must be contiguous: ${ids.mkString(",")}")
      // in id order the assignment is monotone (prefix property)
      val byId = rows.sortBy(_.getAs[Long]("media_id")).map(_.getAs[Long]("batch_id"))
      assert(byId.zip(byId.tail).forall { case (a, b) => a <= b })
    }
  }

  test("sourceMsttr: exact tiny-fixture arithmetic, partial tails dropped") {
    val docs = Seq(
      ("s1", 1L, "a b a c b c a"), // 7 tokens, 2 full 3-segments: {a b a}=2, {c b c}=2
      ("s1", 2L, "x y"), //          too short: no full segment, excluded
      ("s2", 3L, "p p p q r s")) //  2 segments: {p p p}=1, {q r s}=3
      .toDF("source", "doc_id", "text")
    val out = TextAnalysis.sourceMsttr(docs, segLen = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // s1: 1 doc used, 2 segments, distinct sum 4, 4e6 div 6 = 666666
    assert(out("s1") == ((1L, 2L, 4L, 666666L)))
    // s2: 1 doc, 2 segments, distinct sum 1 + 3 = 4 -> same ratio
    assert(out("s2") == ((1L, 2L, 4L, 666666L)))
  }

  test("sourceMsttr is row-local: no token explode in the optimized plan") {
    val docs = Seq(("s", 1L, "a b c d")).toDF("source", "doc_id", "text")
    val plan = TextAnalysis.sourceMsttr(docs).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Generate"),
      s"MSTTR must not shuffle token grain:\n$plan")
  }

  test("packEfficiency: overshoot bounded by one item, fill counts recount the pack") {
    val media = Multimodal.asMediaTable(
      (0L until 300L).map(i => (i, ("tok " * ((i % 83).toInt + 1)).trim)).toDF("doc_id", "text"))
    val budget = 500000L
    val packed = Multimodal.aspectBucketPack(media, budget).collect()
    val eff = Multimodal.packEfficiency(media, budget).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("n_batches"),
          r.getAs[Long]("total_px"), r.getAs[Long]("max_batch_px"))).toMap
    val want = packed.groupBy(r => (r.getString(1), r.getString(2))).map {
      case (k, rows) =>
        val byBatch = rows.groupBy(_.getAs[Long]("batch_id"))
          .view.mapValues(_.map(_.getAs[Long]("px")).sum).toMap
        k -> (rows.length.toLong, byBatch.size.toLong,
          rows.map(_.getAs[Long]("px")).sum, byBatch.values.max)
    }
    assert(eff == want)
    // never-split contract: a batch overshoots by strictly less than
    // its last item, so max_batch_px < budget + max item px
    val maxPx = packed.map(_.getAs[Long]("px")).max
    assert(eff.values.forall(_._4 < budget + maxPx))
  }

  test("cross-corpus cap diverges from uncapped on a hot bucket") {
    // the padding-sweep pinned-divergence contract for
    // dedup_cross_corpus(_capped) and dedup_incremental_assign(_capped):
    // at sf0.01 no (band, key) bucket exceeds the cap, so the pairs
    // coincide there — here 25 IDENTICAL new docs share every band
    // bucket, a cap of 20 truncates new ids 21..25 out of all of them,
    // and the two spellings provably differ
    import graft.llmdata.Dedup
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val newDocs = (1L to 25L).map(i => (i, text)).toDF("doc_id", "text")
    val refDocs = Seq((100L, text)).toDF("doc_id", "text")

    val wide = Dedup.crossCorpusNearDups(
        Dedup.sketch(newDocs), Dedup.sketch(refDocs))
      .select("new_id").collect().map(_.getLong(0)).toSet
    val tight = Dedup.crossCorpusNearDups(
        Dedup.sketch(newDocs), Dedup.sketch(refDocs), maxBucket = 20)
      .select("new_id").collect().map(_.getLong(0)).toSet
    assert(wide == (1L to 25L).toSet)
    assert(tight == (1L to 20L).toSet,
      "the cap must truncate the 5 highest new ids out of every bucket")

    val assignWide = Dedup.incrementalAssign(newDocs, refDocs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val assignTight = Dedup.incrementalAssign(newDocs, refDocs, maxBucket = 20)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(assignWide.values.forall(_ == false), "uncapped: every copy attaches")
    assert((21L to 25L).forall(assignTight(_)),
      "capped: truncated docs are declared new — the documented recall trade")
    assert((1L to 20L).forall(!assignTight(_)))
  }

  test("contamination report: the fixed-size eval anchor drops rows past the bound") {
    // the padding-sweep pinned-divergence contract for
    // text_contamination_report(_sampled): at sf0.01 every doc_id sits
    // under the 5000 anchor bound, so the two entries coincide there —
    // this fixture straddles the bound and proves the anchor prunes
    // the eval side (per-doc rows for anchored docs stay identical)
    val dir = java.nio.file.Files.createTempDirectory("graft_anchor").toString
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"), //     eval, anchored
      (5044L, "alpha beta gamma delta epsilon zeta"), //  eval (97*52), PAST the bound
      (1L, "alpha beta gamma delta epsilon zeta"), //     train: exact leak
      (2L, "unrelated words only here")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(name: String): Map[Long, Long] =
      QueryCatalog.queries(name)(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_leaked")).toMap
    val full = rows("text_contamination_report")
    val anchored = rows("text_contamination_report_sampled")
    assert(full.keySet == Set(0L, 5044L))
    assert(anchored.keySet == Set(0L),
      "the anchor must prune eval docs past the fixed bound")
    assert(anchored(0L) == full(0L),
      "an anchored doc's row is identical to its full-report row")
    assert(full(5044L) > 0L)
  }

  test("formatReport cells recount the per-item audit exactly") {
    val media = Multimodal.asMediaTable(
      (0L until 64L).map(i => (i, s"payload $i")).toDF("doc_id", "text"))
    val audit = Multimodal.payloadAudit(media).collect()
    val want = audit.groupBy(r => (r.getString(1), r.getString(4)))
      .map { case (k, rows) =>
        k -> (rows.length.toLong, rows.map(_.getAs[Long]("actual_len")).sum)
      }
    val got = Multimodal.formatReport(media).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("total_bytes"))).toMap
    assert(got == want)
    // shares are exact floor ppm of the corpus total
    val shares = Multimodal.formatReport(media).collect()
      .map(r => r.getAs[Long]("n_items") * 1000000L / 64L ==
        r.getAs[Long]("share_ppm"))
    assert(shares.forall(identity))
  }
}
