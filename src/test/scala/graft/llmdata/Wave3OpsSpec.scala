package graft.llmdata

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.enrich.TimeSeriesOps

/** Semantic pins for the t-closeness / seasonal-naive / int8-recall
  * wave.
  */
class Wave3OpsSpec extends SparkSpec {
  import spark.implicits._

  test("tCloseness: identical group distribution = 0, pure group = 1/2") {
    // corpus 50/50 a/b; g1 matches it exactly, g2 is pure-a
    val rows = Seq(
      ("g1", "a"), ("g1", "b"), ("g1", "a"), ("g1", "b"),
      ("g2", "a"), ("g2", "a"))
      .toDF("grp", "lang")
    val out = Curation.tCloseness(rows, Seq("grp"), "lang", tPpm = 300000L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("tvd_ppm"), r.getAs[Boolean]("at_risk")))
      .toMap
    // corpus q = (4/6 a, 2/6 b); g1 p = (1/2, 1/2):
    // tvd = (|2*6-4*4| + |2*6-2*4|) / (2*4*6) = (4+4)/48 = 1/6
    assert(out("g1") == (166666L, false))
    // g2 pure-a vs (2/3, 1/3): tvd = 1/3
    assert(out("g2") == (333333L, true))
  }

  test("tCloseness: group equal to the whole corpus scores exactly 0") {
    val rows = Seq.tabulate(12)(i => ("only", if (i % 3 == 0) "x" else "y"))
      .toDF("grp", "lang")
    val r = Curation.tCloseness(rows, Seq("grp"), "lang").collect().head
    assert(r.getAs[Long]("tvd_ppm") == 0L && !r.getAs[Boolean]("at_risk"))
  }

  test("seasonalNaiveBacktest: weekly-periodic series has zero seasonal error") {
    val day = 86400000000L
    val counts = Seq(1, 2, 3, 4, 5, 6, 7, 1, 2, 3)
    val ev = counts.zipWithIndex
      .flatMap { case (c, d) => Seq.fill(c)(d.toLong * day + 1L) }
      .map(Tuple1(_)).toDF("t_us")
    val out = TimeSeriesOps.seasonalNaiveBacktest(ev, "t_us", day)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("seasonal7") == (3L, 0L, 0L))
    // naive1: |1|+|1|+|1|+|1|+|1|+|1|+|6|+|1|+|1| = 14 over 9 days
    assert(out("naive1") == (9L, 14L, 14000000L / 9L))
  }

  test("int8Recall: well-separated directions survive quantization, recall 1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.9f, 0.1f), 1),
      (4L, Array(0.0f, 0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val out = AnnSearch.int8Recall(emb, col("vec_id") < 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 2)
    out.foreach { case (_, h, rec) => assert(h == 2L && rec == 1.0) }
  }
}
