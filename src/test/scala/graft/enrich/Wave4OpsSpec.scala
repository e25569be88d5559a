package graft.enrich

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llmdata.AnnSearch

/** Semantic pins for the seasonal-residual / lifetime-histogram /
  * recall-curve wave.
  */
class Wave4OpsSpec extends SparkSpec {
  import spark.implicits._

  private val hourUs = 3600000000L

  test("seasonalResidualOutliers: a planted same-cell spike is the only flag") {
    // 4 weeks of hourly traffic: every hour gets 10 events, except ONE
    // Tuesday 3pm gets 30 (its cell mean stays ~15 across 4 Tuesdays)
    val spikeHour = (2L * 24L + 15L) + 7L * 24L // second Tuesday, 15:00
    val ev = (0 until 28 * 24).flatMap { hr =>
      val n = if (hr.toLong == spikeHour) 30 else 10
      Seq.fill(n)(hr.toLong * hourUs + 1L)
    }.map(Tuple1(_)).toDF("t_us")
    val out = TimeSeriesOps.seasonalResidualOutliers(ev, "t_us",
      thresholdPpm = 500000L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == spikeHour)
    assert(r.getLong(1) == 30L)
    // cell mean: (30 + 3*10)/4 = 15 -> dev = 30/15 - 1 = +100%
    assert(r.getLong(4) == 15000000L)
    assert(r.getLong(5) == 1000000L)
  }

  test("seasonalResidualOutliers: all-zero cells never flag") {
    // events only in hour-of-day 0; the other 23 cells are all-zero
    // and must NOT be reported as -100% anomalies
    val ev = Seq(0L, 24L, 48L).flatMap(h => Seq.fill(5)(h * hourUs))
      .map(Tuple1(_)).toDF("t_us")
    val out = TimeSeriesOps.seasonalResidualOutliers(ev, "t_us",
      thresholdPpm = 100000L).collect()
    assert(out.isEmpty)
  }

  test("lifetimeHistogram: exact lifetimes, active days, shares") {
    val day = 86400000000L
    // u1: days 0 and 9 (lifetime 10, active 2); u2: day 3 only
    // (lifetime 1); u3: days 5,6,7 (lifetime 3, active 3)
    val ev = Seq((1L, 0L), (1L, 9L), (2L, 3L), (3L, 5L), (3L, 6L), (3L, 7L))
      .map { case (u, d) => (u, d * day + 1L) }.toDF("user_id", "t_us")
    val out = TimeSeriesOps.lifetimeHistogram(ev, "user_id", "t_us")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(out(10L) == (1L, 2L, 333333L))
    assert(out(1L) == (1L, 1L, 333333L))
    assert(out(3L) == (1L, 3L, 333333L))
  }

  test("ivfRecallCurve: monotone hits, parity with ivfRecall at k") {
    val rows = (0L until 24L).map { i =>
      val base = if (i % 2 == 0) 0.5 else -0.5
      i -> (0 until 4).map(d => base + 0.01 * ((i + d) % 5))
    }
    val d = rows.toDF("vec_id", "embedding")
    val curve = AnnSearch.ivfRecallCurve(d, col("vec_id") < 4, Seq(1, 3, 5))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(curve.map(_._1).toSeq == Seq(1L, 3L, 5L))
    curve.foreach { case (_, nq, _, rm) =>
      assert(nq == 4L && rm >= 0L && rm <= 1000000L)
    }
    // hits monotone in k (truth_k and ivf_k both grow with k)
    val hits = curve.map(_._3)
    assert(hits.toSeq == hits.sorted.toSeq)
    // parity with the single-k recall op at k = 3
    val single = AnnSearch.ivfRecall(d, col("vec_id") < 4, 3)
      .agg(sum("n_hits")).collect().head.getLong(0)
    assert(curve.find(_._1 == 3L).get._3 == single)
  }
}
