package graft.llmdata

import graft.SparkSpec

class SkewToolsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedSum equals the plain aggregation on a hot-key frame") {
    // one key holds 90% of rows
    val rows = (0 until 900).map(i => ("hot", i.toDouble)) ++
      (0 until 100).map(i => (s"k${i % 10}", i.toDouble))
    val df = rows.toDF("key", "v")
    val salted = SkewTools.saltedSum(df, Seq("key"), "v", saltBuckets = 8)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val plain = df.groupBy("key")
      .agg(org.apache.spark.sql.functions.sum("v"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(salted.toSeq == plain.toSeq)
  }

  test("saltedBroadcastJoin matches the plain join result") {
    val big = ((0 until 500).map(i => ("hot", i)) ++ Seq(("cold", -1), ("miss", -2)))
      .toDF("key", "payload")
    val small = Seq(("hot", 1.0), ("cold", 2.0)).toDF("key", "weight")
    val salted = SkewTools.saltedBroadcastJoin(big, small, "key")
    val plain = big.join(small, "key")
    assert(salted.count() == plain.count())
    assert(salted.columns.sorted.toSeq == plain.columns.sorted.toSeq)
    // every hot row got its weight exactly once
    assert(salted.filter($"key" === "hot").count() == 500)
    assert(salted.filter($"key" === "miss").count() == 0)
  }
}
