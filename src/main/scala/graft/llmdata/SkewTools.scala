package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for hot-key workloads (builder brief:
  * "skewed keys -> salting or AQE skew-join"). AQE handles moderate
  * partition skew at runtime; these are the explicit plans for the
  * pathological cases AQE cannot split — a single key holding a double-
  * digit percentage of the data (the classic web-corpus boilerplate /
  * null-key / hot-entity shapes).
  */
object SkewTools {

  /** Two-stage salted aggregation: a deterministic salt spreads each
    * key over `saltBuckets` partial groups (stage 1 combines map-side
    * AND caps any key's partition at 1/saltBuckets of its rows), then
    * the partials merge in a second, tiny aggregation. Works for any
    * algebraic aggregate expressed as (partial, merge) column pairs.
    *
    * `sumBySalt(df, keys, valueCol)` specializes to the common
    * count/sum case.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
                saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets > 0)
    val salted = df.withColumn("__salt",
      pmod(hash(col(valueCol), monotonically_increasing_id()), lit(saltBuckets)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pcnt"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as(s"sum_$valueCol"), sum(col("__pcnt")).as("cnt"))
  }

  /** Salted broadcast-replicated join for a skewed LEFT key space: the
    * big (skewed) side gets a random-ish salt in [0, n); the small side
    * is exploded n ways so every salted key still finds its match, then
    * broadcast. The join key space becomes (key, salt), so one hot key
    * spreads over n tasks instead of one straggler.
    */
  def saltedBroadcastJoin(big: DataFrame, small: DataFrame, key: String,
                          saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets > 0)
    val saltedBig = big.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()), lit(saltBuckets)))
    val replicated = small
      .withColumn("__salt", explode(array((0 until saltBuckets).map(lit): _*)))
    saltedBig
      .join(broadcast(replicated), Seq(key, "__salt"))
      .drop("__salt")
  }
}
