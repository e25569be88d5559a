package graft.integrate

import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private val quotes = Seq(
    // key, time, price
    (1L, 10L, 100.0),
    (1L, 20L, 110.0),
    (2L, 15L, 500.0)).toDF("q_key", "q_t", "price")

  private def asof(trades: org.apache.spark.sql.DataFrame) =
    AsOfJoin.asofBackward(trades, quotes,
      leftKey = "t_key", leftTime = "t_t",
      rightKey = "q_key", rightTime = "q_t",
      payloadCols = Seq("price"))

  test("backward join picks the latest right row at or before left time") {
    val trades = Seq(
      (1L, 5L),   // before any quote -> null
      (1L, 10L),  // equal time -> inclusive match 100.0
      (1L, 19L),  // between quotes -> 100.0
      (1L, 25L),  // after both -> 110.0
      (2L, 16L),  // other key -> 500.0
      (3L, 99L))  // unseen key -> null
      .toDF("t_key", "t_t")
    val got = asof(trades).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(got((1L, 5L)).isEmpty)
    assert(got((1L, 10L)).contains(100.0))
    assert(got((1L, 19L)).contains(100.0))
    assert(got((1L, 25L)).contains(110.0))
    assert(got((2L, 16L)).contains(500.0))
    assert(got((3L, 99L)).isEmpty)
  }

  test("tolerance join nulls out stale matches, keeps fresh ones") {
    val trades = Seq(
      (1L, 5L),   // no match at all -> null
      (1L, 12L),  // match at 10, staleness 2 <= 5 -> 100.0
      (1L, 15L),  // staleness 5 == tolerance (inclusive) -> 100.0
      (1L, 16L),  // staleness 6 > 5 -> STALE, null
      (1L, 20L),  // equal-time match, staleness 0 -> 110.0
      (2L, 99L))  // staleness 84 -> null
      .toDF("t_key", "t_t")
    val got = AsOfJoin.asofBackwardTolerance(trades, quotes,
        leftKey = "t_key", leftTime = "t_t",
        rightKey = "q_key", rightTime = "q_t",
        payloadCols = Seq("price"), tolerance = 5L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(got((1L, 5L)).isEmpty)
    assert(got((1L, 12L)).contains(100.0))
    assert(got((1L, 15L)).contains(100.0))
    assert(got((1L, 16L)).isEmpty)
    assert(got((1L, 20L)).contains(110.0))
    assert(got((2L, 99L)).isEmpty)
    // tolerance is a row-local filter on the SAME one-exchange plan:
    // no extra exchange vs the plain backward join
    val plan = AsOfJoin.asofBackwardTolerance(trades, quotes,
        "t_key", "t_t", "q_key", "q_t", Seq("price"), 5L)
      .queryExecution.executedPlan.toString
    val base = asof(trades).queryExecution.executedPlan.toString
    def exchanges(p: String) = "Exchange".r.findAllIn(p).size
    assert(exchanges(plan) == exchanges(base), plan)
  }

  test("forward tolerance join mirrors the staleness guard") {
    val trades = Seq(
      (1L, 8L),   // next quote at 10, wait 2 <= 5 -> 100.0
      (1L, 5L),   // wait 5 == tolerance (inclusive) -> 100.0
      (1L, 4L),   // wait 6 > 5 -> null
      (1L, 20L),  // equal time -> 110.0
      (1L, 21L))  // nothing after -> null
      .toDF("t_key", "t_t")
    val got = AsOfJoin.asofForwardTolerance(trades, quotes,
        leftKey = "t_key", leftTime = "t_t",
        rightKey = "q_key", rightTime = "q_t",
        payloadCols = Seq("price"), tolerance = 5L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(got((1L, 8L)).contains(100.0))
    assert(got((1L, 5L)).contains(100.0))
    assert(got((1L, 4L)).isEmpty)
    assert(got((1L, 20L)).contains(110.0))
    assert(got((1L, 21L)).isEmpty)
  }

  test("forward join picks the earliest right row at or after left time") {
    val trades = Seq(
      (1L, 5L),  // before any quote -> next is 100.0 at t=10
      (1L, 10L), // equal time -> inclusive match 100.0
      (1L, 19L), // -> 110.0 at t=20
      (1L, 25L), // after every quote -> null
      (2L, 10L), // other key -> 500.0 at t=15
      (3L, 1L))  // unseen key -> null
      .toDF("t_key", "t_t")
    val got = AsOfJoin.asofForward(trades, quotes,
        leftKey = "t_key", leftTime = "t_t",
        rightKey = "q_key", rightTime = "q_t",
        payloadCols = Seq("price")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(got((1L, 5L)).contains(100.0))
    assert(got((1L, 10L)).contains(100.0))
    assert(got((1L, 19L)).contains(110.0))
    assert(got((1L, 25L)).isEmpty)
    assert(got((2L, 10L)).contains(500.0))
    assert(got((3L, 1L)).isEmpty)
  }

  test("null keys and times never match; left columns pass through") {
    val trades = Seq(
      (Some(1L), Some(25L), "a"),
      (None, Some(25L), "b"),       // null key -> null payload
      (Some(1L), None, "c"))        // null time -> sorts first, no match
      .toDF("t_key", "t_t", "tag")
    val got = asof(trades).collect()
      .map(r => r.getString(2) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(got("a").contains(110.0))
    assert(got("b").isEmpty)
    assert(got("c").isEmpty)
    // right rows with null key/time are dropped before the union
    val rightNulls = Seq((Option.empty[Long], 10L, 1.0)).toDF("q_key", "q_t", "price")
    val r2 = AsOfJoin.asofBackward(
      Seq((Option.empty[Long], 20L)).toDF("t_key", "t_t"), rightNulls,
      "t_key", "t_t", "q_key", "q_t", Seq("price")).collect()
    assert(r2.length == 1 && r2(0).isNullAt(2))
  }

  test("forward join: null key / null time left rows get null payload") {
    // ADVICE r12 #1: under plain asc a null-time left row sorted FIRST
    // and its forward frame spanned the partition, so it stole the
    // EARLIEST right payload. asc_nulls_last pins the null contract.
    val trades = Seq(
      (Some(1L), Some(5L), "a"),     // real match -> 100.0 at t=10
      (Some(1L), None, "nullt"),     // null time -> must be null, not 100.0
      (None, Some(5L), "nullk"))     // null key -> null payload
      .toDF("t_key", "t_t", "tag")
    val got = AsOfJoin.asofForward(trades, quotes,
        leftKey = "t_key", leftTime = "t_t",
        rightKey = "q_key", rightTime = "q_t",
        payloadCols = Seq("price")).collect()
      .map(r => r.getString(2) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(got("a").contains(100.0))
    assert(got("nullt").isEmpty)
    assert(got("nullk").isEmpty)
  }

  // ------------------------------------------------------ asofNearest

  private def nearest(trades: org.apache.spark.sql.DataFrame) =
    AsOfJoin.asofNearest(trades, quotes,
      leftKey = "t_key", leftTime = "t_t",
      rightKey = "q_key", rightTime = "q_t",
      payloadCols = Seq("price"))

  test("nearest join picks the closer direction; equal distance goes backward") {
    val trades = Seq(
      (1L, 5L),   // only forward exists -> 100.0 at 10, dt 5
      (1L, 13L),  // back dt 3 vs fwd dt 7 -> backward 100.0
      (1L, 18L),  // back dt 8 vs fwd dt 2 -> forward 110.0
      (1L, 15L),  // tie dt 5 -> BACKWARD wins
      (1L, 10L),  // exact hit -> dt 0 backward
      (1L, 99L),  // only backward -> 110.0, dt 79
      (3L, 50L))  // unseen key -> all null
      .toDF("t_key", "t_t")
    val got = nearest(trades).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[String]))))
      .toMap
    assert(got((1L, 5L)) == ((Some(100.0), Some(5L), Some("forward"))))
    assert(got((1L, 13L)) == ((Some(100.0), Some(3L), Some("backward"))))
    assert(got((1L, 18L)) == ((Some(110.0), Some(2L), Some("forward"))))
    assert(got((1L, 15L)) == ((Some(100.0), Some(5L), Some("backward"))))
    assert(got((1L, 10L)) == ((Some(100.0), Some(0L), Some("backward"))))
    assert(got((1L, 99L)) == ((Some(110.0), Some(79L), Some("backward"))))
    assert(got((3L, 50L)) == ((None, None, None)))
  }

  test("nearest join: null key / null time left rows get null matches") {
    val trades = Seq(
      (Option(1L), Option(12L), "a"),    // -> backward 100.0
      (Option(1L), Option.empty[Long], "nullt"),
      (Option.empty[Long], Option(12L), "nullk"))
      .toDF("t_key", "t_t", "tag")
    val got = nearest(trades).collect()
      .map(r => r.getString(2) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap
    assert(got("a").contains(100.0))
    assert(got("nullt").isEmpty)
    assert(got("nullk").isEmpty)
  }

  // exactly one hash-partitioned exchange (the window's) and no join node
  private def assertOneExchange(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert("hashpartitioning".r.findAllIn(plan).size == 1, s"$name: $plan")
    assert(!plan.contains("Join"), s"$name: $plan")
  }

  test("one shuffle: a single window exchange on the key") {
    val trades = Seq((1L, 12L)).toDF("t_key", "t_t")
    val variants = Seq(
      "backward" -> asof(trades),
      "forward" -> AsOfJoin.asofForward(trades, quotes,
        "t_key", "t_t", "q_key", "q_t", Seq("price")),
      "backward tolerance" -> AsOfJoin.asofBackwardTolerance(trades, quotes,
        "t_key", "t_t", "q_key", "q_t", Seq("price"), 5L),
      "forward tolerance" -> AsOfJoin.asofForwardTolerance(trades, quotes,
        "t_key", "t_t", "q_key", "q_t", Seq("price"), 5L))
    for ((name, df) <- variants) assertOneExchange(name, df)
  }

  test("nearest join keeps the family's one-exchange plan") {
    val trades = Seq((1L, 12L)).toDF("t_key", "t_t")
    // both directional windows ride ONE exchange and ONE sort
    assertOneExchange("nearest", nearest(trades))
  }
}
