package graft

import graft.ops.Windows
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WindowsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("transitionMatrix: counts ordered pairs, rows normalize to 1") {
    val ev = Seq(
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),
      (2L, 10L, "click", ts("2024-01-01 11:00:00")),
      (3L, 10L, "view", ts("2024-01-01 12:00:00")),
      (4L, 10L, "click", ts("2024-01-01 13:00:00")),
      (5L, 20L, "view", ts("2024-01-01 10:00:00")),
      (6L, 20L, "purchase", ts("2024-01-01 11:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Windows.transitionMatrix(ev, "user_id", "ts", "event_type",
        col("event_id")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
                (r.getAs[Long]("n"), r.getAs[Double]("p"))).toMap
    // view→click twice, click→view once, view→purchase once
    assert(out(("view", "click")) == ((2L, 0.666667)))
    assert(out(("view", "purchase")) == ((1L, 0.333333)))
    assert(out(("click", "view")) == ((1L, 1.0)))
    assert(out.size == 3)
  }

  test("funnelLatency: first view to first at-or-after purchase, per user") {
    val ev = Seq(
      // user 10: purchase BEFORE any view must not count; next one does
      (1L, 10L, "purchase", ts("2024-01-01 09:00:00")),
      (2L, 10L, "view", ts("2024-01-01 10:00:00")),
      (3L, 10L, "purchase", ts("2024-01-01 10:30:00")),
      // user 20: view but never converts
      (4L, 20L, "view", ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val r = Windows.funnelLatency(ev, "user_id", "ts", "event_type",
                                  "view", "purchase").collect()(0)
    assert(r.getAs[Long]("n_converted") == 1L)
    assert(r.getAs[Double]("mean_latency_s") == 1800.0)
  }

  test("stateIslands: runs break on change, not on time; ties ordered by id") {
    val ev = Seq(
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),
      (2L, 10L, "view", ts("2024-01-01 11:00:00")),
      (3L, 10L, "click", ts("2024-01-01 12:00:00")),
      (4L, 10L, "view", ts("2024-01-01 13:00:00")),  // back to view: NEW island
      (5L, 20L, "view", ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Windows.stateIslands(ev, "user_id", "ts", "event_type", col("event_id"))
      .orderBy(col("user_id"), col("island")).collect()
    assert(out.length == 4)
    val u10 = out.filter(_.getAs[Long]("user_id") == 10L)
    assert(u10.map(r => (r.getAs[Long]("island"), r.getAs[String]("state"),
                         r.getAs[Long]("n_events"))).toSeq ==
           Seq((1L, "view", 2L), (2L, "click", 1L), (3L, "view", 1L)))
  }

  test("rollingDistinct: window unions per-day actives; inactive days unreported") {
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 2L, ts("2024-01-01 11:00:00")),
      (3L, 1L, ts("2024-01-02 10:00:00")),
      // gap: Jan 3-9 inactive
      (4L, 3L, ts("2024-01-10 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val out = Windows.rollingDistinct(ev, "user_id", to_date(col("ts")), 7)
      .collect().map(r => r.getAs[java.sql.Date]("day").toString ->
                          r.getAs[Long]("distinct_7d")).toMap
    // Jan 1: {1,2}; Jan 2: {1,2}; Jan 10: {3} (window Jan 4-10); no rows
    // for the inactive Jan 3-9 even though windows ending there are nonempty
    assert(out == Map("2024-01-01" -> 2L, "2024-01-02" -> 2L, "2024-01-10" -> 1L))
  }

  test("cappedRunningBalance: Lindley reflection equals the sequential clamp fold") {
    // crafted: user 1 clamps once (+5,−10,+3 → balances 5,0,3); user 2
    // never clamps (+5,−2 → 5,3)
    val crafted = Seq(
      (1L, 1L, 5L), (1L, 2L, -10L), (1L, 3L, 3L),
      (2L, 1L, 5L), (2L, 2L, -2L)).toDF("user_id", "seq", "delta")
    val out = Windows.cappedRunningBalance(crafted, "user_id", col("delta"),
        Seq(col("seq"))).collect()
      .map(r => r.getLong(0) -> r).toMap
    val u1 = out(1L)
    assert(u1.getAs[Long]("final_balance") == 3L && u1.getAs[Long]("net_sum") == -2L)
    assert(u1.getAs[Long]("floor_absorbed") == 5L && u1.getAs[Long]("n_floor_hits") == 1L)
    assert(u1.getAs[Long]("peak_balance") == 5L)
    val u2 = out(2L)
    assert(u2.getAs[Long]("final_balance") == 3L && u2.getAs[Long]("floor_absorbed") == 0L)
    assert(u2.getAs[Long]("n_floor_hits") == 0L && u2.getAs[Long]("peak_balance") == 5L)

    // property: 300 pseudorandom deltas across 3 users must match an
    // imperative clamp fold exactly — the identity, not a special case
    val rng = new scala.util.Random(42)
    val rows = (1 to 300).map(i => ((i % 3).toLong, i.toLong, rng.between(-50L, 51L)))
    val got = Windows.cappedRunningBalance(rows.toDF("user_id", "seq", "delta"),
        "user_id", col("delta"), Seq(col("seq"))).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("final_balance"), r.getAs[Long]("n_floor_hits"),
         r.getAs[Long]("peak_balance"), r.getAs[Long]("floor_absorbed"))).toMap
    rows.groupBy(_._1).foreach { case (u, rs) =>
      var bal = 0L; var hits = 0L; var peak = 0L; var absorbed = 0L
      rs.sortBy(_._2).foreach { case (_, _, d) =>
        val raw = bal + d
        if (raw < 0) { hits += 1; absorbed += -raw; bal = 0 } else bal = raw
        peak = math.max(peak, bal)
      }
      assert(got(u) == ((bal, hits, peak, absorbed)), s"user $u")
    }
  }

  test("funnelStages: strict ordering, NULL propagation, out-of-order stages rejected") {
    val ev = Seq(
      // user 1: full ordered funnel
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),
      (2L, 10L, "click", ts("2024-01-01 11:00:00")),
      (3L, 10L, "purchase", ts("2024-01-01 12:00:00")),
      // user 20: click BEFORE first view → stage 2 unreached
      (4L, 20L, "click", ts("2024-01-01 09:00:00")),
      (5L, 20L, "view", ts("2024-01-01 10:00:00")),
      (6L, 20L, "purchase", ts("2024-01-01 11:00:00")),
      // user 30: view only
      (7L, 30L, "view", ts("2024-01-01 10:00:00")),
      // user 40: no view at all → absent from output
      (8L, 40L, "purchase", ts("2024-01-01 10:00:00")),
      // user 50: click at EXACTLY the view instant → strict > rejects it,
      // the later click counts
      (9L, 50L, "view", ts("2024-01-01 10:00:00")),
      (10L, 50L, "click", ts("2024-01-01 10:00:00")),
      (11L, 50L, "click", ts("2024-01-01 10:30:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Windows.funnelStages(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
      .toMap
    assert(out.keySet == Set(10L, 20L, 30L, 50L))
    assert(out(10L) == ((Some(ts("2024-01-01 10:00:00")),
                         Some(ts("2024-01-01 11:00:00")),
                         Some(ts("2024-01-01 12:00:00")))))
    assert(out(20L)._2.contains(ts("2024-01-01 11:00:00")) == false &&
           out(20L)._2.isEmpty && out(20L)._3.isEmpty,
      "pre-view click must not count, and purchase needs a click first")
    assert(out(30L)._2.isEmpty && out(30L)._3.isEmpty)
    assert(out(50L)._2.contains(ts("2024-01-01 10:30:00")),
      "same-instant stage must be rejected by the strict order")
  }

  test("funnelStages: labels with quotes and backslashes stay aligned with their stages") {
    // a SQL string literal would escape or end at these characters and
    // shift the stage array; the labels must match the events verbatim
    val stages = Seq("it's", "a\\b", "\\'", "c")
    val ev = Seq(
      (1L, 10L, stages(0), ts("2024-01-01 10:00:00")),
      (2L, 10L, stages(1), ts("2024-01-01 11:00:00")),
      (3L, 10L, stages(2), ts("2024-01-01 12:00:00")),
      (4L, 10L, stages(3), ts("2024-01-01 13:00:00")),
      // user 20: stage 3 before stage 2 → only stage 2 reached
      (5L, 20L, stages(0), ts("2024-01-01 10:00:00")),
      (6L, 20L, stages(2), ts("2024-01-01 10:30:00")),
      (7L, 20L, stages(1), ts("2024-01-01 11:00:00")),
      // lookalike labels the literal would have produced do not count
      (8L, 30L, "its", ts("2024-01-01 10:00:00")),
      (9L, 40L, stages(0), ts("2024-01-01 10:00:00")),
      (10L, 40L, "ab", ts("2024-01-01 11:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Windows.funnelStages(ev, "user_id", "ts", "event_type", stages)
      .collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => Option(r.getTimestamp(i))))
      .toMap
    assert(out.keySet == Set(10L, 20L, 40L))
    assert(out(10L) == Seq("10", "11", "12", "13").map(h => Some(ts(s"2024-01-01 $h:00:00"))))
    assert(out(20L) == Seq(Some(ts("2024-01-01 10:00:00")), Some(ts("2024-01-01 11:00:00")),
                           None, None))
    assert(out(40L) == Seq(Some(ts("2024-01-01 10:00:00")), None, None, None))
  }

  test("statusHistory: runs compress, intervals chain, ties break on event_id") {
    val ev = Seq(
      (1L, 7L, "a", ts("2024-01-01 10:00:00")),
      (2L, 7L, "a", ts("2024-01-01 10:05:00")), // same run
      (3L, 7L, "b", ts("2024-01-01 10:10:00")), // change
      (4L, 7L, "a", ts("2024-01-01 10:20:00")), // change back → NEW run
      // same-instant tie: event_id order decides run boundary placement
      (5L, 8L, "x", ts("2024-01-01 10:00:00")),
      (6L, 8L, "y", ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Windows.statusHistory(ev, "user_id", "ts", "event_type", col("event_id"))
      .orderBy("user_id", "run_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
                 r.getTimestamp(3), Option(r.getTimestamp(4)), r.getLong(5)))
    val u7 = out.filter(_._1 == 7L)
    assert(u7.map(t => (t._2, t._3, t._6)).toSeq ==
      Seq((1L, "a", 2L), (2L, "b", 1L), (3L, "a", 1L)),
      "equal statuses separated by another status are distinct runs")
    assert(u7(0)._5.contains(ts("2024-01-01 10:10:00")), "valid_to = next run start")
    assert(u7(2)._5.isEmpty, "open interval for the current status")
    val u8 = out.filter(_._1 == 8L)
    assert(u8.map(_._3).toSeq == Seq("x", "y"), "tie broken by event_id")
  }

  test("topEventPaths: windows stay within keys, counts exact, top-k tiebreak") {
    val ev = Seq(
      (1L, 7L, "a", ts("2024-01-01 10:00:00")),
      (2L, 7L, "b", ts("2024-01-01 10:01:00")),
      (3L, 7L, "c", ts("2024-01-01 10:02:00")),
      (4L, 7L, "b", ts("2024-01-01 10:03:00")),
      (5L, 7L, "c", ts("2024-01-01 10:04:00")),
      // user 8 contributes one a>b>c — but no cross-user paths with user 7
      (6L, 8L, "a", ts("2024-01-01 09:00:00")),
      (7L, 8L, "b", ts("2024-01-01 09:01:00")),
      (8L, 8L, "c", ts("2024-01-01 09:02:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = Windows.topEventPaths(ev, "user_id", "ts", "event_type",
        col("event_id"), 3, 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // user 7 paths: a>b>c, b>c>b, c>b>c; user 8: a>b>c
    assert(out.toMap == Map("a>b>c" -> 2L, "b>c>b" -> 1L, "c>b>c" -> 1L))
    assert(out.head == ("a>b>c" -> 2L), "ordered by count desc then path")
    assert(out.map(_._1).toSeq == Seq("a>b>c", "b>c>b", "c>b>c"))
  }

  test("retentionCohorts: first-seen buckets, later-period distinct counts") {
    // 7-day periods anchored at the epoch: 2024-01-01 is day 19723 → per
    // 2817; 2024-01-08 → 2818; 2024-01-15 → 2819
    val ev = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")), // cohort 2817, active p0
      (2L, 100L, ts("2024-01-08 10:00:00")), //            active p1
      (3L, 100L, ts("2024-01-08 12:00:00")), //            same period, dedup
      (4L, 200L, ts("2024-01-01 11:00:00")), // cohort 2817, active p0 only
      (5L, 300L, ts("2024-01-08 09:00:00")), // cohort 2818, p0
      (6L, 300L, ts("2024-01-15 09:00:00"))) //            p1
      .toDF("event_id", "user_id", "ts")
    val out = Windows.retentionCohorts(ev, "user_id", "ts", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((2817L, 0L) -> 2L, (2817L, 1L) -> 1L,
                      (2818L, 0L) -> 1L, (2818L, 1L) -> 1L))
  }

  test("calendarFill: every group covers the GLOBAL span, gaps zero-filled, running totals") {
    def d(s: String) = java.sql.Date.valueOf(s)
    // A present on the span edges with a hole; B only in the middle — B's
    // boundary days and A's hole must materialize as zeros
    val rows = Seq(("A", d("2024-01-01")), ("A", d("2024-01-01")),
                   ("A", d("2024-01-03")), ("B", d("2024-01-02")))
    val out = Windows.calendarFill(rows.toDF("g", "day"), "g", col("day"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
                          (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("A", "2024-01-01") -> ((2L, 2L)), ("A", "2024-01-02") -> ((0L, 2L)),
      ("A", "2024-01-03") -> ((1L, 3L)),
      ("B", "2024-01-01") -> ((0L, 0L)), ("B", "2024-01-02") -> ((1L, 1L)),
      ("B", "2024-01-03") -> ((0L, 1L))))
  }
}
