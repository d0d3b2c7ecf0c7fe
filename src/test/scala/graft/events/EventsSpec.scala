package graft.events

import graft.SparkSpec

class EventsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Events.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("events queries read the nanos fixture without error") {
    for (name <- Seq("events_hourly", "events_json_extract", "events_sessionize"))
      assert(Events.queries(name)(spark, dir).count() > 0, name)
  }

  test("sessionize shuffles once on user_id; both window passes reuse it") {
    val p = plan("events_sessionize")
    // one exchange for the user_id window partitioning, one final agg
    // exchange at most — the lag and running-sum windows must share the
    // same (user_id) partitioning rather than re-shuffling between them
    val exchanges = p.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size >= 1, p.take(1500))
    val userShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles === 1,
      s"expected exactly 1 user_id shuffle, got $userShuffles:\n${p.take(2500)}")
  }

  test("hourly aggregate groups on the window struct, not raw events") {
    val p = plan("events_hourly")
    assert(p.contains("HashAggregate"), p.take(1500))
    // partial aggregation must run before the exchange (map-side combine)
    val idxPartial = p.indexOf("HashAggregate(keys=")
    assert(idxPartial >= 0, p.take(1500))
  }

  test("funnel: all three stage windows share one user_id exchange") {
    val p = plan("events_funnel")
    val userShuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userShuffles === 1,
      s"chained conditional window-mins must reuse one user_id shuffle, " +
        s"saw $userShuffles:\n${p.take(2500)}")
  }

  test("funnel stages match a hand-built trace (strict event order)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      // user 1: full ordered funnel → stage 3
      (1L, 0L, 1L, "view"), (2L, 10L, 1L, "click"), (3L, 20L, 1L, "purchase"),
      // user 2: click BEFORE the first view → conversion denied, stage 1
      (4L, 0L, 2L, "click"), (5L, 10L, 2L, "view"),
      // user 3: purchase without an intervening click → stage 1
      (6L, 0L, 3L, "view"), (7L, 5L, 3L, "purchase"),
      // user 4: never viewed → stage 0
      (8L, 0L, 4L, "error")
    ).toDF("event_id", "min_off", "uid", "event_type")
      .select(col("event_id"), timestamp_seconds(col("min_off") * 60).as("ts"),
        col("uid").as("user_id"), col("event_type"))
    val tmp = graft.TempDir("graft-fn")
    df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    val got = Events.queries("events_funnel")(spark, tmp.toString)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got === Set((0, 1L), (1, 2L), (3, 1L)))
  }

  test("retention matrix matches a hand-built trace") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // user 1 first seen day 0, active days 0 and 2; user 2 first seen
    // day 2, active day 2 twice (counted once) and day 3
    val day = 86400L
    val df = Seq(
      (1L, 0L, 1L), (2L, 2 * day, 1L),
      (3L, 2 * day + 100, 2L), (4L, 2 * day + 200, 2L), (5L, 3 * day, 2L)
    ).toDF("event_id", "sec", "uid")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        col("uid").as("user_id"))
    val tmp = graft.TempDir("graft-rt")
    df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    val got = Events.queries("events_retention")(spark, tmp.toString)
      .collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2))).toSet
    assert(got === Set(
      ("1970-01-01", 0, 1L), ("1970-01-01", 2, 1L),
      ("1970-01-03", 0, 1L), ("1970-01-03", 1, 1L)))
  }

  test("sessionization matches a hand-built trace") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // user 1: events at 0, 10, 50, 100 min → sessions {0,10}, {50}, {100}
    val df = Seq(
      (1L, 0L, 100L), (2L, 10L, 100L), (3L, 50L, 100L), (4L, 100L, 100L),
      (5L, 0L, 200L) // user 2: single event
    ).toDF("event_id", "min_off", "uid")
      .select(col("event_id"),
        timestamp_seconds(col("min_off") * 60).as("ts"),
        col("uid").as("user_id"))
    val tmp = graft.TempDir("graft-ev")
    df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    val got = Events.queries("events_sessionize")(spark, tmp.toString)
      .select("user_id", "session_seq", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((100L, 1L, 2L), (100L, 2L, 1L), (100L, 3L, 1L), (200L, 1L, 1L)))
  }

  test("top sessions: deterministic order, limit, and durations") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // user 100: a 3-event session (0,10,20 min) then a 1-event one;
    // user 200: a 2-event session. Top order: 3-ev, 2-ev, then the two
    // 1-ev sessions by (duration desc → tie) user asc.
    val df = Seq(
      (1L, 0L, 100L), (2L, 10L, 100L), (3L, 20L, 100L), (4L, 100L, 100L),
      (5L, 0L, 200L), (6L, 15L, 200L)
    ).toDF("event_id", "min_off", "uid")
      .select(col("event_id"),
        timestamp_seconds(col("min_off") * 60).as("ts"),
        col("uid").as("user_id"))
    val tmp = graft.TempDir("graft-ev")
    df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    val got = Events.queries("events_top_sessions")(spark, tmp.toString)
      .select("user_id", "session_seq", "n_events", "duration_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (100L, 1L, 3L, 20L * 60 * 1000000),
      (200L, 1L, 2L, 15L * 60 * 1000000),
      (100L, 2L, 1L, 0L)))
    // plans as a TakeOrderedAndProject, not a global sort
    val p = Events.queries("events_top_sessions")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("anomaly flags the spike hour over a DENSE grid (empty hours count)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    // 9 events in hour 0, one in hour 9, nothing between. Over the
    // 10-hour dense grid: mean = 1, var = (82 − 100/10)/10 = 7.2,
    // z(9) = 8/√7.2 ≈ 2.98 — the only row past |z| ≥ 2. A sparse
    // groupBy (8 missing hours dropped) would yield mean 5, sd 4 and
    // flag NOTHING — the dense grid is the point of the test.
    val rows = (1 to 9).map(i => (i.toLong, i.toLong, 1L, "click")) :+
      (10L, 9L * 3600, 1L, "click")
    val df = rows.toDF("event_id", "sec", "uid", "event_type")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        col("uid").as("user_id"), col("event_type"))
    val tmp = graft.TempDir("graft-an")
    df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    val got = Events.queries("events_anomaly")(spark, tmp.toString).collect()
    assert(got.length === 1, got.mkString("; "))
    val r = got.head
    assert(r.getAs[Long]("n") === 9L)
    assert(r.getAs[Double]("mean_n") === 1.0)
    assert(math.abs(r.getAs[Double]("z") - 8.0 / math.sqrt(7.2)) < 1e-12)
  }

  test("active users: DAU and trailing-7-day WAU match a hand trace") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    val day = 86400L
    // u1 active days 0 and 8; u2 active day 0 (twice — distinct must
    // collapse it); u3 active day 5
    val rows = Seq(
      (1L, 0L * day, 1L), (2L, 8L * day + 3600, 1L),
      (3L, 0L * day + 60, 2L), (4L, 0L * day + 120, 2L),
      (5L, 5L * day, 3L))
    val e = rows.toDF("event_id", "sec", "user_id")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        col("user_id"), lit("click").as("event_type"))
    val got = Events.activeUsers(e).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    // observed days: 0 (u1,u2), 5 (u3), 8 (u1)
    assert(got.keySet === Set("1970-01-01", "1970-01-06", "1970-01-09"))
    assert(got("1970-01-01") === ((2L, 2L))) // window [-6,0]: u1,u2
    assert(got("1970-01-06") === ((1L, 3L))) // window [-1,5]: u1,u2,u3
    assert(got("1970-01-09") === ((1L, 2L))) // window [2,8]: u3(d5),u1(d8)
  }
}
