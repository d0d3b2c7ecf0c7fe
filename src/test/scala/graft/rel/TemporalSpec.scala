package graft.rel

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TemporalSpec extends SparkSpec {

  /** Write a tiny events.parquet and return its fixture dir. */
  private def eventsDir(rows: Seq[(Long, Long, String)]): String = {
    val s = spark; import s.implicits._
    val df = rows.toDF("event_id", "sec", "event_type")
      .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
        lit(1L).as("user_id"), col("event_type"), lit(0.0).as("value"),
        lit("{}").as("props"))
    val tmp = graft.TempDir("graft-tmp")
    df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    tmp.toString
  }

  test("as-of join picks the latest signup at-or-before each error") {
    val dir = eventsDir(Seq(
      (1L, 100L, "signup"),
      (2L, 200L, "error"),   // → signup@100
      (3L, 300L, "signup"),
      (4L, 300L, "error"),   // tie: signup at SAME ts counts (inclusive)
      (5L, 50L, "error")     // before any signup → null
    ))
    val got = Temporal.queries("rel_asof_join")(spark, dir)
      .collect().map(r => r.getLong(1) ->
        Option(r.getTimestamp(3)).map(_.getTime / 1000)).toMap
    assert(got === Map(2L -> Some(100L), 4L -> Some(300L), 5L -> None))
  }

  test("range join finds all pairs ≤ window incl. cross-bucket, excl. beyond") {
    val w = Temporal.RangeWindowSec // 300
    val dir = eventsDir(Seq(
      (1L, 10L, "x"),
      (2L, 299L, "x"),    // same bucket as 1, dt 289 → pair
      (3L, 301L, "x"),    // next bucket: dt(1→3)=291 → pair (cross-bucket!)
      (4L, 10L + w, "x"), // dt(1→4)=300 → pair (inclusive boundary)
      (5L, 10L + w + 1, "x"), // dt(1→5)=301 → NOT a pair with 1
      (6L, 2000L, "x")    // far away → no pairs
    ))
    val got = Temporal.queries("rel_range_join")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val expected = Set(
      (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 3L), (2L, 4L), (2L, 5L),
      (3L, 4L), (3L, 5L), (4L, 5L))
    assert(got === expected)
  }

  test("range join plans an equi-join, not a nested-loop theta join") {
    val plan = Temporal.queries("rel_range_join")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("attribution matches purchases to in-horizon views incl. cross-bucket") {
    val h = Temporal.AttributionHorizonSec // 3600
    val dir = eventsDir(Seq(
      (1L, 100L, "view"),
      (2L, 200L, "view"),
      (3L, 300L, "purchase"),      // → views 1, 2 (same bucket)
      (4L, 100L + h, "purchase"),  // dt(1→4)=3600 inclusive, CROSS-bucket
      (5L, 200L + h, "purchase"),  // view 1 out (dt 3700); view 2 exactly h
      (6L, 50L, "purchase")        // before any view → unattributed
    ))
    val got = Temporal.queries("events_attribution")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (3L, 1L), (3L, 2L),
      (4L, 1L), (4L, 2L),
      (5L, 2L)))
  }

  test("attribution plans an equi-join, not a nested-loop theta join") {
    val plan = Temporal.queries("events_attribution")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }
}
