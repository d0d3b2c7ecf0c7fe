package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Temporal join operators Spark lacks as primitives, composed
  * Spark-first from windows and banded equi-joins — checked against
  * DuckDB's NATIVE ASOF JOIN / inequality joins, so the oracle is a
  * genuinely independent implementation.
  *
  * Scale notes:
  *  - as-of: ONE shuffle on user_id and a single forward-scan window —
  *    the classic union-tag + last_value(ignoreNulls) composition. No
  *    join at all, so no skew risk beyond the per-user event counts.
  *  - range join: time-banded self equi-join — each left row fans out
  *    to its own and the successor 5-minute bucket, so the join is a
  *    pure equi-join on (user, bucket) and the exact predicate only
  *    runs on in-bucket candidates. At 100 TB the bucket width trades
  *    fanout (2×) against candidate density; a naive theta-join would
  *    be a cross product per user.
  */
object Temporal {

  /** Range-join window width (and as-of anchor gap), seconds. */
  val RangeWindowSec = 300L

  /** Attribution lookback horizon, seconds: a purchase is attributed to
    * every view by the same user at-or-before it within this window.
    */
  val AttributionHorizonSec = 3600L

  private def ev(s: SparkSession, dir: String): DataFrame =
    graft.sources.EventSource.load(s, dir)

  lazy val specs: Map[String, QuerySpec] = Map(
    // As-of join: for every 'error' event, the most recent 'signup' of
    // the same user at-or-before it. Union-tag + last_value(ignoreNulls)
    // over one user_id window — signups sort before errors on ties, so
    // "at or before" is inclusive, matching ASOF's e.ts >= s.ts.
    "rel_asof_join" -> QuerySpec((s, dir) => {
      val e = ev(s, dir)
      val tagged = e.filter(col("event_type").isin("error", "signup"))
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "signup", 0).otherwise(1).as("kind"),
          when(col("event_type") === "signup", col("ts")).as("signup_ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_signup_ts",
          last(col("signup_ts"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("last_signup_ts"))
        .orderBy("user_id", "event_id")
    },
      // DuckDB's native ASOF JOIN — an independent implementation of the
      // same semantics (largest s.ts with s.ts <= e.ts per error row).
      """SELECT e.user_id, e.event_id, e.ts, s.ts AS last_signup_ts
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.user_id, e.event_id""".stripMargin),
    // Range self-join: ordered pairs of same-user events ≤ 5 min apart.
    // Banded: left rows emit (bucket, bucket+1) keys; the right row's
    // single bucket makes each candidate pair match exactly once.
    // Integer `div` (not floor over double division) keeps the banding
    // exact by construction for any epoch-microsecond magnitude — the
    // double path is exact only while us/width stays inside the
    // half-ulp-below-1µs window (fine for centuries, but why rely on it).
    "rel_range_join" -> QuerySpec((s, dir) => {
      val base = ev(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val winUs = RangeWindowSec * 1000000L
      val left = base
        .withColumn("boff", explode(array(lit(0L), lit(1L))))
        .select(col("user_id"),
          (expr(s"us div ${winUs}L") + col("boff")).as("bucket"),
          col("event_id").as("event_a"), col("us").as("us_a"))
      val right = base
        .select(col("user_id"), expr(s"us div ${winUs}L").as("bucket"),
          col("event_id").as("event_b"), col("us").as("us_b"))
      left.join(right, Seq("user_id", "bucket"))
        .filter((col("us_a") < col("us_b") ||
          (col("us_a") === col("us_b") && col("event_a") < col("event_b"))) &&
          col("us_b") - col("us_a") <= winUs)
        .select(col("user_id"), col("event_a"), col("event_b"),
          (col("us_b") - col("us_a")).as("dt_us"))
        .distinct()
        .orderBy("user_id", "event_a", "event_b")
    },
      s"""SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
         |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
         |FROM events a JOIN events b
         |  ON a.user_id = b.user_id
         | AND (epoch_us(a.ts) < epoch_us(b.ts)
         |      OR (epoch_us(a.ts) = epoch_us(b.ts) AND a.event_id < b.event_id))
         | AND epoch_us(b.ts) - epoch_us(a.ts) <= ${RangeWindowSec * 1000000L}
         |ORDER BY a.user_id, event_a, event_b""".stripMargin),
    // Multi-touch attribution: every (purchase, view) pair per user with
    // the view at-or-before the purchase inside the 1 h horizon. Banded
    // like rel_range_join, with the roles split across two event types:
    // views carry their single horizon bucket, purchases probe (bucket,
    // bucket−1) — each qualifying pair matches in exactly one bucket, so
    // no post-join distinct is needed. The streaming twin
    // ([[graft.streaming.StreamingAttribution]]) expresses the SAME
    // predicate as a watermarked stream-stream interval join; its spec
    // pins replay equivalence against this query.
    "events_attribution" -> QuerySpec((s, dir) => {
      val hUs = AttributionHorizonSec * 1000000L
      val base = ev(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val views = base.filter(col("event_type") === "view")
        .select(col("user_id"), expr(s"us div ${hUs}L").as("bucket"),
          col("event_id").as("view_id"), col("us").as("v_us"))
      val purchases = base.filter(col("event_type") === "purchase")
        .withColumn("boff", explode(array(lit(0L), lit(1L))))
        .select(col("user_id"),
          (expr(s"us div ${hUs}L") - col("boff")).as("bucket"),
          col("event_id").as("purchase_id"), col("us").as("p_us"))
      purchases.join(views, Seq("user_id", "bucket"))
        .filter(col("v_us") <= col("p_us") && col("v_us") >= col("p_us") - hUs)
        .select(col("user_id"), col("purchase_id"), col("view_id"),
          (col("p_us") - col("v_us")).as("dt_us"))
        .orderBy("user_id", "purchase_id", "view_id")
    },
      s"""SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
         |       epoch_us(p.ts) - epoch_us(v.ts) AS dt_us
         |FROM events p JOIN events v
         |  ON p.user_id = v.user_id
         | AND p.event_type = 'purchase' AND v.event_type = 'view'
         | AND epoch_us(v.ts) <= epoch_us(p.ts)
         | AND epoch_us(v.ts) >= epoch_us(p.ts) - ${AttributionHorizonSec * 1000000L}
         |ORDER BY p.user_id, purchase_id, view_id""".stripMargin)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = QuerySpec.builds(specs)
}
