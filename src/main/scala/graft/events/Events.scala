package graft.events

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / semi-structured surface over the `events` fixture:
  * tumbling windows, JSON extraction (SURVEY §7.4 "props JSON extraction"),
  * and batch sessionization (gap-based), each with a DuckDB oracle.
  *
  * The tumbling-window aggregate is the batch twin of the Structured
  * Streaming transform in [[graft.streaming.StreamingCounts]] — same
  * groupBy(window(...)) DAG, so the oracle indirectly checks the
  * streaming transform too.
  *
  * Scale notes: the window aggregate shuffles on (bucket, event_type) —
  * bounded cardinality; sessionization shuffles once on user_id and then
  * does two linear window passes (lag + running sum) inside each user
  * partition; skewed users are bounded by per-user event counts, not by
  * total data size.
  */
object Events {

  /** All `ts` normalization (nanos-as-long / TIMESTAMP_NTZ / TIMESTAMP)
    * lives in [[graft.sources.EventSource]]; after it, `ts` is a plain
    * session-tz TIMESTAMP and epoch extraction below is legal.
    */
  private def ev(s: SparkSession, dir: String): DataFrame =
    graft.sources.EventSource.load(s, dir)

  val SessionGapMinutes = 30

  /** |z| floor for [[events_anomaly]] rows. 2.0 binds on the fixtures
    * (Poisson-ish hourly counts put ~2–5 % of type-hours past it) while
    * still marking genuinely unusual hours.
    */
  val AnomalyZ = 2.0

  /** Global top-k sessions reported by [[events_top_sessions]]. */
  val TopSessionsK = 10

  /** The gap-based session table behind `events_sessionize` and
    * `events_top_sessions`: lag → gap flag → running-sum session id
    * (two stacked window passes over ONE user_id exchange), then one
    * aggregate per (user, session).
    */
  private def sessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > SessionGapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling 1-hour windows: count + exact sum per (hour, type).
    // Delegates to the shared batch/streaming transform so the oracle
    // certifies the streaming logic too.
    "events_hourly" -> ((s, dir) =>
      graft.streaming.StreamingCounts.hourlyCounts(ev(s, dir))
        .orderBy("hour", "event_type")),
    // JSON field extraction from the string props column.
    "events_json_extract" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          sum(col("k")).as("sum_k"))
        .orderBy("event_type")),
    // Gap-based sessionization (30-min inactivity closes a session):
    // classic lag → gap flag → running-sum session id, all window ops.
    "events_sessionize" -> ((s, dir) =>
      sessions(s, dir).orderBy("user_id", "session_seq")),
    // Global top-k sessions by event count (ties: longest, then user,
    // then seq — a unique total order, so LIMIT is deterministic).
    // orderBy+limit plans as TakeOrderedAndProject: per-partition heaps,
    // k rows to the driver — no global sort even at 100 TB.
    "events_top_sessions" -> ((s, dir) =>
      sessions(s, dir)
        .withColumn("duration_us",
          unix_micros(col("session_end")) - unix_micros(col("session_start")))
        .orderBy(col("n_events").desc, col("duration_us").desc,
          col("user_id").asc, col("session_seq").asc)
        .limit(TopSessionsK)),
    // Strict-order conversion funnel view → click → purchase: each stage
    // timestamp is the user's first matching event AFTER the previous
    // stage's timestamp (a click before ever viewing doesn't convert).
    // Three chained conditional window-mins over ONE user_id exchange —
    // same partitioning, so Catalyst stacks the Window operators on a
    // single shuffle; the final stage histogram is a bounded (≤4-row)
    // aggregate. Timestamps only — no float arithmetic to mirror.
    "events_funnel" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      val staged = ev(s, dir)
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"),
            col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
            col("ts"))).over(w))
      staged
        .select(col("user_id"),
          when(col("t_purchase").isNotNull, 3)
            .when(col("t_click").isNotNull, 2)
            .when(col("t_view").isNotNull, 1)
            .otherwise(0).as("stage"))
        .distinct()
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    }),
    // Hourly anomaly detection: per-type z-scores over a DENSE hour
    // grid (missing hours count 0 — a silent outage IS the anomaly the
    // sparse groupBy would hide). Mean/σ derive from exact integer sums
    // (Σn, Σn², hours) so every double op is a correctly-rounded IEEE
    // step mirrored verbatim in the oracle — no Welford-order drift.
    // Scale notes: the grid is types × hours (bounded, independent of
    // event volume); the hourly aggregate is ONE shuffle with map-side
    // partials. Per-type moments attach via WINDOW aggregates over the
    // dense frame — a stats-groupBy joined back would plan the whole
    // grid+hourly subtree twice (same exchange-reuse defeat the tfidf
    // df-window works around); the window costs one bounded
    // event_type exchange. sd_n > 0 guards the divide in both engines.
    "events_anomaly" -> ((s, dir) => {
      val e = ev(s, dir)
      val hourly = e.groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val span = e.agg(date_trunc("hour", min(col("ts"))).as("h0"),
        date_trunc("hour", max(col("ts"))).as("h1"))
      val grid = e.select("event_type").distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
            .as("hour"))
      val dense = grid.join(hourly, Seq("event_type", "hour"), "left")
        .select(col("event_type"), col("hour"),
          coalesce(col("n"), lit(0L)).as("n"))
      val byType = Window.partitionBy(col("event_type"))
      val meanN = col("s1").cast("double") / col("n_hours").cast("double")
      val sdN = sqrt((col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double") /
          col("n_hours").cast("double")) / col("n_hours").cast("double"))
      val z = (col("n").cast("double") - col("mean_n")) / col("sd_n")
      dense
        .withColumn("n_hours", count(lit(1)).over(byType))
        .withColumn("s1", sum(col("n")).over(byType))
        .withColumn("s2", sum(col("n") * col("n")).over(byType))
        .withColumn("mean_n", meanN)
        .withColumn("sd_n", sdN)
        .withColumn("z", z)
        .filter(col("sd_n") > 0.0 && abs(col("z")) >= AnomalyZ)
        .select("event_type", "hour", "n", "mean_n", "sd_n", "z")
        .orderBy("event_type", "hour")
    }),
    // Cohort retention: users grouped by first-seen day, activity
    // counted per day offset — the engagement matrix behind every
    // retention curve. The cohort day attaches via a window over ONE
    // user_id exchange (no self-join back to a first-seen aggregate);
    // the (cohort, offset) matrix is a bounded-cardinality second
    // aggregate (days², independent of event volume).
    "events_retention" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      ev(s, dir)
        .withColumn("cohort_day", to_date(min(col("ts")).over(w)))
        .select(col("user_id"), col("cohort_day"),
          datediff(to_date(col("ts")), col("cohort_day")).as("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),
    "events_active_users" -> ((s, dir) =>
      activeUsers(ev(s, dir)).orderBy("day"))
  )

  /** Rolling engagement: exact DAU and trailing-7-day WAU per observed
    * day, as ONE linear chain. Event volume collapses first to the
    * distinct (user, day) frame; each active day then CONTRIBUTES to
    * the 7 target days [day, day+6] with its offset, and min(offset)
    * per (user, target) both dedups the window (a user active twice in
    * a window counts once) and marks same-day activity (min = 0 ⟺
    * active ON the target day) — so DAU rides the WAU aggregate for
    * free. A dau-join-wau formulation re-read raw events under both
    * sides (explain-verified before this rewrite); a count-distinct
    * range window Spark doesn't support; a day-range self-join
    * re-shuffles per day. Only observed days are reported (dau > 0; a
    * dense calendar needs a date dimension).
    *
    * Scale notes: one corpus scan; the ×7 explode runs on the
    * (user, day) DISTINCT frame, never on raw events; both downstream
    * aggregates are bounded by users × days.
    */
  def activeUsers(e: DataFrame): DataFrame =
    e.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .select(col("user_id"), col("day").as("aday"),
        explode(sequence(lit(0), lit(6))).as("o"))
      .select(col("user_id"), date_add(col("aday"), col("o")).as("day"),
        col("o"))
      .groupBy("user_id", "day").agg(min(col("o")).as("mo"))
      .groupBy("day").agg(
        sum(when(col("mo") === 0, 1L).otherwise(0L)).as("dau"),
        count(lit(1)).as("wau"))
      .filter(col("dau") > 0)
      .select(col("day"), col("dau"), col("wau"))

  def oracleSql: Map[String, String] = Map(
    // NOTE the decimal→VARCHAR→DOUBLE hop: DuckDB's direct decimal→double
    // cast is not correctly rounded (int128 × 1e-scale in floating point,
    // up to 1 ulp off), while its varchar→double parse IS correctly
    // rounded — matching Spark's BigDecimal.doubleValue exactly.
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "events_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "events_sessionize" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR CAST(epoch(ts) AS BIGINT) - CAST(epoch(lag(ts) OVER w) AS BIGINT) > ${SessionGapMinutes * 60} THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), sessions AS (
         |  SELECT user_id, ts,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         |  FROM flagged
         |)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end
         |FROM sessions
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "events_top_sessions" ->
      s"""WITH flagged AS (
         |  SELECT user_id, ts, event_id,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR CAST(epoch(ts) AS BIGINT) - CAST(epoch(lag(ts) OVER w) AS BIGINT) > ${SessionGapMinutes * 60} THEN 1 ELSE 0 END AS new_session
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), sessions AS (
         |  SELECT user_id, ts,
         |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         |  FROM flagged
         |), agg AS (
         |  SELECT user_id, session_seq, count(*) AS n_events,
         |    min(ts) AS session_start, max(ts) AS session_end,
         |    epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
         |  FROM sessions
         |  GROUP BY 1, 2
         |)
         |SELECT user_id, session_seq, n_events, session_start, session_end,
         |       duration_us
         |FROM agg
         |ORDER BY n_events DESC, duration_us DESC, user_id ASC, session_seq ASC
         |LIMIT $TopSessionsK""".stripMargin,
    "events_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_view
        |  FROM events
        |), s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_click
        |  FROM s1
        |), s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_purchase
        |  FROM s2
        |), staged AS (
        |  SELECT DISTINCT user_id,
        |    CASE WHEN t_purchase IS NOT NULL THEN 3
        |         WHEN t_click IS NOT NULL THEN 2
        |         WHEN t_view IS NOT NULL THEN 1
        |         ELSE 0 END AS stage
        |  FROM s3
        |)
        |SELECT stage, count(*) AS n_users FROM staged
        |GROUP BY stage ORDER BY stage""".stripMargin,
    // Identical dense grid + exact-integer-sum moments; the z filter
    // repeats the mean/sd expressions verbatim so both engines execute
    // the same IEEE op sequence.
    "events_anomaly" ->
      s"""WITH e AS (
         |  SELECT date_trunc('hour', ts) AS hour, event_type FROM events
         |), span AS (
         |  SELECT min(hour) AS h0, max(hour) AS h1 FROM e
         |), grid AS (
         |  SELECT t.event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM (SELECT DISTINCT event_type FROM e) t, span
         |), hourly AS (
         |  SELECT event_type, hour, count(*) AS n FROM e GROUP BY 1, 2
         |), dense AS (
         |  SELECT g.event_type, g.hour, CAST(coalesce(h.n, 0) AS BIGINT) AS n
         |  FROM grid g LEFT JOIN hourly h
         |    ON g.event_type = h.event_type AND g.hour = h.hour
         |), stats AS (
         |  SELECT event_type, count(*) AS n_hours,
         |         CAST(sum(n) AS BIGINT) AS s1,
         |         CAST(sum(n * n) AS BIGINT) AS s2
         |  FROM dense GROUP BY 1
         |), scored AS (
         |  SELECT d.event_type, d.hour, d.n,
         |         CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE) AS mean_n,
         |         sqrt((CAST(s2 AS DOUBLE)
         |             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_hours AS DOUBLE))
         |           / CAST(n_hours AS DOUBLE)) AS sd_n
         |  FROM dense d JOIN stats USING (event_type)
         |)
         |SELECT event_type, hour, n, mean_n, sd_n,
         |       (CAST(n AS DOUBLE) - mean_n) / sd_n AS z
         |FROM scored
         |WHERE sd_n > CAST(0.0 AS DOUBLE)
         |  AND abs((CAST(n AS DOUBLE) - mean_n) / sd_n) >= CAST($AnomalyZ AS DOUBLE)
         |ORDER BY event_type, hour""".stripMargin,
    "events_retention" ->
      """WITH c AS (
        |  SELECT user_id, ts,
        |    CAST(min(ts) OVER (PARTITION BY user_id) AS DATE) AS cohort_day
        |  FROM events
        |)
        |SELECT cohort_day,
        |  CAST(date_diff('day', cohort_day, CAST(ts AS DATE)) AS INT) AS day_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM c
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "events_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), uw AS (
        |  SELECT user_id, day + CAST(o AS INTEGER) AS day,
        |         CAST(min(o) AS BIGINT) AS mo
        |  FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS o)
        |  GROUP BY 1, 2
        |)
        |SELECT day,
        |  CAST(sum(CASE WHEN mo = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
        |  count(*) AS wau
        |FROM uw GROUP BY 1
        |HAVING sum(CASE WHEN mo = 0 THEN 1 ELSE 0 END) > 0
        |ORDER BY day""".stripMargin
  )
}
