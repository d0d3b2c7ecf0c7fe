package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §7.4 streaming variant).
  *
  * Design rule: every streaming computation is the SAME transform as its
  * batch twin — a pure `DataFrame => DataFrame` applied to either a
  * `read` or a `readStream` source. The batch side is what the DuckDB
  * oracle checks (events_hourly in [[graft.events.Events]] delegates to
  * [[StreamingCounts.hourlyCounts]]), so oracle-green batch results
  * certify the streaming transform's logic; the streaming specs then
  * cover what batch can't: watermarks, incremental state, timeouts.
  */
object StreamingCounts {

  /** Exact order-independent money sum (see Events scaladoc). */
  def dsum(c: Column): Column =
    sum(c.cast("decimal(28,10)")).cast("double")

  /** Tumbling 1-hour count+sum per (hour, event_type) — usable unchanged
    * on a static or a streaming DataFrame.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))

  /** Streaming form: bound state with a watermark so closed windows are
    * finalized and dropped from state.
    */
  def hourlyCountsStreaming(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    hourlyCounts(events.withWatermark("ts", watermark))
}

/** Streaming twin of the batch `events_anomaly` query: scores each
  * watermark-finalized hourly window against a STATIC reference-stats
  * side input (event_type, mean_n, sd_n — e.g. last month's moments
  * from the batch audit) and emits windows past the |z| floor while
  * they are still actionable.
  *
  * Deliberate divergence from batch, documented: a count stream can
  * only score hours it OBSERVED — a zero-event outage hour produces no
  * window and so no alert here; the batch dense-grid audit is the
  * retroactive outage detector, the stream is the in-flight spike
  * detector. For observed hours the z arithmetic is the batch
  * expression verbatim (StreamingAnomalySpec pins row-level parity).
  *
  * Scale notes: the stats frame is ≤|event types| rows and BROADCASTS
  * into a stream-static join BEFORE the aggregation (mean/sd are
  * per-type constants, so they ride the groupBy as extra keys without
  * changing its cardinality) — joining after the aggregate instead
  * strips the event-time watermark and append mode rejects the plan.
  * State stays bounded by the watermark exactly as in
  * [[StreamingCounts.hourlyCountsStreaming]].
  */
object StreamingAnomaly {

  def score(events: DataFrame, stats: DataFrame,
      zFloor: Double = graft.events.Events.AnomalyZ,
      watermark: String = "1 hour"): DataFrame = {
    val z = (col("n").cast("double") - col("mean_n")) / col("sd_n")
    events.withWatermark("ts", watermark)
      .join(broadcast(stats), "event_type")
      // group by the window STRUCT — extracting .start inside the key
      // severs the watermark link and append mode rejects the plan
      .groupBy(window(col("ts"), "1 hour"),
        col("event_type"), col("mean_n"), col("sd_n"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hour", col("window").getField("start"))
      .withColumn("z", z)
      .filter(col("sd_n") > 0.0 && abs(col("z")) >= zFloor)
      .select("event_type", "hour", "n", "mean_n", "sd_n", "z")
  }
}

/** Exact dedup-on-arrival: the streaming twin of the batch
  * `dedup_apply` query ([[graft.dedup.Dedup]]). A document is emitted
  * iff its normalized-text hash has never been seen; later copies are
  * dropped as they arrive. This is how a training-data INGEST pipeline
  * actually runs dedup — continuously, against everything already
  * admitted — rather than as a periodic full-corpus batch.
  *
  * Keeper semantics: the batch twin keeps min(doc_id) per hash; the
  * stream keeps the FIRST ARRIVAL (ties within a micro-batch broken by
  * doc_id, so a single-batch replay of a static corpus emits exactly
  * the batch twin's keeper set — the spec pins this equivalence).
  * Across batches, first-arrival is the only keeper a stream can
  * implement without reordering history; the hash set itself (and so
  * WHICH texts are deduplicated) is identical either way.
  *
  * Scale notes: state is one ~64-byte entry per DISTINCT text, keyed by
  * the 256-bit hash — the same cryptographic-width identity as batch
  * exact dedup (64-bit keys make birthday collisions an expected event
  * at 10^10 docs, and a collision here silently DROPS a distinct
  * document). State lives in the state store (RocksDB-backed on a real
  * cluster), partitioned by hash — the stream shuffles each micro-batch
  * once, exactly like the batch groupBy. No timeout: exact dedup state
  * is permanent by definition; a deployment that cannot afford
  * unbounded state chooses [[dedupTtl]] — a retention window on the
  * watermark clock — and accepts re-admitted duplicates past it.
  */
object StreamingDedup {

  case class Doc(doc_id: Long, text: String)
  case class Kept(doc_id: Long, text_hash: String)

  def dedup(docs: Dataset[Doc]): Dataset[Kept] = {
    import docs.sparkSession.implicits._
    dedupHashed(docs
      .filter(d => d.text != null && d.text.nonEmpty)
      .map(d => (graft.streaming.StreamingDedup.hashOf(d.text), d.doc_id)))
  }

  /** The stateful core of [[dedup]] on a pre-hashed (text_hash, doc_id)
    * stream — split out so the driver-oracle replay ([[replayDedup]])
    * can feed it through a MemoryStream without shipping document TEXT
    * through the driver (hashes are computed distributed; only the
    * 80-byte (hash, id) pairs transit the replay source).
    */
  def dedupHashed(hashed: Dataset[(String, Long)]): Dataset[Kept] = {
    import hashed.sparkSession.implicits._
    hashed
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, Kept](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (hash: String, batch: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty // hash already admitted
          else {
            // min doc_id within the micro-batch: deterministic, and
            // equal to the batch twin's keeper when all copies share a
            // batch
            val keeper = batch.map(_._2).min
            state.update(keeper)
            Iterator.single(Kept(keeper, hash))
          }
      }
  }

  /** Same normalization + hash as the batch twin (sha2(lower(text))). */
  def hashOf(text: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(text.toLowerCase(java.util.Locale.ROOT).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  /** Micro-batch count for [[replayDedup]]'s deterministic replay —
    * matches [[StreamingChiSquare.NumReplayBatches]]' convention.
    */
  val NumReplayBatches = 3

  /** Streaming REPLAY of [[dedup]] for the driver's oracle gate (the
    * X101 move, VERDICT r15 ask #5): the fixture is split into
    * [[NumReplayBatches]] deterministic micro-batches in ARRIVAL order
    * (= doc_id order — contiguous doc_id slices, so the streaming
    * first-arrival keeper coincides with the batch twin's min-doc_id
    * keeper; a mod-N split would put a hash's later copy in an earlier
    * batch and diverge by design, not by bug) and driven through the
    * REAL `flatMapGroupsWithState` operator via a MemoryStream, one
    * `processAllAvailable` per batch. The kept set then answers
    * `dedup_apply`'s DuckDB oracle bit-for-bit.
    *
    * Driver-boundedness (r17, VERDICT r16 ask #2): hashing runs
    * DISTRIBUTED (`sha2(lower(text))` — certified ≡ [[hashOf]] by
    * StreamingDedupSpec), and the feed is BOUNDED — MemoryStream is
    * driver-fed by contract, but the pairs now stream through
    * `toLocalIterator` over the doc_id-sorted table (one partition
    * resident at a time) in ≤ [[ReplayFeedRows]] sub-chunks, and the
    * kept rows leave through a distributed parquet sink instead of the
    * driver-resident memory sink. Through r16 the build `collect()`ed
    * every pair AND buffered every kept row on the driver — at sf100
    * that was the suite's peak-heap entry (~48 GiB) and at real corpus
    * scale a driver OOM by construction. Peak driver residency is now
    * one fetched partition + one sub-chunk, independent of corpus rows.
    * Still a replay HARNESS, not a production path: a real deployment
    * attaches [[dedup]] to a distributed source
    * ([[graft.streaming.StreamingChiSquare.attach]] shape) and never
    * funnels the corpus; a backfill uses the batch twin.
    *
    * Sub-chunk invariance (why bounding the feed cannot change the
    * result): the feed is globally doc_id-ASCENDING, so the first
    * micro-batch containing a hash contains its minimal doc_id, and the
    * first-arrival keeper equals the batch twin's min(doc_id) keeper
    * under ANY contiguous split — 3 slices, or 3 slices refined into
    * bounded sub-batches (StreamingDedupSpec pins a forced many-batch
    * replay against the batch twin). At sf0.1 a slice fits one
    * sub-chunk, so the replay still runs exactly [[NumReplayBatches]]
    * micro-batches.
    *
    * Store discipline: built once per (app, dir) by [[graft.Memo.store]],
    * whose applicationId keying makes a fresh JVM always pay the build.
    */
  def replayDedup(s: SparkSession, dir: String): DataFrame = {
    val store = graft.Memo.store(s, dir, "dedup_replay_store")(buildKeptStore(s, dir, _))
    graft.sources.Tables.parquet(s, dir, "documents")
      .join(s.read.parquet(store.resolve("kept.parquet").toString), Seq("doc_id"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Driver-resident feed bound: max (hash, doc_id) pairs added to the
    * MemoryStream per micro-batch. ~25 MB of tuples at the default —
    * small enough to bound the driver, large enough that the fixture
    * SFs keep their exact [[NumReplayBatches]]-batch replay.
    */
  val ReplayFeedRows: Int = 1 << 18

  /** The replay build: hash distributed, feed the real streaming
    * operator in doc_id order through bounded sub-chunks, sink the kept
    * rows to `<store>/kept.parquet` via the (distributed) parquet
    * streaming sink. Split out of [[replayDedup]] so the spec can drive
    * it with a tiny `feedRows` into a scratch store and pin sub-chunk
    * invariance.
    */
  private[streaming] def buildKeptStore(s: SparkSession, dir: String,
      store: java.nio.file.Path, feedRows: Int = ReplayFeedRows): Unit = {
    import s.implicits._
    val kept = store.resolve("kept.parquet").toString
    val pairsDf = graft.sources.Tables.parquet(s, dir, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(sha2(lower(col("text")), 256).as("_1"),
        col("doc_id").as("_2"))
    val n = pairsDf.count()
    // zero admitted rows: no stream to run — write the empty keeper
    // table directly so the lazy join-back still reads
    if (n == 0) {
      s.range(0).select(col("id").as("doc_id")).write.parquet(kept)
      return
    }
    val per = math.max(1L, (n + NumReplayBatches - 1) / NumReplayBatches)
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val src =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val q = dedupHashed(src.toDS()).toDF().select("doc_id")
      .writeStream.format("parquet")
      .option("path", kept)
      .option("checkpointLocation", store.resolve("sink_ckpt").toString)
      .outputMode("append").start()
    try {
      val it = pairsDf.orderBy(col("_2")).as[(String, Long)].toLocalIterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      def flush(): Unit = if (buf.nonEmpty) {
        src.addData(buf.toSeq)
        q.processAllAvailable()
        buf.clear()
      }
      var fed = 0L
      var sliceEnd = per // logical-batch boundary: always flushed
      while (it.hasNext) {
        buf += it.next()
        fed += 1
        if (fed == sliceEnd || buf.size >= feedRows) {
          flush()
          if (fed == sliceEnd) sliceEnd += per
        }
      }
      flush()
    } finally q.stop()
  }

  /** Driver-contract registry surface for the streaming dedup arm. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("dedup_streaming_replay" -> ((s, dir) => replayDedup(s, dir)))

  val specs: Map[String, graft.QuerySpec] = Map(
    "dedup_streaming_replay" -> graft.QuerySpec(replayConf,
      graft.QuerySpec.Memoized(
        "NOTHING to the driver: the replay feeds ≤ ReplayFeedRows-row chunks through a MemoryStream into the kept-set parquet store ONCE per (app, dir) behind a completion marker; later builds read the store",
        "one doc_id row per kept document")))

  /** Scoped conf for the two replay builds (this one and the χ²
    * maintainer's, r16): a stateful streaming micro-batch commits ONE
    * state-store instance per shuffle partition per batch, so the
    * replay pays `partitions × NumReplayBatches` store snapshot/commit
    * rounds (file creates under the checkpoint dir) regardless of data
    * volume — at the session's 32 partitions that was 96 commits to
    * dedupe a 584 KB fixture (the dominant term of the 4.3 s
    * first-build wall). Partition count scales with the
    * fixture's documents bytes at the pair-shuffle sizing
    * ([[graft.dedup.Dedup.PairBytesPerTask]] ≈ 1 MB of keyed state per
    * partition), floored at 4 so the replay still exercises
    * multi-partition state merge, and CAPPED AT `cpus`: state-store
    * instances beyond the executor slot count multiply commit rounds
    * without adding parallelism (measured at sf10: 58 partitions built
    * in 12.0 s vs 32 in 9.9 s), and per-store state stays bounded at
    * bytes/cpus (≈18 MB at sf100 on 32 slots — comfortably inside a
    * store instance; on a real cluster `cpus` is the total slot count
    * and scales with it). sf0.1 → 4, sf10/sf100 → cpus. Cannot change
    * results: the kept set is decided per key whatever the
    * key→partition mapping, and every consumer re-sorts (the χ²
    * replay's store tables are re-aggregated to the same exact counts
    * under any partitioning).
    */
  def replayConf(sfDir: String, cpus: Int): Map[String, String] = {
    val parts = math.max(4L, math.min(cpus.toLong,
      graft.rel.Relational.pathBytes(s"$sfDir/documents.parquet")
        / graft.dedup.Dedup.PairBytesPerTask)).toInt
    Map("spark.sql.shuffle.partitions" -> parts.toString)
  }

  /** The replay must reproduce the batch keeper set exactly, so it
    * shares `dedup_apply`'s oracle.
    */
  def oracleSql: Map[String, String] =
    Map("dedup_streaming_replay" ->
      graft.dedup.Dedup.oracleSql("dedup_apply"))

  /** Timestamped arrival for [[dedupTtl]] — `ts` is the doc's ingest
    * event time, the clock the TTL eviction runs on.
    */
  case class TsDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Per-hash state for the TTL variant: the admitted keeper plus the
    * max event time that touched the hash (the idle clock's zero
    * point).
    */
  case class TtlSeenState(keeper: Long, lastTouchMs: Long)

  /** [[dedup]] with an EVENT-TIME state TTL — the bounded-state
    * production shape, the same move [[StreamingNearDup.candidatesTtl]]
    * makes for LSH buckets. Without a TTL, [[dedup]] keeps one state
    * row per EVER-SEEN text hash — exact-dedup state is permanent by
    * definition, so on an endless ingest the store grows ∝ distinct
    * corpus and eventually exhausts it. Here a hash untouched (neither
    * admitted nor re-suppressed) for `ttlMs` of EVENT time evicts via
    * `EventTimeTimeout` — the watermark clock, so a checkpoint replay
    * or backfill burst reproduces the same evictions, and the engine
    * quiesces with the data (no empty wall-clock re-batches).
    *
    * Documented semantics consequence (spec-pinned in
    * StreamingDedupSpec): this is dedup over a sliding RETENTION
    * WINDOW, not exact dedup — a duplicate re-arriving after its
    * hash's eviction is RE-ADMITTED (emitted again, under the new
    * arrival's doc_id). Every suppression within `ttlMs` of the last
    * touch is still exact, and each suppression RENEWS the lease, so a
    * hash only evicts after `ttlMs` with no copies at all — the right
    * contract for dedup-on-ingest where re-crawls cluster in time.
    * Size `ttlMs` to the re-delivery horizon; a deployment needing
    * true forever-exact dedup keeps [[dedup]] and pays the state.
    */
  def dedupTtl(docs: Dataset[TsDoc], ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[Kept] = {
    import docs.sparkSession.implicits._
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    docs
      .filter(d => d.text != null && d.text.nonEmpty)
      .map(d => (hashOf(d.text), d.doc_id, d.ts))
      // watermark on the hashed stream, after the typed map — the same
      // analyzer constraint candidatesTtl documents: metadata from an
      // upstream watermark does not survive a typed transform
      .toDF("text_hash", "doc_id", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TtlSeenState, Kept](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (hash: String, batch: Iterator[(String, Long, java.sql.Timestamp)],
            state: GroupState[TtlSeenState]) =>
          if (state.hasTimedOut) {
            state.remove() // idle past the TTL: forget the hash
            Iterator.empty
          } else {
            val rows = batch.toSeq
            val touch = rows.map(_._3.getTime).max
            def lease(s: TtlSeenState): Unit = {
              state.update(s)
              // the timeout must stay strictly ahead of the watermark
              state.setTimeoutTimestamp(
                math.max(s.lastTouchMs + ttlMs,
                  state.getCurrentWatermarkMs() + 1))
            }
            state.getOption match {
              case Some(st) => // suppression renews the lease
                lease(TtlSeenState(st.keeper, math.max(st.lastTouchMs, touch)))
                Iterator.empty
              case None =>
                val keeper = rows.map(_._2).min
                lease(TtlSeenState(keeper, touch))
                Iterator.single(Kept(keeper, hash))
            }
          }
      }
  }
}

/** Gap-based sessionization as explicit streaming state: the stateful
  * twin of the batch lag→flag→running-sum query (events_sessionize).
  * One open session per user lives in [[GroupState]]; a session closes
  * when a later event exceeds the gap (emitted immediately) or when the
  * watermark passes its timeout (emitted by the timeout branch) — so
  * state is bounded by #active users, never by stream length.
  */
object StreamingSessionize {

  case class Event(user_id: Long, ts: Timestamp, event_id: Long)
  /** Open-session accumulator (epoch millis — timestamps don't encode
    * efficiently in state stores).
    */
  case class OpenSession(startMs: Long, endMs: Long, n: Long)
  case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  val DefaultGapMinutes = 30

  def sessions(events: Dataset[Event],
      gapMinutes: Int = DefaultGapMinutes,
      watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def close(uid: Long, s: OpenSession): Session =
      Session(uid, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n)

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            // watermark passed start-of-gap: the open session is final
            val out = state.getOption.map(close(uid, _)).iterator
            state.remove()
            out
          } else {
            // merge this micro-batch's events (sorted: arrival order
            // within a batch is not time order) into the open session
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[Session]
            for (e <- sorted) {
              val t = e.ts.getTime
              open = open match {
                case Some(s) if t - s.endMs > gapMs =>
                  closed += close(uid, s)
                  Some(OpenSession(t, t, 1))
                case Some(s) =>
                  Some(OpenSession(s.startMs, math.max(s.endMs, t), s.n + 1))
                case None =>
                  Some(OpenSession(t, t, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // final unless an event lands within the gap before the
              // watermark reaches this point
              state.setTimeoutTimestamp(s.endMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}

/** Watermarked stream-stream interval join: attribute every purchase to
  * the same user's views inside the lookback horizon, continuously.
  * The batch twin is `events_attribution` ([[graft.rel.Temporal]]) —
  * same predicate (user match, view at-or-before purchase, within
  * [[graft.rel.Temporal.AttributionHorizonSec]]), expressed there as a
  * banded equi-join and here as the raw interval condition Structured
  * Streaming needs to derive its state bounds. The spec pins one-batch
  * replay equivalence between the two.
  *
  * Scale notes: the time-range condition plus the two watermarks is
  * what makes the join's state FINITE — Spark evicts buffered views
  * once the purchase-side watermark passes view_ts + horizon, and
  * buffered purchases once the view side passes purchase_ts. Without
  * the interval bound a stream-stream join buffers both streams
  * forever. State is partitioned by user_id (the equi-key), so the
  * per-micro-batch shuffle mirrors the batch join's partitioning.
  */
object StreamingAttribution {

  /** Watermark DELAYS — i.e. how late each stream's events may arrive
    * (relative to that stream's max event time) before being dropped as
    * late. Neither is a direct state-retention knob: under the default
    * `multipleWatermarkPolicy=min` Spark tracks ONE global watermark
    * (the min across both inputs) and derives eviction from it plus the
    * join's time condition — buffered views evict once the global
    * watermark passes view_ts + horizon (no future purchase can reach
    * them), buffered purchases once it passes purchase_ts. Raising
    * EITHER delay drags the global watermark back, so it tolerates
    * later events on that stream AND holds state on BOTH sides longer.
    */
  val DefaultViewLateness = "2 hours"
  val DefaultPurchaseLateness = "10 minutes"

  def attributed(views: DataFrame, purchases: DataFrame,
      viewLateness: String = DefaultViewLateness,
      purchaseLateness: String = DefaultPurchaseLateness): DataFrame = {
    val horizonSec = graft.rel.Temporal.AttributionHorizonSec
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", viewLateness)
    val p = purchases
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", purchaseLateness)
    v.join(p,
        col("user_id") === col("p_user_id") &&
          col("view_ts") <= col("purchase_ts") &&
          col("view_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizonSec SECONDS"))
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("dt_us"))
  }
}

/** Streaming NEAR-dup candidate surfacing on arrival — the stateful
  * twin of [[graft.dedup.Dedup.minhashCandidates]]: each arriving doc
  * computes its MinHash signature map-side ([[sigOf]] — the scalar
  * mirror of the batch column chain: same md5-derived base28 shingle
  * hash, same affine coefficients, bit parity spec-pinned), explodes
  * into its band buckets, and per-bucket `GroupState` holds the
  * admitted member list. An arrival emits candidate pairs against the
  * current members plus the in-batch pairs.
  *
  * Cap semantics (the no-silent-quadratic rule, streamed): within one
  * invocation, if state ∪ batch exceeds [[graft.dedup.Dedup.MaxBucketSize]]
  * the bucket POISONS itself — emits nothing, forever — which on a
  * one-batch replay is exactly the batch drop-oversized-bucket rule
  * (replay ≡ `minhashCandidates` as a pair SET, spec-pinned; the same
  * pair may surface from several bands — batch dedups globally, a
  * stream consumer dedups downstream). Across batches the cap freezes
  * admission at arrival order — the documented divergence, mirroring
  * StreamingAnomaly's static-reference divergence note. State per
  * bucket is ≤ cap doc_ids, but the NUMBER of buckets is
  * corpus-proportional — unbounded on an endless ingest — so
  * [[candidatesTtl]] adds an event-time state TTL that evicts idle
  * buckets (semantics consequence documented there); oracle-mode
  * hashing (md5) — flip
  * [[graft.functions.PortableHash]]'s flag story does not reach this
  * scalar path, which a production deployment would switch to xxhash64
  * wholesale.
  */
object StreamingNearDup {

  case class Doc(doc_id: Long, text: String)
  case class Cand(doc_a: Long, doc_b: Long)
  case class BucketState(members: List[Long], poisoned: Boolean)

  import graft.dedup.Dedup.{Bands, MinHashP, NumHashes, RowsPerBand, ShingleSize}

  /** MinHash signature of one document — the scalar twin of the batch
    * chain: lower → \s+ split → non-empty → word ShingleSize-grams →
    * base28 = first 7 md5 hex digits (Md5Prefix64 bits >>> 36) →
    * per-coefficient affine minima. Returns None for docs too short to
    * shingle (the batch chain emits no signature row for them either).
    */
  def sigOf(text: String): Option[Array[Long]] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (toks.length < ShingleSize) return None
    val coeffs = graft.dedup.Dedup.minHashCoeffs
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    toks.sliding(ShingleSize).foreach { w =>
      val base = graft.functions.Md5Prefix64.hash64(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          w.mkString(" "))) >>> 36
      var i = 0
      while (i < NumHashes) {
        val (a, b) = coeffs(i)
        val h = (a * base + b) % MinHashP
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    Some(sig)
  }

  /** Band-bucket keys of one signature: "band|h..|h.." — the string
    * form of the batch (band, sig) key pair.
    */
  def bucketKeysOf(sig: Array[Long]): Seq[String] =
    (0 until Bands).map { b =>
      val slice = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(sig(_)).mkString("|")
      s"$b|$slice"
    }

  def candidates(docs: Dataset[Doc],
      maxBucketSize: Int = graft.dedup.Dedup.MaxBucketSize): Dataset[Cand] = {
    import docs.sparkSession.implicits._
    docs
      .filter(d => d.text != null && d.text.nonEmpty)
      .flatMap(d => sigOf(d.text).toSeq
        .flatMap(sig => bucketKeysOf(sig).map(k => (k, d.doc_id))))
      .groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, Cand](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[(String, Long)],
            state: GroupState[BucketState]) =>
          val st = state.getOption.getOrElse(BucketState(Nil, poisoned = false))
          // redelivery guard (at-least-once sources, re-crawled ids):
          // an id already admitted must neither pair with itself nor
          // count twice toward the cap
          val arrivals = batch.map(_._2).toSeq.distinct.sorted
            .filterNot(st.members.toSet)
          if (st.poisoned || arrivals.isEmpty) Iterator.empty
          else if (st.members.size + arrivals.size > maxBucketSize) {
            state.update(BucketState(Nil, poisoned = true))
            Iterator.empty
          } else {
            val inBatch = for {
              (a, i) <- arrivals.zipWithIndex; b <- arrivals.drop(i + 1)
            } yield Cand(a, b)
            val cross = for {
              a <- arrivals; m <- st.members
            } yield if (m < a) Cand(m, a) else Cand(a, m)
            state.update(BucketState(st.members ++ arrivals, poisoned = false))
            (inBatch ++ cross).iterator
          }
      }
  }

  /** Timestamped arrival for [[candidatesTtl]] — `ts` is the doc's
    * ingest event time, the clock the TTL eviction runs on.
    */
  case class TsDoc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Per-bucket state for the TTL variant: membership + poison as in
    * [[BucketState]], plus the max event time that touched the bucket
    * (the idle clock's zero point).
    */
  case class TtlBucketState(members: List[Long], poisoned: Boolean,
      lastTouchMs: Long)

  /** [[candidates]] with an EVENT-TIME state TTL — the bounded-state
    * production shape. Without a TTL, one `BucketState` per ever-seen
    * band bucket accumulates forever: state grows ∝ corpus (measured
    * 54 MB at 47.5k docs, r13 StreamBench) and an endless ingest
    * eventually exhausts the store. Here a bucket untouched for
    * `ttlMs` of EVENT time is evicted via `EventTimeTimeout` — the
    * watermark clock, not the wall clock, so a checkpoint replay or a
    * backfill burst reproduces the same evictions (and, unlike
    * `ProcessingTimeTimeout`, the engine re-batches only while the
    * watermark advances, so it quiesces with the data).
    *
    * Documented semantics consequence (spec-pinned in
    * StreamingNearDupSpec):
    *  - recall — a doc arriving after its near-twin's bucket was
    *    evicted re-opens an EMPTY bucket, so the cross-eviction pair
    *    is never emitted; size `ttlMs` to the true near-dup arrival
    *    horizon (crawl re-visit cadence);
    *  - cap — eviction also forgets POISON, so each TTL window
    *    re-applies the drop-oversized-bucket rule from scratch;
    *  - lateness — `watermarkDelay` is the out-of-order tolerance:
    *    docs later than it can meet an already-evicted bucket.
    */
  def candidatesTtl(docs: Dataset[TsDoc], ttlMs: Long,
      maxBucketSize: Int = graft.dedup.Dedup.MaxBucketSize,
      watermarkDelay: String = "0 seconds"): Dataset[Cand] = {
    import docs.sparkSession.implicits._
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    docs
      .filter(d => d.text != null && d.text.nonEmpty)
      .flatMap(d => sigOf(d.text).toSeq
        .flatMap(sig => bucketKeysOf(sig).map(k => (k, d.doc_id, d.ts))))
      // the watermark goes ON the exploded posting stream: a typed
      // flatMap strips column metadata, so a watermark placed upstream
      // never reaches the stateful operator's input and the analyzer
      // rejects EventTimeTimeout ("watermark must be specified")
      .toDF("bk", "doc_id", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TtlBucketState, Cand](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, batch: Iterator[(String, Long, java.sql.Timestamp)],
            state: GroupState[TtlBucketState]) =>
          if (state.hasTimedOut) {
            // idle past the TTL: evict membership AND poison
            state.remove()
            Iterator.empty
          } else {
            val st = state.getOption
              .getOrElse(TtlBucketState(Nil, poisoned = false, 0L))
            val rows = batch.toSeq
            val touch = math.max(st.lastTouchMs, rows.map(_._3.getTime).max)
            // the timeout must stay ahead of the current watermark
            // (setting it at-or-before throws): a very-late touch
            // extends the lease minimally instead of failing the batch
            def lease(s: TtlBucketState): Unit = {
              state.update(s)
              state.setTimeoutTimestamp(
                math.max(touch + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            // redelivery guard, as in [[candidates]]
            val arrivals = rows.map(_._2).distinct.sorted
              .filterNot(st.members.toSet)
            if (st.poisoned || arrivals.isEmpty) {
              lease(st.copy(lastTouchMs = touch))
              Iterator.empty
            } else if (st.members.size + arrivals.size > maxBucketSize) {
              lease(TtlBucketState(Nil, poisoned = true, touch))
              Iterator.empty
            } else {
              val inBatch = for {
                (a, i) <- arrivals.zipWithIndex; b <- arrivals.drop(i + 1)
              } yield Cand(a, b)
              val cross = for {
                a <- arrivals; m <- st.members
              } yield if (m < a) Cand(m, a) else Cand(a, m)
              lease(TtlBucketState(st.members ++ arrivals,
                poisoned = false, touch))
              (inBatch ++ cross).iterator
            }
          }
      }
  }
}

/** Streaming benchmark decontamination — the on-arrival twin of
  * [[graft.dedup.Dedup.decontaminate]] / `decontaminationReport`: every
  * arriving doc is flagged with whether (and how many of) its hashed
  * [[graft.dedup.Dedup.DecontamShingle]]-gram keys appear in the static
  * evaluation set, so test-set leakage is caught at INGEST time instead
  * of in the nightly batch pass.
  *
  * Shape: completely STATELESS — a typed map over the stream. The eval
  * side is a benchmark (tiny by construction), so its distinct keys are
  * collected ONCE on the driver by the batch chain
  * ([[graft.dedup.Dedup.decontamEvalKeys]]) and ride into the executors
  * as a closure-captured Set — the stopword-class side input, the same
  * bounded-side-input discipline as StreamingAnomaly's stats frame. No
  * state store, no watermark, no shuffle; per-record cost is the n-gram
  * scan of the doc. If an eval set ever outgrows driver memory, the
  * batch broadcast semi-join surface is the fallback — this scalar path
  * deliberately trades that generality for zero-latency verdicts.
  *
  * Parity: [[keysOf]] is the scalar mirror of the batch column chain
  * (lower → \s+ split → non-empty → DecontamShingle-gram → md5-prefix
  * 60-bit key); a one-batch replay's verdicts equal the batch
  * `decontaminate` (kept set) and `decontaminationReport`
  * (n_shared_keys per contaminated doc) exactly — StreamingDecontamSpec
  * pins both plus the scalar/column key equality. Oracle-mode (md5)
  * hashing only, the StreamingNearDup precedent: the production
  * xxhash64 flag governs batch candidate generation, while a real
  * streaming deployment would switch this scalar path wholesale.
  */
object StreamingDecontam {

  case class Doc(doc_id: Long, text: String)
  case class Verdict(doc_id: Long, contaminated: Boolean,
      n_shared_keys: Long)

  import graft.dedup.Dedup.DecontamShingle

  /** Distinct 60-bit decontamination keys of one document — scalar
    * mirror of the batch `decontamKeys` chain. Docs too short to
    * shingle (or with null text) have no keys, matching the batch
    * chain's empty explode.
    */
  def keysOf(text: String): Set[Long] = {
    if (text == null) return Set.empty
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty)
    if (toks.length < DecontamShingle) return Set.empty
    toks.sliding(DecontamShingle).map { w =>
      graft.functions.Md5Prefix64.hash64(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          w.mkString(" "))) >>> 4
    }.toSet
  }

  /** The static eval-set key side input: batch-chain distinct keys,
    * collected. Benchmark-sized by construction (document the bound
    * when deploying: |keys| ≈ eval tokens). When the eval suite
    * outgrows a comfortable driver set, switch to [[bloomReport]] —
    * fixed-size bloom side input + stream-static exact join, no
    * driver-held key set.
    */
  def evalKeySet(evalDocs: org.apache.spark.sql.DataFrame): Set[Long] =
    graft.dedup.Dedup.decontamEvalKeys(evalDocs)
      .collect().map(_.getLong(0)).toSet

  /** Per-arrival contamination verdicts — stateless, append-mode. */
  def verdicts(docs: Dataset[Doc], evalKeys: Set[Long]): Dataset[Verdict] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.map { d =>
      val shared = keysOf(d.text).count(evalKeys.contains)
      Verdict(d.doc_id, shared > 0, shared.toLong)
    }
  }

  /** The eval-key BLOOM sketch — FIXED ~1.3 MB regardless of
    * eval-suite volume (the X93 batch sketch, rebuilt here so the
    * streaming arm can be deployed without the batch module). Collected
    * once per eval release; unlike [[evalKeySet]] its driver footprint
    * does NOT grow with eval tokens.
    */
  def evalBloom(evalDocs: org.apache.spark.sql.DataFrame): Array[Byte] = {
    import org.apache.spark.sql.functions._
    graft.dedup.Dedup.decontamEvalKeys(evalDocs)
      .agg(graft.functions.GraftFunctions.graftBloomAgg(col("shk"),
        lit(graft.dedup.Dedup.DecontamBloomKeys),
        lit(graft.dedup.Dedup.DecontamBloomKeys * 10)).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** [[graft.dedup.Dedup.decontaminationReport]]'s streaming twin
    * WITHOUT the driver-collected exact key set — the X93 discipline
    * on the streaming arm. Three stages:
    *
    *  1. stateless scalar key explode of each arrival ([[keysOf]] —
    *     per-doc DISTINCT keys, so the count is count-distinct);
    *  2. the bloom sketch as a codegen'd scan PREDICATE — the
    *     overwhelmingly-clean arrivals' keys die map-side (false
    *     negatives don't exist, so no contaminated key is lost);
    *  3. a stream-static BROADCAST semi-join against the DISTRIBUTED
    *     eval-key table removes bloom false positives — the exact set
    *     lives in the cluster, never on the driver — then a per-doc
    *     count aggregate emits one (doc_id, n_shared_keys) row per
    *     CONTAMINATED arrival, exactly the batch report's contract.
    *
    * The aggregate is the one stateful operator (state = contaminated
    * doc ids — the same small fraction the batch report materializes);
    * run it in update mode, or add an event-time watermark to expire
    * state in a long-lived deployment. StreamingDecontamSpec pins
    * replay ≡ batch report, including a planted bloom-false-positive
    * style miss (clean docs emit nothing).
    */
  def bloomReport(docs: Dataset[Doc], bloom: Array[Byte],
      evalKeys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val s = docs.sparkSession
    import s.implicits._
    docs.flatMap(d => keysOf(d.text).toSeq.map(k => (d.doc_id, k)))
      .toDF("doc_id", "shk")
      .filter(graft.functions.GraftFunctions.graftMightContain(
        lit(bloom), col("shk")))
      .join(broadcast(evalKeys), Seq("shk"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_keys"))
  }
}
