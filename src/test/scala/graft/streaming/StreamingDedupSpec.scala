package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

class StreamingDedupSpec extends SparkSpec {

  private def stopAfter[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  test("dedup-on-arrival: first copy admitted, later copies dropped across batches") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.dedup(stream.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    stopAfter(q) {
      // batch 1: two distinct texts + an in-batch duplicate (higher id)
      stream.addData(Seq(
        StreamingDedup.Doc(10, "alpha beta"),
        StreamingDedup.Doc(11, "gamma delta"),
        StreamingDedup.Doc(12, "Alpha Beta"))) // same text modulo case
      q.processAllAvailable()
      val b1 = s.table("dedup_stream").as[StreamingDedup.Kept].collect()
      assert(b1.map(_.doc_id).sorted.toSeq == Seq(10L, 11L),
        "in-batch duplicate must lose to the min doc_id")

      // batch 2: a cross-batch duplicate (dropped — state remembers) and
      // a genuinely new text (admitted), plus an empty doc (filtered)
      stream.addData(Seq(
        StreamingDedup.Doc(20, "ALPHA BETA"),
        StreamingDedup.Doc(21, "epsilon"),
        StreamingDedup.Doc(22, "")))
      q.processAllAvailable()
      val b2 = s.table("dedup_stream").as[StreamingDedup.Kept].collect()
      assert(b2.map(_.doc_id).sorted.toSeq == Seq(10L, 11L, 21L),
        "cross-batch duplicate must not be re-admitted")
    }
  }

  test("single-batch replay emits exactly the batch twin's keeper set") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    // a static slice of the documents fixture, replayed as ONE batch
    val dir = "/root/testdata/sf0.001"
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").as[StreamingDedup.Doc].collect().toSeq

    val stream = MemoryStream[StreamingDedup.Doc]
    val q = StreamingDedup.dedup(stream.toDS())
      .writeStream.format("memory").queryName("dedup_replay")
      .outputMode("append").start()
    val got = stopAfter(q) {
      stream.addData(docs)
      q.processAllAvailable()
      s.table("dedup_replay").as[StreamingDedup.Kept].collect()
        .map(_.doc_id).sorted.toSeq
    }
    // batch twin: dedup_apply keeps min(doc_id) per normalized-text hash
    val want = graft.SparkEntry.queries("dedup_apply")(s, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want,
      "one-batch streaming replay must equal the batch keeper set " +
        "(same hash, same min-doc_id tie-break)")
  }

  test("registered dedup_streaming_replay equals dedup_apply (multi-batch, real operator)") {
    val s = spark; import s.implicits._
    val dir = "/root/testdata/sf0.001"
    // the distributed sha2(lower(text)) the replay feeds the operator
    // must equal the scalar hashOf the operator applies on a raw Doc
    // stream — otherwise replay and attach paths dedup different keys
    val hx = s.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("text").isNotNull)
      .select(org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.lower(
          org.apache.spark.sql.functions.col("text")), 256).as("h"),
        org.apache.spark.sql.functions.col("text"))
      .as[(String, String)].collect()
    for ((h, text) <- hx.take(200))
      assert(h == StreamingDedup.hashOf(text), "sha2 column ≡ hashOf")

    val got = graft.SparkEntry.queries("dedup_streaming_replay")(s, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = graft.SparkEntry.queries("dedup_apply")(s, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.toSeq == want.toSeq,
      "3-batch arrival-order streaming replay must reproduce the batch " +
        "keeper rows exactly (first arrival ≡ min doc_id)")
  }

  test("bounded sub-chunk feed (forced many micro-batches) equals the batch twin") {
    val s = spark
    val dir = "/root/testdata/sf0.001"
    // feedRows=7 forces every logical slice into many tiny micro-batches —
    // the r17 driver-bounding path. The feed stays doc_id-ascending, so the
    // first batch containing a hash holds its min doc_id and the kept set
    // must still equal the batch twin's keeper set exactly.
    val store = graft.TempDir("graft-replay-chunk")
    StreamingDedup.buildKeptStore(s, dir, store, feedRows = 7)
    val got = s.read.parquet(store.resolve("kept.parquet").toString)
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = graft.SparkEntry.queries("dedup_apply")(s, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want,
      "sub-batch granularity must not change the keeper set " +
        "(doc_id-ascending feed ⇒ first arrival ≡ min doc_id)")
  }

  test("a fixture with no admitted text yields an empty kept store") {
    val s = spark; import s.implicits._
    val fixture = graft.TempDir("graft-replay-empty")
    val store = graft.TempDir("graft-replay-store")
    try {
      Seq((1L, null: String), (2L, ""), (3L, null: String))
        .toDF("doc_id", "text").write.parquet(s"$fixture/documents.parquet")
      StreamingDedup.buildKeptStore(s, fixture.toString, store)
      assert(s.read.parquet(store.resolve("kept.parquet").toString).count() === 0)
    } finally Seq(fixture, store).foreach(graft.Memo.deleteRecursively)
  }

  test("deleteRecursively closes every directory it lists") {
    import java.nio.file.{Files, Paths}
    def openFds(): Long = {
      val ls = Files.list(Paths.get("/proc/self/fd"))
      try ls.count() finally ls.close()
    }
    val root = graft.TempDir("graft-deep")
    val leaf = (1 to 60).foldLeft(root)((p, i) => p.resolve(s"d$i"))
    Files.createDirectories(leaf)
    Files.write(leaf.resolve("part-0"), Array[Byte](1, 2, 3))
    val before = openFds()
    graft.Memo.deleteRecursively(root)
    val after = openFds()
    assert(!Files.exists(root))
    assert(after <= before, s"$before descriptors open before, $after after")
  }

  // ---- event-time TTL (dedupTtl) — same deterministic protocol as
  // StreamingNearDupSpec: the watermark for batch N is computed from
  // batches < N, so an eviction lands one batch after the timestamp
  // that makes it due; timestamps start at t=1000s (a ts at the initial
  // epoch-0 watermark would be dropped as late).
  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("dedupTtl: suppression within the window is exact and renews the lease") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[StreamingDedup.TsDoc]
    val q = StreamingDedup.dedupTtl(stream.toDS(), ttlMs = 100000L)
      .writeStream.format("memory").queryName("dedup_ttl_exact")
      .outputMode("append").start()
    stopAfter(q) {
      stream.addData(StreamingDedup.TsDoc(10, "alpha beta", ts(1000)))
      q.processAllAvailable()
      // 90 s later (inside the 100 s TTL): suppressed, lease renewed
      stream.addData(StreamingDedup.TsDoc(11, "ALPHA BETA", ts(1090)))
      q.processAllAvailable()
      // 90 s after the RENEWED touch — 180 s after first arrival, so
      // only the renewal keeps the hash alive: still suppressed
      stream.addData(StreamingDedup.TsDoc(12, "Alpha Beta", ts(1180)))
      q.processAllAvailable()
      val got = s.table("dedup_ttl_exact").as[StreamingDedup.Kept]
        .collect().map(_.doc_id).toSeq
      assert(got == Seq(10L),
        "in-window duplicates must be suppressed; each suppression " +
          "must renew the eviction lease")
    }
  }

  test("dedupTtl: a duplicate re-arriving after eviction is RE-ADMITTED") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = MemoryStream[StreamingDedup.TsDoc]
    val q = StreamingDedup.dedupTtl(stream.toDS(), ttlMs = 100000L)
      .writeStream.format("memory").queryName("dedup_ttl_readmit")
      .outputMode("append").start()
    stopAfter(q) {
      stream.addData(StreamingDedup.TsDoc(10, "alpha beta", ts(1000)))
      q.processAllAvailable()
      // an unrelated doc 200 s later advances the watermark past doc
      // 10's lease (due at t=1100); the eviction fires on this batch
      stream.addData(StreamingDedup.TsDoc(99, "unrelated text", ts(1200)))
      q.processAllAvailable()
      // the SAME text after eviction: re-admitted under the new id —
      // the documented retention-window semantics, not exact dedup
      stream.addData(StreamingDedup.TsDoc(20, "alpha beta", ts(1210)))
      q.processAllAvailable()
      // and a further copy inside the fresh window is suppressed again
      stream.addData(StreamingDedup.TsDoc(21, "alpha beta", ts(1220)))
      q.processAllAvailable()
      val got = s.table("dedup_ttl_readmit").as[StreamingDedup.Kept]
        .collect().map(_.doc_id).sorted.toSeq
      assert(got == Seq(10L, 20L, 99L),
        "post-eviction duplicate must be re-admitted exactly once")
    }
  }

  test("dedupTtl: one-batch replay equals the unbounded twin (TTL inert in-window)") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text").as[StreamingDedup.Doc].collect().toSeq
    val stream = MemoryStream[StreamingDedup.TsDoc]
    val q = StreamingDedup.dedupTtl(stream.toDS(), ttlMs = 100000L)
      .writeStream.format("memory").queryName("dedup_ttl_replay")
      .outputMode("append").start()
    val got = stopAfter(q) {
      stream.addData(docs.map(d =>
        StreamingDedup.TsDoc(d.doc_id, d.text, ts(1000))))
      q.processAllAvailable()
      s.table("dedup_ttl_replay").as[StreamingDedup.Kept].collect()
        .map(_.doc_id).sorted.toSeq
    }
    val want = graft.SparkEntry.queries("dedup_apply")(s, dir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want,
      "within one window the TTL arm must equal the batch keeper set")
  }
}
