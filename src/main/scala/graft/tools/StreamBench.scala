package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-arm throughput harness (r12 verdict ask #5): drives the
  * three deployable streaming operators over a MemoryStream at fixture
  * volume and records what the spec suite deliberately doesn't — rates
  * and state growth, not semantics (replay ≡ batch is already
  * spec-pinned per arm):
  *
  *  - `neardup`  — [[graft.streaming.StreamingNearDup.candidates]]:
  *    stateful LSH bucket membership via flatMapGroupsWithState;
  *  - `decontam` — [[graft.streaming.StreamingDecontam.bloomReport]]:
  *    bloom scan predicate + stream-static semi-join + update-mode
  *    per-doc aggregate (the X93 no-driver-key-set arm);
  *  - `chi2`     — [[graft.streaming.StreamingChiSquare.mergeBatch]]:
  *    the versioned-store maintainer, timed per merge (what `attach`'s
  *    foreachBatch executes), store footprint from disk.
  *
  * Per batch it records rows, wall ms, and the state operator's
  * numRowsTotal / memoryUsedBytes from the StreamingQueryProgress;
  * per arm it prints a table plus ONE compact JSON line (prefix
  * `STREAMBENCH `) with rows/sec over the steady-state batches
  * (batch 1+, skipping the codegen-cold first batch).
  *
  * The corpus is collected to the driver once to feed the
  * MemoryStream — harness-side only (MemoryStream's addData contract),
  * never a pattern in the operators themselves.
  *
  * Volume / state-bound knobs (r13 verdict ask #6):
  *  - SPARK_GRAFT_STREAM_REPEAT=N (default 1) replays the corpus N
  *    times, each repetition with offset doc_ids and EVERY token
  *    rep-salted (disjoint shingle sets → disjoint LSH buckets; a
  *    prefix-only salt keeps reps in rep 0's buckets — r14's 10× run
  *    measured that shared-bucket regime, corrected in r15),
  *    simulating an N×-longer ingest of FRESH documents — the regime
  *    where the near-dup bucket state grows without bound;
  *  - SPARK_GRAFT_STREAM_TTL_MS (default 300000 = 5 synthetic minutes
  *    = 5 micro-batches) sizes the `neardup_ttl` arm: same stream
  *    through [[graft.streaming.StreamingNearDup.candidatesTtl]] with
  *    one-minute-per-batch event time, so earlier repetitions' idle
  *    buckets evict and final_state_rows reads the BOUNDED high-water
  *    mark next to the unbounded arm's total.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_STREAM_BATCH=5000
  *        sbt "runMain graft.tools.StreamBench"
  */
object StreamBench {

  private def num(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))

  private final case class BatchRow(rows: Long, ms: Long,
      stateRows: Long, stateMem: Long)

  private def report(arm: String, batches: Seq[BatchRow],
      extra: Map[String, String] = Map.empty): String = {
    batches.zipWithIndex.foreach { case (b, i) =>
      println(f"  [$arm] batch $i%2d: ${b.rows}%6d rows in ${b.ms}%5d ms" +
        f"  state_rows=${b.stateRows}%8d state_mem=${b.stateMem / 1024}%7d KB")
    }
    val steady = if (batches.size > 1) batches.tail else batches
    val rows = steady.map(_.rows).sum
    val ms = steady.map(_.ms).sum.max(1L)
    val fields = Map(
      "arm" -> s""""$arm"""",
      "batches" -> batches.size.toString,
      "rows_per_sec" -> num(rows * 1000.0 / ms),
      "p50_batch_ms" -> batches.map(_.ms).sorted.apply(batches.size / 2).toString,
      "final_state_rows" -> batches.last.stateRows.toString,
      "final_state_mem_kb" -> (batches.last.stateMem / 1024).toString
    ) ++ extra
    val line = fields.map { case (k, v) => s""""$k":$v""" }
      .mkString("STREAMBENCH {", ",", "}")
    println(line)
    line
  }

  /** Drain everything addData'd so far and pull per-batch progress
    * rows (one MemoryStream offset = one micro-batch under the default
    * trigger + processAllAvailable).
    */
  private def progressOf(
      q: org.apache.spark.sql.streaming.StreamingQuery): Seq[BatchRow] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val st = p.stateOperators.headOption
      BatchRow(p.numInputRows, p.batchDuration,
        st.map(_.numRowsTotal).getOrElse(0L),
        st.map(_.memoryUsedBytes).getOrElse(0L))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batchSize = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH", "5000").toInt
    // state-store partition count == shuffle partitions (= cpus); the
    // fixture volumes are small enough that this is the honest setting
    val spark = graft.Session("graft-streambench")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docsDf
      .filter(col("source") =!= lit(graft.dedup.Dedup.DecontamEvalSource))
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val repeat = sys.env.getOrElse("SPARK_GRAFT_STREAM_REPEAT", "1").toInt.max(1)
    val ttlMs = sys.env.getOrElse("SPARK_GRAFT_STREAM_TTL_MS", "300000").toLong
    if (corpus.isEmpty) {
      println(s"streambench: empty corpus at $sfDir — nothing to drive")
      spark.stop(); return
    }
    val idSpan = corpus.map(_._1).max + 1
    // rep 0 is the corpus verbatim; reps 1..N−1 are fresh documents:
    // offset ids and EVERY token salted with the rep number, so every
    // n-gram shingle of a salted rep differs from rep 0's (a prefix-only
    // salt would preserve all original 3-grams — minima mostly unchanged
    // → reps land in rep 0's buckets, a redelivery storm, not fresh
    // ingest; measured r14 before this fix). Disjoint shingle sets →
    // disjoint MinHash minima → fresh LSH buckets per rep.
    def repBatches: Iterator[Seq[graft.streaming.StreamingNearDup.Doc]] =
      (0 until repeat).iterator.flatMap { rep =>
        corpus.iterator.map { case (id, t) =>
          graft.streaming.StreamingNearDup.Doc(
            id + rep * idSpan,
            if (rep == 0) t
            else t.split("\\s+").iterator.map(w => s"$w$rep").mkString(" "))
        }.grouped(batchSize)
      }
    val nBatches = repeat * ((corpus.length + batchSize - 1) / batchSize)
    println(s"streambench: ${corpus.length} docs x$repeat reps, " +
      s"$nBatches batches of $batchSize, $sfDir")
    val lines = scala.collection.mutable.ArrayBuffer[String]()

    // ---- arm 1: stateful LSH near-dup candidates --------------------
    {
      val stream = MemoryStream[graft.streaming.StreamingNearDup.Doc]
      val q = graft.streaming.StreamingNearDup.candidates(stream.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        repBatches.foreach { b =>
          stream.addData(b)
          q.processAllAvailable()
        }
        lines += report("neardup", progressOf(q),
          Map("repeat" -> repeat.toString))
      } finally q.stop()
    }

    // ---- arm 1b: same stream, state bounded by event-time TTL --------
    // Each micro-batch advances event time by one minute; buckets idle
    // past the TTL (default 5 min = 5 batches) evict, so
    // final_state_rows reads the bounded high-water mark next to the
    // unbounded arm's corpus-proportional total.
    {
      val stream = MemoryStream[graft.streaming.StreamingNearDup.TsDoc]
      val q = graft.streaming.StreamingNearDup
        .candidatesTtl(stream.toDS(), ttlMs = ttlMs)
        .writeStream.format("noop").outputMode("append").start()
      try {
        repBatches.zipWithIndex.foreach { case (b, i) =>
          // (i+1): a ts-0 batch would sit AT the initial watermark and
          // be dropped as late (see StreamingNearDupSpec's note)
          val t = new java.sql.Timestamp((i + 1) * 60000L)
          stream.addData(b.map(d =>
            graft.streaming.StreamingNearDup.TsDoc(d.doc_id, d.text, t)))
          q.processAllAvailable()
        }
        lines += report("neardup_ttl", progressOf(q),
          Map("repeat" -> repeat.toString, "ttl_ms" -> ttlMs.toString))
      } finally q.stop()
    }

    // ---- arm 1c: exact dedup-on-arrival, unbounded state -------------
    // One state row per ever-seen text hash; the salted reps are
    // distinct texts, so state grows ∝ total distinct ingest.
    {
      val stream = MemoryStream[graft.streaming.StreamingDedup.Doc]
      val q = graft.streaming.StreamingDedup.dedup(stream.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        repBatches.foreach { b =>
          stream.addData(b.map(d =>
            graft.streaming.StreamingDedup.Doc(d.doc_id, d.text)))
          q.processAllAvailable()
        }
        lines += report("dedup", progressOf(q),
          Map("repeat" -> repeat.toString))
      } finally q.stop()
    }

    // ---- arm 1d: same stream, hash state bounded by event-time TTL ---
    // Same minute-per-batch event clock as 1b: hashes idle past the TTL
    // evict, so final_state_rows reads the retention-window plateau
    // next to arm 1c's ingest-proportional total.
    {
      val stream = MemoryStream[graft.streaming.StreamingDedup.TsDoc]
      val q = graft.streaming.StreamingDedup
        .dedupTtl(stream.toDS(), ttlMs = ttlMs)
        .writeStream.format("noop").outputMode("append").start()
      try {
        repBatches.zipWithIndex.foreach { case (b, i) =>
          val t = new java.sql.Timestamp((i + 1) * 60000L)
          stream.addData(b.map(d =>
            graft.streaming.StreamingDedup.TsDoc(d.doc_id, d.text, t)))
          q.processAllAvailable()
        }
        lines += report("dedup_ttl", progressOf(q),
          Map("repeat" -> repeat.toString, "ttl_ms" -> ttlMs.toString))
      } finally q.stop()
    }

    // ---- arm 2: bloom decontamination report (update mode) ----------
    {
      val evalDocs = docsDf
        .filter(col("source") === lit(graft.dedup.Dedup.DecontamEvalSource))
      val bloom = graft.streaming.StreamingDecontam.evalBloom(evalDocs)
      val evalKeys = graft.dedup.Dedup.decontamEvalKeys(evalDocs)
      val stream = MemoryStream[graft.streaming.StreamingDecontam.Doc]
      val q = graft.streaming.StreamingDecontam
        .bloomReport(stream.toDS(), bloom, evalKeys)
        .writeStream.format("noop").outputMode("update").start()
      try {
        corpus.grouped(batchSize).foreach { b =>
          stream.addData(b.map { case (id, t) =>
            graft.streaming.StreamingDecontam.Doc(id, t) })
          q.processAllAvailable()
        }
        lines += report("decontam_bloom", progressOf(q),
          Map("bloom_kb" -> (bloom.length / 1024).toString))
      } finally q.stop()
    }

    // ---- arm 3: the χ² maintainer's per-batch merge ------------------
    {
      val store = java.nio.file.Files.createTempDirectory("graft-streambench-chi")
      val rows = scala.collection.mutable.ArrayBuffer[BatchRow]()
      corpus.grouped(batchSize).zipWithIndex.foreach { case (b, i) =>
        val batch = spark.createDataFrame(b.toSeq).toDF("doc_id", "text")
          .join(docsDf.select("doc_id", "lang"), Seq("doc_id"))
        val t0 = System.nanoTime()
        graft.streaming.StreamingChiSquare.mergeBatch(
          batch, i.toLong, store.toString, "text", "lang")
        val ms = (System.nanoTime() - t0) / 1000000
        val storeBytes = java.nio.file.Files.walk(store)
          .filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        rows += BatchRow(b.length.toLong, ms, -1L, storeBytes)
      }
      lines += report("chi2_maintainer", rows.toSeq,
        Map("state_note" -> "\"state_mem = versioned store on disk; state_rows n/a\""))
    }

    println("STREAMBENCH_DONE")
    lines.foreach(println)
    spark.stop()
  }
}
