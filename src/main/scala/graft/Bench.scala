package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** Driver-run benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR.
  *
  * Handshake hardening (round-1 recorded "parsed": null because the metric
  * line was emitted inside sbt's [info]-prefixed stream; round-4 recorded
  * it AGAIN because the per-iteration "samples" object grew the single
  * JSON line past the driver's tail/parse window):
  *  - the LAST stdout line is the compact canonical handshake —
  *    {"metric","value","unit","queries","builds","errors","sf"} with %.4f
  *    medians — and nothing else; it stays ~1.5 KB at 44 queries, the
  *    shape that parsed fine in rounds 1–3;
  *  - the full per-iteration samples are emitted as a SEPARATE,
  *    EARLIER stdout line (prefix "BENCH_SAMPLES ") and in the JSON
  *    file (SPARK_GRAFT_BENCH_OUT, default /tmp/graft_bench.json),
  *    which carries the full record including samples and the build
  *    part of each sample (`build_samples`: the wall of constructing
  *    the DataFrame, memoized builds included);
  *  - all numeric formatting uses Locale.ROOT (a comma-decimal default
  *    locale would serialize 1,2345 — invalid JSON);
  *  - a warmup pass (smallest fixture) runs first so the headline numbers
  *    measure the queries, not first-query JVM/codegen warmup;
  *  - per-query failures are NOT swallowed into fast wall-times: a failed
  *    query records -1 and lands in an "errors" map;
  *  - each query is timed SPARK_GRAFT_BENCH_ITERS times (default 3) and
  *    the MEDIAN is reported — round 2's single-shot timing turned one
  *    GC/JIT pause into a phantom 10× "regression";
  *  - cross-query AND cross-iteration state is isolated: the cache is
  *    cleared before EVERY sample (not just every query) so a frame a
  *    query persists internally can never make iterations 2..n
  *    warm-cache, and a GC is requested between queries so one query's
  *    heap pressure isn't paid inside a neighbor's window. The barriers
  *    are always on: their tax was measured once (31.99 s on vs
  *    21.71 s off at sf0.1) and the reported number keeps them — see
  *    docs/BENCH_NOTES.md §"Why barriers stay ON for the reported
  *    number".
  */
object Bench {

  /** The timed action. `count()` (rounds 1-9 early) let Catalyst PRUNE
    * every computed column for pure-projection queries — the unigram
    * chain benched 0.46 s while its real materialized cost was ~14 s
    * at sf0.1 (exposed when `text_ppl_buckets` aggregated the scores
    * and pruning no longer applied). The noop sink materializes every
    * output column without writing bytes, so projection queries are
    * measured at their true cost; aggregate-shaped queries are
    * unaffected (their columns were never prunable). Methodology
    * change recorded in docs/BENCH_NOTES.md and BASELINE.md — compare
    * cross-round numbers only within the same action.
    */
  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Per-query resource metrics off the task-end stream: shuffle
    * spill (memory + disk), shuffle bytes (read + write), and the max
    * single-task peak execution memory. Backs the scale-run claims
    * ("zero OOM at sf10") with recorded numbers instead of
    * absence-of-errors. Counters reset per query; the listener bus is
    * async, so a short drain pause runs before each snapshot — the
    * numbers are diagnostics, not the timed quantity.
    */
  private final class QueryMetricsListener extends SparkListener {
    val spillMem = new AtomicLong
    val spillDisk = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val peakTaskMem = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        spillMem.addAndGet(m.memoryBytesSpilled)
        spillDisk.addAndGet(m.diskBytesSpilled)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peakTaskMem.getAndAccumulate(m.peakExecutionMemory, math.max)
      }
    }
    def reset(): Unit = {
      spillMem.set(0); spillDisk.set(0); shufRead.set(0); shufWrite.set(0)
      peakTaskMem.set(0)
    }
    def snapshot(): Seq[(String, Long)] = {
      Thread.sleep(100) // let the async listener bus drain
      Seq("spill_mem" -> spillMem.get, "spill_disk" -> spillDisk.get,
        "shuffle_read" -> shufRead.get, "shuffle_write" -> shufWrite.get,
        "peak_task_mem" -> peakTaskMem.get)
    }
  }

  /** JVM heap-pool peak tracker (local mode: driver + executors share
    * this JVM, so the pool peaks ARE the run's memory high-water mark).
    */
  private object HeapPeak {
    import scala.jdk.CollectionConverters._
    private def heapPools =
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def reset(): Unit = heapPools.foreach(_.resetPeakUsage())
    /** Sum of per-pool peaks — an upper bound on the true simultaneous
      * peak (pools can peak at different instants), stable enough to
      * compare across queries and scale factors.
      */
    def peakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    // Dev-only knob: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run to
    // the named queries — for iterating on one query's cost without
    // paying the full-suite wall clock. The driver never sets it.
    val selected = Runner.select(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    // Scan-split knob for the ScaleUp-derived scale fixtures: their
    // corpora are tens of MB across many ~1 MB files, and Spark's
    // default 128 MB maxPartitionBytes packs ALL of them into one scan
    // task — CPU-heavy per-byte queries (regex scans) then run on one
    // core of 32. At real cluster scale the default is right (inputs
    // have thousands of native splits); locally, scale runs set e.g.
    // SPARK_GRAFT_MAX_PARTITION_BYTES=2097152 so the scan parallelizes.
    val maxPartitionBytes = sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    // Task-memory page-size pin for large-heap scale runs. Spark sizes
    // TaskMemoryManager pages from the heap (128 MB pages at a 24-32 GB
    // local JVM); under G1 every such page is a humongous allocation,
    // and 32 concurrent tasks' pages fragment the old gen until an
    // allocation storm OOMs — the r14/r15 full-sf100 failure mode
    // (stage-1842 zombie tasks died allocating pages while the suite
    // had ~10 GB of legitimate retention). Pinning 16-32 MB pages
    // removes the humongous pressure without touching plan shapes;
    // unset = Spark's default sizing (right on a real cluster's
    // per-executor heaps).
    val pageBytes = sys.env.get("SPARK_GRAFT_PAGE_BYTES")
    // Note: an initialPartitionNum=8×cores + AQE-coalesce variant was
    // MEASURED and rejected (r12): it OOM'd dedup_containment at sf10
    // and slowed rel_dominant_supplier 25→30 s — the spill relief for
    // wide aggregates came from restructuring the operators instead
    // (see containment's in-bucket verification).
    val runner = Runner("bench",
      maxPartitionBytes.map("spark.sql.files.maxPartitionBytes" -> _.toLong.toString).toMap ++
        pageBytes.map("spark.buffer.pageSize" -> _.toLong.toString))
    val spark = runner.spark

    // Warmup: run everything once at the smallest scale so codegen,
    // classloading, and shuffle machinery are hot before timing.
    val warmDir = "/root/testdata/sf0.001"
    if (Files.exists(Paths.get(warmDir)))
      selected.foreach(name => runner.run(name, warmDir)(build => materialize(build())))

    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val listener = new QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    // Discard build walls the warmup pass recorded (warmDir builds,
    // not the timed fixture's) so per-query drains below attribute
    // only sfDir builds.
    BuildWall.drain()
    val results = selected.map { name =>
      System.gc()
      listener.reset()
      HeapPeak.reset()
      // The query's scoped conf is live at planning time for every
      // sample: plans are built lazily inside materialize().
      val samples = runner.run(name, sfDir) { build =>
        (1 to iters).map { _ =>
          // Per-SAMPLE cache barrier: internally-persisted frames are
          // deduped by logical plan in the CacheManager, so without
          // this, iterations 2..n of a persisting query measure a
          // warm cache and the median understates cold cost.
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = build()
          val t1 = System.nanoTime()
          materialize(df)
          Sample((System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9)
        }
      }
      // Attribute any cold memoized build this query triggered (the
      // memo sites record their own wall via BuildWall) to this query.
      QueryRun(name, samples.getOrElse(Nil), samples.left.toOption.map(_.take(200)),
        listener.snapshot() :+ ("peak_heap" -> HeapPeak.peakBytes),
        BuildWall.drain().values.sum)
    }
    val (line, full) = report(results, iters, sfDir)
    Files.writeString(Paths.get(outPath), full + "\n")
    // stop() can throw in local-mode shutdown races; the handshake lines
    // below MUST still print (a swallowed stop() failure costs nothing,
    // a missing last line re-breaks the driver's parser).
    try spark.stop()
    catch { case e: Throwable => Console.err.println(s"spark.stop: $e") }
    // Samples first (diagnostic), compact canonical line LAST — the
    // driver tails stdout and must see the short line at the very end.
    Console.out.println("BENCH_SAMPLES " + series(results)(_.wall))
    Console.out.println(line)
    Console.out.flush()
  }

  /** One timed sample: its whole wall and the build part of it. */
  final case class Sample(wall: Double, build: Double)

  /** One query's samples (empty when it failed), its failure, its
    * resource metrics and the wall of the memoized builds it triggered.
    */
  final case class QueryRun(name: String, samples: Seq[Sample], error: Option[String],
      metrics: Seq[(String, Long)], memoBuilt: Double)

  private def num(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${Runner.json(k)}:$v" }.mkString("{", ",", "}")

  /** Per-query sample series, `{"<name>":[…],…}`. */
  private def series(results: Seq[QueryRun])(f: Sample => Double): String =
    obj(results.map(r => r.name -> r.samples.map(s => num(f(s))).mkString("[", ",", "]")))

  /** The handshake line and the full record. Keys of the handshake, in
    * order: metric, value, unit, queries, builds, errors, sf; every
    * number `%.4f`. The full record adds the per-sample walls, their
    * build parts and the per-query metrics.
    */
  def report(results: Seq[QueryRun], iters: Int, sfDir: String): (String, String) = {
    def median(ts: Seq[Double]): Double =
      if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2)
    val walls = results.map(r => r.name -> r.samples.map(_.wall))
    // ONE-TIME BUILD PRICING: the memoized entries' first sample pays
    // a per-(app, dir) build (docsets table / CC label fixpoint /
    // replay-store merge) that samples 2..n read from a cache, so their
    // MEDIAN measures a memo read, not the operator.
    //  - ITERS >= 2: max − median recovers the build cost; it is
    //    reported per entry AND added to the headline total — the gate
    //    reads the operator's price, not its cache.
    //  - ITERS == 1: max = median = the one sample and the estimator
    //    degenerates to 0.0 even though the sample PAID the build
    //    (r13's sf100 row read builds:0.0 everywhere). The memo sites'
    //    own measured walls (BuildWall, drained per query) become the
    //    reported split, attributed to the triggering query, and are
    //    NOT added to the total — the sample already contains them.
    val builds =
      if (iters > 1)
        walls.collect {
          case (k, ts) if SparkEntry.memoizedBuildQueries(k) && ts.nonEmpty =>
            k -> math.max(0.0, ts.max - median(ts))
        }
      else results.collect { case r if r.memoBuilt > 0.0 => r.name -> r.memoBuilt }
    val total = walls.collect { case (_, ts) if ts.nonEmpty => median(ts) }.sum +
      (if (iters > 1) builds.map(_._2).sum else 0.0)
    val head = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":""" +
      obj(walls.map { case (k, ts) => k -> num(median(ts)) }) +
      s""","builds":${obj(builds.map { case (k, v) => k -> num(v) })}"""
    val tail = s""","errors":${obj(results.flatMap(r => r.error.map(e => r.name -> Runner.json(e))))},"sf":${Runner.json(sfDir)}}"""
    val metrics = obj(results.map(r =>
      r.name -> obj(r.metrics.map { case (n, v) => n -> v.toString })))
    (head + tail,
      head + s""","samples":${series(results)(_.wall)},"build_samples":${series(results)(_.build)},""" +
        s""""metrics":$metrics""" + tail)
  }
}
