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
  *    {"metric","value","unit","queries","errors","sf"} with %.4f
  *    medians — and nothing else; it stays ~1.5 KB at 44 queries, the
  *    shape that parsed fine in rounds 1–3;
  *  - the full per-iteration samples are emitted as a SEPARATE,
  *    EARLIER stdout line (prefix "BENCH_SAMPLES ") and in the JSON
  *    file (SPARK_GRAFT_BENCH_OUT, default /tmp/graft_bench.json),
  *    which carries the full record including samples;
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
  *    are toggleable (SPARK_GRAFT_BENCH_BARRIERS=false) to measure
  *    their own tax — see docs/BENCH_NOTES.md.
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
    val cpus = Session.cpus
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    val barriers = sys.env.get("SPARK_GRAFT_BENCH_BARRIERS")
      .forall(v => Session.parseBool(v, "SPARK_GRAFT_BENCH_BARRIERS"))
    // Bench knob for the production-hash variant (default: oracle md5).
    // Validated here, once, at startup: PortableHash.enabled calls
    // String.toBoolean, so an unvalidated "1"/"yes" would otherwise
    // surface as an IllegalArgumentException inside EVERY
    // hash-consulting query at plan-build time.
    val prodHash = sys.env.get("SPARK_GRAFT_PRODUCTION_HASH")
      .map(v => Session.parseBool(v, "SPARK_GRAFT_PRODUCTION_HASH"))
    // Dev-only knob: SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run to
    // the named queries — for iterating on one query's cost without
    // paying the full-suite wall clock. The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_(n)) }
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
    val spark = Session("graft-bench", cpus,
      maxPartitionBytes.map("spark.sql.files.maxPartitionBytes" -> _.toLong.toString).toMap ++
        pageBytes.map("spark.buffer.pageSize" -> _.toLong.toString))
    prodHash.foreach(b =>
      spark.conf.set(graft.functions.PortableHash.ConfKey, b.toString))

    // Warmup: run everything once at the smallest scale so codegen,
    // classloading, and shuffle machinery are hot before timing.
    val warmDir = "/root/testdata/sf0.001"
    if (Files.exists(Paths.get(warmDir)))
      selected.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir)) catch { case _: Throwable => () }
      }

    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    val listener = new QueryMetricsListener
    spark.sparkContext.addSparkListener(listener)
    var errors = Vector.empty[(String, String)]
    var metrics = Vector.empty[(String, Seq[(String, Long)])]
    // Discard build walls the warmup pass recorded (warmDir builds,
    // not the timed fixture's) so per-query drains below attribute
    // only sfDir builds.
    BuildWall.drain()
    var measuredBuilds = Vector.empty[(String, Double)]
    val results = selected.toSeq.map { case (name, fn) =>
      // stderr breadcrumb (never stdout — the handshake line must stay
      // last): scale runs that die mid-suite (heap OOM, ENOSPC) need
      // the dying QUERY attributable from the log; the r14 sf100 runs
      // cost three 25-minute attempts before this existed.
      Console.err.println(s"[bench] running $name")
      if (barriers) System.gc()
      listener.reset()
      HeapPeak.reset()
      // Scoped conf overrides (wide-agg reduce partitions ∝ data):
      // set around this query only, then restored — plans are built
      // lazily inside materialize(), so the override is live at
      // planning time for every sample.
      val times =
        try Session.withScopedConf(spark, SparkEntry.queryConfs(name, sfDir, cpus)) {
          (1 to iters).map { _ =>
            // Per-SAMPLE cache barrier: internally-persisted frames are
            // deduped by logical plan in the CacheManager, so without
            // this, iterations 2..n of a persisting query measure a
            // warm cache and the median understates cold cost.
            if (barriers) spark.catalog.clearCache()
            val t0 = System.nanoTime()
            materialize(fn(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }
        } catch { case e: Throwable =>
          errors :+= (name -> String.valueOf(e.getMessage).take(200))
          Vector.empty[Double]
        }
      metrics :+= (name -> (listener.snapshot() :+
        ("peak_heap" -> HeapPeak.peakBytes)))
      // Attribute any cold memoized build this query triggered (the
      // memo sites record their own wall via BuildWall) to this query.
      val built = BuildWall.drain().values.sum
      if (built > 0.0) measuredBuilds :+= (name -> built)
      (name, times)
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .map(c => if (c < ' ') ' ' else c) + "\""
    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    def median(ts: Seq[Double]): Double =
      if (ts.isEmpty) -1.0 else ts.sorted.apply(ts.size / 2)
    val qs = results.map { case (k, ts) => s"${q(k)}:${num(median(ts))}" }
      .mkString("{", ",", "}")
    val samples = results.map { case (k, ts) =>
      s"${q(k)}:${ts.map(num).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
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
    //    own measured walls (BuildWall, drained per query above) become
    //    the reported split, attributed to the triggering query, and
    //    are NOT added to the total — the sample already contains them.
    val builds =
      if (iters > 1)
        results.collect {
          case (k, ts) if SparkEntry.memoizedBuildQueries(k) && ts.nonEmpty =>
            k -> math.max(0.0, ts.max - median(ts))
        }
      else measuredBuilds
    val buildsJson = builds.map { case (k, v) => s"${q(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val metricsJson = metrics.map { case (k, ms) =>
      s"${q(k)}:${ms.map { case (n, v) => s"${q(n)}:$v" }.mkString("{", ",", "}")}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, ts) if ts.nonEmpty => median(ts) }.sum +
      (if (iters > 1) builds.map(_._2).sum else 0.0)
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"builds":$buildsJson,"errors":$errJson,"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"builds":$buildsJson,"samples":$samples,"metrics":$metricsJson,"errors":$errJson,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outPath), full + "\n")
    // stop() can throw in local-mode shutdown races; the handshake lines
    // below MUST still print (a swallowed stop() failure costs nothing,
    // a missing last line re-breaks the driver's parser).
    try spark.stop()
    catch { case e: Throwable => Console.err.println(s"spark.stop: $e") }
    // Samples first (diagnostic), compact canonical line LAST — the
    // driver tails stdout and must see the short line at the very end.
    Console.out.println("BENCH_SAMPLES " + samples)
    Console.out.println(line)
    Console.out.flush()
  }
}
