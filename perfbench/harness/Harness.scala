package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.{LinkedHashMap => JMap, ArrayList => JList}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ChiSquarePipeline
import graft.sources.ReviewSource
import graft.stats.Contingency

/** JVM side of the benchmark: one process runs one workload (or only the
  * session set-up, for the set-up probes) and writes a JSON record that
  * `perfbench/run.py` turns into metrics.
  *
  * Protocol: after the SparkSession is built and warmed up, the process
  * prints `READY` on stdout; the launcher times set-up from process start
  * to that line. Everything after it is the measured workload: a closed
  * loop with one client, each operation starting when the previous one has
  * finished.
  *
  * With `--trace 1` plain operations alternate with traced ones. A traced
  * operation records spans around the calls into each layer (prefix
  * materializations of the χ² chain, the build/plan/exec phases of a
  * registry query); spans stay in memory and are written with the record at
  * exit. A SparkListener tags every job with the operation that started it,
  * so executor-side counters are attributed per operation.
  */
object Harness {

  private val mapper = new ObjectMapper()

  // ---- record helpers ---------------------------------------------------

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  /** In-memory span recorder; times are nanoseconds since the run started. */
  final class Tracer(runId: String) {
    private val t0 = System.nanoTime()
    private val spans = new JList[Span]()
    private var nextId = 0
    private var stack = List(-1)

    def span[T](name: String)(body: => T): T = {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val start = System.nanoTime() - t0
      try body
      finally {
        stack = stack.tail
        spans.add(Span(id, parent, name, start, System.nanoTime() - t0))
      }
    }

    def toJson: JList[Any] = {
      val out = new JList[Any]()
      spans.asScala.sortBy(_.id).foreach { s =>
        out.add(obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end, "run" -> runId))
      }
      out
    }
  }

  /** Executor-side counters per operation, keyed by the job group that the
    * harness sets around each operation.
    */
  final class OpListener extends SparkListener {
    final class Counters {
      var jobs, stages, tasks = 0L
      var taskMs, cpuNs, gcMs = 0L
      var scanBytes, scanRows, shufWrite, shufRead, spill, outRows = 0L
    }
    private val stageOp = new ConcurrentHashMap[Int, String]()
    private val byOp = new ConcurrentHashMap[String, Counters]()
    private def of(op: String) = byOp.computeIfAbsent(op, _ => new Counters)

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val op = Option(js.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      js.stageInfos.foreach(s => stageOp.put(s.stageId, op))
      of(op).synchronized { of(op).jobs += 1 }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val c = of(stageOp.getOrDefault(sc.stageInfo.stageId, ""))
      c.synchronized { c.stages += 1 }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      val c = of(stageOp.getOrDefault(te.stageId, ""))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.scanRows += m.inputMetrics.recordsRead
          c.shufWrite += m.shuffleWriteMetrics.bytesWritten
          c.shufRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.outRows += m.outputMetrics.recordsWritten
        }
      }
    }

    def toJson(op: String): JMap[String, Any] = {
      val c = of(op)
      c.synchronized {
        obj("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_s" -> c.taskMs / 1e3, "task_cpu_s" -> c.cpuNs / 1e9,
          "gc_s" -> c.gcMs / 1e3, "scan_bytes" -> c.scanBytes,
          "scan_rows" -> c.scanRows, "shuffle_write_bytes" -> c.shufWrite,
          "shuffle_read_bytes" -> c.shufRead, "spill_bytes" -> c.spill,
          "output_rows" -> c.outRows)
      }
    }
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Sum of per-pool heap peaks since the last reset (local mode: driver and
    * executors share this JVM).
    */
  private def peakHeap: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Materialize every column of `df` and return its row count in one job. */
  private def rowsOf(df: DataFrame): Long =
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), bit_xor(col("h"))).head().getLong(0)

  // ---- session ----------------------------------------------------------

  private def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The same fixed warm-up in every process, so set-up is comparable
    * across workloads: one small shuffle job brings up the scheduler, the
    * shuffle machinery and code generation.
    */
  private def warmUp(spark: SparkSession): Unit =
    spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 7 AS k").groupBy("k").count().collect()

  /** Fixed synthetic calibration: recorded in the header, never used to
    * rescale a metric.
    */
  private def calibration(spark: SparkSession): JMap[String, Any] = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val cpuS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.range(0, 200000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 97 AS k").groupBy("k").count().collect()
    val jobS = (System.nanoTime() - t1) / 1e9
    obj("cpu_loop_s" -> cpuS, "tiny_job_s" -> jobS, "checksum" -> (x & 0xff))
  }

  // ---- main -------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opts("mode")
    val work = Paths.get(opts("work"))
    val cpus = opts("cpus").toInt
    val spark = session(cpus, work)
    warmUp(spark)
    Console.out.println("READY")
    Console.out.flush()
    // A set-up probe has nothing more to measure; its private dirs are
    // removed by the launcher.
    if (mode == "setup") Runtime.getRuntime.halt(0)

    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val tracer = new Tracer(opts("run-id"))
    val listener = new OpListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val header = obj(
      "calibration" -> calibration(spark),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "graft_env" -> new JMap[String, Any](sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).asJava),
      "session_conf" -> new JMap[String, Any](spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") }.asJava))

    val ops = new JList[Any]()
    val extra = new JMap[String, Any]()
    heapPools.foreach(_.resetPeakUsage())
    var opNo = 0

    /** Run one operation under its own job group; failures are recorded,
      * never dropped.
      */
    def op(kind: String, name: String, traced: Boolean)(body: JMap[String, Any] => Unit): JMap[String, Any] = {
      val id = s"op$opNo"; opNo += 1
      val rec = obj("id" -> id, "kind" -> kind, "name" -> name, "traced" -> traced)
      System.gc()
      spark.catalog.clearCache()
      spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        if (traced) tracer.span(s"op:$name")(body(rec)) else body(rec)
        rec.put("ok", true)
      } catch {
        case e: Throwable =>
          rec.put("ok", false)
          rec.put("error", e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))
          rec.put("free_disk_bytes", work.toFile.getUsableSpace)
      } finally spark.sparkContext.clearJobGroup()
      rec.put("wall_s", (System.nanoTime() - t0) / 1e9)
      rec.put("persisted_rdds_after", spark.sparkContext.getPersistentRDDs.size)
      ops.add(rec)
      rec
    }

    mode match {
      case "chi2_reviews" =>
        val input = opts("input")
        val k = opts("k").toInt
        val outRoot = work.resolve("out")
        val minOps = opts("min-ops").toInt
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        var traced = false
        while (opNo < minOps || System.nanoTime() < deadline) {
          val out = outRoot.resolve(s"op$opNo").toString
          if (!traced) op("job", "chi2_reviews", traced = false) { rec =>
            val top = ChiSquarePipeline.topTerms(
              ReviewSource.readReviews(spark, input), "reviewText", "category", k)
            ChiSquarePipeline.formattedLines(top)(spark)
              .coalesce(1).write.mode("overwrite").text(out)
            rec.put("out", out)
          } else op("job", "chi2_reviews", traced = true) { rec =>
            // Prefix materializations: each adds one layer to the previous
            // prefix, so a layer's self time is its prefix's wall minus the
            // previous prefix's wall.
            val counts = new JMap[String, Any]()
            val reviews = ReviewSource.readReviews(spark, input)
            counts.put("sources.rows", tracer.span("sources.read")(rowsOf(reviews)))
            val (docs, toks) = ChiSquarePipeline.tokens(reviews, "reviewText", "category")
            counts.put("text.token_rows", tracer.span("text.tokenize")(rowsOf(toks)))
            val cont = Contingency.table(toks, docs)
            counts.put("stats.pairs", tracer.span("stats.contingency")(rowsOf(cont)))
            val scored = ChiSquarePipeline.chi2Table(reviews, "reviewText", "category")
            tracer.span("stats.chi2")(rowsOf(scored))
            val top = ChiSquarePipeline.topTerms(reviews, "reviewText", "category", k)
            counts.put("stats.topk_rows", tracer.span("stats.topk")(rowsOf(top)))
            tracer.span("pipeline.format") {
              val lines = tracer.span("phase.build") {
                ChiSquarePipeline.formattedLines(ChiSquarePipeline.topTerms(
                  ReviewSource.readReviews(spark, input), "reviewText", "category", k))(spark)
                  .coalesce(1)
              }
              tracer.span("phase.plan")(lines.queryExecution.executedPlan)
              tracer.span("phase.exec")(lines.write.mode("overwrite").text(out))
            }
            counts.put("pipeline.lines", Files.list(Paths.get(out)).iterator().asScala
              .filter(_.getFileName.toString.startsWith("part-"))
              .map(p => Files.readAllLines(p).size.toLong).sum)
            rec.put("counts", counts)
            rec.put("out", out)
          }
          if (trace) traced = !traced
        }

      case "registry" =>
        val fixture = opts("fixture")
        val names = opts("queries").split(",").toSeq
        val outRoot = work.resolve("out")
        val registry = graft.SparkEntry.queries
        val families = Seq(
          "pipeline" -> graft.pipeline.ChiSquareQueries.queries.keySet,
          "events" -> graft.events.Events.queries.keySet,
          "rel" -> (graft.rel.Relational.queries.keySet ++ graft.rel.Temporal.queries.keySet),
          "dedup" -> graft.dedup.Dedup.queries.keySet,
          "sim" -> graft.sim.Similarity.queries.keySet,
          "text" -> graft.text.Analysis.queries.keySet,
          "mm" -> graft.mm.Multimodal.queries.keySet,
          "ops" -> (graft.ops.Sampling.queries.keySet ++ graft.ops.Salted.queries.keySet),
          "streaming" -> (graft.streaming.StreamingChiSquare.queries.keySet ++
            graft.streaming.StreamingDedup.queries.keySet))
        // Untimed warm-up queries over a second fixture bring the shared
        // code paths (parquet scan, joins, aggregates, windows, shuffle) up
        // to speed, so the measured pass does not charge that to whichever
        // query the seed puts first. Memoized builds are keyed by fixture
        // directory, so the measured pass still pays its own.
        val warmFixture = opts("warmup-fixture")
        opts("warmup-queries").split(",").foreach(n =>
          registry(n)(spark, warmFixture).write.format("noop").mode("overwrite").save())
        graft.BuildWall.drain()
        val oracle = new JMap[String, Any]()
        // One pass, each query once: memoized builds are paid in the pass.
        // With tracing, each query runs plain, then traced, then plain again
        // as the warm reference the tracing overhead is taken against.
        for (name <- names; kind <- if (trace) Seq("query", "traced", "reference") else Seq("query")) {
          val traced = kind == "traced"
          val overrides = graft.SparkEntry.queryConfs(name, fixture, cpus)
          val saved = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
          overrides.foreach { case (k, v) => spark.conf.set(k, v) }
          val out = outRoot.resolve(if (kind == "query") name else s"$name.$kind").toString
          val rec = try op(kind, name, traced) { rec =>
            rec.put("family", families.collectFirst { case (f, ks) if ks(name) => f }.getOrElse("other"))
            rec.put("scoped_conf", new JMap[String, Any](overrides.asJava))
            val fn = registry(name)
            if (traced) {
              val df = tracer.span("phase.build")(fn(spark, fixture))
              tracer.span("phase.plan")(df.queryExecution.executedPlan)
              tracer.span("phase.exec")(df.write.mode("overwrite").parquet(out))
            } else fn(spark, fixture).write.mode("overwrite").parquet(out)
            rec.put("out", out)
          } finally saved.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
          rec.put("memo_build_s", graft.BuildWall.drain().values.sum)
          graft.SparkEntry.oracleSql.get(name).foreach(sql => oracle.put(name, sql))
        }
        extra.put("oracle_sql", oracle)
    }

    val peak = peakHeap
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      ops.asScala.foreach { o =>
        val rec = o.asInstanceOf[JMap[String, Any]]
        rec.put("exec", listener.toJson(rec.get("id").toString))
      }
    }
    val record = obj("mode" -> mode, "header" -> header, "ops" -> ops,
      "spans" -> tracer.toJson, "peak_heap_bytes" -> peak, "extra" -> extra)
    Files.writeString(Paths.get(opts("result")), mapper.writeValueAsString(record))
    spark.stop()
  }
}
