package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentLinkedQueue

/** Skew experiment (the `rel_salted_join` wire under real load): the
  * same hot-key fact⋈dim join run three ways on the same data —
  *
  *  - `salted_shj`: [[graft.ops.Salted.saltedJoin]] (fact salt + dim
  *    ×buckets replication, shuffle-hash) — the registered query's plan;
  *  - `plain_shj`: the unsalted shuffle-hash join (AQE on, but AQE's
  *    skew splitting covers sort-merge shapes — this is the stalled
  *    shape salting exists for);
  *  - `aqe_smj`: the unsalted sort-merge join with AQE skew-join
  *    handling explicitly enabled (`skewJoin.enabled`, thresholds
  *    lowered so the fixture's hot partition actually trips it).
  *
  * For each variant: wall seconds (median of `iters`) and the join
  * run's TASK-TIME distribution (p50/p90/max, count) from a task-end
  * listener — the straggler signal is max/p50.
  *
  * Two fact sizes run: the registered query's own (documents ⋈ lang
  * profile — 500 k rows at sf10, where the hot key fits one task
  * comfortably and the histograms quantify the salt's overhead), and
  * an ×`inflate` exploded fact (deterministic sequence explode,
  * disclosed synthetic) that gives the hot key the
  * many-times-a-comfortable-task volume it has at 100 TB, where the
  * straggler cut is the point.
  *
  * Usage: runMain graft.tools.SkewBench [sfDir] [inflate] [iters]
  * Prints one JSON line per (shape, variant); paste into
  * docs/BENCH_NOTES.md.
  */
object SkewBench {

  private final class TaskTimes extends SparkListener {
    val q = new ConcurrentLinkedQueue[Long]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      q.add(te.taskInfo.duration)
    def reset(): Unit = q.clear()
    def stats(): (Int, Long, Long, Long) = {
      Thread.sleep(150)
      val ds = q.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted
      if (ds.isEmpty) (0, 0L, 0L, 0L)
      else (ds.length, ds(ds.length / 2), ds((ds.length * 9) / 10), ds.last)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/repo/target/testdata/sf10")
    val inflate = args.lift(1).map(_.toInt).getOrElse(64)
    val iters = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Session("graft-skewbench")
    val listener = new TaskTimes
    spark.sparkContext.addSparkListener(listener)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    def dim(d: DataFrame) = d.groupBy("lang").agg(
      count(lit(1)).as("key_docs"), sum(col("n_chars")).as("key_chars"))

    def run(name: String, plan: () => DataFrame): Unit = {
      // warm once, then time
      plan().write.mode("overwrite").format("noop").save()
      val times = (1 to iters).map { _ =>
        spark.catalog.clearCache(); System.gc()
        listener.reset()
        val t0 = System.nanoTime()
        plan().write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      val (n, p50, p90, max) = listener.stats() // last iteration's tasks
      val wall = times.sorted.apply(times.size / 2)
      println(f"""{"shape_variant":"$name","wall_sec":$wall%.3f,"tasks":$n,"task_p50_ms":$p50,"task_p90_ms":$p90,"task_max_ms":$max}""")
    }

    def variants(shape: String, fact: DataFrame): Unit = {
      val d = dim(fact)
      run(s"${shape}_salted_shj", () =>
        graft.ops.Salted.saltedJoin(fact, d.hint("shuffle_hash"), "lang"))
      run(s"${shape}_plain_shj", () =>
        fact.join(d.hint("shuffle_hash"), Seq("lang")))
      val aqeConfs = Seq(
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        // fixture partitions are far below the 256 MB default
        // threshold — lower it so AQE's splitter actually engages
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
      graft.Session.withScopedConf(spark, aqeConfs.toMap) {
        run(s"${shape}_aqe_smj", () => fact.join(d.hint("merge"), Seq("lang")))
      }
    }

    variants("registered", docs)
    // deterministic ×inflate fact: the hot key at a volume where it no
    // longer fits one comfortable task (the 100 TB shape, synthesized)
    val big = docs.withColumn("__i",
      explode(sequence(lit(0), lit(inflate - 1)))).drop("__i")
    variants(s"inflated_x$inflate", big)

    spark.stop()
  }
}
