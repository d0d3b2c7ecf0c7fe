package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-only measurement probe (guide §1: measure first). For each named
  * query it splits one invocation into the phases the bench's single
  * `materialize(fn(...))` wall conflates:
  *
  *   - build: `fn(spark, dir)` — plan construction + any documented
  *     eager-at-build collect (IVF training, bloom build, …)
  *   - plan: analysis + optimization + physical planning + codegen of
  *     the initial plan (`df.queryExecution.executedPlan` forced)
  *   - exec: the noop-sink run (includes AQE re-planning + execution)
  *
  * and repeats `iters` times so warm-vs-cold JIT/codegen is visible.
  * Optionally dumps `.explain("formatted")` to a directory (the
  * `plans/r16/<q>_{before,after}.txt` deliverables).
  *
  * Usage:
  *   sbt "runMain graft.tools.QueryProbe q1,q2 [iters] [plansDir] [suffix]"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val iters = if (args.length > 1) args(1).toInt else 3
    val plansDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Session.cpus
    val spark = graft.Session("graft-queryprobe", cpus)
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      graft.Session.withScopedConf(spark,
          graft.SparkEntry.queryConfs(name, sfDir, cpus)) {
        for (i <- 1 to iters) {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analyze+optimize+plan
          val t2 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          val t3 = System.nanoTime()
          println(f"PROBE $name%-28s iter=$i build=${(t1 - t0) / 1e9}%7.3f " +
            f"plan=${(t2 - t1) / 1e9}%7.3f exec=${(t3 - t2) / 1e9}%7.3f " +
            f"total=${(t3 - t0) / 1e9}%7.3f")
          if (i == iters) plansDir.foreach { pd =>
            Files.createDirectories(Paths.get(pd))
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
            Files.writeString(Paths.get(pd, s"${name}_$suffix.txt"), txt)
          }
        }
      }
    }
    spark.stop()
  }
}
