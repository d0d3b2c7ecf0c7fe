package graft.tools

/** Plan-shape diagnostic: prints Exchange / ReusedExchange / scan
  * counts for a registered query's initial and AQE-final plans —
  * `Test/runMain graft.tools.PlanDiag <query> [sfDir]`. This is how
  * the r12 docsets re-execution was found (initial plan showed 8
  * scans/0 reuses; the final plan's 2 scans looked healthy, but the
  * 10 surviving exchanges exposed the per-consumer re-run of the
  * aggregate ABOVE the reused stage — see docs/BENCH_NOTES.md round
  * 12).
  */
object PlanDiag {
  def main(args: Array[String]): Unit = {
    val q = args.headOption.getOrElse("dedup_ngram_jaccard")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session("plan-diag")
    val df = graft.SparkEntry.queries(q)(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    def cnt(re: String, s: String) = re.r.findAllIn(s).size
    println(s"INITIAL exchanges=${cnt("Exchange hashpartitioning", p)} reused=${cnt("ReusedExchange", p)} scans=${cnt("Scan parquet", p)}")
    df.collect()
    val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    println(s"FINAL exchanges=${cnt("Exchange hashpartitioning", fin)} reused=${cnt("ReusedExchange", fin)} stages=${cnt("ShuffleQueryStage", fin)} scans=${cnt("Scan parquet", fin)}")
    spark.stop()
  }
}
