package graft.stats

import graft.SparkSpec

/** The paper's job runs one shuffle for its contingency counts: the
  * (term, category) aggregate is keyed by term, so the term-total
  * window reads it as is, and N is summed from the category totals in
  * the task that gathers them for their broadcast. At 100 TB the tokenize→explode→aggregate
  * subtree IS the dominant cost, so this spec pins that it is planned
  * once, shuffled once, and that the documents are scanned only twice.
  */
class ContingencyPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def query(name: String) =
    graft.pipeline.ChiSquareQueries.queries(name)(spark, dir)

  /** Runs a query and returns its AQE final plan and the number of
    * Spark jobs the run scheduled: AdaptiveSparkPlan prints the final
    * plan first, then the initial plan — only the final section
    * reflects what actually executed.
    */
  private def finalPlanAndJobs(name: String): (String, Int) = {
    val df = query(name)
    val group = s"plan-$name"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try df.collect() // materialize so AQE finalizes the adaptive plan
      finally spark.sparkContext.clearJobGroup()
      // The listener bus is async but FIFO: once the sentinel job's
      // event is visible, every event of the query's jobs is too.
      spark.sparkContext.setJobGroup(s"$group-sentinel", "sentinel")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$group-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(s"$group-sentinel"), "listener never observed the sentinel job")
    } finally spark.sparkContext.removeSparkListener(listener)
    val full = df.queryExecution.executedPlan.toString
    val finalPlan = full.split("== Initial Plan ==").head
    assert(finalPlan.contains("isFinalPlan=true"), full.take(500))
    (finalPlan, groups.toArray.count(_ == group))
  }

  private def finalPlanOf(name: String): String = finalPlanAndJobs(name)._1

  test("contingency counts shuffle once by term; two scans; five jobs") {
    val (finalPlan, jobs) = finalPlanAndJobs("chi2_top_terms")
    val show = finalPlan.take(4000)
    val termExchanges = """Exchange hashpartitioning\(term#\d+, \d+\)""".r
      .findAllIn(finalPlan).size
    assert(termExchanges === 1, show)
    assert("""hashpartitioning\(term#\d+, category#""".r.findFirstIn(finalPlan).isEmpty, show)
    assert("FileScan".r.findAllIn(finalPlan).size === 2, show)
    // N is summed where the category totals gather for their one
    // broadcast: no re-read of their exchange, no second broadcast
    assert(!finalPlan.contains("ReusedExchange"), show)
    assert("BroadcastExchange".r.findAllIn(finalPlan).size === 1, show)
    assert(!finalPlan.contains("Expand"), show)
    assert(!finalPlan.contains("SortMergeJoin"), show)
    assert(jobs === 5, s"$jobs jobs:\n$show")
  }

  test("the tokenizer subtree is planned and shuffled once (AQE final plan)") {
    // The term-total window reads the one term-keyed shuffle; no join
    // back to a second aggregate, hence no second consumer that an
    // exchange reuse would have to deduplicate.
    for (name <- Seq("chi2_top_terms", "chi2_formatted_lines", "chi2_scores")) {
      val finalPlan = finalPlanOf(name)
      val explodes = "Generate explode\\(graft_doc_terms".r.findAllIn(finalPlan).size
      assert(explodes === 1,
        s"$name: expected exactly 1 tokenizer explode, got $explodes:\n${finalPlan.take(3000)}")
      assert(finalPlan.contains("Window [sum(a#"), s"$name:\n${finalPlan.take(3000)}")
    }
  }

  test("χ² tail: no range-partition sort, a fused tokenizer, a group limit") {
    for (name <- Seq("chi2_top_terms", "chi2_formatted_lines")) {
      val finalPlan = finalPlanOf(name)
      // the ≤ k·|cats|·P window survivors are ordered in one task; a
      // global orderBy would add a sampling job and a range shuffle
      assert(!finalPlan.toLowerCase.contains("rangepartitioning"),
        s"$name:\n${finalPlan.take(3000)}")
      assert(finalPlan.contains("Coalesce 1"), s"$name:\n${finalPlan.take(3000)}")
      val generates = finalPlan.linesIterator.filter(_.contains("Generate")).toSeq
      val tokenizer = generates.filter(_.contains("graft_doc_terms"))
      assert(tokenizer.size === 1 && generates.forall(!_.contains("lambdafunction")),
        s"$name: ${generates.mkString("\n")}")
      assert(finalPlan.contains("WindowGroupLimit"), s"$name:\n${finalPlan.take(3000)}")
    }
  }

  test("formatted lines add no exchange to the top-k plan") {
    def exchanges(plan: String) = "Exchange ".r.findAllIn(plan).size
    val top = finalPlanOf("chi2_top_terms")
    val lines = finalPlanOf("chi2_formatted_lines")
    assert(exchanges(lines) === exchanges(top), lines.take(4000))
    assert(!lines.contains("Expand"), lines.take(4000))
  }

  test("topTerms collects in (category, rank) order") {
    val rows = query("chi2_top_terms").collect()
      .map(r => (r.getAs[String]("category"), r.getAs[Int]("rank"))).toSeq
    assert(rows.nonEmpty)
    assert(rows === rows.sorted)
  }
}
