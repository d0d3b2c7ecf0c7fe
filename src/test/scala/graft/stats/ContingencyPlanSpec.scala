package graft.stats

import graft.SparkSpec

/** The termCat subtree (tokenize → explode → first aggregate) feeds both
  * the join left side and the termTotal aggregate. At 100 TB that subtree
  * IS the dominant cost — if the exchange reuse does not deduplicate it,
  * the whole tokenize→explode→aggregate pipeline runs twice. This spec
  * pins the reuse so a refactor can't silently lose it.
  */
class ContingencyPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def query(name: String) =
    graft.pipeline.ChiSquareQueries.queries(name)(spark, dir)

  /** Runs a query and returns its AQE final plan: AdaptiveSparkPlan
    * prints the final plan first, then the initial plan — only the
    * final section reflects what actually executed.
    */
  private def finalPlanOf(name: String): String = {
    val df = query(name)
    df.collect() // materialize so AQE finalizes the adaptive plan
    val full = df.queryExecution.executedPlan.toString
    val finalPlan = full.split("== Initial Plan ==").head
    assert(finalPlan.contains("isFinalPlan=true"), full.take(500))
    finalPlan
  }

  test("the shared termCat exchange is planned once and reused (AQE final plan)") {
    val finalPlan = finalPlanOf("chi2_top_terms")
    assert(finalPlan.contains("ReusedExchange"),
      s"termCat subtree must be shuffled once and reused:\n${finalPlan.take(3000)}")
    // exactly one tokenize→explode in the executed plan: the reused
    // exchange replaces the second copy
    val generates = "Generate explode".r.findAllIn(finalPlan).size
    assert(generates === 1,
      s"expected exactly 1 explode in the final plan, got $generates")
  }

  test("χ² tail: no range-partition sort, a fused tokenizer, a group limit") {
    for (name <- Seq("chi2_top_terms", "chi2_formatted_lines")) {
      val finalPlan = finalPlanOf(name)
      // the ≤ k·|cats| ranked rows are ordered in one partition; a
      // global orderBy would add a sampling job and a range shuffle
      assert(!finalPlan.toLowerCase.contains("rangepartitioning"),
        s"$name:\n${finalPlan.take(3000)}")
      val generates = finalPlan.linesIterator.filter(_.contains("Generate")).toSeq
      assert(generates.nonEmpty && generates.forall(g =>
          g.contains("graft_doc_terms") && !g.contains("lambdafunction")),
        s"$name: ${generates.mkString("\n")}")
      assert(finalPlan.contains("WindowGroupLimit"), s"$name:\n${finalPlan.take(3000)}")
    }
  }

  test("topTerms collects in (category, rank) order") {
    val rows = query("chi2_top_terms").collect()
      .map(r => (r.getAs[String]("category"), r.getAs[Int]("rank"))).toSeq
    assert(rows.nonEmpty)
    assert(rows === rows.sorted)
  }
}
