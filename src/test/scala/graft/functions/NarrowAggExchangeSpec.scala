package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Session, SparkSpec}

/** [[NarrowAggExchange]]: where an aggregate keyed by K2 feeds a
  * consumer that needs hash(K1), K1 ⊂ K2, the aggregate's one shuffle is
  * keyed by K1 and the second exchange is gone — with AQE on only, and
  * never at the cost of an extra shuffle.
  */
class NarrowAggExchangeSpec extends SparkSpec {

  /** Rows (sorted) and the executed plan; with AQE on, only the final
    * section of the adaptive plan.
    */
  private def run(df: DataFrame): (Seq[String], String) = {
    val rows = df.collect().map(_.toString).toSeq.sorted
    (rows, df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
  }

  /** `text_tfidf`'s build over a small in-memory corpus. */
  private def tfidf = {
    import spark.implicits._
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    graft.text.Analysis.tfidf((0L until 200L).map(i => (i,
        (0 until 12).map(j => words(((i * 7 + j * j) % words.size).toInt)).mkString(" ")))
      .toDF("doc_id", "text"))
  }

  private val docTermExchange = """Exchange hashpartitioning\(doc_id#\d+L?, t#""".r
  private val termExchange = """Exchange hashpartitioning\(t#\d+, \d+\)""".r

  test("text_tfidf: the (doc, term) count shuffles once, by term") {
    val (rows, plan) = run(tfidf)
    assert(rows.nonEmpty)
    assert(plan.contains("isFinalPlan=true"), plan.take(500))
    assert(docTermExchange.findFirstIn(plan).isEmpty, plan.take(4000))
    assert(termExchange.findAllIn(plan).size === 1, plan.take(4000))
  }

  test("AQE off: the rule does not fire and the rows are the same") {
    val (onRows, _) = run(tfidf)
    val (offRows, offPlan) = Session.withScopedConf(spark,
        Map("spark.sql.adaptive.enabled" -> "false"))(run(tfidf))
    assert(!offPlan.contains("AdaptiveSparkPlan"), offPlan.take(500))
    assert(docTermExchange.findAllIn(offPlan).size === 1, offPlan.take(4000))
    assert(termExchange.findAllIn(offPlan).size === 1, offPlan.take(4000))
    assert(offRows === onRows)
  }

  test("a join AQE turns into a broadcast gets no extra shuffle") {
    import spark.implicits._
    // Planned as a sort-merge join (no broadcast at planning time); at
    // run time the right side is tiny, so AQE switches to a broadcast.
    // Without the rule the plan would shuffle the aggregate on (k, v) and
    // the right side on k; with it, the aggregate on k and the right
    // side on k: two shuffles either way.
    val conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")
    val (rows, plan) = Session.withScopedConf(spark, conf) {
      val counts = spark.range(0, 20000).select(($"id" % 97).as("k"), ($"id" % 13).as("v"))
        .groupBy("k", "v").agg(count(lit(1)).as("c"))
      val small = spark.range(0, 40).select(($"id" * 3).as("k"), ($"id" % 2).as("flag"))
      run(counts.join(small, "k"))
    }
    assert(rows.size === 33 * 13) // k = 0, 3, …, 96 all occur, 13 v's each
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      plan.take(4000))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles === 2, plan.take(4000))
    assert("""Exchange hashpartitioning\(k#\d+L, v#""".r.findFirstIn(plan).isEmpty,
      plan.take(4000))
  }
}
