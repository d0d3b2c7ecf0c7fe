package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.broadcast
import scala.jdk.CollectionConverters._

/** The registry runner's policy: selection, the scoped conf around a
  * failing query, the JSON escaper, Bench's handshake line, the plan
  * census and the plan text's renumbering.
  */
class RunnerSpec extends SparkSpec {

  private val json = new ObjectMapper

  test("selection keeps registry order and fails on an unknown name") {
    assert(Runner.select(None) === SparkEntry.queries.keys.toSeq)
    assert(Runner.select(Some(" text_pack,chi2_top_terms ,")) ===
      SparkEntry.queries.keys.toSeq.filter(Set("text_pack", "chi2_top_terms")))
    val err = intercept[IllegalArgumentException](
      Runner.select(Some("chi2_top_terms,no_such_query")))
    assert(err.getMessage.contains("no_such_query"))
  }

  test("a query's scoped conf is restored after it throws") {
    val key = "spark.sql.shuffle.partitions"
    // the replay conf sets 4 partitions whatever the fixture
    assert(SparkEntry.queryConfs("chi2_streaming_replay", "/root/testdata/sf0.001", 4)
      .get(key).contains("4"))
    Session.withScopedConf(spark, Map(key -> "7")) {
      var seen = ""
      val got = new Runner("spec", spark, 4).run("chi2_streaming_replay",
          "/root/testdata/sf0.001") { _ =>
        seen = spark.conf.get(key)
        throw new IllegalStateException("boom")
      }
      assert(got === Left("boom"))
      assert(seen === "4")
      assert(spark.conf.get(key) === "7")
    }
  }

  test("the JSON escaper round-trips control characters, quotes and backslashes") {
    val s = "a\tb\rc\nd\"e\\f\u0001g"
    assert(Runner.json(s) === "\"a\\tb\\rc\\nd\\\"e\\\\f\\u0001g\"")
    assert(json.readValue(Runner.json(s), classOf[String]) === s)
  }

  test("Bench's handshake line keeps its keys in order with %.4f numbers") {
    val runs = Seq(
      Bench.QueryRun("q_ok", Seq(Bench.Sample(1.5, 0.25)), None, Seq("spill_mem" -> 0L), 0.5),
      Bench.QueryRun("q_bad", Nil, Some("bad\tthing"), Nil, 0.0))
    val (line, full) = Bench.report(runs, iters = 1, "/data/sf0.001")
    assert(line === """{"metric":"total","value":1.5000,"unit":"sec",""" +
      """"queries":{"q_ok":1.5000,"q_bad":-1.0000},"builds":{"q_ok":0.5000},""" +
      """"errors":{"q_bad":"bad\tthing"},"sf":"/data/sf0.001"}""")
    def keys(s: String) = json.readTree(s).fieldNames.asScala.toSeq
    assert(keys(line) === Seq("metric", "value", "unit", "queries", "builds", "errors", "sf"))
    assert(keys(full) === Seq("metric", "value", "unit", "queries", "builds",
      "samples", "build_samples", "metrics", "errors", "sf"))
    assert(json.readTree(full).get("build_samples").get("q_ok").get(0).asDouble === 0.25)
  }

  test("the census counts a parquet aggregate's shuffle and scan") {
    val s = spark; import s.implicits._
    val path = TempDir("graft-census").resolve("t.parquet").toString
    Seq((1, "a"), (2, "b"), (3, "a")).toDF("n", "k").write.parquet(path)
    val df = spark.read.parquet(path).groupBy("k").count()
    assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(Runner.shape(df) === Runner.Shape(shuffles = 1, broadcasts = 0, scans = 1))
  }

  test("the census counts a hinted broadcast join's broadcast") {
    val df = spark.range(100).join(broadcast(spark.range(10)), "id")
    assert(Runner.shape(df).broadcasts === 1)
  }

  test("the census of a local relation with no AQE wrapper is empty") {
    val s = spark; import s.implicits._
    val df = Seq(1, 2, 3).toDF("n").filter($"n" > 1)
    assert(!df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    assert(Runner.shape(df) === Runner.Shape(0, 0, 0))
  }

  test("plan text renumbers lambda variables and drops call-site lines") {
    val plan =
      """Arguments: [doc_id#41L, kset#42], MapPartitionsRDD[150] at localCheckpoint at Dedup.scala:288, ExistingRDD
        |Arguments: explode(flatten(transform(arr#29, lambdafunction(transform(slice(arr#29, (lambda y_24#30 + 2), size(arr#29, false)), lambdafunction(struct(doc_a, lambda x_17#31L, doc_b, lambda x_18#32L), lambda x_18#32L, false)), lambda x_17#31L, lambda y_24#30, false)))), false, [p#33]
        |Output [1]: [aggregate(v#5, 0.0, lambdafunction((lambda x_4#35 + lambda y_27#36), lambda x_4#35, lambda y_27#36, false)) AS s#34]
        |""".stripMargin
    assert(Runner.renumber(plan) ===
      """Arguments: [doc_id#1L, kset#2], MapPartitionsRDD[1] at localCheckpoint at Dedup.scala, ExistingRDD
        |Arguments: explode(flatten(transform(arr#3, lambdafunction(transform(slice(arr#3, (lambda y_1#4 + 2), size(arr#3, false)), lambdafunction(struct(doc_a, lambda x_1#5L, doc_b, lambda x_2#6L), lambda x_2#6L, false)), lambda x_1#5L, lambda y_1#4, false)))), false, [p#7]
        |Output [1]: [aggregate(v#8, 0.0, lambdafunction((lambda x_3#9 + lambda y_2#10), lambda x_3#9, lambda y_2#10, false)) AS s#11]
        |""".stripMargin)
  }
}
