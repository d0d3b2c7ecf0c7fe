package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the partitioned-layout story: a corpus written
  * `partitionBy(category)` serves category-filtered queries by reading
  * ONLY the matching directories — the filter must show up as a
  * PartitionFilter (pruning at planning time), not a post-scan Filter.
  */
class PartitionPruningSpec extends SparkSpec {

  test("category filter becomes a partition filter on a partitioned sink") {
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = graft.TempDir("graft-part")
      .resolve("docs_by_lang").toString
    src.write.partitionBy("lang").mode("overwrite").parquet(out)

    val q = spark.read.parquet(out)
      .filter(col("lang") === "en" && length(col("text")) > 100)
      .groupBy("source").agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan.take(1500))
    assert(plan.contains("(lang"), plan.take(1500))
    // the data filter stays a data filter; the partition filter must NOT
    // appear in PushedFilters (it never reaches row groups at all)
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(!scanLine.contains("PushedFilters: [IsNotNull(lang"), scanLine)

    // correctness unchanged vs the unpartitioned source
    val expect = src.filter(col("lang") === "en" && length(col("text")) > 100)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }
}
