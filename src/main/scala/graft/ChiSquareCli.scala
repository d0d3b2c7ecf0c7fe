package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.ChiSquarePipeline
import graft.sources.ReviewSource
import graft.text.Tokenize

/** End-to-end CLI with the reference's invocation contract
  * (`python chi_square.py <input> --stopwords <file>` →
  * readme:63–66 output): reads JSONL reviews, runs the χ² pipeline, and
  * writes the `<category> term:chi2 …` lines plus the trailing merged
  * dictionary line as text.
  *
  * Usage:
  *   runMain graft.ChiSquareCli <input.jsonl> <outDir>
  *     [--stopwords <file>] [--k <n>]
  *
  * The text sink (S5/F5) coalesces to ONE file because the output is
  * O(categories · k) lines — tiny by construction, regardless of input
  * scale; everything before it is fully distributed.
  */
object ChiSquareCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ChiSquareCli <input.jsonl> <outDir> [--stopwords <file>] [--k <n>]")
    val input = args(0)
    val outDir = args(1)
    val opts = args.drop(2).sliding(2, 2).collect {
      case Array(k, v) => k -> v
    }.toMap
    val k = opts.get("--k").map(_.toInt).getOrElse(ChiSquarePipeline.DefaultK)

    // SPARK_MASTER points the job at a cluster; unset, it runs local.
    implicit val spark: SparkSession = Session("graft-chi-square",
      conf = sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)

    val stopwords = opts.get("--stopwords")
      .map(p => ReviewSource.loadStopwords(spark, p))
      .getOrElse(Tokenize.DefaultStopwords)

    val reviews = ReviewSource.readReviews(spark, input)
    val top = ChiSquarePipeline.topTerms(
      reviews, "reviewText", "category", k, stopwords)
    ChiSquarePipeline.formattedLines(top)
      .coalesce(1)
      .write.mode("overwrite").text(outDir)

    spark.stop()
  }
}
