package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.Tokenize
import graft.stats.{ChiSquare, Contingency, TopK}

/** End-to-end χ² term–category pipeline — the whole reference program
  * (/root/reference/readme:17–21) as one lazy Catalyst DAG.
  *
  * documents(text, category) →
  *   tokenize (per-doc distinct) → contingency counts → χ² → top-k per
  *   category → (+ merged dictionary / formatted lines).
  *
  * One action executes everything; there is no inter-stage HDFS
  * materialization (reference run_chi chains 4 MapReduce rounds) and no
  * single-reducer funnel (reference chi_square.py:46–47). Physical shape:
  * one wide shuffle for the contingency counts (the term-cat aggregate,
  * keyed by term so the term-total window reuses it; see
  * [[graft.functions.NarrowAggExchange]]), one scan and shuffle for the
  * category totals, which gather in one task that also sums them into N,
  * so one broadcast carries both; then the group-limited window. Only
  * its survivors meet in one partition for the final order and the
  * formatted lines.
  */
object ChiSquarePipeline {

  val DefaultK = 75

  /** Admitted docs + exploded per-doc-distinct tokens for a raw documents
    * DataFrame with columns (textCol, categoryCol).
    */
  def tokens(docsRaw: DataFrame, textCol: String, categoryCol: String,
      stopwords: Seq[String] = Tokenize.DefaultStopwords): (DataFrame, DataFrame) = {
    val docs = Tokenize.admitted_docs(docsRaw, textCol, categoryCol)
    val toks = docs.select(col("category"),
      explode(Tokenize.tokenArray(col(textCol), stopwords)).as("term"))
    (docs, toks)
  }

  /** (category, term, a, b, c, d, n, chi2) — contingency + χ², all pairs. */
  def chi2Table(docsRaw: DataFrame, textCol: String, categoryCol: String,
      stopwords: Seq[String] = Tokenize.DefaultStopwords): DataFrame = {
    val (docs, toks) = tokens(docsRaw, textCol, categoryCol, stopwords)
    withChi2(Contingency.table(toks, docs))
  }

  /** Flagship result: top-k terms per category, (category, term, chi2, rank),
    * ordered (category asc, rank asc) — reference output contract
    * readme:63–66 with tie-break canon D5.
    */
  def topTerms(docsRaw: DataFrame, textCol: String, categoryCol: String,
      k: Int = DefaultK,
      stopwords: Seq[String] = Tokenize.DefaultStopwords): DataFrame =
    ranked(chi2Table(docsRaw, textCol, categoryCol, stopwords), k)

  /** Adds `chi2` to a contingency table (a, b, c, d, n). */
  def withChi2(cont: DataFrame): DataFrame =
    cont.withColumn("chi2",
      ChiSquare.chi2(col("a"), col("b"), col("c"), col("d"), col("n")))

  /** The ranking tail shared by the batch and streaming forms: top-k
    * per category by (chi2 desc, term asc), ordered (category, rank).
    *
    * The window's partial `WindowGroupLimit` keeps at most k rows per
    * category in each of the P partitions of the stage that computes χ²,
    * so at most k·|categories|·P rows cross the window's shuffle.
    * `coalesce(1)` runs the window-final, the window and the sort in the
    * one task that reads them: no second shuffle, and no range-partition
    * sampling job as a global `orderBy` would pay.
    */
  def ranked(scored: DataFrame, k: Int): DataFrame =
    TopK.perGroup(scored, Seq(col("category")),
        Seq(col("chi2").desc, col("term").asc), k)
      .select("category", "term", "chi2", "rank")
      .coalesce(1).sortWithinPartitions(col("category"), col("rank"))

  /** Merged dictionary (SURVEY G6/T3): distinct selected terms, sorted. */
  def mergedDictionary(top: DataFrame): DataFrame =
    top.select("term").distinct().orderBy("term")

  /** Reference text-output parity (SURVEY F5/S5): one line per category
    * `<category> term1:chi2 … termk:chi2` (terms by rank), then one line
    * with the space-joined sorted dictionary (readme:63–66).
    *
    * χ² is emitted as fixed `%.6f` per SURVEY D6's canon: the
    * reference's Python float repr is engine-specific (Java flips to
    * E-notation below 1e-3, DuckDB doesn't), a fixed format is
    * diffable everywhere — and lets the driver oracle-check this
    * output (`chi2_formatted_lines`).
    */
  def formattedLines(top: DataFrame)(implicit spark: SparkSession): DataFrame =
    // `top` is one partition (see `ranked`), so neither aggregate below
    // shuffles: the first builds each category's line from its
    // rank-ordered kv pairs, the second gathers the lines in category
    // order and the sorted distinct term dictionary into one row, which
    // the explode emits in array order, dictionary last. An empty `top`
    // still makes that one global row (with no lines); `size(cats) > 0`
    // drops it, so no lone empty dictionary line is written.
    top
      .withColumn("kv", concat_ws(":", col("term"),
        format_string("%.6f", col("chi2"))))
      .groupBy(col("category"))
      .agg(concat_ws(" ", col("category"),
          array_sort(collect_list(struct(col("rank"), col("kv")))).getField("kv")).as("line"),
        collect_list(col("term")).as("terms"))
      .agg(array_sort(collect_list(struct(col("category"), col("line"))))
          .getField("line").as("cats"),
        concat_ws(" ", array_sort(array_distinct(flatten(collect_list(col("terms"))))))
          .as("dict"))
      .where(size(col("cats")) > 0)
      .select(explode(concat(col("cats"), array(col("dict")))).as("line"))
}
