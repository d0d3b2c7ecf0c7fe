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
  * two wide shuffles (term-cat aggregate; term-total join) + two
  * broadcasts (category totals, N) + the group-limited window.
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
    */
  def ranked(scored: DataFrame, k: Int): DataFrame =
    TopK.perGroup(scored, Seq(col("category")),
        Seq(col("chi2").desc, col("term").asc), k)
      .select("category", "term", "chi2", "rank")
      .orderBy(col("category"), col("rank"))

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
  def formattedLines(top: DataFrame)(implicit spark: SparkSession): DataFrame = {
    // ONE pass over `top` (r16): the per-category lines and the
    // dictionary line are two groupings of the same rows, so a ROLLUP
    // computes both in a single aggregate (Expand ×2 over the ≤ k·|cats|
    // top rows) — the union form planned the ENTIRE chi² subtree twice
    // (tokenize → contingency → window), and Spark reuses exchanges,
    // not the window/format work above them. Lines are byte-identical:
    // the category groups emit the same rank-ordered kv string, the
    // rollup's grand-total group emits the sorted distinct term
    // dictionary (collect_set ≡ distinct), and `grouping()` — not a
    // null test — marks the total row, so a hypothetical null category
    // could never collide with it.
    top
      .withColumn("kv", concat_ws(":", col("term"),
        format_string("%.6f", col("chi2"))))
      .rollup(col("category"))
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("rank"), col("kv"))))
        .getField("kv")).as("terms"),
        concat_ws(" ", array_sort(collect_set(col("term")))).as("dict"),
        grouping(col("category")).as("g"))
      .select(
        when(col("g") === 1, col("dict"))
          .otherwise(concat_ws(" ", col("category"), col("terms"))).as("line"),
        when(col("g") === 1, lit("￿")) // dictionary last
          .otherwise(col("category")).as("sort_key"))
      .orderBy("sort_key").select("line")
  }
}
