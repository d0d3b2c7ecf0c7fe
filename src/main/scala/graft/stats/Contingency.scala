package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Builds the per-(term, category) 2×2 contingency table the chi-square
  * kernel needs (SURVEY §2.4 G1–G4 + §2.6 J1–J3).
  *
  * The reference assembles these counts inside a single reducer's Python
  * dicts (/root/reference/chi_square.py:50–62) or via stringly-tagged key
  * families routed through Hadoop shuffles (/root/reference/run_chi:69–73).
  * Here each count family is its own DataFrame and the "routing" is one
  * term window + one broadcast — the skew-prone single-reducer funnel
  * (chi_square.py:46–47) and the fragile metadata-to-reducers trick
  * (run_chi:96–127, SURVEY J5) disappear entirely.
  *
  * Scale notes (100 TB posture):
  *  - `termCat` (G1) is the only big shuffle; it aggregates per-doc-distinct
  *    tokens, already combined map-side by Catalyst's partial HashAggregate.
  *    [[graft.functions.NarrowAggExchange]] keys that one shuffle by term
  *    alone, so the G2 window below needs no second exchange.
  *  - `t_total` (G2) is `sum(a) over (partition by term)` on G1's output
  *    (vocabulary-sized), not re-scanned from raw tokens. A term's window
  *    partition holds at most |categories| rows, however frequent the
  *    term.
  *  - `catDocs` (G3) has category-many rows → broadcast join (J2).
  *  - N (G4) is `sum(c_total)` over G3, summed in the one task that
  *    gathers G3 for the broadcast and carried on every G3 row (J3),
  *    keeping the whole plan lazy (no driver-side count()) and the
  *    documents scanned twice (tokens, category totals).
  */
object Contingency {

  /** tokens(category, term) one row per (doc, distinct term) →
    * (category, term, a, t_total, c_total, n, b, c, d).
    *
    * `docs` must be the admitted documents (one row per document, with a
    * `category` column) — it supplies G3/G4 denominators.
    */
  def table(tokens: DataFrame, docs: DataFrame): DataFrame =
    // G1: A = #docs in category containing term (tokens are per-doc
    // distinct); G3: #docs per category
    fromCounts(tokens.groupBy("term", "category").agg(count("*").as("a")),
      docs.groupBy("category").agg(count("*").as("c_total")))

  /** The count families → the same 2×2 table: `termCat` (term,
    * category, a) and `catDocs` (category, c_total). The batch pipeline
    * counts them from tokens; the streaming maintainer reads them from
    * its store.
    */
  def fromCounts(termCat: DataFrame, catDocs: DataFrame): DataFrame = {
    // G4: N = sum(c_total), computed in the one task that gathers the
    // category totals (category-many rows) and carried on each of them
    // into the broadcast: no separate 1-row aggregate, exchange or
    // broadcast for N
    val totals = catDocs.coalesce(1)
      .agg(collect_list(struct("category", "c_total")).as("cats"), sum("c_total").as("n"))
      .select(explode(col("cats")).as("cat"), col("n"))
      .select(col("cat.category").as("category"), col("cat.c_total").as("c_total"), col("n"))
    // G2: #docs containing term anywhere — a window over G1, not a re-scan
    termCat
      .withColumn("t_total", sum("a").over(Window.partitionBy("term")))
      .join(broadcast(totals), "category")
      .withColumn("b", col("t_total") - col("a"))
      .withColumn("c", col("c_total") - col("a"))
      .withColumn("d", col("n") - col("t_total") - col("c_total") + col("a"))
  }
}
