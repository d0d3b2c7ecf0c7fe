package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds the per-(term, category) 2×2 contingency table the chi-square
  * kernel needs (SURVEY §2.4 G1–G4 + §2.6 J1–J3).
  *
  * The reference assembles these counts inside a single reducer's Python
  * dicts (/root/reference/chi_square.py:50–62) or via stringly-tagged key
  * families routed through Hadoop shuffles (/root/reference/run_chi:69–73).
  * Here each count family is its own DataFrame and the "routing" is two
  * joins + two broadcasts — the skew-prone single-reducer funnel
  * (chi_square.py:46–47) and the fragile metadata-to-reducers trick
  * (run_chi:96–127, SURVEY J5) disappear entirely.
  *
  * Scale notes (100 TB posture):
  *  - `termCat` (G1) is the only big shuffle; it aggregates per-doc-distinct
  *    tokens, already combined map-side by Catalyst's partial HashAggregate.
  *  - `termTotal` (G2) is derived from G1's output (vocabulary-sized), not
  *    re-scanned from raw tokens; the J1 join is term-keyed and left to
  *    Catalyst/AQE (sort-merge or shuffled-hash; skewed terms get AQE
  *    skew-join splitting).
  *  - `catDocs` (G3) has category-many rows → broadcast join (J2).
  *  - N (G4) is a 1-row aggregate cross-joined via broadcast (J3), keeping
  *    the whole plan lazy (no driver-side count()).
  */
object Contingency {

  /** tokens(category, term) one row per (doc, distinct term) →
    * (term, category, a, t_total, c_total, n, b, c, d).
    *
    * `docs` must be the admitted documents (one row per document, with a
    * `category` column) — it supplies G3/G4 denominators.
    */
  def table(tokens: DataFrame, docs: DataFrame): DataFrame =
    // G1: A = #docs in category containing term (tokens are per-doc distinct)
    fromCounts(tokens.groupBy("term", "category").agg(count("*").as("a")),
      // G3: #docs per category
      docs.groupBy("category").agg(count("*").as("c_total")),
      // G4: N as a 1-row frame, keeping the DAG fully lazy
      docs.agg(count("*").as("n")))

  /** The count families → the same 2×2 table: `termCat` (term,
    * category, a), `catDocs` (category, c_total) and the 1-row `n`. The
    * batch pipeline counts them from tokens; the streaming maintainer
    * reads them from its store. `catDocs` and `n` are by-name so they
    * are built after G2: expression ids follow the G1→G4 order, which
    * keeps the flagship plan in docs/PLANS.md stable.
    */
  def fromCounts(termCat: DataFrame, catDocs: => DataFrame, n: => DataFrame): DataFrame = {
    // G2: #docs containing term anywhere — derived from G1, not re-scanned
    val termTotal = termCat.groupBy("term").agg(sum("a").as("t_total"))
    // G3 broadcasts (category cardinality is tiny); G4 is a 1-row broadcast
    val cd = catDocs
    val nDf = n
    termCat
      .join(termTotal, "term")
      .join(broadcast(cd), "category")
      .crossJoin(broadcast(nDf))
      .withColumn("b", col("t_total") - col("a"))
      .withColumn("c", col("c_total") - col("a"))
      .withColumn("d", col("n") - col("t_total") - col("c_total") + col("a"))
  }
}
