package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.Tokenize
import graft.stats.{ChiSquare, Contingency}

/** Driver-contract registry for the χ² family (reference-parity surface).
  * Each query reads the driver fixtures (`documents.parquet`: `text` plays
  * reviewText, `lang` plays category — SURVEY §1.5) and has a DuckDB oracle
  * mirroring the exact same semantics, down to IEEE-754 operation order in
  * the χ² expression (ChiSquare.chi2Sql).
  */
object ChiSquareQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.parquet(spark, dir, "documents")

  val K = ChiSquarePipeline.DefaultK

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship: the whole reference program (SURVEY §7.2).
    "chi2_top_terms" -> ((s, dir) =>
      ChiSquarePipeline.topTerms(docs(s, dir), "text", "lang", K)),
    // Contingency table, all (term, category) pairs (SURVEY A1, G1–G4, J1–J3).
    "chi2_contingency" -> ((s, dir) => {
      val d = docs(s, dir)
      val (adm, toks) = ChiSquarePipeline.tokens(d, "text", "lang")
      Contingency.table(toks, adm)
        .select("category", "term", "a", "b", "c", "d", "n")
        .orderBy("category", "term")
    }),
    // Per-(term, category) document frequency (SURVEY G1 alone).
    "chi2_tokenize_docfreq" -> ((s, dir) => {
      val (_, toks) = ChiSquarePipeline.tokens(docs(s, dir), "text", "lang")
      toks.groupBy("term", "category").agg(count("*").as("df"))
        .orderBy("term", "category")
    }),
    // Merged dictionary of selected terms (SURVEY G6/T3).
    "chi2_merged_dict" -> ((s, dir) =>
      ChiSquarePipeline.mergedDictionary(
        ChiSquarePipeline.topTerms(docs(s, dir), "text", "lang", K))),
    // χ² scores for every pair (no top-k) — exercises A2's zero-guard too.
    "chi2_scores" -> ((s, dir) =>
      ChiSquarePipeline.chi2Table(docs(s, dir), "text", "lang")
        .select("category", "term", "chi2")
        .orderBy("category", "term")),
    // The reference's exact text-output contract as data: category lines
    // + trailing dictionary line (S5/F5, readme:63–66).
    "chi2_formatted_lines" -> ((s, dir) =>
      ChiSquarePipeline.formattedLines(
        ChiSquarePipeline.topTerms(docs(s, dir), "text", "lang", K))(s)),
    // Same flagship against the 20-value `source` column: a 4× larger
    // category dimension through the identical generic pipeline (the
    // category-totals broadcast stays trivially small either way).
    "chi2_top_terms_by_source" -> ((s, dir) =>
      ChiSquarePipeline.topTerms(docs(s, dir), "text", "source", K)),
    // The reference's ACTUAL input path under the oracle gate: the
    // documents table is mirrored to JSONL (reviewText/category field
    // names, S1) with malformed lines injected, read back through
    // ReviewSource's explicit-schema DROPMALFORMED scan (S4), then the
    // flagship pipeline. Same oracle as chi2_top_terms — the scan must
    // lose exactly the malformed lines and nothing else.
    "chi2_top_terms_jsonl" -> ((s, dir) => {
      // lines the DROPMALFORMED scan must silently skip: broken JSON, a
      // bare value, and a truncated object
      val jsonlDir = mirror(s, dir, "jsonl_mirror", "json",
        "this is not json\n42\n{\"reviewText\": \"unterminated\n")
      ChiSquarePipeline.topTerms(
        graft.sources.ReviewSource.readReviews(s, jsonlDir),
        "reviewText", "category", K)
    }),
    // The same contract over headerless CSV (the other classic ingest
    // format): explicit positional schema, DROPMALFORMED, same oracle —
    // the scan must lose exactly the malformed rows and nothing else,
    // and the CSV writer/reader must round-trip text verbatim (quoting
    // included) for the hash to match.
    "chi2_top_terms_csv" -> ((s, dir) => {
      // CSV's own failure modes: an over-wide row, an unterminated quote
      val csvDir = mirror(s, dir, "csv_mirror", "csv",
        "one,two,three,four\n\"unterminated quote, oops\n")
      ChiSquarePipeline.topTerms(
        graft.sources.ReviewSource.readReviewsCsv(s, csvDir),
        "reviewText", "category", K)
    })
  )

  /** Mirrors `documents` (text→reviewText, lang→category) in `format`,
    * plus one file of `junk` lines the DROPMALFORMED scan must skip;
    * returns the directory. The mirror is a pure function of the
    * (immutable) fixture, so [[graft.Memo.store]] writes it once per
    * (app, dir): a rewrite per invocation would put a full-dataset
    * write inside every timed run of the query.
    */
  private def mirror(s: SparkSession, dir: String, label: String,
      format: String, junk: String): String =
    graft.Memo.store(s, dir, label) { out =>
      docs(s, dir)
        .select(col("text").as("reviewText"), col("lang").as("category"))
        .write.mode("overwrite").format(format).save(out.toString)
      java.nio.file.Files.write(out.resolve(s"malformed.$format"), junk.getBytes("UTF-8"))
    }.toString

  val specs: Map[String, graft.QuerySpec] = {
    val mirrored = graft.QuerySpec(build = graft.QuerySpec.Memoized(
      "nothing collected: the first build per (app, dir) WRITES the ingest mirror (documents' text and lang, plus the malformed lines); later builds read it",
      "one copy of documents' text and lang columns"))
    Map("chi2_top_terms_jsonl" -> mirrored, "chi2_top_terms_csv" -> mirrored)
  }

  // ---- DuckDB oracle SQL ----------------------------------------------

  private val stopList = Tokenize.stopwordsInList(Tokenize.DefaultStopwords)

  /** Shared CTE prefix: admitted docs + per-doc-distinct tokens + counts.
    * (DuckDB evaluates only the CTEs the final SELECT reaches.)
    * Parameterized over the category column (lang for the flagship
    * family, source for the high-cardinality variant).
    */
  private def cteFor(catCol: String): String =
    s"""WITH docs AS (
         |  SELECT doc_id, $catCol AS category, lower(text) AS t
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(text) > 0
         |    AND $catCol IS NOT NULL AND length($catCol) > 0
         |), tok AS (
         |  SELECT DISTINCT doc_id, category, term FROM (
         |    SELECT doc_id, category,
         |           unnest(regexp_split_to_array(t, '${Tokenize.DelimRegexSql}')) AS term
         |    FROM docs)
         |  WHERE length(term) > 1 AND length(term) < 50 AND term NOT IN $stopList
         |), term_cat AS (
         |  SELECT term, category, count(*) AS a FROM tok GROUP BY 1, 2
         |), cont AS (
         |  SELECT tc.category, tc.term, tc.a,
         |         tt.t_total - tc.a AS b,
         |         cd.c_total - tc.a AS c,
         |         nt.n - tt.t_total - cd.c_total + tc.a AS d,
         |         nt.n
         |  FROM term_cat tc
         |  JOIN (SELECT term, CAST(sum(a) AS BIGINT) AS t_total FROM term_cat GROUP BY 1) tt USING (term)
         |  JOIN (SELECT category, count(*) AS c_total FROM docs GROUP BY 1) cd USING (category)
         |  CROSS JOIN (SELECT count(*) AS n FROM docs) nt
         |), scored AS (
         |  SELECT category, term, ${ChiSquare.chi2Sql} AS chi2 FROM cont
         |), ranked AS (
         |  SELECT category, term, chi2,
         |         CAST(row_number() OVER (PARTITION BY category ORDER BY chi2 DESC, term ASC) AS INT) AS rank
         |  FROM scored
         |)""".stripMargin

  private val cte: String = cteFor("lang")

  /** The flagship's answer: top-K terms per category. */
  private def topTermsSql(cte: String): String =
    s"""$cte
       |SELECT category, term, chi2, rank FROM ranked
       |WHERE rank <= $K ORDER BY category, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "chi2_top_terms" -> topTermsSql(cte),
    "chi2_contingency" ->
      s"""$cte
         |SELECT category, term, a, b, c, d, n FROM cont
         |ORDER BY category, term""".stripMargin,
    "chi2_tokenize_docfreq" ->
      s"""$cte
         |SELECT term, category, a AS df FROM term_cat
         |ORDER BY term, category""".stripMargin,
    "chi2_merged_dict" ->
      s"""$cte
         |SELECT DISTINCT term FROM ranked WHERE rank <= $K ORDER BY term""".stripMargin,
    "chi2_scores" ->
      s"""$cte
         |SELECT category, term, chi2 FROM scored
         |ORDER BY category, term""".stripMargin,
    "chi2_top_terms_by_source" -> topTermsSql(cteFor("source")),
    // identical to chi2_top_terms: the JSONL mirror + DROPMALFORMED scan
    // must be semantically invisible (only the injected junk lines drop)
    "chi2_top_terms_jsonl" -> topTermsSql(cte),
    // same contract for the CSV mirror: round-trip + malformed-drop
    // must be semantically invisible
    "chi2_top_terms_csv" -> topTermsSql(cte),
    // printf('%.6f') mirrors Java's %.6f digit-for-digit on doubles in
    // practice here. A true rounding tie needs a double whose decimal
    // expansion terminates at exactly 7 digits ending in 5 (they exist:
    // 1/128 = 0.0078125) — there Java rounds HALF_UP, DuckDB half-even,
    // and the line would differ by 1e-6. χ² values (ratios of large
    // integer products) don't land on such dyadic points; if one ever
    // did, canonicalize by rounding the double to 6 decimals BEFORE
    // formatting in both engines.
    "chi2_formatted_lines" ->
      s"""$cte
         |SELECT line FROM (
         |  SELECT category || ' ' ||
         |         string_agg(term || ':' || printf('%.6f', chi2), ' ' ORDER BY rank)
         |           AS line
         |  FROM ranked WHERE rank <= $K GROUP BY category
         |  UNION ALL
         |  SELECT string_agg(term, ' ' ORDER BY term) AS line
         |  FROM (SELECT DISTINCT term FROM ranked WHERE rank <= $K)
         |) ORDER BY line""".stripMargin
  )
}
