package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.GraftFunctions

/** Canonical tokenization semantics (SURVEY §2.9 D1–D4 canon, derived from
  * the 4-stage pipeline variant of the reference):
  *
  *   lowercase → regex-split → length filter (1 < len < 50)
  *   → stopword filter → per-document distinct
  *
  * Reference sites: delimiter class /root/reference/run_chi:55–57 (the most
  * complete of the three variants, SURVEY D2); lowercase-before-stopword
  * order run_chi:66–67, multi_jobs_hdfs.py:74–78 (SURVEY D1); length bounds
  * run_chi:67 (SURVEY D3); empty-field skip run_chi:62–65 (SURVEY D4).
  *
  * The per-document work (split, length and stopword filter, distinct)
  * is one native kernel, [[graft.functions.DocTerms]], evaluated inside
  * whole-stage codegen map-side before the explode, exactly like the
  * reference's in-mapper combining (chi_square.py:37) but without a
  * hand-written combiner. Only `lower` stays Spark's own, so case
  * folding is the engine's.
  */
object Tokenize {

  /** Delimiter class: whitespace, digits, and the punctuation set
    * ()[]{}.!?,;:+=-_"'`~#@&*%€$§\/  — kept portable between Java regex
    * (Spark) and RE2 (DuckDB oracle): only `\s`, `\d`, literal chars, and
    * the escapes `\[ \] \- \\` which both dialects accept in a class.
    */
  val DelimRegex: String = """[\s\d()\[\]{}.!?,;:+=\-_"'`~#@&*%€$§\\/]+"""

  /** Same class as a DuckDB SQL string literal (single quotes doubled). */
  val DelimRegexSql: String = """[\s\d()\[\]{}.!?,;:+=\-_"''`~#@&*%€$§\\/]+"""

  /** Canonical stopword set. The reference takes stopwords as a side file
    * (chi_square.py:25–28); the engine embeds a default set and also
    * accepts any user-provided set (the `stopwords` of [[tokenArray]]).
    */
  val DefaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that", "be", "are")

  /** SQL fragment `('the','a',…)` for the oracle's NOT IN. */
  def stopwordsInList(stop: Seq[String]): String =
    stop.map(s => "'" + s.replace("'", "''") + "'").mkString("(", ",", ")")

  /** `text` column → deduplicated token array column (canon order:
    * lower → split → len∈(1,50) → not stopword → distinct), in
    * first-occurrence order.
    *
    * One `graft_doc_terms` call over `lower(text)`: the explode (and
    * thus the shuffle input) only ever sees per-document-distinct
    * tokens, which at 100 TB is the difference between shuffling every
    * token occurrence and shuffling the (much smaller) per-doc
    * vocabulary.
    */
  def tokenArray(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    GraftFunctions.graftDocTerms(lower(text), typedLit(stopwords))

  /** Whitespace tokens of the lowered `text` column, empty ones dropped:
    * the token stream of the text-analysis, dedup and sampling
    * families (the χ² canon above is [[tokenArray]]).
    */
  def whitespaceTokens: Column =
    filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)

  /** [[whitespaceTokens]] as the DuckDB oracle writes it. */
  val whitespaceTokensSql: String =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), t -> length(t) > 0)"""

  /** [[whitespaceTokens]] of one string, as the array the n-gram kernels
    * take — the streaming twins' scalar form.
    */
  def whitespaceTokensOf(text: String): ArrayData =
    new GenericArrayData(text.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      .filter(_.nonEmpty).map(t => UTF8String.fromString(t): Any))

  /** Present and non-empty: the one admission predicate for text. For
    * a non-null string `x <> ''` is `length(x) > 0` (what the DuckDB
    * oracles write), but it reads the byte length (O(1)) where `length`
    * counts the code points of the whole text.
    */
  def hasText(c: Column): Column = c.isNotNull && c =!= ""

  /** D4 admission predicate: both fields present and non-empty
    * (run_chi:62–65). Renames categoryCol → `category`.
    */
  def admitted_docs(docs: DataFrame, textCol: String, categoryCol: String): DataFrame =
    docs.filter(hasText(col(textCol)) && hasText(col(categoryCol)))
      .withColumn("category", col(categoryCol))
}
