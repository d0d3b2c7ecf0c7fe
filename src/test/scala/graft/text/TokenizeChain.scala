package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Column chain `graft_doc_terms` replaced in [[Tokenize.tokenArray]],
  * kept as its parity reference: lower → regex split → length and
  * stopword `filter` → `array_distinct`.
  */
object TokenizeChain {
  def tokenArray(text: Column, stopwords: Seq[String] = Tokenize.DefaultStopwords): Column = {
    val toks = split(lower(text), Tokenize.DelimRegex)
    val kept = filter(toks, t =>
      length(t) > 1 && length(t) < 50 && !t.isInCollection(stopwords))
    array_distinct(kept)
  }
}
