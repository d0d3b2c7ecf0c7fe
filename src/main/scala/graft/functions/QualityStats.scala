package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document quality counts: `graft_quality_stats(text,
  * stopwords)` = struct(n_chars, n_tokens, n_distinct, n_stopwords,
  * token_chars) — the five exact counts every quality gate derives its
  * ratios from, in one pass over the string.
  *
  * Why a kernel: the Column form materializes a token ARRAY per row
  * (`split(lower(text), "\\s+")`), then walks it four times —
  * `size`, `array_distinct` (a per-row dedup pass), a stopword
  * `filter` with an IN-list per element, and an `aggregate` fold for
  * token_chars — allocating the array, the distinct set, and the
  * filtered array just to count them. This kernel lowercases once and
  * scans the string once, counting in place; only the distinct set
  * survives as an allocation. Quality scoring is the single most
  * common per-byte pass in a training-data pipeline, so its per-core
  * constant IS the cluster-hours bill at 100 TB.
  *
  * Semantics are pinned to the Column chain, bit for bit:
  *  - n_chars counts code points of the ORIGINAL text (`length(text)`);
  *  - tokens are maximal runs of non-whitespace in `lower(text)`,
  *    where whitespace is Java regex `\s` = `[ \t\n\x0B\f\r]` (what
  *    `split(_, "\\s+")` splits on) — empty fragments from leading/
  *    trailing separators disappear exactly as the chain's
  *    `filter(length > 0)` drops them;
  *  - n_distinct is exact-string distinct over those tokens;
  *  - n_stopwords counts token OCCURRENCES in the `stopwords` set
  *    (foldable array literal — a gate list is a driver-side
  *    constant, never per-row data);
  *  - token_chars sums code-point lengths of tokens (the chain's
  *    `aggregate(toks, 0L, acc + length(t))`).
  * AnalysisSpec pins kernel ≡ chain on mixed-whitespace, repeated-
  * token, empty, and all-stopword inputs.
  */
case class QualityStats(left: Expression, right: Expression)
    extends Kernel2("graft_quality_stats", StructType(Seq(
      StructField("n_chars", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("n_stopwords", LongType, nullable = false),
      StructField("token_chars", LongType, nullable = false))),
      Instance("stats"), Arg.string,
      Arg.strings.literal("stopwords must be a literal")) {

  private def stopwords = right

  /** Stopword set materialized ONCE from the foldable child (shared by
    * eval and, via a reference object, codegen).
    */
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val ad = stopwords.eval(null).asInstanceOf[ArrayData]
    val s = new java.util.HashSet[String]()
    var i = 0
    while (i < ad.numElements()) {
      if (!ad.isNullAt(i)) s.add(ad.getUTF8String(i).toString)
      i += 1
    }
    s
  }

  /** The shared kernel (also called from generated code). */
  def stats(u: UTF8String): InternalRow = {
    val nChars = u.numChars().toLong
    val s = u.toLowerCase.toString
    val n = s.length
    var nTok = 0L
    var nStop = 0L
    var tokChars = 0L
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i < n) {
      while (i < n && QualityStats.isWs(s.charAt(i))) i += 1
      if (i < n) {
        val st = i
        while (i < n && !QualityStats.isWs(s.charAt(i))) i += 1
        val tok = s.substring(st, i)
        nTok += 1
        tokChars += tok.codePointCount(0, tok.length).toLong
        if (stopSet.contains(tok)) nStop += 1
        seen.add(tok)
      }
    }
    InternalRow(nChars, nTok, seen.size.toLong, nStop, tokChars)
  }

  override protected def nullSafeEval(t: Any, sw: Any): Any =
    stats(t.asInstanceOf[UTF8String])
}

object QualityStats {
  /** Java regex `\s` without UNICODE_CHARACTER_CLASS — the exact class
    * `split(text, "\\s+")` splits on.
    */
  @inline def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
}
