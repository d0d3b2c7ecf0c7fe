package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Count-only regex scan: `graft_regex_count(text, pattern)` = the
  * number of non-overlapping matches of `pattern` in `text`, as a
  * long.
  *
  * Why a kernel: the Column form is `size(regexp_extract_all(text,
  * pattern, 0))` — it materializes EVERY match as a UTF8String in an
  * array, then takes the array's size and discards all of it. For
  * token-counting patterns that match nearly every character run of
  * the corpus (the BPE-ish tokenizer regex), the discarded
  * allocations dominate the pass. This kernel runs the compiled
  * matcher in a find() loop and allocates nothing.
  *
  * `pattern` must be a foldable literal (compiled once, shared by
  * eval and codegen via a reference object). Match semantics are
  * java.util.regex exactly as Spark's regexp functions use — same
  * dialect-subset discipline as [[PiiScan]]: patterns stay within the
  * Spark/DuckDB-shared subset so the oracle compiles the same source.
  */
case class RegexCount(left: Expression, right: Expression)
    extends Kernel2("graft_regex_count", LongType, Instance("count"),
      Arg.string, Arg.string.literal("pattern must be a literal")) {

  private def pattern = right

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      pattern.eval(null).asInstanceOf[UTF8String].toString)

  /** The shared kernel (also called from generated code). */
  def count(u: UTF8String): Long = {
    val m = compiled.matcher(u.toString)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  override protected def nullSafeEval(t: Any, p: Any): Any =
    count(t.asInstanceOf[UTF8String])
}

/** Hand-compiled automaton of the BPE-ish tokenizer pattern
  * `[a-z]+|[0-9]|[^a-z0-9\s]`: `graft_bpeish_count(text)` = exactly
  * what [[RegexCount]] would return for that pattern, without running
  * a regex engine at all.
  *
  * Why: even count-only, java.util.regex pays an alternation attempt
  * per input position — at sf10 the BPE-ish count was the last
  * text-query outlier (12.2 s where every fused neighbor sat at 1–4 s)
  * because this pattern matches nearly EVERY position of the corpus.
  * The pattern is regular and prefix-free by construction, so the
  * count is a single forward scan: a lowercase-ASCII run counts 1, a
  * digit counts 1, ASCII whitespace (Java `\s`) counts 0, and any
  * other CODE POINT counts 1 (Java regex treats a supplementary pair
  * as one `[^…]` match — mirrored via codePointAt/charCount).
  * Parity with `graft_regex_count(text, BpeishPattern)` is spec- and
  * property-pinned; the DuckDB oracle keeps the regex form.
  */
case class BpeishCount(child: Expression) extends Kernel1("graft_bpeish_count",
    LongType, Static("graft.functions.BpeishCount.count"), Arg.string) {

  override protected def nullSafeEval(t: Any): Any =
    BpeishCount.count(t.asInstanceOf[UTF8String])
}

object BpeishCount {
  /** Called from generated code. */
  def count(u: UTF8String): Long = {
    val s = u.toString
    val len = s.length
    var n = 0L
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c >= 'a' && c <= 'z') {
        n += 1
        i += 1
        while (i < len && { val d = s.charAt(i); d >= 'a' && d <= 'z' }) i += 1
      } else if (c >= '0' && c <= '9') {
        n += 1
        i += 1
      } else if (QualityStats.isWs(c)) {
        i += 1
      } else {
        n += 1
        i += Character.charCount(s.codePointAt(i))
      }
    }
    n
  }
}
