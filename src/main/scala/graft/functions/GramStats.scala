package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word-n-gram multiplicity statistics straight off the TOKEN array:
  * `graft_gram_stats(toks, n)` = struct(n_grams, top, dup) — gram
  * count, highest gram multiplicity, and total positions of grams
  * occurring more than once.
  *
  * This composes [[RunStats]] with the gram construction itself: the
  * `shingleOfN` Column form materializes every gram as a concat_ws
  * string through a non-codegen HOF `transform` (the dominant cost of
  * the repetition audit once its shuffles were gone), where this
  * kernel sorts window START OFFSETS and compares windows token-by-
  * token — no gram string is ever built. Grouping only needs SOME
  * total order plus window equality, and window equality ≡ joined-
  * string equality because tokens are whitespace-split (they cannot
  * contain the joiner), so the multiplicities are exactly those of the
  * string form — AnalysisSpec pins this kernel equal to
  * RunStats∘shingleOfN and to the explode+groupBy reference.
  */
case class GramStats(left: Expression, right: Expression)
    extends Kernel2("graft_gram_stats", StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("top", LongType, nullable = false),
      StructField("dup", LongType, nullable = false))),
      Static("graft.functions.GramStats.stats"), Arg.strings, Arg.int) {

  override protected def nullSafeEval(toks: Any, n: Any): Any =
    GramStats.stats(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])
}

object GramStats {

  /** Called from generated code. Null elements cannot occur in the
    * shingle arrays this serves (concat_ws never yields null), but the
    * function is registered session-wide, so ad-hoc SQL can hand it
    * anything — nulls sort first and compare equal to each other, the
    * [[RunStats]] rule (review finding: the first cut NPE'd here where
    * its sibling kernel didn't).
    */
  def stats(arr: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val len = arr.numElements()
    val m = len - n + 1
    if (n <= 0 || m <= 0)
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L, 0L)
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) { toks(i) = arr.getUTF8String(i); i += 1 }
    def cmpTok(x: UTF8String, y: UTF8String): Int =
      if (x == null) (if (y == null) 0 else -1)
      else if (y == null) 1
      else x.compareTo(y)
    val idx = new Array[Integer](m)
    i = 0
    while (i < m) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      var k = 0; var c = 0
      while (k < n && c == 0) {
        c = cmpTok(toks(a + k), toks(b + k)); k += 1
      }
      c
    })
    def eq(a: Int, b: Int): Boolean = {
      var k = 0
      while (k < n) {
        if (cmpTok(toks(a + k), toks(b + k)) != 0) return false
        k += 1
      }
      true
    }
    var top = 0L; var dup = 0L; var run = 0L
    i = 0
    while (i < m) {
      if (i > 0 && eq(idx(i), idx(i - 1))) run += 1
      else {
        if (run > top) top = run
        if (run > 1) dup += run
        run = 1
      }
      i += 1
    }
    if (run > top) top = run
    if (run > 1) dup += run
    org.apache.spark.sql.catalyst.InternalRow(m.toLong, top, dup)
  }

  /** Driver-side scalar form for test references. */
  def statsOf(toks: Seq[String], n: Int): (Long, Long, Long) = {
    val row = stats(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      toks.map(UTF8String.fromString).toArray[Any]), n)
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }
}
