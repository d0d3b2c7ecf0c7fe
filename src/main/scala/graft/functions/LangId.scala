package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Map-side language ID: `graft_lang_id(text, markers)` =
  * struct(predicted_lang, matches) — the n-gram-marker majority vote,
  * fused into one pass over the string.
  *
  * Why a kernel: the relational form EXPLODES every token of the
  * corpus into a row, broadcast-joins the marker list, and runs a
  * corpus-keyed groupBy(doc_id, lang) + top-1 window — at cluster
  * scale that is a full shuffle of every token occurrence just to
  * count a handful of per-language hits per document. Language ID is
  * a per-document pure function; this kernel makes it a narrow
  * projection (zero shuffle, zero explode), which is the plan a
  * 100 TB corpus needs. The DuckDB oracle keeps the relational
  * construction as the independent twin.
  *
  * Semantics are pinned to the relational chain:
  *  - tokens are maximal non-whitespace runs of `lower(text)` (Java
  *    regex `\s` class — identical to [[QualityStats]]);
  *  - a token occurrence counts once for EVERY language whose marker
  *    set contains it (the join's fan-out: "la" is both es and fr);
  *  - the winner is max count, ties broken by language code ascending
  *    (the window's `matches desc, mlang asc`);
  *  - zero hits → ("und", 0), the left-join's coalesce.
  *
  * `markers` is a foldable array<struct<lang, ws array<string>>>
  * literal — a marker list is a driver-side constant, never per-row
  * data — materialized once into a token→language-indices hash map.
  */
case class LangId(left: Expression, right: Expression)
    extends Kernel2("graft_lang_id", StructType(Seq(
      StructField("predicted_lang", StringType, nullable = false),
      StructField("matches", LongType, nullable = false))),
      Instance("classify"), Arg.string,
      // the ws element type must be STRING, not just any array: a
      // non-string ws array would pass analysis and then misread at
      // eval via getUTF8String
      Arg(ArrayType(StructType(Seq(StructField("lang", StringType),
        StructField("ws", ArrayType(StringType))))),
        "array<struct<lang, array<string>>>")
        .literal("markers must be a literal")) {

  private def markers = right

  @transient private lazy val langs: Array[UTF8String] = {
    val ad = markers.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i =>
      ad.getStruct(i, 2).getUTF8String(0).clone())
  }

  /** token → indices of the languages whose marker set contains it. */
  @transient private lazy val tokenLangs: java.util.HashMap[String, Array[Int]] = {
    val ad = markers.eval(null).asInstanceOf[ArrayData]
    val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
    var i = 0
    while (i < ad.numElements()) {
      val ws = ad.getStruct(i, 2).getArray(1)
      var j = 0
      while (j < ws.numElements()) {
        m.computeIfAbsent(ws.getUTF8String(j).toString,
          _ => scala.collection.mutable.ArrayBuffer.empty[Int]) += i
        j += 1
      }
      i += 1
    }
    val out = new java.util.HashMap[String, Array[Int]]()
    m.forEach((k, v) => out.put(k, v.toArray))
    out
  }

  /** The shared kernel (also called from generated code). */
  def classify(u: UTF8String): InternalRow = {
    val s = u.toLowerCase.toString
    val n = s.length
    val counts = new Array[Long](langs.length)
    var i = 0
    while (i < n) {
      while (i < n && QualityStats.isWs(s.charAt(i))) i += 1
      if (i < n) {
        val st = i
        while (i < n && !QualityStats.isWs(s.charAt(i))) i += 1
        val ls = tokenLangs.get(s.substring(st, i))
        if (ls != null) {
          var k = 0
          while (k < ls.length) { counts(ls(k)) += 1; k += 1 }
        }
      }
    }
    // max count, ties to the SMALLEST language code (markers arrive
    // lang-ascending, but compare explicitly rather than rely on it)
    var best = -1
    var l = 0
    while (l < counts.length) {
      if (counts(l) > 0 && (best < 0 || counts(l) > counts(best) ||
          (counts(l) == counts(best) &&
            langs(l).compareTo(langs(best)) < 0))) best = l
      l += 1
    }
    if (best < 0) InternalRow(LangId.Und, 0L)
    else InternalRow(langs(best), counts(best))
  }

  override protected def nullSafeEval(t: Any, m: Any): Any =
    classify(t.asInstanceOf[UTF8String])
}

object LangId {
  val Und: UTF8String = UTF8String.fromString("und")
}
