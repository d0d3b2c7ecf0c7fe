package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint fused with the gram construction:
  * `graft_winnow_grams(toks, n, k)` = the concatenation of the k
  * SMALLEST window md5 digests (lowercase hex, ascending) — ≡
  * `concat_ws("", slice(array_sort(transform(shingleOfN(toks, n), md5)),
  * 1, k))` (`Analysis.winnowFpHof`), because lexicographic order on
  * lowercase hex IS unsigned byte order on the digest.
  *
  * The Column form materializes every gram string, md5-hashes it
  * through a non-codegen HOF `transform` into a 32-char hex string,
  * fully sorts them, then keeps k=4: O(n log n) string sort plus n hex
  * allocations for a 4-digest answer. This kernel hashes each window
  * per the [[PortableHash]] gram-hash contract (oracle md5 only — the
  * fingerprint IS the digest), keeps a bounded k-array of raw digests
  * in ONE pass (most windows exit on a single compare against the
  * current k-th), hex-encodes only the winners, and stays inside
  * whole-stage codegen (AnalysisSpec pins kernel ≡ HOF form).
  */
case class WinnowGrams(first: Expression, second: Expression, third: Expression)
    extends Kernel3("graft_winnow_grams", StringType,
      Static("graft.functions.Winnow.fpGrams"), Arg.strings, Arg.int, Arg.int) {

  override protected def nullSafeEval(toks: Any, n: Any, k: Any): Any =
    Winnow.fpGrams(toks.asInstanceOf[ArrayData],
      n.asInstanceOf[Int], k.asInstanceOf[Int])
}

object Winnow {

  private val HexChars = "0123456789abcdef".getBytes

  /** Unsigned byte-wise digest compare (≡ lowercase-hex string order). */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** Bounded insertion of digest `d` into the ascending `best[0,cnt)`;
    * returns the new count. Strict < at the boundary: a digest tying
    * the current k-th is rejected — the same multiset sort-then-slice
    * keeps (equal values are interchangeable).
    */
  private def insert(best: Array[Array[Byte]], cnt: Int, k: Int,
      d: Array[Byte]): Int = {
    if (cnt < k) {
      best(cnt) = d
      var j = cnt
      while (j > 0 && cmp(best(j), best(j - 1)) < 0) {
        val t = best(j); best(j) = best(j - 1); best(j - 1) = t; j -= 1
      }
      cnt + 1
    } else if (cmp(d, best(k - 1)) < 0) {
      best(k - 1) = d
      var j = k - 1
      while (j > 0 && cmp(best(j), best(j - 1)) < 0) {
        val t = best(j); best(j) = best(j - 1); best(j - 1) = t; j -= 1
      }
      cnt
    } else cnt
  }

  private def encode(best: Array[Array[Byte]], cnt: Int): UTF8String = {
    val out = new Array[Byte](cnt * 32)
    var w = 0
    var bi = 0
    while (bi < cnt) {
      val d = best(bi)
      var p = 0
      while (p < 16) {
        out(w) = HexChars((d(p) >> 4) & 0xf); w += 1
        out(w) = HexChars(d(p) & 0xf); w += 1
        p += 1
      }
      bi += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Called from generated code. */
  def fpGrams(arr: ArrayData, n: Int, k: Int): UTF8String = {
    val ws = new PortableHash.Windows(arr, n)
    if (k <= 0 || ws.count == 0) return UTF8String.EMPTY_UTF8
    val best = new Array[Array[Byte]](k)
    var cnt = 0
    var w = 0
    while (w < ws.count) {
      ws.assemble(w)
      cnt = insert(best, cnt, k, ws.md5)
      w += 1
    }
    encode(best, cnt)
  }
}
