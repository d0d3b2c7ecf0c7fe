package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash signature straight off the token array:
  * `graft_simhash(toks, production)` = struct(simhash: 64-char '0'/'1'
  * string, ci0..ci3: the four 16-bit chunk ints downstream hamming
  * banding buckets on).
  *
  * This collapses the signature STAGE's whole distributed shape: the
  * column chain explodes one row per token occurrence and shuffles
  * per-doc partial sums through a 64-column aggregate (one doc_id
  * exchange — the only corpus shuffle of the stage), where this kernel
  * folds the ±1 bit votes into a 64-int array inside ONE narrow map —
  * no explode, no exchange, signatures stream straight into the
  * banding stage. Bit semantics are the chain's exactly: vote +1 when
  * hash bit b is set else −1, emit '1' iff the vote sum is > 0 (ties
  * → '0'), null tokens skipped; docs with empty/all-null token arrays
  * keep the all-zero signature the null-skipping sum produces.
  * DedupSpec pins kernel ≡ column chain in both hash modes; the DuckDB
  * oracle keeps its positional digit arithmetic.
  *
  * `production` selects the per-token hash ([[PortableHash.hash64]]).
  */
case class Simhash(left: Expression, right: Expression)
    extends Kernel2("graft_simhash", StructType(Seq(
      StructField("simhash", StringType, nullable = false),
      StructField("ci0", LongType, nullable = false),
      StructField("ci1", LongType, nullable = false),
      StructField("ci2", LongType, nullable = false),
      StructField("ci3", LongType, nullable = false))),
      Static("graft.functions.Simhash.sig"), Arg.strings, Arg.boolean) {

  override protected def nullSafeEval(toks: Any, production: Any): Any =
    Simhash.sig(toks.asInstanceOf[ArrayData], production.asInstanceOf[Boolean])
}

object Simhash {

  /** Called from generated code. */
  def sig(arr: ArrayData, production: Boolean): InternalRow = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = PortableHash.hash64(s, production)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> (63 - b)) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    val bits = new Array[Byte](64)
    var b = 0
    while (b < 64) {
      bits(b) = if (votes(b) > 0) '1'.toByte else '0'.toByte
      b += 1
    }
    val chunks = new Array[Any](4)
    var c = 0
    while (c < 4) {
      var ci = 0L
      var j = 0
      while (j < 16) {
        if (votes(c * 16 + j) > 0) ci |= (1L << (15 - j))
        j += 1
      }
      chunks(c) = ci
      c += 1
    }
    InternalRow(UTF8String.fromBytes(bits),
      chunks(0), chunks(1), chunks(2), chunks(3))
  }
}
