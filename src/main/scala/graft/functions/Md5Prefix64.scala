package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** First 8 bytes of md5(utf8(s)) as a big-endian long, with codegen:
  * `graft_md5_bits(s)` = [[PortableHash.hash64]]'s oracle mode, the
  * hash every [[PortableHash]] oracle-mode slice is cut from.
  *
  * The DuckDB oracle's md5 HEX DIGIT arithmetic (digit p of the
  * lowercase hex string = nibble p of the digest) makes each of its
  * `conv(substring(md5(c), 1, k), 16, 10)` values and `instr('0123…',
  * substring(h, p, 1))` digit columns a bit-slice of this long, so the
  * Spark side runs ONE digest call plus integer shifts inside
  * whole-stage codegen, with BIT-IDENTICAL results (Md5Prefix64Spec
  * pins the equivalences; the DuckDB oracle SQL is untouched).
  */
case class Md5Prefix64(child: Expression) extends Kernel1("graft_md5_bits",
    LongType, Static("graft.functions.Md5Prefix64.hash64"), Arg.string) {

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix64.hash64(input.asInstanceOf[UTF8String])
}

object Md5Prefix64 {

  /** Called from generated code — must stay public and static-shaped. */
  def hash64(s: UTF8String): Long = PortableHash.hash64(s, production = false)
}
