package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.DoubleType

/** The engine's portable log2 as ONE codegen'd expression: the same
  * 89-step branchless fold [[graft.text.Analysis.portableLog2]]
  * documents (normalize into [1,2) by exact power-of-two scaling,
  * 24 fraction bits by squaring, arithmetic 0/1-flag selection — see
  * that scaladoc for the bit-parity argument against the DuckDB
  * `list_reduce` twin), executed as a tight primitive-double loop
  * instead of an interpreted higher-order `aggregate` over a 4-double
  * array state.
  *
  * WHY this exists: Catalyst cannot codegen higher-order functions, so
  * the fold form forces the enclosing projection out of whole-stage
  * codegen and allocates an ArrayData per step per row — measured
  * ~120 µs/row inside the unigram chain (13.9 s of a 14.4 s stage at
  * sf0.1, surfaced by `text_ppl_buckets`, whose aggregate defeats the
  * column pruning that had hidden the cost from the count()-action
  * bench). This loop is the IDENTICAL arithmetic — every double op in
  * the same order on the same JVM IEEE-754 semantics (Java forbids FMA
  * fusion), so results are bit-for-bit the fold's; AnalysisSpec pins
  * native ≡ fold ≡ branchy-reference across the domain.
  */
case class PortableLog2(child: Expression) extends Kernel1("graft_log2",
    DoubleType, Static("graft.functions.PortableLog2.log2"), Arg.double) {

  override protected def nullSafeEval(input: Any): Any =
    PortableLog2.log2(input.asInstanceOf[Double])
}

object PortableLog2 {

  /** Called from generated code. Op-for-op the documented fold: state
    * [m, e, f, w] from [x, 0, 0, 0.5]; steps 1–64 normalize, 65–88
    * square out fraction bits, 89 writes e+f. The flag products are
    * kept (not rewritten to branches) so the evaluated double-op
    * sequence is LITERALLY the fold's.
    */
  def log2(x: Double): Double = {
    var m = x; var e = 0.0; var f = 0.0; var w = 0.5
    var i = 1
    while (i <= 89) {
      val p1 = if (i <= 64) 1.0 else 0.0
      val p2 = if (i > 64 && i <= 88) 1.0 else 0.0
      val p3 = if (i > 88) 1.0 else 0.0
      val a = if (m < 1.0) 1.0 else 0.0
      val b = if (m >= 2.0) 1.0 else 0.0
      val m2 = m * m
      val c2 = if (m2 >= 2.0) 1.0 else 0.0
      val nm = p1 * (m * (1.0 + a) * (1.0 - b / 2.0)) +
        p2 * (m2 * (1.0 - c2 / 2.0)) +
        p3 * (e + f)
      val ne = e + p1 * (b - a)
      val nf = f + p2 * w * c2
      val nw = w / (1.0 + p2)
      m = nm; e = ne; f = nf; w = nw
      i += 1
    }
    m
  }
}
