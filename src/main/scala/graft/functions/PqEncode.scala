package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

/** Native PQ encoder: `graft_pq_encode(vec, codebook, norms)` → the
  * 1-based L2-argmin codeword position per subspace, as one fused loop.
  *
  * The Column-expression form unrolled PqM·PqK literal dot products
  * into one projection — at 16 subspaces × 64 codewords that is ~1024
  * sub-expressions, far past what whole-stage codegen keeps in a JIT-
  * friendly method, and the encode pass dominated `sim_cosine_ann_pq`
  * (≈7 s of a 9.7 s query at sf0.1). Here the codebook and its norms
  * are FOLDABLE literal children materialized once into plain
  * `double[][][]`/`double[][]` reference objects, and both eval and
  * codegen walk them with primitive loops — the [[MinHashSig]] /
  * [[DotProduct]] kernel pattern applied to quantization.
  *
  * Semantics (bit-identical to the unrolled form and the DuckDB
  * oracle's `row_number() OVER (ORDER BY cn - 2*dot ASC, code_id
  * ASC)`): subspace m of `vec` is dims [m·sub, (m+1)·sub); the
  * distance is cn − 2·dot(sub, codeword) with the dot an in-order
  * fold from +0.0; strict `<` improvement means ties keep the FIRST
  * (smallest) codeword index. A `vec` whose length differs from
  * Σ subspace dims yields NULL (dimension bugs surface, never
  * truncate), mirroring [[DotProduct]].
  */
case class PqEncode(first: Expression, second: Expression, third: Expression)
    extends Kernel3("graft_pq_encode", ArrayType(IntegerType, containsNull = false),
      // the call carries the codebook in THIS expression as a reference
      // object: generated code stays a few lines regardless of PqM·PqK,
      // which is the point; a dimension mismatch returns null
      Instance("encode", nullResult = true), Arg.doubles,
      PqEncode.Codebook.literal(PqEncode.Literals),
      Arg(ArrayType(ArrayType(DoubleType))).literal(PqEncode.Literals)) {

  private def codebook = second
  private def norms = third

  /** Codebook as primitive arrays, materialized ONCE from the foldable
    * children (shared by eval and, via a reference object, codegen).
    */
  @transient private lazy val cbArr: Array[Array[Array[Double]]] = {
    val ad = codebook.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { m =>
      val mm = ad.getArray(m)
      Array.tabulate(mm.numElements())(k => mm.getArray(k).toDoubleArray())
    }
  }

  @transient private lazy val cnArr: Array[Array[Double]] = {
    val ad = norms.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(m => ad.getArray(m).toDoubleArray())
  }

  @transient private lazy val totalDim: Int = cbArr.map(_.head.length).sum

  /** The shared kernel (also called from generated code). */
  def encode(v: ArrayData): ArrayData = {
    if (v.numElements() != totalDim) return null
    val m0 = cbArr.length
    val codes = new Array[Int](m0)
    var off = 0
    var m = 0
    while (m < m0) {
      val cwm = cbArr(m)
      val cnm = cnArr(m)
      val sub = cwm(0).length
      var best = Double.PositiveInfinity
      var bestK = 0
      var k = 0
      while (k < cwm.length) {
        val cw = cwm(k)
        var acc = 0.0
        var j = 0
        while (j < sub) { acc += v.getDouble(off + j) * cw(j); j += 1 }
        val d = cnm(k) - 2.0 * acc
        if (d < best) { best = d; bestK = k }
        k += 1
      }
      codes(m) = bestK + 1
      off += sub
      m += 1
    }
    new GenericArrayData(codes)
  }

  override protected def nullSafeEval(v: Any, cb: Any, cn: Any): Any =
    encode(v.asInstanceOf[ArrayData])
}

object PqEncode {
  val Codebook: Arg = Arg(ArrayType(ArrayType(ArrayType(DoubleType))))
  val Literals = "codebook and norms must be literals (a trained codebook " +
    "is a driver-side constant, never per-row data)"
}

/** Query-side ADC lookup table as the same fused-kernel shape:
  * `graft_pq_lut(vec, codebook)` → lut[m][k] = dot(subspace m of vec,
  * codeword k of subspace m), the PqM·PqK dots a query row needs —
  * one loop instead of ~1024 unrolled sub-expressions (the
  * [[PqEncode]] argument, applied to the lookup side). Dots are
  * in-order folds from +0.0 (oracle/[[DotProduct]] parity); a vec
  * whose length differs from Σ subspace dims yields NULL.
  */
case class PqLut(left: Expression, right: Expression)
    extends Kernel2("graft_pq_lut",
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
      Instance("lut", nullResult = true), Arg.doubles,
      PqEncode.Codebook.literal("codebook must be a literal (a trained " +
        "codebook is a driver-side constant, never per-row data)")) {

  private def codebook = right

  @transient private lazy val cbArr: Array[Array[Array[Double]]] = {
    val ad = codebook.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { m =>
      val mm = ad.getArray(m)
      Array.tabulate(mm.numElements())(k => mm.getArray(k).toDoubleArray())
    }
  }

  @transient private lazy val totalDim: Int = cbArr.map(_.head.length).sum

  def lut(v: ArrayData): ArrayData = {
    if (v.numElements() != totalDim) return null
    val m0 = cbArr.length
    val out = new Array[ArrayData](m0)
    var off = 0
    var m = 0
    while (m < m0) {
      val cwm = cbArr(m)
      val sub = cwm(0).length
      val row = new Array[Double](cwm.length)
      var k = 0
      while (k < cwm.length) {
        val cw = cwm(k)
        var acc = 0.0
        var j = 0
        while (j < sub) { acc += v.getDouble(off + j) * cw(j); j += 1 }
        row(k) = acc
        k += 1
      }
      out(m) = new GenericArrayData(row)
      off += sub
      m += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def nullSafeEval(v: Any, cb: Any): Any =
    lut(v.asInstanceOf[ArrayData])
}
