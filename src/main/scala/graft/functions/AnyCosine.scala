package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Existential cosine screen: `graft_any_cosine_ge(v, evals, t)` =
  * does ANY eval vector have cosine(v, ev) ≥ t — the membership test
  * `sim_embedding_decontam` runs for every corpus vector.
  *
  * Why a kernel: the relational form is a broadcast nested-loop join
  * with `cosine(...) ≥ t` as the join condition, which pays the join
  * machinery per PAIR — ~3.6 G pairs at sf10 measured ~320 ns each
  * (36 s of wall), ~3× over the arithmetic (12.1 s measured). Here
  * the per-corpus-row cost is one call: the eval matrix is unpacked
  * from the broadcast row ONCE PER TASK (the ThreadLocal below — the
  * join's build-side wrapper objects are recreated per access, so the
  * cache keys on the underlying buffer identity, not the wrapper),
  * and the scan loops evals in-place with early exit on the first
  * hit. Clean rows — the overwhelming majority — still pay the full
  * |evals|·dim multiply, which is the exact screen's floor; the
  * documented scale path for an eval set too big to broadcast remains
  * IVF-cell probing (see `embDecontaminate`'s scaladoc).
  *
  * Semantics are pinned to the Column chain, decision for decision:
  *  - dot is the same in-order left fold [[DotProduct]] computes, and
  *    ‖v‖² is computed by the same fold (the chain's `dot(v, v)`);
  *  - cos = dot / (sqrt(‖v‖²) · sqrt(en)) in that operation order,
  *    with `en` precomputed per eval row in Catalyst exactly as the
  *    chain does;
  *  - zero-norm vectors make the chain's division ERROR under the
  *    session's ANSI mode (Spark 4 default; the fixture has none) —
  *    the kernel is a TOTAL extension that treats the undefined
  *    cosine as no-match (Java 0/0 = NaN, NaN ≥ t false), the only
  *    verdict a screen can justify for a vector that cannot be
  *    similar to anything; AnyCosineSpec pins both behaviors;
  *  - a null/absent eval entry, a null element, or a length mismatch
  *    makes the chain's cosine NULL (never a match): the kernel skips
  *    those entries, and a corpus vector with a null element returns
  *    false (the chain's NULL condition matches nothing).
  */
case class AnyCosineGe(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  private def v = first
  private def evals = second
  private def threshold = third

  override def checkInputDataTypes(): TypeCheckResult = {
    val evalsOk = evals.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 2 =>
        (fs(0).dataType, fs(1).dataType) match {
          case (ArrayType(DoubleType, _), DoubleType) => true
          case _ => false
        }
      case _ => false
    }
    if (v.dataType != ArrayType(DoubleType, containsNull = true) &&
      v.dataType != ArrayType(DoubleType, containsNull = false))
      TypeCheckResult.TypeCheckFailure(
        s"graft_any_cosine_ge expects array<double> v, got ${v.dataType.simpleString}")
    else if (!evalsOk)
      TypeCheckResult.TypeCheckFailure(
        s"graft_any_cosine_ge expects array<struct<ev: array<double>, en: double>> evals, " +
          s"got ${evals.dataType.simpleString}")
    else if (threshold.dataType != DoubleType || !threshold.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_any_cosine_ge threshold must be a double literal")
    else if (threshold.eval(null) == null)
      // a null threshold would make every chain comparison NULL — the
      // screen has no meaningful verdict, and letting it through
      // surfaces later as an NPE unwrapping the fold
      TypeCheckResult.TypeCheckFailure(
        "graft_any_cosine_ge threshold must not be null")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_any_cosine_ge"

  @transient private lazy val t: Double =
    threshold.eval(null).asInstanceOf[Double]

  /** The shared kernel (also called from generated code). */
  def anyGe(vd: ArrayData, ev: ArrayData): Boolean =
    AnyCosine.anyGe(vd, ev, t)

  override protected def nullSafeEval(vd: Any, ev: Any, th: Any): Any =
    anyGe(vd.asInstanceOf[ArrayData], ev.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("anyCosine", this,
      classOf[AnyCosineGe].getName)
    nullSafeCodeGen(ctx, ev, (vd, evs, _) =>
      s"${ev.value} = $self.anyGe($vd, $evs);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): AnyCosineGe =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object AnyCosine {

  /** Unpacked eval matrix, PACKED FLAT: only valid entries (non-null
    * struct, non-null vector, no null elements) survive packing —
    * invalid entries can never match, exactly as the chain's NULL
    * cosine — laid out contiguously in one buffer for locality, with
    * per-entry offset/length (the length≠dim guard still runs per
    * corpus row) and the sqrt of each norm.
    *
    * The screen is MEMORY-BOUND, not FLOP-bound: every corpus row
    * streams the whole matrix (~|evals|·dim·8 B from L3), so when
    * every eval value is FLOAT-EXACT — the embedding pipeline casts
    * float vectors to double, so widening back is lossless — the
    * matrix packs as 4-byte floats and each load widens to the
    * IDENTICAL double before the (unchanged, in-order) double fold:
    * half the traffic, bit-identical cosines. Any value that would
    * not round-trip keeps the 8-byte packing (`flatD`); exactly one
    * of flatF/flatD is non-null.
    */
  private[functions] final class Mx(val flatF: Array[Float],
    val flatD: Array[Double], val offs: Array[Int], val lens: Array[Int],
    val sqEn: Array[Double], val cnt: Int)

  /** Per-task cache of the unpacked broadcast matrix, keyed on the
    * UNDERLYING buffer (base object identity + offset): the join's
    * build row hands out a fresh ArrayData wrapper on every access,
    * so wrapper identity never repeats, but the bytes it points into
    * are the one broadcast copy.
    *
    * Identity+offset alone is UNSAFE for a per-row (non-broadcast)
    * evals column: generated UnsafeProjections reuse one backing
    * buffer across rows, so the same (object, offset) can present
    * different bytes. The key therefore also carries numElements,
    * sizeInBytes, and the first/last 8 bytes of the region — a cheap
    * content check that any two distinct eval matrices fail (float
    * payload bytes land in the tail word). The function's intended
    * contract remains a broadcast-originated evals side (the
    * embDecontaminate aggregate-to-one-row shape); the fingerprint
    * turns a violation from silent wrong answers into at worst a
    * per-row re-unpack.
    */
  private final class Entry(val bo: AnyRef, val off: Long, val numEl: Int,
    val size: Long, val head: Long, val tail: Long, val mx: Mx)

  private val cache = new ThreadLocal[Entry]()

  private def mxFor(evals: ArrayData): Mx = {
    val (bo: AnyRef, off: Long, size: Long) = evals match {
      case u: UnsafeArrayData => (u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes.toLong)
      case g => (g, 0L, -1L)
    }
    val numEl = evals.numElements()
    val head =
      if (size >= 8) org.apache.spark.unsafe.Platform.getLong(bo, off) else 0L
    val tail =
      if (size >= 16)
        org.apache.spark.unsafe.Platform.getLong(bo, off + size - 8)
      else 0L
    val c = cache.get()
    if (c != null && (c.bo eq bo) && c.off == off && c.numEl == numEl &&
      c.size == size && c.head == head && c.tail == tail) return c.mx
    val mx = packMx(evals)
    cache.set(new Entry(bo, off, numEl, size, head, tail, mx))
    mx
  }

  /** Pack one (ev, en)-struct array into a [[Mx]] — the uncached body
    * of [[mxFor]], shared with [[AnyCosineCells]], which packs one Mx
    * PER BUCKET of its cell index under its own cache.
    */
  private[functions] def packMx(evals: ArrayData): Mx = {
    val m = evals.numElements()
    val vecs = new Array[Array[Double]](m)
    val sqe = new Array[Double](m)
    var cnt = 0
    var total = 0
    var j = 0
    while (j < m) {
      if (!evals.isNullAt(j)) {
        val s = evals.getStruct(j, 2)
        if (!s.isNullAt(0) && !s.isNullAt(1)) {
          val a = s.getArray(0)
          val n = a.numElements()
          var hasNull = false
          var i = 0
          while (i < n && !hasNull) {
            if (a.isNullAt(i)) hasNull = true
            i += 1
          }
          if (!hasNull) {
            vecs(cnt) = a.toDoubleArray()
            sqe(cnt) = math.sqrt(s.getDouble(1))
            total += n
            cnt += 1
          }
        }
      }
      j += 1
    }
    var floatExact = true
    j = 0
    while (j < cnt && floatExact) {
      val v = vecs(j)
      var i = 0
      while (i < v.length && floatExact) {
        if (v(i).toFloat.toDouble != v(i) && !v(i).isNaN) floatExact = false
        i += 1
      }
      j += 1
    }
    val offs = new Array[Int](cnt)
    val lens = new Array[Int](cnt)
    val sqEn = new Array[Double](cnt)
    val flatF = if (floatExact) new Array[Float](total) else null
    val flatD = if (floatExact) null else new Array[Double](total)
    var o = 0
    j = 0
    while (j < cnt) {
      val v = vecs(j)
      if (floatExact) {
        var i = 0
        while (i < v.length) { flatF(o + i) = v(i).toFloat; i += 1 }
      } else System.arraycopy(v, 0, flatD, o, v.length)
      offs(j) = o; lens(j) = v.length; sqEn(j) = sqe(j)
      o += v.length
      j += 1
    }
    new Mx(flatF, flatD, offs, lens, sqEn, cnt)
  }

  /** Called from generated code.
    *
    * The eval loop is REGISTER-BLOCKED four wide: one pass of the
    * corpus vector feeds four independent accumulator chains, hiding
    * scalar FP-add latency (the one-chain form is latency-bound at
    * ~1 add per 4 cycles; measured ~2.4× on the sf10 decontam screen).
    * Each eval's dot is still ITS OWN in-order left fold — blocking
    * across evals reorders nothing within a fold, so every cosine is
    * bit-identical to the chain's, and `any ≥ t` over a quad is the
    * same decision as four sequential tests (boolean OR is
    * order-free; the early exit just moves to quad granularity).
    */
  def anyGe(vd: ArrayData, evals: ArrayData, t: Double): Boolean = {
    val n = vd.numElements()
    val vv = new Array[Double](n)
    var i = 0
    while (i < n) {
      // a null element makes every chain cosine NULL — no match
      if (vd.isNullAt(i)) return false
      vv(i) = vd.getDouble(i)
      i += 1
    }
    var nrm = 0.0
    i = 0
    while (i < n) { nrm += vv(i) * vv(i); i += 1 }
    val sq = math.sqrt(nrm)
    val mx = mxFor(evals)
    scanMx(vv, n, sq, mx, t)
  }

  /** One member block — the single scan entry shared by the flat
    * kernel and the cells kernel's member tests.
    */
  private[functions] def scanMx(vv: Array[Double], n: Int, sq: Double,
      mx: Mx, t: Double): Boolean =
    if (mx.flatF != null) anyGeF(vv, n, sq, mx, t)
    else anyGeD(vv, n, sq, mx, t)

  private[functions] def anyGeF(vv: Array[Double], n: Int, sq: Double, mx: Mx,
      t: Double): Boolean = {
    val flat = mx.flatF
    val offs = mx.offs
    val lens = mx.lens
    val m = mx.cnt
    var j = 0
    while (j + 4 <= m &&
        lens(j) == n && lens(j + 1) == n &&
        lens(j + 2) == n && lens(j + 3) == n) {
      val o0 = offs(j); val o1 = offs(j + 1)
      val o2 = offs(j + 2); val o3 = offs(j + 3)
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var k = 0
      while (k < n) {
        val x = vv(k)
        a0 += x * flat(o0 + k); a1 += x * flat(o1 + k)
        a2 += x * flat(o2 + k); a3 += x * flat(o3 + k)
        k += 1
      }
      // zero norms give NaN here (the ANSI chain would error); NaN
      // >= t is false in Java — undefined cosine never matches
      if (a0 / (sq * mx.sqEn(j)) >= t ||
        a1 / (sq * mx.sqEn(j + 1)) >= t ||
        a2 / (sq * mx.sqEn(j + 2)) >= t ||
        a3 / (sq * mx.sqEn(j + 3)) >= t) return true
      j += 4
    }
    // tail + any length-mismatch region, one eval at a time
    while (j < m) {
      if (lens(j) == n) {
        val o = offs(j)
        var acc = 0.0
        var k = 0
        while (k < n) { acc += vv(k) * flat(o + k); k += 1 }
        if (acc / (sq * mx.sqEn(j)) >= t) return true
      }
      j += 1
    }
    false
  }

  private[functions] def anyGeD(vv: Array[Double], n: Int, sq: Double, mx: Mx,
      t: Double): Boolean = {
    val flat = mx.flatD
    val offs = mx.offs
    val lens = mx.lens
    val m = mx.cnt
    var j = 0
    while (j + 4 <= m &&
        lens(j) == n && lens(j + 1) == n &&
        lens(j + 2) == n && lens(j + 3) == n) {
      val o0 = offs(j); val o1 = offs(j + 1)
      val o2 = offs(j + 2); val o3 = offs(j + 3)
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var k = 0
      while (k < n) {
        val x = vv(k)
        a0 += x * flat(o0 + k); a1 += x * flat(o1 + k)
        a2 += x * flat(o2 + k); a3 += x * flat(o3 + k)
        k += 1
      }
      if (a0 / (sq * mx.sqEn(j)) >= t ||
        a1 / (sq * mx.sqEn(j + 1)) >= t ||
        a2 / (sq * mx.sqEn(j + 2)) >= t ||
        a3 / (sq * mx.sqEn(j + 3)) >= t) return true
      j += 4
    }
    while (j < m) {
      if (lens(j) == n) {
        val o = offs(j)
        var acc = 0.0
        var k = 0
        while (k < n) { acc += vv(k) * flat(o + k); k += 1 }
        if (acc / (sq * mx.sqEn(j)) >= t) return true
      }
      j += 1
    }
    false
  }
}
