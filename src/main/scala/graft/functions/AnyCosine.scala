package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The member scan of the existential cosine screen
  * `graft_any_cosine_ge_cells` ([[AnyCosineGeCells]]): does any eval
  * vector of one packed block have cosine(v, ev) ≥ t.
  *
  * Semantics are pinned to the Column chain (a broadcast join on
  * `cosine(v, ev) ≥ t`), decision for decision:
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
  *    similar to anything; AnyCosineCellsSpec pins both behaviors;
  *  - a null/absent eval entry, a null element, or a length mismatch
  *    makes the chain's cosine NULL (never a match): packing drops
  *    those entries, the scan skips length mismatches, and a corpus
  *    vector with a null element returns false.
  */
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

  /** Pack one (ev, en)-struct array into a [[Mx]]: [[AnyCosineCells]]
    * packs one Mx PER BUCKET of its cell index under its own cache.
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

  /** One member block — the single scan entry of the cells kernel's
    * member tests.
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
