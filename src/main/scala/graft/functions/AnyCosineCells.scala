package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Bucketed EXACT existential cosine screen:
  * `graft_any_cosine_ge_cells(v, cells, t)` = does ANY eval vector in
  * ANY cell have cosine(v, ev) ≥ t — the membership test
  * `sim_embedding_decontam` runs for every corpus vector, over an eval
  * set pre-grouped into direction buckets, with whole buckets skipped
  * by a triangle-inequality bound instead of scanned. The cosine and
  * its edge cases (null elements, length mismatch, zero norms) are
  * [[AnyCosine]]'s.
  *
  * `cells` is one broadcast row of
  * `array<struct<bkt: long, cv: array<double>, cr: double,
  *              ms: array<struct<ev: array<double>, en: double>>>>`:
  * per bucket a representative direction `cv` (the member mean — ANY
  * vector works for correctness), the bucket's angular radius
  * `cr = max over members of θ(ev, cv)`, and the members themselves as
  * (ev, en) structs, `en` = dot(ev, ev).
  *
  * An optional FIFTH field adds a second bound level:
  * `subs: array<struct<cv: array<double>, cr: double,
  *              ms: array<struct<ev: array<double>, en: double>>>>` —
  * sub-cells of the bucket, each with its own representative
  * direction, radius, and member block. When a bucket SURVIVES its
  * level-1 bound (it is angularly near the query), its sub-cells are
  * bound-checked individually and only the surviving sub-cells' members
  * are scanned — the recursive-bounds refinement for the case where
  * boundary buckets hold many members but only a thin angular shell of
  * them can actually decide the verdict. The kernel scans the UNION of
  * a cell's `ms` and its `subs` members (a packer puts each member in
  * exactly one place; redundant packing costs time, never correctness),
  * and every degenerate sub (null/odd cv, NaN radius, zero norm) is
  * scanned unconditionally — the same conservative contract as level 1.
  *
  * A sub-cell struct may itself carry an optional FOURTH field —
  * `subs: array<struct<cv, cr, ms>>` (leaf shape, no further nesting;
  * SQL struct types are finite, so the depth is fixed at three) — a
  * THIRD bound level: a sub-cell that survives its level-2 bound
  * bound-checks its sub-sub-cells and scans only the survivors'
  * members, by exactly the level-2 contract (union of own `ms` and
  * children; degenerate shapes scan). Why a third level pays where
  * more level-2 planes don't: past ~20 sub-planes the r14 sweep
  * measured singleton-sub overhead taking over — the DIFFUSE member
  * mass splits into one-member subs whose bound dot merely replaces
  * the member dot 1:1 — while the TIGHT angular clusters that hold
  * the pruning leverage co-land in few sub-keys regardless (sign bits
  * of near-parallel directions agree). Level 3 re-splits exactly
  * those surviving tight blocks, and its bound dots are paid only by
  * rows that already survived level 2 — cost scales with the boundary
  * shell of the boundary shell, not the corpus.
  *
  * The bound (why skipping is EXACT, never approximate): angular
  * distance θ(a,b) = arccos(cos(a,b)) is a metric on the unit sphere,
  * so for every member e of a cell with radius r:
  * θ(v,e) ≥ θ(v,cv) − θ(e,cv) ≥ θ(v,cv) − r. If
  * θ(v,cv) − r > θ_t := arccos(t), then cos(v,e) < t for ALL members
  * and the cell cannot contain a match. Evaluated per row in the
  * COSINE domain (no per-row acos): skip iff
  * cos(v,cv) < cos(min(θ_t + r + Slack, π)), the right side
  * precomputed once per cell at pack time. [[AnyCosineCells.Slack]]
  * (1e-4 rad) swallows every rounding term — the plan-side
  * acos(clamp(·)) that produced `cr`, the pack-time cos, and the
  * per-row dot/divide (all ≤ 1e-7 in the θ domain away from the
  * clamped poles, where the clamp itself caps the error at ~1e-6) —
  * so a borderline cell is SCANNED, never skipped: pruning can drop
  * only cells that pass the test with ≥ Slack/2 to spare, and the
  * members that decide the verdict go through [[AnyCosine.scanMx]] —
  * the same in-order fold as the Column chain — verdict-identical at
  * every level.
  *
  * Conservative fallbacks (scan, never skip) whenever the bound is
  * not trustworthy: null/missing cv or cr, a null cv element, cv
  * length ≠ v length, zero/NaN norms (NaN comparisons are false in
  * Java, which lands on "scan" by construction), θ_t + r ≥ π. A
  * null cells entry or empty/null ms contributes nothing (no member
  * could match — same verdict as the chain's NULL cosine).
  *
  * Why cells instead of one flat eval matrix: a flat
  * screen's per-row floor is the FULL |evals|·dim multiply, which is
  * quadratic when the eval set grows with the corpus — measured 933 s
  * at sf100 (it was 9.2 s at sf10: 101× for 10× data, |corpus|·|evals|
  * by construction). The bucketed screen's floor is |cells| bound
  * checks (one dot each) + the few boundary cells' members; at a
  * FIXED real-world eval set both forms are linear in the corpus, but
  * the bucketed one stays linear when the eval side scales too.
  */
case class AnyCosineGeCells(first: Expression, second: Expression,
    third: Expression) extends Kernel3("graft_any_cosine_ge_cells", BooleanType,
      // the cells shape is read by its own type check below
      Instance("anyGe"), Arg.doubles, Arg(NullType, "cells"),
      Arg.double.literal("threshold must be a double literal")) {

  private def v = first
  private def cells = second
  private def threshold = third

  /** Its own check: a cells element has optional sub-cell levels, and
    * each argument has its own message.
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    def msOk(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(fs), _) if fs.length == 2 =>
        (fs(0).dataType, fs(1).dataType) match {
          case (ArrayType(DoubleType, _), DoubleType) => true
          case _ => false
        }
      case _ => false
    }
    def leafSubsOk(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(fs), _) if fs.length == 3 =>
        (fs(0).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }) && fs(1).dataType == DoubleType && msOk(fs(2).dataType)
      case _ => false
    }
    def subsOk(dt: DataType): Boolean = dt match {
      case ArrayType(StructType(fs), _)
          if fs.length == 3 || fs.length == 4 =>
        (fs(0).dataType match {
          case ArrayType(DoubleType, _) => true
          case _ => false
        }) && fs(1).dataType == DoubleType && msOk(fs(2).dataType) &&
          (fs.length == 3 || leafSubsOk(fs(3).dataType))
      case _ => false
    }
    val cellsOk = cells.dataType match {
      case ArrayType(StructType(fs), _)
          if fs.length == 4 || fs.length == 5 =>
        fs(0).dataType == LongType &&
          (fs(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) &&
          fs(2).dataType == DoubleType && msOk(fs(3).dataType) &&
          (fs.length == 4 || subsOk(fs(4).dataType))
      case _ => false
    }
    if (v.dataType != ArrayType(DoubleType, containsNull = true) &&
      v.dataType != ArrayType(DoubleType, containsNull = false))
      TypeCheckResult.TypeCheckFailure(
        s"graft_any_cosine_ge_cells expects array<double> v, got ${v.dataType.simpleString}")
    else if (!cellsOk)
      TypeCheckResult.TypeCheckFailure(
        "graft_any_cosine_ge_cells expects array<struct<bkt: long, cv: array<double>, " +
          s"cr: double, ms: array<struct<ev: array<double>, en: double>>>> cells, " +
          s"got ${cells.dataType.simpleString}")
    else if (threshold.dataType != DoubleType || !threshold.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_any_cosine_ge_cells threshold must be a double literal")
    else if (threshold.eval(null) == null)
      TypeCheckResult.TypeCheckFailure(
        "graft_any_cosine_ge_cells threshold must not be null")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val t: Double =
    threshold.eval(null).asInstanceOf[Double]

  /** Struct arity of a cells element (4 = flat, 5 = with sub-cells) —
    * fixed by the child's dataType, threaded into the kernel so the
    * unpack reads exactly the fields that exist.
    */
  @transient private lazy val cellArity: Int = cells.dataType match {
    case ArrayType(StructType(fs), _) => fs.length
    case _ => 4
  }

  /** Struct arity of a sub-cell element (3 = leaf, 4 = with
    * sub-sub-cells), same fixed-by-dataType contract as [[cellArity]].
    */
  @transient private lazy val subArity: Int = cells.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 5 =>
      fs(4).dataType match {
        case ArrayType(StructType(sfs), _) => sfs.length
        case _ => 3
      }
    case _ => 3
  }

  /** The shared kernel (also called from generated code). */
  def anyGe(vd: ArrayData, cs: ArrayData): Boolean =
    AnyCosineCells.anyGe(vd, cs, t, cellArity, subArity)

  override protected def nullSafeEval(vd: Any, cs: Any, th: Any): Any =
    anyGe(vd.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])
}

object AnyCosineCells {

  /** Conservative slack, radians, added to every cell's skip bound.
    * Orders of magnitude above the worst accumulated rounding of the
    * bound arithmetic (≤ ~1e-6 near the acos poles), and orders of
    * magnitude below any useful pruning margin (θ_t is ~1.16 rad at
    * the fixture threshold), so it costs scanning only cells that
    * were within 1e-4 rad of being skipped anyway.
    */
  val Slack = 1e-4

  /** Packed cell index: per cell the centroid (kept as DOUBLES — a
    * mean is not float-exact, and the bound math must reproduce the
    * pack-time values deterministically), sqrt of its norm, the
    * precomputed cosine-domain skip bound (−2 = unboundable: cos can
    * never be < −2, so the cell always scans), and the members packed
    * by [[AnyCosine.packMx]] (float-exact layout and all).
    *
    * The BOUNDABLE cells whose centroids share the dominant length
    * additionally pack CONTIGUOUSLY (flatCv, one cell every flatLen
    * doubles; flatIx maps back to the cell index): the bound pass is
    * the per-row floor once pruning works — |cells| dots — and as a
    * one-chain loop over scattered arrays it was measured to cap the
    * sf100 win at 3.8×; the flat layout runs the same 4-wide
    * register-blocked fold as [[AnyCosine.anyGeF]] (each cell's dot
    * still its own in-order fold — blocking reorders nothing within
    * a fold, so bounds are bit-identical to the scalar loop).
    * Remaining cells (degenerate centroid, odd length, zero norm)
    * stay on the scalar path, which scans them — conservative.
    */
  /** One packed sub-cell: representative direction (null = never
    * boundable, always scan), its norm sqrt, the precomputed
    * cosine-domain skip bound, the member block (null = none at this
    * level), and the packed sub-sub-cells (null = leaf).
    */
  private final class Sub(val cv: Array[Double], val sqCn: Double,
    val cosBound: Double, val mx: AnyCosine.Mx, val children: Array[Sub])

  private final class Cx(val cv: Array[Array[Double]],
    val sqCn: Array[Double], val cosBound: Array[Double],
    val ms: Array[AnyCosine.Mx], val subs: Array[Array[Sub]],
    val cnt: Int,
    val inFlat: Array[Boolean], val flatCv: Array[Double],
    val flatSqCn: Array[Double], val flatBound: Array[Double],
    val flatIx: Array[Int], val flatLen: Int, val flatCnt: Int)

  /** Per-task cache key of the unpacked broadcast index, on the
    * UNDERLYING buffer (base object identity + offset): the join's
    * build row hands out a fresh ArrayData wrapper on every access,
    * so wrapper identity never repeats, but the bytes it points into
    * are the one broadcast copy.
    *
    * Identity+offset alone is UNSAFE for a per-row (non-broadcast)
    * cells column: generated UnsafeProjections reuse one backing
    * buffer across rows, so the same (object, offset) can present
    * different bytes. The key therefore also carries numElements,
    * sizeInBytes, and the first/last 8 bytes of the region — a cheap
    * content check that turns a violation of the broadcast contract
    * into at worst a per-row re-unpack, never a wrong answer — plus
    * the threshold (the skip bounds bake in θ_t, and two expressions
    * with different thresholds over one buffer must not share
    * entries) and the struct arity (a 4- and a 5-field view of one
    * buffer must not share an unpack).
    */
  private final class Entry(val bo: AnyRef, val off: Long, val numEl: Int,
    val size: Long, val head: Long, val tail: Long, val t: Double,
    val arity: Int, val subArity: Int, val cx: Cx)

  private val cache = new ThreadLocal[Entry]()

  private def cxFor(cells: ArrayData, t: Double, arity: Int,
      subArity: Int): Cx = {
    val (bo: AnyRef, off: Long, size: Long) = cells match {
      case u: UnsafeArrayData => (u.getBaseObject, u.getBaseOffset,
        u.getSizeInBytes.toLong)
      case g => (g, 0L, -1L)
    }
    val numEl = cells.numElements()
    val head =
      if (size >= 8) org.apache.spark.unsafe.Platform.getLong(bo, off) else 0L
    val tail =
      if (size >= 16)
        org.apache.spark.unsafe.Platform.getLong(bo, off + size - 8)
      else 0L
    val c = cache.get()
    if (c != null && (c.bo eq bo) && c.off == off && c.numEl == numEl &&
      c.size == size && c.head == head && c.tail == tail && c.t == t &&
      c.arity == arity && c.subArity == subArity)
      return c.cx
    val m = numEl
    val cv = new Array[Array[Double]](m)
    val sqCn = new Array[Double](m)
    val cosBound = new Array[Double](m)
    val ms = new Array[AnyCosine.Mx](m)
    val subs = new Array[Array[Sub]](m)
    val thetaT = math.acos(math.min(math.max(t, -1.0), 1.0))
    // Shared direction-bound unpack (levels 1 and 2 use the same
    // arithmetic): (cv, sqCn, cosBound) of a (dir, radius) pair, or
    // null/−2 when the bound is untrustworthy (scan, never skip).
    def dirBound(a: ArrayData, r: Double): (Array[Double], Double, Double) = {
      val n = a.numElements()
      var hasNull = false
      var i = 0
      while (i < n && !hasNull) {
        if (a.isNullAt(i)) hasNull = true
        i += 1
      }
      if (hasNull) return (null, 0.0, -2.0)
      val cvA = a.toDoubleArray()
      var cn = 0.0
      i = 0
      while (i < n) { cn += cvA(i) * cvA(i); i += 1 }
      val b = thetaT + r + Slack
      // NaN b → NaN bound → per-row `cq < NaN` is false → scan;
      // b ≥ π → −2 (cos of the capped angle is −1, and a rounded cq
      // could legitimately reach −1: never skip);
      // zero-norm centroid → −2 (its cq is NaN anyway).
      if (!java.lang.Double.isNaN(b) && b < math.Pi && cn > 0.0)
        (cvA, math.sqrt(cn), math.cos(b))
      else (null, 0.0, -2.0)
    }
    var j = 0
    while (j < m) {
      cosBound(j) = -2.0
      if (!cells.isNullAt(j)) {
        val s = cells.getStruct(j, arity)
        if (!s.isNullAt(3)) ms(j) = AnyCosine.packMx(s.getArray(3))
        if (!s.isNullAt(1) && !s.isNullAt(2)) {
          val (cvA, sq, bnd) = dirBound(s.getArray(1), s.getDouble(2))
          if (cvA != null) {
            cv(j) = cvA
            sqCn(j) = sq
            cosBound(j) = bnd
          }
        }
        if (arity >= 5 && !s.isNullAt(4))
          subs(j) = unpackSubs(s.getArray(4), subArity, dirBound)
      }
      j += 1
    }
    // Contiguous repack of the boundable majority-length cells (with
    // members at either level — memberless cells need neither bound
    // nor scan).
    def hasM(j: Int): Boolean =
      (ms(j) != null && ms(j).cnt > 0) || subs(j) != null
    var flatLen = -1
    j = 0
    while (j < m && flatLen < 0) {
      if (cv(j) != null && hasM(j)) flatLen = cv(j).length
      j += 1
    }
    var flatCnt = 0
    j = 0
    while (j < m) {
      if (cv(j) != null && cv(j).length == flatLen && hasM(j)) flatCnt += 1
      j += 1
    }
    val flatCv = new Array[Double](math.max(0, flatCnt * math.max(0, flatLen)))
    val flatSqCn = new Array[Double](flatCnt)
    val flatBound = new Array[Double](flatCnt)
    val flatIx = new Array[Int](flatCnt)
    val inFlat = new Array[Boolean](m)
    var f = 0
    j = 0
    while (j < m) {
      if (cv(j) != null && cv(j).length == flatLen && hasM(j)) {
        System.arraycopy(cv(j), 0, flatCv, f * flatLen, flatLen)
        flatSqCn(f) = sqCn(j)
        flatBound(f) = cosBound(j)
        flatIx(f) = j
        inFlat(j) = true // the scalar pass skips it; the flat pass owns it
        f += 1
      }
      j += 1
    }
    val cx = new Cx(cv, sqCn, cosBound, ms, subs, m,
      inFlat, flatCv, flatSqCn, flatBound, flatIx, flatLen, flatCnt)
    cache.set(new Entry(bo, off, numEl, size, head, tail, t, arity,
      subArity, cx))
    cx
  }

  /** Called from generated code. A corpus vector with a null element
    * returns false (the chain's NULL cosine matches nothing).
    */
  def anyGe(vd: ArrayData, cells: ArrayData, t: Double,
      arity: Int, subArity: Int): Boolean = {
    val n = vd.numElements()
    val vv = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (vd.isNullAt(i)) return false
      vv(i) = vd.getDouble(i)
      i += 1
    }
    var nrm = 0.0
    i = 0
    while (i < n) { nrm += vv(i) * vv(i); i += 1 }
    val sq = math.sqrt(nrm)
    val cx = cxFor(cells, t, arity, subArity)
    // Flat pass: 4-wide register-blocked bounds over the contiguous
    // centroid block, member scan only for survivors. If q's length
    // differs from the block's, no flat bound is valid — scan them all
    // (their members then fail the length guard individually, exactly
    // as the chain would decide).
    if (cx.flatCnt > 0) {
      if (cx.flatLen == n) {
        val fc = cx.flatCv
        var f = 0
        while (f + 4 <= cx.flatCnt) {
          val o0 = f * n; val o1 = o0 + n; val o2 = o1 + n; val o3 = o2 + n
          var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
          var k = 0
          while (k < n) {
            val x = vv(k)
            a0 += x * fc(o0 + k); a1 += x * fc(o1 + k)
            a2 += x * fc(o2 + k); a3 += x * fc(o3 + k)
            k += 1
          }
          // `cq < bound` false (incl. NaN cq) → survivor → scan
          if (!(a0 / (sq * cx.flatSqCn(f)) < cx.flatBound(f)) &&
            scanFlat(cx, f, vv, n, sq, t)) return true
          if (!(a1 / (sq * cx.flatSqCn(f + 1)) < cx.flatBound(f + 1)) &&
            scanFlat(cx, f + 1, vv, n, sq, t)) return true
          if (!(a2 / (sq * cx.flatSqCn(f + 2)) < cx.flatBound(f + 2)) &&
            scanFlat(cx, f + 2, vv, n, sq, t)) return true
          if (!(a3 / (sq * cx.flatSqCn(f + 3)) < cx.flatBound(f + 3)) &&
            scanFlat(cx, f + 3, vv, n, sq, t)) return true
          f += 4
        }
        while (f < cx.flatCnt) {
          val o = f * n
          var acc = 0.0
          var k = 0
          while (k < n) { acc += vv(k) * fc(o + k); k += 1 }
          if (!(acc / (sq * cx.flatSqCn(f)) < cx.flatBound(f)) &&
            scanFlat(cx, f, vv, n, sq, t)) return true
          f += 1
        }
      } else {
        var f = 0
        while (f < cx.flatCnt) {
          if (scanFlat(cx, f, vv, n, sq, t)) return true
          f += 1
        }
      }
    }
    // Scalar pass: the irregular remainder (degenerate centroids, odd
    // lengths) — bound when possible, scan otherwise.
    var j = 0
    while (j < cx.cnt) {
      if (!cx.inFlat(j) &&
        ((cx.ms(j) != null && cx.ms(j).cnt > 0) || cx.subs(j) != null)) {
        var scan = true
        val cvA = cx.cv(j)
        if (cvA != null && cvA.length == n) {
          var dq = 0.0
          var k = 0
          while (k < n) { dq += vv(k) * cvA(k); k += 1 }
          val cq = dq / (sq * cx.sqCn(j))
          // NaN cq (zero norms) compares false → scan: conservative.
          if (cq < cx.cosBound(j)) scan = false
        }
        if (scan && scanCell(cx, j, vv, n, sq, t)) return true
      }
      j += 1
    }
    false
  }

  private def scanFlat(cx: Cx, f: Int, vv: Array[Double], n: Int,
      sq: Double, t: Double): Boolean =
    scanCell(cx, cx.flatIx(f), vv, n, sq, t)

  /** Member test of a level-1 SURVIVOR: the cell-level member block
    * (if any), then each sub-cell behind its own bound — a surviving
    * sub scans its members, a bounded-out sub is skipped by the same
    * exact triangle-inequality argument as level 1. Existential OR, so
    * member partition and visit order cannot change the verdict, and
    * every member that IS tested goes through [[AnyCosine.anyGeF]]/
    * [[AnyCosine.anyGeD]] — bit-identical arithmetic at every level.
    */
  private def scanCell(cx: Cx, j: Int, vv: Array[Double], n: Int,
      sq: Double, t: Double): Boolean = {
    val mx = cx.ms(j)
    if (mx != null && mx.cnt > 0 &&
      AnyCosine.scanMx(vv, n, sq, mx, t)) return true
    val ss = cx.subs(j)
    ss != null && scanSubs(ss, vv, n, sq, t)
  }

  /** One level of sub-cells behind their own bounds, recursing into
    * sub-sub-cells for level-2 survivors. Same conservative contract
    * at every depth: a trustworthy bound may skip, everything else
    * scans.
    */
  private def scanSubs(ss: Array[Sub], vv: Array[Double], n: Int,
      sq: Double, t: Double): Boolean = {
    var k = 0
    while (k < ss.length) {
      val sub = ss(k)
      var scan = true
      if (sub.cv != null && sub.cv.length == n) {
        var dq = 0.0
        var i = 0
        while (i < n) { dq += vv(i) * sub.cv(i); i += 1 }
        // NaN cq compares false → scan: conservative.
        if (dq / (sq * sub.sqCn) < sub.cosBound) scan = false
      }
      if (scan) {
        if (sub.mx != null &&
          AnyCosine.scanMx(vv, n, sq, sub.mx, t)) return true
        if (sub.children != null && scanSubs(sub.children, vv, n, sq, t))
          return true
      }
      k += 1
    }
    false
  }

  /** Unpack one level of sub-cells: `arity` 3 = leaf, 4 = carries
    * sub-sub-cells (unpacked at leaf arity — depth is schema-fixed).
    * A sub with neither members nor children contributes nothing and
    * is dropped; a sub with a degenerate direction keeps a −2 bound
    * (never skipped).
    */
  private def unpackSubs(sa: ArrayData, arity: Int,
      dirBound: (ArrayData, Double) => (Array[Double], Double, Double)): Array[Sub] = {
    val sn = sa.numElements()
    if (sn == 0) return null
    val arr = new Array[Sub](sn)
    var k = 0
    var kept = 0
    while (k < sn) {
      if (!sa.isNullAt(k)) {
        val ss = sa.getStruct(k, arity)
        val mx0 =
          if (!ss.isNullAt(2)) AnyCosine.packMx(ss.getArray(2)) else null
        val mx = if (mx0 != null && mx0.cnt > 0) mx0 else null
        val children =
          if (arity >= 4 && !ss.isNullAt(3))
            unpackSubs(ss.getArray(3), 3, dirBound)
          else null
        if (mx != null || children != null) {
          val (scv, ssq, sbnd) =
            if (!ss.isNullAt(0) && !ss.isNullAt(1))
              dirBound(ss.getArray(0), ss.getDouble(1))
            else (null, 0.0, -2.0)
          arr(kept) = new Sub(scv, ssq, sbnd, mx, children)
          kept += 1
        }
      }
      k += 1
    }
    if (kept == 0) null
    else if (kept == sn) arr
    else java.util.Arrays.copyOf(arr, kept)
  }
}
