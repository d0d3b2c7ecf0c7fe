package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Per-document DISTINCT hashed word-n-gram keys, fused:
  * `graft_gram_keys(toks, n, production)` ≡ the sorted distinct set of
  * `PortableHash.key64(concat_ws(" ", slice(toks, i, n)), production)`
  * over every window i — but no gram STRING, no shingle array, and no
  * HOF `transform` ever materialize: each window's bytes are assembled
  * and hashed per the [[PortableHash]] gram-hash contract.
  *
  * This is the map-side head of every shingle-posting chain
  * (n-gram Jaccard, containment, decontamination, source overlap).
  * The Column form exploded ~20-char gram strings and md5'd them one
  * ROW at a time: the explode carried string payloads into the first
  * exchange, and duplicate in-doc grams rode along until the partial
  * aggregate collapsed them. Here the explode carries 8-byte longs,
  * in-doc repeats are gone BEFORE the explode (the downstream
  * `collect_set` aggregates are duplicate-insensitive, so dropping
  * repeats early is semantics-preserving — DedupSpec pins chain ≡
  * kernel), and the whole pass stays inside whole-stage codegen.
  *
  * Fewer than n tokens (or n ≤ 0) → empty array, matching the chain's
  * `when(size(toks) < n, array())` guard.
  */
case class GramKeys(first: Expression, second: Expression, third: Expression)
    extends Kernel3("graft_gram_keys", GramKeys.Keys,
      Static("graft.functions.GramKeys.keys"), Arg.strings, Arg.int, Arg.boolean) {

  override protected def nullSafeEval(toks: Any, n: Any, prod: Any): Any =
    GramKeys.keys(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int],
      prod.asInstanceOf[Boolean])
}

/** Positional sibling of [[GramKeys]]:
  * `graft_gram_key_seq(toks, n, production)` = every window key IN
  * WINDOW ORDER (repeats kept). `posexplode` over it yields the
  * (pos, key) postings the substring-dedup verify stage aligns into
  * diagonal runs — positions matter there, so no dedupe/sort.
  */
case class GramKeySeq(first: Expression, second: Expression, third: Expression)
    extends Kernel3("graft_gram_key_seq", GramKeys.Keys,
      Static("graft.functions.GramKeys.keySeq"), Arg.strings, Arg.int, Arg.boolean) {

  override protected def nullSafeEval(toks: Any, n: Any, prod: Any): Any =
    GramKeys.keySeq(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int],
      prod.asInstanceOf[Boolean])
}

/** Winnowing anchor selection over an ordered key sequence:
  * `graft_winnow_select(ks, w)` = the sorted distinct minima of every
  * FULL window of w consecutive keys (< w keys → empty). The
  * winnowing guarantee (Schleimer/Wilkerson/Aiken, SIGMOD'03): two
  * docs sharing w consecutive equal keys — i.e. a verbatim token span
  * of ≥ n + w − 1 — share at least one selected VALUE, so matching on
  * selected values is a lossless candidate filter for spans ≥ that
  * bound.
  */
case class WinnowSelect(left: Expression, right: Expression)
    extends Kernel2("graft_winnow_select", GramKeys.Keys,
      Static("graft.functions.GramKeys.winnowSelect"), Arg.longs, Arg.int) {

  override protected def nullSafeEval(ks: Any, w: Any): Any =
    GramKeys.winnowSelect(ks.asInstanceOf[ArrayData], w.asInstanceOf[Int])
}

/** Both per-doc key views in one pass:
  * `graft_dfk_views(dfk)` over an (unordered, distinct) array of
  * (df int, shk long) structs returns
  * struct(ks array<long>, oks array<long>, n int) where `ks` is the
  * keys in numeric order (the [[SortedIntersect]] merge contract) and
  * `oks` the keys in (df, key) ascending — the PPJoin frequency order.
  * Replaces `array_sort(collect_set(struct))` + two HOF `transform`s
  * + a second `array_sort`, all of which run interpreted per doc.
  */
case class DfkViews(child: Expression) extends Kernel1("graft_dfk_views",
    StructType(Seq(StructField("ks", GramKeys.Keys, nullable = false),
      StructField("oks", GramKeys.Keys, nullable = false),
      StructField("n", IntegerType, nullable = false))),
    Static("graft.functions.GramKeys.dfkViews"),
    Arg(ArrayType(StructType(Seq(StructField("df", IntegerType),
      StructField("shk", LongType)))), "array<struct<df int, shk long>>")) {

  override protected def nullSafeEval(arr: Any): Any =
    GramKeys.dfkViews(arr.asInstanceOf[ArrayData])
}

/** Intersection SIZE of two SORTED DISTINCT long arrays:
  * `graft_sorted_ix(a, b)` ≡ `size(array_intersect(a, b))` when both
  * inputs are ascending distinct (the [[GramKeys]] contract) — but a
  * two-pointer merge (~100 ns for two ~30-element sets) instead of
  * ArrayIntersect's per-evaluation hash-set build (~2.5 µs measured:
  * the in-bucket verification of the containment chain spent 90+ s of
  * its 131 s sf10 wall in array_intersect before this kernel).
  */
case class SortedIntersect(left: Expression, right: Expression)
    extends Kernel2("graft_sorted_ix", IntegerType,
      Static("graft.functions.GramKeys.sortedIx"), Arg.longs, Arg.longs) {

  override protected def nullSafeEval(a: Any, b: Any): Any =
    GramKeys.sortedIx(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
}

object GramKeys {

  /** The key arrays these kernels return: ascending or positional
    * longs, never null elements.
    */
  val Keys: ArrayType = ArrayType(LongType, containsNull = false)

  /** Called from generated code: both key views + the set size from
    * an unordered distinct (df, shk) pair array.
    */
  def dfkViews(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val m = arr.numElements()
    val dfs = new Array[Int](m)
    val shks = new Array[Long](m)
    var i = 0
    while (i < m) {
      val s = arr.getStruct(i, 2)
      dfs(i) = s.getInt(0)
      shks(i) = s.getLong(1)
      i += 1
    }
    val ks = java.util.Arrays.copyOf(shks, m)
    java.util.Arrays.sort(ks)
    // (df, shk) order without an O(m²) permutation sort: each key's
    // rank in the ascending `ks` (binary search — keys are distinct)
    // preserves signed-long key order in 32 bits, so (df << 32 | rank)
    // sorts as one signed long: df asc (df ≥ 1, never sets the sign
    // bit), then key asc. O(m log m) — long docs carry thousands of
    // distinct shingles.
    val packed = new Array[Long](m)
    i = 0
    while (i < m) {
      val rank = java.util.Arrays.binarySearch(ks, shks(i))
      packed(i) = (dfs(i).toLong << 32) | (rank.toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(packed)
    val oks = new Array[Long](m)
    i = 0
    while (i < m) { oks(i) = ks((packed(i) & 0xffffffffL).toInt); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UnsafeArrayData.fromPrimitiveArray(ks),
        UnsafeArrayData.fromPrimitiveArray(oks), m))
  }

  /** Called from generated code: two-pointer common-element count over
    * ascending distinct arrays.
    */
  def sortedIx(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Every window key IN WINDOW ORDER (the raw long[] both entry
    * points share): [[PortableHash.key64]] of each window.
    */
  private[functions] def windowKeys(arr: ArrayData, n: Int,
      production: Boolean): Array[Long] = {
    val ws = new PortableHash.Windows(arr, n)
    val out = new Array[Long](ws.count)
    var w = 0
    while (w < ws.count) {
      ws.assemble(w)
      out(w) = ws.key64(production)
      w += 1
    }
    out
  }

  /** Sort + in-place dedupe of a scratch array the caller owns. */
  private def sortedDistinct(out: Array[Long]): ArrayData = {
    val m = out.length
    java.util.Arrays.sort(out)
    var uniq = 0
    var r = 0
    while (r < m) {
      if (r == 0 || out(r) != out(r - 1)) { out(uniq) = out(r); uniq += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (uniq == m) out else java.util.Arrays.copyOf(out, uniq))
  }

  /** Called from generated code: SORTED DISTINCT key set — the
    * ascending distinct contract callers rely on both as set semantics
    * and as the PPJoin global order.
    */
  def keys(arr: ArrayData, n: Int, production: Boolean): ArrayData =
    sortedDistinct(windowKeys(arr, n, production))

  /** Called from generated code: every window key in WINDOW ORDER
    * (positional, repeats kept) — the substring-dedup verify side
    * posexplodes this into (pos, key) postings.
    */
  def keySeq(arr: ArrayData, n: Int, production: Boolean): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(windowKeys(arr, n, production))

  /** Called from generated code: winnowing selection over an ORDERED
    * key sequence — the distinct set of minima of every FULL window of
    * `w` consecutive keys (fewer than w keys → empty: such a doc
    * cannot participate in any span the winnow guarantee covers).
    * O(m) via a monotonic deque. The selected VALUES (not positions)
    * are the anchor contract: any two docs sharing w consecutive equal
    * keys share at least one selected value.
    */
  def winnowSelect(arr: ArrayData, w: Int): ArrayData = {
    val m = arr.numElements()
    if (w <= 0 || m < w)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val ks = arr.toLongArray()
    val nOut = m - w + 1
    val out = new Array[Long](nOut)
    // deque of indices with ascending key values; front = window min
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < m) {
      while (tail > head && ks(dq(tail - 1)) >= ks(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = ks(dq(head))
      i += 1
    }
    sortedDistinct(out)
  }
}
