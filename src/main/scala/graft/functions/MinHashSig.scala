package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** MinHash signature straight off the token array:
  * `graft_minhash(toks, n, k, production)` = array of the k affine
  * minima h_i = min over word-n-grams of (a_i·base28(gram) + b_i) mod
  * P, or NULL when the doc has fewer than n tokens (the column chain
  * emits no signature row for those — callers filter the NULLs to keep
  * that contract).
  *
  * The column chain explodes one row per shingle and funnels 16 min
  * aggregates through a doc_id exchange; like [[Simhash]], this kernel
  * folds the minima per document in ONE narrow map — no explode, no
  * aggregate, no corpus shuffle in the signature stage. Each window's
  * base28 follows the [[PortableHash]] gram-hash contract, so
  * signatures are bit-identical to the chain in both hash modes
  * (DedupSpec and GramKeysSpec pin it; StreamingNearDup.sigOf calls
  * [[MinHashSig.sig]] directly). Coefficients are the canonical
  * md5-seeded family ([[MinHashSig.coeffs]] —
  * [[graft.dedup.Dedup.minHashCoeffs]] delegates here).
  */
case class MinHashSig(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends Kernel4("graft_minhash",
      ArrayType(LongType, containsNull = false),
      Static("graft.functions.MinHashSig.sig", nullResult = true),
      Arg.strings, Arg.int, Arg.int, Arg.boolean) {

  override protected def nullSafeEval(toks: Any, n: Any, k: Any,
      production: Any): Any =
    MinHashSig.sig(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int],
      k.asInstanceOf[Int], production.asInstanceOf[Boolean])
}

object MinHashSig {

  val P = 2147483647L

  /** The canonical md5-seeded affine coefficient family: a_i ∈ [1, P−1],
    * b_i ∈ [0, P−1] from the first 4 digest bytes of "a$i"/"b$i". One
    * derivation, shared by the batch chain, this kernel, and the
    * streaming scalar twin.
    */
  def coeffs(k: Int): IndexedSeq[(Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String): Long =
      md.digest(s.getBytes("UTF-8")).take(4)
        .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    (0 until k).map(i => (h(s"a$i") % (P - 1) + 1, h(s"b$i") % P))
  }

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  /** Flattened (a0, b0, a1, b1, …) coefficient array for hash count k. */
  private def flatCoeffs(k: Int): Array[Long] =
    coeffCache.computeIfAbsent(k, kk => {
      val cs = coeffs(kk)
      val flat = new Array[Long](kk * 2)
      var i = 0
      while (i < kk) {
        flat(2 * i) = cs(i)._1; flat(2 * i + 1) = cs(i)._2; i += 1
      }
      flat
    })

  /** Called from generated code. */
  def sig(arr: ArrayData, n: Int, k: Int, production: Boolean): ArrayData = {
    val ws = new PortableHash.Windows(arr, n)
    if (k <= 0 || ws.count == 0) return null
    val cs = flatCoeffs(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var w = 0
    while (w < ws.count) {
      ws.assemble(w)
      val base = ws.base28(production)
      var c = 0
      while (c < k) {
        val h = (cs(2 * c) * base + cs(2 * c + 1)) % P
        if (h < mins(c)) mins(c) = h
        c += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }
}
