package graft.functions

import org.apache.spark.sql.{Column, DataFrame, functions}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The engine's two hash modes for candidate-generation keys:
  *
  *  - **oracle** (default): md5-derived integers. md5 is the one hash
  *    with identical output in Spark and DuckDB, so every query stays
  *    under the driver's exact-match correctness gate.
  *  - **production** (`spark.graft.productionHash=true`): xxhash64 —
  *    Spark-native, codegen'd, no string hex round-trip; the right
  *    choice on a real cluster where no cross-engine oracle is in the
  *    loop. Plan SHAPES are identical in both modes (pinned by
  *    ProductionHashSpec) — only the hash expression inside the
  *    projection changes, so every scale property (bucketing, caps,
  *    partial aggregation) carries over verbatim.
  *
  * SCOPE: the flag covers candidate-generation and bucketing hashes
  * (MinHash base, Jaccard shingle keys, SimHash bits, split buckets),
  * where a collision only perturbs candidate quality. It deliberately
  * does NOT cover exact-dedup identity (`sha2(text, 256)` stays):
  * 64-bit identity at 10^10 documents makes birthday collisions an
  * expected event, and exact dedup would silently drop distinct
  * documents — cryptographic width is correctness there, not cost.
  *
  * THE GRAM-HASH CONTRACT — one definition for every hashed word
  * n-gram (the Column chains here, the [[GramKeys]], [[MinHashSig]] and
  * [[WinnowGrams]] kernels, and the streaming twins):
  *
  *  1. window w's bytes are what `concat_ws(" ", slice(toks, w+1, n))`
  *     produces: the UTF-8 bytes of the non-null tokens joined by
  *     single spaces, nulls skipped (an all-null window is the empty
  *     string; an empty first token still forces a separator) —
  *     [[Windows]] assembles them;
  *  2. those bytes hash with md5 in oracle mode ([[md5Top64]]: the
  *     digest's first 8 bytes as a big-endian long) or with Spark's
  *     seed-42 XXH64 in production mode ([[xxhash64]] ≡ `xxhash64(col)`);
  *  3. the hash is sliced to [[key64]] (60 bits / full 64) or
  *     [[base28]] (28 bits). Each slice sits next to its Column form
  *     so the scalar and Column sides cannot drift.
  *
  * Fewer than n tokens (or n ≤ 0) means no windows.
  */
object PortableHash {

  val ConfKey = "spark.graft.productionHash"

  /** Mode is read from the owning session's runtime conf, so a user
    * flips it per-session (or per-run via `--conf`) without touching
    * query code.
    */
  def enabled(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ConfKey, "false").toBoolean

  /** 28-bit non-negative base hash of a string column. The 2^28 bound
    * is load-bearing for MinHash's affine transforms: a·base + b with
    * a,b < 2^31 stays under 2^59 — no int64 overflow (DuckDB errors on
    * overflow rather than wrapping, and Spark would silently wrap).
    *
    * Oracle mode: the top 28 bits of [[Md5Prefix64]] — bit-identical to
    * the `conv(substring(md5(c), 1, 7), 16, 10)` hex-digit formulation
    * the DuckDB oracle computes (7 hex digits ARE the top 28 bits), but
    * one codegen'd digest + shift instead of a hex-string round trip
    * (Md5Prefix64Spec pins the equivalence).
    */
  def base28(c: Column, production: Boolean): Column =
    if (production) pmod(functions.xxhash64(c), lit(1L << 28))
    else shiftrightunsigned(GraftFunctions.graftMd5Bits(c), 36)

  /** Scalar [[base28]] of `bytes[0, len)`. */
  def base28(bytes: Array[Byte], len: Int, production: Boolean): Long =
    if (production) java.lang.Math.floorMod(xxhash64(bytes, len), 1L << 28)
    else md5Top64(bytes, len) >>> 36

  /** Wide join/bucket key of a string column: 60 bits in oracle mode
    * (15 hex digits — the widest md5 prefix that converts exactly —
    * ≡ the top 60 bits of [[Md5Prefix64]]), the full signed 64 bits in
    * production mode.
    */
  def key64(c: Column, production: Boolean): Column =
    if (production) functions.xxhash64(c)
    else shiftrightunsigned(GraftFunctions.graftMd5Bits(c), 4)

  /** Scalar [[key64]] of `bytes[0, len)`. */
  def key64(bytes: Array[Byte], len: Int, production: Boolean): Long =
    if (production) xxhash64(bytes, len) else md5Top64(bytes, len) >>> 4

  /** Spark's `xxhash64` seed. */
  private val XxSeed = 42L

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The full 16-byte md5 digest of `bytes[0, len)` (a fresh array). */
  private def md5(bytes: Array[Byte], len: Int): Array[Byte] = {
    val md = digest.get()
    md.reset()
    md.update(bytes, 0, len)
    md.digest()
  }

  /** First 8 bytes of md5(`bytes[0, len)`) as a big-endian long. */
  private def md5Top64(bytes: Array[Byte], len: Int): Long = {
    val d = md5(bytes, len)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  /** Spark's `xxhash64` of `bytes[0, len)`. */
  private def xxhash64(bytes: Array[Byte], len: Int): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, len, XxSeed)

  /** The un-sliced hash of one string: md5 top 64 bits in oracle mode
    * (`graft_md5_bits`), `xxhash64(s)` in production mode — the per-token
    * hash SimHash votes on.
    */
  def hash64(s: UTF8String, production: Boolean): Long =
    if (production)
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, XxSeed)
    else {
      val b = s.getBytes
      md5Top64(b, b.length)
    }

  /** UTF-8 bytes of each element of a string array; nulls stay null. */
  private def utf8Bytes(arr: ArrayData): Array[Array[Byte]] = {
    val len = arr.numElements()
    val out = new Array[Array[Byte]](len)
    var i = 0
    while (i < len) {
      val s = arr.getUTF8String(i)
      out(i) = if (s == null) null else s.getBytes
      i += 1
    }
    out
  }

  // per-thread window buffer (grams are short; grown on demand)
  private val buffer = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](256)
  }

  /** The [[count]] word n-gram windows of one token array:
    * [[assemble]] writes window w's contract bytes into a per-thread
    * buffer reused across windows and rows, and the hashes read them.
    * One live instance per thread.
    */
  final class Windows(arr: ArrayData, n: Int) {
    private val toks = utf8Bytes(arr)
    val count: Int = if (n <= 0) 0 else math.max(0, toks.length - n + 1)
    private var bytes: Array[Byte] = buffer.get()
    private var length = 0

    def assemble(w: Int): Unit = {
      var p = 0
      // a FLAG tracks "no token emitted yet", not p > 0: an EMPTY first
      // token must still force a separator (concat_ws(" ", "", "a") = " a")
      var first = true
      var j = w
      while (j < w + n) {
        val t = toks(j)
        if (t != null) {
          val need = p + t.length + 1
          if (need > bytes.length) {
            bytes = java.util.Arrays.copyOf(bytes, math.max(need, bytes.length * 2))
            buffer.set(bytes)
          }
          if (!first) { bytes(p) = ' '.toByte; p += 1 }
          System.arraycopy(t, 0, bytes, p, t.length)
          p += t.length
          first = false
        }
        j += 1
      }
      length = p
    }

    def key64(production: Boolean): Long =
      PortableHash.key64(bytes, length, production)
    def base28(production: Boolean): Long =
      PortableHash.base28(bytes, length, production)
    def md5: Array[Byte] = PortableHash.md5(bytes, length)
  }
}
