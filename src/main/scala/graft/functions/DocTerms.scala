package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The χ² tokenizer, fused: `graft_doc_terms(lowered, stopwords)` ≡
  * `array_distinct(filter(split(lowered, Tokenize.DelimRegex),
  * t -> 1 < length(t) < 50 AND t NOT IN stopwords))`, element for
  * element and in first-occurrence order.
  *
  * Why a kernel: `filter` is a higher-order function, and Spark
  * evaluates it outside whole-stage codegen through an interpreted
  * lambda; `split` decodes the row to a Java String, runs the regex
  * and re-encodes every fragment, `array_distinct` builds a third
  * array. This is one forward pass over the UTF-8 bytes of the
  * lowered text: it finds the token boundaries, counts code points,
  * drops stopwords (a hash set) and repeats (a reused scratch table), and
  * writes the survivors straight into a single `UnsafeArrayData`.
  *
  * Semantics, pinned to the Column chain by TokenizeSpec and
  * DocTermsPropertySpec:
  *  - a delimiter is exactly one code point of the `DelimRegex` class:
  *    Java `\s` = `[ \t\n\x0B\f\r]`, ASCII `\d`, the ASCII punctuation
  *    ``()[]{}.!?,;:+=-_"'`~#@&*%$\/``, `€` (E2 82 AC) and `§` (C2 A7);
  *    every other code point, multibyte or supplementary, is token text;
  *  - a token is a maximal run of non-delimiters, kept when it has
  *    more than 1 and fewer than 50 code points and its bytes equal no
  *    stopword (the stopwords are compared as given, not lowercased);
  *  - `stopwords` must be a foldable `array<string>` (a driver-side
  *    constant); null elements never match, as in `NOT IN`.
  * The input must be valid UTF-8, which Spark's `lower` always emits.
  */
case class DocTerms(left: Expression, right: Expression)
    extends Kernel2("graft_doc_terms", ArrayType(StringType, containsNull = false),
      // its generated code also owns a scratch table
      Own, Arg.string, Arg.strings.literal("stopwords must be a literal")) {

  private def stopwords = right

  /** Stopword set built ONCE from the foldable child (shared by eval
    * and, via a reference object, codegen).
    */
  @transient private lazy val stop: java.util.HashSet[UTF8String] = {
    val ad = stopwords.eval(null).asInstanceOf[ArrayData]
    val set = new java.util.HashSet[UTF8String]()
    (0 until ad.numElements()).filterNot(ad.isNullAt)
      .foreach(i => set.add(ad.getUTF8String(i).clone()))
    set
  }

  /** Scratch for the interpreted path; generated code owns its own. */
  @transient private lazy val evalScratch = new DocTermsScratch

  /** The shared kernel (also called from generated code). */
  def terms(u: UTF8String, scratch: DocTermsScratch): ArrayData =
    DocTerms.terms(u, stop, scratch)

  override protected def nullSafeEval(t: Any, sw: Any): Any =
    terms(t.asInstanceOf[UTF8String], evalScratch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("docTerms", this, classOf[DocTerms].getName)
    val scratchClass = classOf[DocTermsScratch].getName
    val scratch = ctx.addMutableState(scratchClass, "docTermsScratch",
      v => s"$v = new $scratchClass();")
    nullSafeCodeGen(ctx, ev, (t, _) =>
      s"${ev.value} = $self.terms($t, $scratch);")
  }
}

/** Reusable buffers of [[DocTerms]], one set per generated-code
  * instance: the kept tokens' byte ranges and hashes, and the
  * open-addressing table that de-duplicates them. They grow to the
  * largest document seen, so a row allocates little beyond its output.
  */
final class DocTermsScratch {
  private[functions] var starts: Array[Int] = new Array[Int](64)
  private[functions] var lens: Array[Int] = new Array[Int](64)
  private[functions] var hashes: Array[Int] = new Array[Int](64)
  private[functions] var slots: Array[Int] = new Array[Int](128)

  private[functions] def ensure(tokens: Int, tableSize: Int): Unit = {
    if (starts.length < tokens) {
      starts = new Array[Int](tokens)
      lens = new Array[Int](tokens)
      hashes = new Array[Int](tokens)
    }
    if (slots.length < tableSize) slots = new Array[Int](tableSize)
  }
}

object DocTerms {

  /** Code-point bounds of a kept token: MinChars < n < MaxChars. */
  private val MinChars = 1
  private val MaxChars = 50

  /** ASCII delimiters of `Tokenize.DelimRegex`. */
  private val asciiDelim: Array[Boolean] = {
    val t = new Array[Boolean](128)
    (" \t\n\u000B\f\r0123456789()[]{}.!?,;:+=-_\"'`~#@&*%$\\/").foreach(c => t(c) = true)
    t
  }

  /** Byte length of the delimiter starting at `at` (0 = not one). */
  @inline private def delimAt(base: AnyRef, at: Long, end: Long): Int = {
    val b = Platform.getByte(base, at)
    if (b >= 0) { if (asciiDelim(b)) 1 else 0 }
    else if (b == 0xC2.toByte) {
      if (at + 1 < end && Platform.getByte(base, at + 1) == 0xA7.toByte) 2 else 0
    } else if (b == 0xE2.toByte) {
      if (at + 2 < end && Platform.getByte(base, at + 1) == 0x82.toByte &&
          Platform.getByte(base, at + 2) == 0xAC.toByte) 3 else 0
    } else 0
  }

  /** Spreads a token's polynomial byte hash over the table's low bits. */
  @inline private def mix(h: Int): Int = {
    val x = h * 0x9E3779B9
    x ^ (x >>> 16)
  }

  /** The fused tokenizer: distinct kept tokens of `u` in first-occurrence
    * order, as one `UnsafeArrayData` (header, offset-and-size words,
    * then each token's bytes padded to a word).
    */
  def terms(u: UTF8String, stop: java.util.HashSet[UTF8String],
      sc: DocTermsScratch): ArrayData = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    // a kept token is >= 2 bytes plus a delimiter, so n/3 + 1 bounds them
    val maxTokens = n / 3 + 1
    val tableSize = Integer.highestOneBit(maxTokens * 2) * 2
    sc.ensure(maxTokens, tableSize)
    val starts = sc.starts
    val lens = sc.lens
    val hashes = sc.hashes
    val slots = sc.slots
    val mask = tableSize - 1
    java.util.Arrays.fill(slots, 0, tableSize, 0)
    var kept = 0
    var dataBytes = 0L
    val end = off + n
    // one delimiter probe per byte; the end of the text closes the last token
    var i = off
    var st = off
    var chars = 0
    var h = 0
    while (i <= end) {
      val d = if (i == end) 1 else delimAt(base, i, end)
      if (d == 0) {
        val b = Platform.getByte(base, i)
        if ((b & 0xC0) != 0x80) chars += 1
        h = h * 31 + b
        i += 1
      } else {
        val len = (i - st).toInt
        if (chars > MinChars && chars < MaxChars &&
            !stop.contains(UTF8String.fromAddress(base, st, len))) {
          val mh = mix(h)
          var s = mh & mask
          var dup = false
          while (!dup && slots(s) != 0) {
            val k = slots(s) - 1
            dup = hashes(k) == mh && lens(k) == len &&
              ByteArrayMethods.arrayEquals(base, off + starts(k), base, st, len)
            s = (s + 1) & mask
          }
          if (!dup) { // the probe stopped on the empty slot `s`
            starts(kept) = (st - off).toInt
            lens(kept) = len
            hashes(kept) = mh
            kept += 1
            slots(s) = kept
            dataBytes += ByteArrayMethods.roundNumberOfBytesToNearestWord(len)
          }
        }
        i += d
        st = i
        chars = 0
        h = 0
      }
    }
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(kept)
    val total = header + 8L * kept + dataBytes
    val out = new Array[Byte](total.toInt)
    val ob = Platform.BYTE_ARRAY_OFFSET
    Platform.putLong(out, ob, kept.toLong)
    var cursor = header + 8L * kept
    var k = 0
    while (k < kept) {
      Platform.putLong(out, ob + header + 8L * k, (cursor << 32) | lens(k))
      Platform.copyMemory(base, off + starts(k), out, ob + cursor, lens(k))
      cursor += ByteArrayMethods.roundNumberOfBytesToNearestWord(lens(k))
      k += 1
    }
    val arr = new UnsafeArrayData
    arr.pointTo(out, ob, total.toInt)
    arr
  }
}
