package graft.bench

import graft.functions._
import graft.text.Tokenize
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GenericInternalRow, Literal, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Rows/s of every native `graft_*` expression through its generated
  * code: each kernel becomes a generated `UnsafeProjection` over its
  * data columns (its literal arguments stay literals), run over a fixed
  * in-memory input — the `documents` texts and whitespace token arrays
  * of `$SPARK_GRAFT_SF_DIR` (default: the sf0.1 fixture), or seeded
  * words where that fixture is absent; vectors are always seeded.
  * Reports the median of 15 timed passes after 3 warm-up passes, one
  * JSON line per kernel; a pass sweeps the input as many times as make
  * it last at least `MinPassS` (a few-millisecond pass times the JIT
  * and the collector, not the kernel). The two Spark bloom functions are not graft
  * code and are not measured.
  *
  *   sbt "Test/runMain graft.bench.KernelBench"
  */
object KernelBench {

  val Warmup = 3
  val Passes = 15
  val MinPassS = 0.2

  /** Keeps every projected row live. */
  @volatile private var sink = 0L

  private def utf8(s: String) = UTF8String.fromString(s)
  private def arr(xs: Seq[Any]) = new GenericArrayData(xs.toArray)

  /** The documents' texts, or 5000 seeded ones. */
  private def texts(): IndexedSeq[String] = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val f = new java.io.File(s"$dir/documents.parquet")
    if (f.exists()) {
      val spark = graft.Session("graft-kernel-bench", cpus = 1)
      try spark.read.parquet(f.toString).orderBy("doc_id").select("text")
        .collect().toIndexedSeq.flatMap(r => Option(r.getString(0)))
      finally spark.stop()
    } else {
      val rnd = new scala.util.Random(42)
      val words = IndexedSeq("spark", "table", "The", "query", "le", "la",
        "a@b.com", "42", "+1 555 123 4567", "héllo", "中文", "and", "x1")
      IndexedSeq.fill(5000)(Seq.fill(10 + rnd.nextInt(60))(
        words(rnd.nextInt(words.size))).mkString(" "))
    }
  }

  /** One kernel: its expression over `cols` and the input rows. */
  final case class Case(name: String, cols: Seq[DataType],
      build: Seq[Expression] => Expression, rows: IndexedSeq[InternalRow])

  def cases(docs: IndexedSeq[String]): Seq[Case] = {
    val rnd = new scala.util.Random(7)
    def vec(d: Int) = Array.fill(d)(rnd.nextGaussian())
    def one(xs: IndexedSeq[Any]) = xs.map(x => new GenericInternalRow(Array[Any](x)): InternalRow)
    val text = docs.map(utf8)
    val lowered = docs.map(d => utf8(d.toLowerCase(java.util.Locale.ROOT)))
    val toks = docs.map(Tokenize.whitespaceTokensOf)
    val keySeqs = toks.map(t => GramKeys.keySeq(t, 3, false))
    val keySets = toks.map(t => GramKeys.keys(t, 3, false))
    val dfk = keySets.map(ks => arr(ks.toLongArray().toSeq.map(k =>
      new GenericInternalRow(Array[Any](1 + (k & 7).toInt, k)))))
    val vecs16 = IndexedSeq.fill(4000)(UnsafeArrayData.fromPrimitiveArray(vec(16)))
    val vecs64 = IndexedSeq.fill(4000)(UnsafeArrayData.fromPrimitiveArray(vec(64)))
    val codebook = Seq.fill(4)(Seq.fill(16)(vec(4).toSeq))
    val norms = codebook.map(_.map(cw => cw.map(x => x * x).sum))
    // one broadcast-like index: 8 cells of 32 members, the same
    // UnsafeArrayData on every row
    val cellRows = (0 until 8).map { b =>
      val ms = Seq.fill(32)(vec(16))
      new GenericInternalRow(Array[Any](b.toLong, arr(ms.head.toSeq), 1.2,
        arr(ms.map(m => new GenericInternalRow(Array[Any](arr(m.toSeq),
          m.map(x => x * x).sum))))))
    }
    val cells = UnsafeProjection.create(Array[DataType](cellsType))
      .apply(new GenericInternalRow(Array[Any](arr(cellRows)))).copy().getArray(0)
    val markers = Literal.create(Seq(Row("en", Seq("the", "and", "spark")),
      Row("fr", Seq("le", "la"))), ArrayType(StructType(Seq(
        StructField("lang", StringType), StructField("ws", ArrayType(StringType))))))
    val stop = Literal.create(Tokenize.DefaultStopwords, ArrayType(StringType))
    val cb = Literal.create(codebook, ArrayType(ArrayType(ArrayType(DoubleType))))
    val cn = Literal.create(norms, ArrayType(ArrayType(DoubleType)))
    val str = Seq(StringType)
    val strs = Seq(ArrayType(StringType))
    Seq(
      Case("graft_dot", Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
        c => DotProduct(c(0), c(1)),
        vecs64.indices.map(i => new GenericInternalRow(Array[Any](vecs64(i),
          vecs64((i + 1) % vecs64.size))))),
      Case("graft_any_cosine_ge_cells", Seq(ArrayType(DoubleType), cellsType),
        c => AnyCosineGeCells(c(0), c(1), Literal(0.95)),
        vecs16.map(v => new GenericInternalRow(Array[Any](v, cells)))),
      Case("graft_byte_stride", Seq(BinaryType),
        c => ByteStride(c(0), Literal(3)), one(docs.map(_.getBytes("UTF-8")))),
      Case("graft_pq_encode", Seq(ArrayType(DoubleType)),
        c => PqEncode(c(0), cb, cn), one(vecs16)),
      Case("graft_pq_lut", Seq(ArrayType(DoubleType)),
        c => PqLut(c(0), cb), one(vecs16)),
      Case("graft_md5_bits", str, c => Md5Prefix64(c(0)),
        one(toks.flatMap(t => (0 until t.numElements()).map(t.getUTF8String)))),
      Case("graft_log2", Seq(DoubleType), c => PortableLog2(c(0)),
        one(IndexedSeq.fill(20000)(rnd.nextDouble() * 1e6))),
      Case("graft_run_stats", strs, c => RunStats(c(0)), one(toks)),
      Case("graft_gram_stats", strs, c => GramStats(c(0), Literal(3)), one(toks)),
      Case("graft_winnow_grams", strs,
        c => WinnowGrams(c(0), Literal(3), Literal(4)), one(toks)),
      Case("graft_gram_keys", strs,
        c => GramKeys(c(0), Literal(3), Literal(false)), one(toks)),
      Case("graft_gram_key_seq", strs,
        c => GramKeySeq(c(0), Literal(3), Literal(true)), one(toks)),
      Case("graft_winnow_select", Seq(ArrayType(LongType)),
        c => WinnowSelect(c(0), Literal(4)), one(keySeqs)),
      Case("graft_sorted_ix", Seq(ArrayType(LongType), ArrayType(LongType)),
        c => SortedIntersect(c(0), c(1)),
        keySets.indices.map(i => new GenericInternalRow(Array[Any](keySets(i),
          keySets((i + 1) % keySets.size))))),
      Case("graft_dfk_views", Seq(ArrayType(StructType(Seq(
          StructField("df", IntegerType), StructField("shk", LongType))))),
        c => DfkViews(c(0)), one(dfk)),
      Case("graft_pii_scan", str, c => PiiScan(c(0)), one(text)),
      Case("graft_quality_stats", str,
        c => QualityStats(c(0), stop), one(text)),
      Case("graft_doc_terms", str,
        c => DocTerms(c(0), stop), one(lowered)),
      Case("graft_lang_id", str, c => LangId(c(0), markers), one(text)),
      Case("graft_regex_count", str,
        c => RegexCount(c(0), Literal("[a-z]+|[0-9]|[^a-z0-9\\s]")), one(lowered)),
      Case("graft_bpeish_count", str, c => BpeishCount(c(0)), one(lowered)),
      Case("graft_simhash", strs, c => Simhash(c(0), Literal(false)), one(toks)),
      Case("graft_minhash", strs,
        c => MinHashSig(c(0), Literal(5), Literal(16), Literal(false)), one(toks)))
  }

  private val cellsType: DataType = ArrayType(StructType(Seq(
    StructField("bkt", LongType), StructField("cv", ArrayType(DoubleType)),
    StructField("cr", DoubleType), StructField("ms", ArrayType(StructType(Seq(
      StructField("ev", ArrayType(DoubleType)), StructField("en", DoubleType))))))))

  private def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted
    def q(p: Double) = s(math.round(p * (s.size - 1)).toInt)
    (q(0.25), q(0.5), q(0.75))
  }

  def main(args: Array[String]): Unit = {
    val only = args.toSet
    cases(texts()).filter(c => only.isEmpty || only(c.name)).foreach { c =>
      val attrs = c.cols.zipWithIndex.map { case (t, i) =>
        AttributeReference(s"c$i", t)() }
      val proj = UnsafeProjection.create(Seq(c.build(attrs)), attrs)
      System.gc() // the previous kernel's garbage is not this one's cost
      def pass(sweeps: Int): Double = {
        val t0 = System.nanoTime()
        var s = 0
        while (s < sweeps) {
          var i = 0
          while (i < c.rows.size) { sink += proj(c.rows(i)).hashCode; i += 1 }
          s += 1
        }
        sweeps * c.rows.size / ((System.nanoTime() - t0) / 1e9)
      }
      val warm = (1 to Warmup).map(_ => pass(1)).max
      val sweeps = math.max(1, math.ceil(MinPassS * warm / c.rows.size).toInt)
      val (q1, med, q3) = quartiles((1 to Passes).map(_ => pass(sweeps)))
      println(f"""{"kernel": "${c.name}", "rows": ${c.rows.size * sweeps}, """ +
        f""""rows_per_s": $med%.0f, "q1": $q1%.0f, "q3": $q3%.0f}""")
    }
  }
}
