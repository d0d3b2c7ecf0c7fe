package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function

/** One function [[GraftExtensions]] registers: its SQL name, arity,
  * expression class and builder. Applied to columns it is the Column
  * form, which resolves through the function registry and so uses only
  * public Spark API.
  */
final case class Fn(name: String, arity: Int, clazz: Class[_],
    build: Seq[Expression] => Expression) {

  def apply(cs: Column*): Column = call_function(name, cs: _*)

  /** The registry entry. A wrong-arity SQL call (e.g. `graft_lang_id(text)`)
    * fails analysis with a named error instead of an
    * IndexOutOfBoundsException from `children(1)`.
    */
  private[functions] def entry: (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      children => {
        if (children.length != arity)
          throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${children.length}")
        build(children)
      })
}

/** The registration table: every native `graft_*` function, once. Each
  * entry is also its Column form (`graftDot(a, b)`); the kernel's
  * scaladoc states its contract.
  */
object GraftFunctions {

  private val table = scala.collection.mutable.ArrayBuffer.empty[Fn]

  private def fn(name: String, arity: Int, clazz: Class[_])(
      build: Seq[Expression] => Expression): Fn = {
    val f = Fn(name, arity, clazz, build)
    table += f
    f
  }

  /** Strictly typed: pass array<double> (cast float embeddings first, as
    * [[graft.sim.Similarity]] does).
    */
  val graftDot = fn("graft_dot", 2, classOf[DotProduct])(c =>
    DotProduct(c(0), c(1)))
  val graftAnyCosineGeCells = fn("graft_any_cosine_ge_cells", 3,
    classOf[AnyCosineGeCells])(c => AnyCosineGeCells(c(0), c(1), c(2)))
  val graftByteStride = fn("graft_byte_stride", 2, classOf[ByteStride])(c =>
    ByteStride(c(0), c(1)))
  val graftPqEncode = fn("graft_pq_encode", 3, classOf[PqEncode])(c =>
    PqEncode(c(0), c(1), c(2)))
  val graftPqLut = fn("graft_pq_lut", 2, classOf[PqLut])(c => PqLut(c(0), c(1)))
  val graftMd5Bits = fn("graft_md5_bits", 1, classOf[Md5Prefix64])(c =>
    Md5Prefix64(c(0)))
  val graftLog2 = fn("graft_log2", 1, classOf[PortableLog2])(c =>
    PortableLog2(c(0)))
  val graftRunStats = fn("graft_run_stats", 1, classOf[RunStats])(c =>
    RunStats(c(0)))
  val graftGramStats = fn("graft_gram_stats", 2, classOf[GramStats])(c =>
    GramStats(c(0), c(1)))
  val graftWinnowGrams = fn("graft_winnow_grams", 3, classOf[WinnowGrams])(c =>
    WinnowGrams(c(0), c(1), c(2)))
  val graftGramKeys = fn("graft_gram_keys", 3, classOf[GramKeys])(c =>
    GramKeys(c(0), c(1), c(2)))
  val graftGramKeySeq = fn("graft_gram_key_seq", 3, classOf[GramKeySeq])(c =>
    GramKeySeq(c(0), c(1), c(2)))
  val graftWinnowSelect = fn("graft_winnow_select", 2, classOf[WinnowSelect])(c =>
    WinnowSelect(c(0), c(1)))
  val graftSortedIx = fn("graft_sorted_ix", 2, classOf[SortedIntersect])(c =>
    SortedIntersect(c(0), c(1)))
  val graftDfkViews = fn("graft_dfk_views", 1, classOf[DfkViews])(c =>
    DfkViews(c(0)))
  val graftPiiScan = fn("graft_pii_scan", 1, classOf[PiiScan])(c => PiiScan(c(0)))
  val graftQualityStats = fn("graft_quality_stats", 2, classOf[QualityStats])(c =>
    QualityStats(c(0), c(1)))
  val graftDocTerms = fn("graft_doc_terms", 2, classOf[DocTerms])(c =>
    DocTerms(c(0), c(1)))
  val graftLangId = fn("graft_lang_id", 2, classOf[LangId])(c => LangId(c(0), c(1)))
  val graftRegexCount = fn("graft_regex_count", 2, classOf[RegexCount])(c =>
    RegexCount(c(0), c(1)))
  val graftBpeishCount = fn("graft_bpeish_count", 1, classOf[BpeishCount])(c =>
    BpeishCount(c(0)))
  val graftSimhash = fn("graft_simhash", 2, classOf[Simhash])(c =>
    Simhash(c(0), c(1)))
  val graftMinhash = fn("graft_minhash", 4, classOf[MinHashSig])(c =>
    MinHashSig(c(0), c(1), c(2), c(3)))

  /** Spark's native `BloomFilterAggregate` (the engine behind runtime
    * join pruning), surfaced through the registry because core leaves
    * it SQL-unregistered: builds a bloom sketch (binary) over a LONG
    * key column. `est` bounds the expected distinct keys, `bits` the
    * sketch size — ~10 bits/key ≈ 1% false-positive rate.
    * Arguments: (key, est, bits).
    */
  val graftBloomAgg = fn("graft_bloom_agg", 3, classOf[BloomFilterAggregate])(c =>
    new BloomFilterAggregate(c(0), c(1), c(2)))

  /** Spark's native `BloomFilterMightContain` over a bloom sketch
    * (binary, must be foldable — a collected side input) and a LONG
    * key: false ⇒ definitely absent, true ⇒ verify exactly.
    */
  val graftMightContain = fn("graft_might_contain", 2,
    classOf[BloomFilterMightContain])(c => BloomFilterMightContain(c(0), c(1)))

  /** Every entry, in declaration order. */
  private[functions] val all: Seq[Fn] = table.toSeq

  private lazy val byName: Map[String, Fn] = all.map(f => f.name -> f).toMap

  /** A kernel's `withNewChildren`: its own builder on new children. */
  private[functions] def rebuild(name: String,
      children: Seq[Expression]): Expression = byName(name).build(children)
}

/** Function injection: add `.withExtensions(new GraftExtensions)` to the
  * session builder, or `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  * It registers [[GraftFunctions.all]] and injects one physical rule,
  * [[NarrowAggExchange]] (AQE only).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(f => ext.injectFunction(f.entry))
    ext.injectQueryStagePrepRule(_ => NarrowAggExchange)
  }
}
