package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, transform}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot product over two double arrays, with codegen.
  *
  * This is the engine's one custom `Expression` (SURVEY §7.5 policy:
  * custom Catalyst only where it pays). The higher-order-function form —
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` — materializes the products
  * array per row and walks two lambda interpreters; this expression is a
  * single fused loop inside whole-stage codegen. Same IEEE-754 operation
  * order (in-order left fold from +0.0), so for EQUAL-LENGTH inputs the
  * result is bit-identical to the HOF form and to the DuckDB oracle's
  * list_transform/list_reduce. Mismatched lengths yield NULL — a
  * dimension mismatch is a data bug that must surface as a visible null
  * (as the HOF form's zip_with null-tail does), never as a silently
  * truncated score.
  *
  * Precondition: array elements are non-null (embedding vectors). Null
  * ARRAYS null-propagate normally via BinaryExpression.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  // Length mismatch produces null even from non-nullable children.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Column-API form of [[DotProduct]]: resolves through the function
    * registry (register via [[GraftExtensions]] at session build), so it
    * uses only public Spark API. Strictly typed: pass array<double>
    * (cast float embeddings first, as [[graft.sim.Similarity]] does).
    */
  def graftDot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Column-API form of [[AnyCosineGe]]. */
  def graftAnyCosineGe(v: Column, evals: Column, threshold: Column): Column =
    call_function("graft_any_cosine_ge", v, evals, threshold)

  /** Column-API form of [[AnyCosineGeCells]] — the bucketed EXACT
    * variant: same verdict, whole direction-buckets skipped by a
    * triangle-inequality bound.
    */
  def graftAnyCosineGeCells(v: Column, cells: Column,
      threshold: Column): Column =
    call_function("graft_any_cosine_ge_cells", v, cells, threshold)

  /** Column-API form of [[PqEncode]]: codebook/norms must be literal
    * (foldable) columns — a trained codebook is a driver constant.
    */
  def graftPqEncode(vec: Column, codebook: Column, norms: Column): Column =
    call_function("graft_pq_encode", vec, codebook, norms)

  /** Column-API form of [[PqLut]]: codebook must be a literal. */
  def graftPqLut(vec: Column, codebook: Column): Column =
    call_function("graft_pq_lut", vec, codebook)

  /** Column-API form of [[Md5Prefix64]]. */
  def graftMd5Bits(c: Column): Column =
    call_function("graft_md5_bits", c)

  /** Column-API form of [[PortableLog2]]. */
  def graftLog2(c: Column): Column =
    call_function("graft_log2", c)

  /** Column-API form of [[GramStats]]. */
  def graftGramStats(toks: Column, n: Column): Column =
    call_function("graft_gram_stats", toks, n)

  /** Column-API form of [[Winnow]]. */
  def graftWinnow(shingles: Column, k: Column): Column =
    call_function("graft_winnow", shingles, k)

  /** Column-API form of [[WinnowGrams]]. */
  def graftWinnowGrams(toks: Column, n: Column, k: Column): Column =
    call_function("graft_winnow_grams", toks, n, k)

  /** Column-API form of [[GramKeys]]. */
  def graftGramKeys(toks: Column, n: Column, production: Column): Column =
    call_function("graft_gram_keys", toks, n, production)

  /** Column-API form of [[GramKeySeq]]. */
  def graftGramKeySeq(toks: Column, n: Column, production: Column): Column =
    call_function("graft_gram_key_seq", toks, n, production)

  /** Column-API form of [[WinnowSelect]]. */
  def graftWinnowSelect(ks: Column, w: Column): Column =
    call_function("graft_winnow_select", ks, w)

  /** Column-API form of [[SortedIntersect]]. */
  def graftSortedIx(a: Column, b: Column): Column =
    call_function("graft_sorted_ix", a, b)

  /** Column-API form of [[DfkViews]]. */
  def graftDfkViews(dfk: Column): Column =
    call_function("graft_dfk_views", dfk)

  /** Column-API form of [[PiiScan]]. */
  def graftPiiScan(text: Column): Column =
    call_function("graft_pii_scan", text)

  /** Column-API form of [[QualityStats]]. */
  def graftQualityStats(text: Column, stopwords: Column): Column =
    call_function("graft_quality_stats", text, stopwords)

  /** Column-API form of [[LangId]]. */
  def graftLangId(text: Column, markers: Column): Column =
    call_function("graft_lang_id", text, markers)

  /** Column-API form of [[RegexCount]]. */
  def graftRegexCount(text: Column, pattern: Column): Column =
    call_function("graft_regex_count", text, pattern)

  /** Column-API form of [[BpeishCount]]. */
  def graftBpeishCount(text: Column): Column =
    call_function("graft_bpeish_count", text)

  /** Column-API form of [[Simhash]]. */
  def graftSimhash(toks: Column, production: Column): Column =
    call_function("graft_simhash", toks, production)

  /** Column-API form of [[MinHashSig]]. */
  def graftMinhash(toks: Column, n: Column, k: Column,
      production: Column): Column =
    call_function("graft_minhash", toks, n, k, production)

  /** Spark's native `BloomFilterAggregate` (the engine behind runtime
    * join pruning), surfaced through the registry because core leaves
    * it SQL-unregistered: builds a bloom sketch (binary) over a LONG
    * key column. `est` bounds the expected distinct keys, `bits` the
    * sketch size — ~10 bits/key ≈ 1% false-positive rate.
    */
  def graftBloomAgg(key: Column, est: Column, bits: Column): Column =
    call_function("graft_bloom_agg", key, est, bits)

  /** Spark's native `BloomFilterMightContain` over a bloom sketch
    * (binary, must be foldable — a collected side input) and a LONG
    * key: false ⇒ definitely absent, true ⇒ verify exactly.
    */
  def graftMightContain(bloom: Column, key: Column): Column =
    call_function("graft_might_contain", bloom, key)
}

/** Function injection: add `.withExtensions(new GraftExtensions)` to the
  * session builder, or `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Registry entry with ARITY VALIDATION: a wrong-arity SQL call
    * (e.g. `graft_lang_id(text)`) fails analysis with a named error
    * instead of an IndexOutOfBoundsException from `children(1)`.
    */
  private def fn(name: String, clazz: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): (FunctionIdentifier,
        ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      (children: Seq[Expression]) => {
        if (children.length != arity)
          throw new IllegalArgumentException(
            s"$name expects $arity argument(s), got ${children.length}")
        build(children)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("graft_dot", classOf[DotProduct], 2)(c =>
      DotProduct(c(0), c(1))))
    ext.injectFunction(fn("graft_any_cosine_ge", classOf[AnyCosineGe], 3)(c =>
      AnyCosineGe(c(0), c(1), c(2))))
    ext.injectFunction(fn("graft_any_cosine_ge_cells",
      classOf[AnyCosineGeCells], 3)(c => AnyCosineGeCells(c(0), c(1), c(2))))
    ext.injectFunction(fn("graft_byte_stride", classOf[ByteStride], 2)(c =>
      ByteStride(c(0), c(1))))
    ext.injectFunction(fn("graft_pq_encode", classOf[PqEncode], 3)(c =>
      PqEncode(c(0), c(1), c(2))))
    ext.injectFunction(fn("graft_pq_lut", classOf[PqLut], 2)(c =>
      PqLut(c(0), c(1))))
    ext.injectFunction(fn("graft_md5_bits", classOf[Md5Prefix64], 1)(c =>
      Md5Prefix64(c.head)))
    ext.injectFunction(fn("graft_log2", classOf[PortableLog2], 1)(c =>
      PortableLog2(c.head)))
    ext.injectFunction(fn("graft_run_stats", classOf[RunStats], 1)(c =>
      RunStats(c.head)))
    ext.injectFunction(fn("graft_gram_stats", classOf[GramStats], 2)(c =>
      GramStats(c(0), c(1))))
    ext.injectFunction(fn("graft_winnow", classOf[Winnow], 2)(c =>
      Winnow(c(0), c(1))))
    ext.injectFunction(fn("graft_winnow_grams", classOf[WinnowGrams], 3)(c =>
      WinnowGrams(c(0), c(1), c(2))))
    ext.injectFunction(fn("graft_gram_keys", classOf[GramKeys], 3)(c =>
      GramKeys(c(0), c(1), c(2))))
    ext.injectFunction(fn("graft_gram_key_seq", classOf[GramKeySeq], 3)(c =>
      GramKeySeq(c(0), c(1), c(2))))
    ext.injectFunction(fn("graft_winnow_select", classOf[WinnowSelect], 2)(c =>
      WinnowSelect(c(0), c(1))))
    ext.injectFunction(fn("graft_sorted_ix", classOf[SortedIntersect], 2)(c =>
      SortedIntersect(c(0), c(1))))
    ext.injectFunction(fn("graft_dfk_views", classOf[DfkViews], 1)(c =>
      DfkViews(c.head)))
    ext.injectFunction(fn("graft_pii_scan", classOf[PiiScan], 1)(c =>
      PiiScan(c.head)))
    ext.injectFunction(fn("graft_quality_stats", classOf[QualityStats], 2)(c =>
      QualityStats(c(0), c(1))))
    ext.injectFunction(fn("graft_lang_id", classOf[LangId], 2)(c =>
      LangId(c(0), c(1))))
    ext.injectFunction(fn("graft_regex_count", classOf[RegexCount], 2)(c =>
      RegexCount(c(0), c(1))))
    ext.injectFunction(fn("graft_bpeish_count", classOf[BpeishCount], 1)(c =>
      BpeishCount(c.head)))
    ext.injectFunction(fn("graft_simhash", classOf[Simhash], 2)(c =>
      Simhash(c(0), c(1))))
    ext.injectFunction(fn("graft_minhash", classOf[MinHashSig], 4)(c =>
      MinHashSig(c(0), c(1), c(2), c(3))))
    // Spark-native bloom expressions (used for runtime join pruning
    // internally) that core does not expose in the SQL registry.
    ext.injectFunction(fn("graft_bloom_agg",
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate], 3)(c =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        c(0), c(1), c(2))))
    ext.injectFunction(fn("graft_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain], 2)(c =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        c(0), c(1))))
  }
}
