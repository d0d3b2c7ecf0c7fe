package graft.functions

import graft.{Session, SparkSpec}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{call_function, col, lit, typedLit}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The contract of every registered `graft_*` function, one table row
  * per SQL name:
  *  - a wrong-arity call fails with `"<name> expects N argument(s), got M"`;
  *  - one wrong-typed call fails its type check with the exact message;
  *  - a column where a literal is required fails with the exact message;
  *  - interpreted eval (`factoryMode=NO_CODEGEN`, whole-stage off)
  *    returns the same rows as generated code on a fixed small input.
  * The table must name exactly the registered `graft_*` functions.
  */
class KernelContractSpec extends SparkSpec {

  /** One function's contract. `input` is the fixed table the valid call
    * `args` reads; `wrong` is a wrong-typed argument list and `literal`
    * one with a column where a literal is required, each with its
    * expected type-check result.
    */
  private case class Case(name: String, arity: Int,
      input: Seq[(String, DataType)], rows: Seq[Row], args: Seq[Column],
      wrong: (Seq[Expression], TypeCheckResult),
      literal: Option[(Seq[Expression], TypeCheckResult)] = None)

  private def s(v: String) = Literal(v)
  private def i(v: Int) = Literal(v)
  private def at(dt: DataType) = AttributeReference("c", dt)()
  private def fails(msg: String): TypeCheckResult = TypeCheckFailure(msg)

  private val strs = ArrayType(StringType)
  private val longs = ArrayType(LongType)
  private val dbls = ArrayType(DoubleType)
  private val toks = Seq("a", "b", "c", "a", "b", "c", "d")
  private val cb = Seq(Seq(Seq(1.0), Seq(2.0)), Seq(Seq(0.5), Seq(-1.0)))
  private val cbType = ArrayType(ArrayType(dbls))
  private val norms = Seq(Seq(1.0, 4.0), Seq(0.25, 1.0))
  private val markers = Seq(("en", Seq("the", "and")), ("fr", Seq("le", "la")))
  private val markersType = ArrayType(StructType(Seq(
    StructField("lang", StringType), StructField("ws", strs))))
  private val ev = StructType(Seq(StructField("ev", dbls),
    StructField("en", DoubleType)))
  private val cellsType = ArrayType(StructType(Seq(
    StructField("bkt", LongType), StructField("cv", dbls),
    StructField("cr", DoubleType), StructField("ms", ArrayType(ev)))))
  private val cells = Seq(Row(1L, Seq(1.0, 0.0), 0.1,
    Seq(Row(Seq(1.0, 0.0), 1.0), Row(Seq(0.9, 0.1), 0.82))))
  private val dfk = ArrayType(StructType(Seq(
    StructField("df", IntegerType), StructField("shk", LongType))))
  private val text = Seq(Row("The cat, and the dog: 42 a@b.com +1 555 123 4567"),
    Row("le chat et la souris"), Row(""), Row(null))

  /** The Spark-side bloom sketch of ids 0..9 the membership case reads. */
  private lazy val bloom: Array[Byte] =
    spark.range(10).agg(call_function("graft_bloom_agg", col("id"),
      lit(10L), lit(320L))).head().getAs[Array[Byte]](0)

  private lazy val cases: Seq[Case] = Seq(
    Case("graft_dot", 2, Seq("a" -> dbls, "b" -> dbls),
      Seq(Row(Seq(1.0, 2.0), Seq(3.0, 4.0)), Row(Seq(1.0), Seq(1.0, 2.0)),
        Row(null, Seq(1.0))),
      Seq(col("a"), col("b")),
      Seq(s("x"), at(dbls)) -> fails(
        "graft_dot expects (array<double>, array<double>), got (string, array<double>)")),
    Case("graft_any_cosine_ge_cells", 3, Seq("v" -> dbls, "cells" -> cellsType),
      Seq(Row(Seq(1.0, 0.0), cells), Row(Seq(0.0, 1.0), cells),
        Row(Seq(0.0, 0.0), cells), Row(null, cells)),
      Seq(col("v"), col("cells"), lit(0.5)),
      Seq(s("x"), at(cellsType), Literal(0.5)) -> fails(
        "graft_any_cosine_ge_cells expects array<double> v, got string"),
      Some(Seq(at(dbls), at(cellsType), at(DoubleType)) -> fails(
        "graft_any_cosine_ge_cells threshold must be a double literal"))),
    Case("graft_byte_stride", 2, Seq("p" -> BinaryType, "k" -> IntegerType),
      Seq(Row(Array[Byte](1, 2, 3, -4, 5), 2), Row(Array[Byte](1), 0),
        Row(null, 1)),
      Seq(col("p"), col("k")),
      Seq(s("x"), i(1)) -> fails(
        "graft_byte_stride expects (binary, int), got (string, int)")),
    Case("graft_pq_encode", 3, Seq("v" -> dbls),
      Seq(Row(Seq(1.5, -0.7)), Row(Seq(1.0)), Row(null)),
      Seq(col("v"), typedLit(cb), typedLit(norms)),
      Seq(s("x"), at(cbType), at(ArrayType(dbls))) -> fails(
        "graft_pq_encode expects (array<double>, array<array<array<double>>>, " +
          "array<array<double>>), got (string, array<array<array<double>>>, " +
          "array<array<double>>)"),
      Some(Seq(at(dbls), at(cbType), at(ArrayType(dbls))) -> fails(
        "graft_pq_encode codebook and norms must be literals (a trained " +
          "codebook is a driver-side constant, never per-row data)"))),
    Case("graft_pq_lut", 2, Seq("v" -> dbls),
      Seq(Row(Seq(1.5, -0.7)), Row(Seq(1.0)), Row(null)),
      Seq(col("v"), typedLit(cb)),
      Seq(s("x"), at(cbType)) -> fails(
        "graft_pq_lut expects (array<double>, array<array<array<double>>>), " +
          "got (string, array<array<array<double>>>)"),
      Some(Seq(at(dbls), at(cbType)) -> fails(
        "graft_pq_lut codebook must be a literal (a trained codebook is a " +
          "driver-side constant, never per-row data)"))),
    Case("graft_md5_bits", 1, Seq("t" -> StringType), text, Seq(col("t")),
      Seq(i(1)) -> fails("graft_md5_bits expects string, got int")),
    Case("graft_log2", 1, Seq("x" -> DoubleType),
      Seq(Row(0.75), Row(1024.0), Row(3.0e-9), Row(null)), Seq(col("x")),
      Seq(i(1)) -> fails("graft_log2 expects double, got int")),
    Case("graft_run_stats", 1, Seq("a" -> strs),
      Seq(Row(toks), Row(Seq.empty[String]), Row(Seq("x", null, null)), Row(null)),
      Seq(col("a")),
      Seq(s("x")) -> fails("graft_run_stats expects array<string>, got string")),
    Case("graft_gram_stats", 2, Seq("a" -> strs),
      Seq(Row(toks), Row(Seq("a")), Row(null)), Seq(col("a"), lit(2)),
      Seq(s("x"), i(2)) -> fails(
        "graft_gram_stats expects (array<string>, int), got (string, int)")),
    Case("graft_winnow_grams", 3, Seq("a" -> strs),
      Seq(Row(toks), Row(Seq("a")), Row(null)), Seq(col("a"), lit(2), lit(2)),
      Seq(s("x"), i(2), i(2)) -> fails(
        "graft_winnow_grams expects (array<string>, int, int), got (string, int, int)")),
    Case("graft_gram_keys", 3, Seq("a" -> strs),
      Seq(Row(toks), Row(Seq("a")), Row(null)),
      Seq(col("a"), lit(2), lit(false)),
      Seq(s("x"), i(2), Literal(false)) -> fails(
        "graft_gram_keys expects (array<string>, int, boolean), got (string, int, boolean)")),
    Case("graft_gram_key_seq", 3, Seq("a" -> strs),
      Seq(Row(toks), Row(Seq("a")), Row(null)),
      Seq(col("a"), lit(2), lit(true)),
      Seq(s("x"), i(2), Literal(true)) -> fails(
        "graft_gram_key_seq expects (array<string>, int, boolean), got (string, int, boolean)")),
    Case("graft_winnow_select", 2, Seq("k" -> longs),
      Seq(Row(Seq(5L, 3L, 9L, 1L, 4L)), Row(Seq(1L)), Row(null)),
      Seq(col("k"), lit(2)),
      Seq(s("x"), i(2)) -> fails(
        "graft_winnow_select expects (array<long>, int), got (string, int)")),
    Case("graft_sorted_ix", 2, Seq("a" -> longs, "b" -> longs),
      Seq(Row(Seq(1L, 3L, 5L), Seq(3L, 4L, 5L)), Row(Seq.empty[Long], Seq(1L)),
        Row(null, Seq(1L))),
      Seq(col("a"), col("b")),
      Seq(s("x"), at(longs)) -> fails(
        "graft_sorted_ix expects (array<long>, array<long>), got (string, array<bigint>)")),
    Case("graft_dfk_views", 1, Seq("d" -> dfk),
      Seq(Row(Seq(Row(2, 9L), Row(1, -3L), Row(2, 4L))), Row(Seq.empty[Row]),
        Row(null)),
      Seq(col("d")),
      Seq(at(longs)) -> fails(
        "graft_dfk_views expects array<struct<df int, shk long>>, got array<bigint>")),
    Case("graft_pii_scan", 1, Seq("t" -> StringType), text, Seq(col("t")),
      Seq(i(1)) -> fails("graft_pii_scan expects string, got int")),
    Case("graft_quality_stats", 2, Seq("t" -> StringType), text,
      Seq(col("t"), typedLit(Seq("the", "and"))),
      Seq(i(1), at(strs)) -> fails(
        "graft_quality_stats expects (string, array<string>), got (int, array<string>)"),
      Some(Seq(at(StringType), at(strs)) -> fails(
        "graft_quality_stats stopwords must be a literal"))),
    Case("graft_doc_terms", 2, Seq("t" -> StringType), text,
      Seq(col("t"), typedLit(Seq("the", "and"))),
      Seq(i(1), at(strs)) -> fails(
        "graft_doc_terms expects (string, array<string>), got (int, array<string>)"),
      Some(Seq(at(StringType), at(strs)) -> fails(
        "graft_doc_terms stopwords must be a literal"))),
    Case("graft_lang_id", 2, Seq("t" -> StringType), text,
      Seq(col("t"), typedLit(markers)),
      Seq(i(1), at(markersType)) -> fails(
        "graft_lang_id expects (string, array<struct<lang, array<string>>>), " +
          "got (int, array<struct<lang:string,ws:array<string>>>)"),
      Some(Seq(at(StringType), at(markersType)) -> fails(
        "graft_lang_id markers must be a literal"))),
    Case("graft_regex_count", 2, Seq("t" -> StringType), text,
      Seq(col("t"), lit("[a-z]+")),
      Seq(i(1), s("[a-z]+")) -> fails(
        "graft_regex_count expects (string, string), got (int, string)"),
      Some(Seq(at(StringType), at(StringType)) -> fails(
        "graft_regex_count pattern must be a literal"))),
    Case("graft_bpeish_count", 1, Seq("t" -> StringType), text, Seq(col("t")),
      Seq(i(1)) -> fails("graft_bpeish_count expects string, got int")),
    Case("graft_simhash", 2, Seq("a" -> strs),
      Seq(Row(toks), Row(Seq.empty[String]), Row(null)),
      Seq(col("a"), lit(false)),
      Seq(s("x"), Literal(false)) -> fails(
        "graft_simhash expects (array<string>, boolean), got (string, boolean)")),
    Case("graft_minhash", 4, Seq("a" -> strs),
      Seq(Row(toks), Row(null)), Seq(col("a"), lit(2), lit(4), lit(false)),
      Seq(s("x"), i(2), i(4), Literal(false)) -> fails(
        "graft_minhash expects (array<string>, int, int, boolean), " +
          "got (string, int, int, boolean)")),
    Case("graft_bloom_agg", 3, Seq("k" -> LongType),
      Seq(Row(1L), Row(7L), Row(null)), Seq(col("k"), lit(10L), lit(320L)),
      Seq(Literal(1.5), Literal(10L), Literal(320L)) -> TypeCheckResult.DataTypeMismatch(
        "BLOOM_FILTER_WRONG_TYPE", Map(
          "functionName" -> "`bloom_filter_agg`",
          "expectedLeft" -> "\"BINARY\"",
          "expectedRight" -> "\"BIGINT\"",
          "actual" -> "\"DOUBLE\", \"BIGINT\", \"BIGINT\""))),
    Case("graft_might_contain", 2, Seq("k" -> LongType),
      Seq(Row(3L), Row(12345L), Row(null)), Seq(typedLit(bloom), col("k")),
      Seq(s("x"), Literal(1L)) -> TypeCheckResult.DataTypeMismatch(
        "BLOOM_FILTER_WRONG_TYPE", Map(
          "functionName" -> "`might_contain`",
          "expectedLeft" -> "\"BINARY\"",
          "expectedRight" -> "\"BIGINT\"",
          "actual" -> "\"STRING\", \"BIGINT\""))))

  private def registry =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry

  private def build(name: String, args: Seq[Expression]): Expression =
    registry.lookupFunction(FunctionIdentifier(name), args)

  test("the table names exactly the registered graft_* functions") {
    val registered = registry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet
    assert(cases.map(_.name).toSet === registered)
    assert(cases.map(_.name).distinct.size === cases.size)
  }

  test("a wrong-arity call names the function and both counts") {
    cases.foreach { c =>
      val e = intercept[IllegalArgumentException](
        build(c.name, Seq.fill(c.arity + 1)(Literal(1L))))
      assert(e.getMessage === s"${c.name} expects ${c.arity} argument(s), " +
        s"got ${c.arity + 1}")
    }
  }

  test("a wrong-typed call fails its type check with the exact message") {
    cases.foreach { c =>
      val (args, want) = c.wrong
      assert(build(c.name, args).checkInputDataTypes() === want, c.name)
    }
  }

  test("a column where a literal is required fails with the exact message") {
    val withLiterals = cases.flatMap(c => c.literal.map(c.name -> _))
    assert(withLiterals.map(_._1).toSet === Set("graft_any_cosine_ge_cells",
      "graft_pq_encode", "graft_pq_lut", "graft_quality_stats",
      "graft_doc_terms", "graft_lang_id", "graft_regex_count"))
    withLiterals.foreach { case (name, (args, want)) =>
      assert(build(name, args).checkInputDataTypes() === want, name)
    }
  }

  test("interpreted eval returns what generated code returns") {
    val interpreted = Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    cases.foreach { c =>
      val schema = StructType(c.input.map { case (n, t) => StructField(n, t) })
      def run(conf: Map[String, String]) = withGeneratedCode(Session.withScopedConf(spark, conf) {
        val df = spark.createDataFrame(c.rows.asJava, schema)
          .select(call_function(c.name, c.args: _*).as("r"))
        (df.collect().toSeq, df.queryExecution.executedPlan.collectFirst {
          case w: WholeStageCodegenExec => w }.isDefined)
      })
      val (gen, fused) = run(Map.empty)
      val (evalRows, _) = run(interpreted)
      assert(fused || c.name == "graft_bloom_agg", c.name)
      assert(gen === evalRows, c.name)
      assert(gen.size === (if (c.name == "graft_bloom_agg") 1 else c.rows.size))
    }
  }
}
