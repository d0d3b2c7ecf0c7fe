package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TokenizeSpec extends SparkSpec {
  import spark.implicits._

  private def toks(text: String, stop: Seq[String] = Tokenize.DefaultStopwords): Seq[String] =
    Seq(text).toDF("text")
      .select(Tokenize.tokenArray(col("text"), stop).as("t"))
      .as[Seq[String]].head()

  test("canon order: lowercase before stopword filter (D1 regression)") {
    // chi_square.py:37–38 removed stopwords pre-lowercase so "The" survived
    // and double-counted post-dedup; canon lowercases first → both die.
    assert(toks("The the THE") === Seq.empty)
    // and a non-stopword dedups to one after case folding
    assert(toks("Spark spark SPARK") === Seq("spark"))
  }

  test("delimiter class splits on whitespace, digits, punctuation (D2)") {
    assert(toks("""foo,bar!baz?qux(quux)corge[grault]garply{waldo}""") ===
      Seq("foo", "bar", "baz", "qux", "quux", "corge", "grault", "garply", "waldo"))
    assert(toks("tab\there\nnewline12digits") === Seq("tab", "here", "newline", "digits"))
    assert(toks("""back\slash e€uro para§graph t~ilde b`tick""") ===
      Seq("back", "slash", "uro", "para", "graph", "ilde", "tick"))
  }

  test("token length bounds 1 < len < 50 (D3)") {
    val long49 = "x" * 49
    val long50 = "x" * 50
    assert(toks(s"ab c $long49 $long50") === Seq("ab", long49))
  }

  test("per-document distinct (F3): doc contributes once per term") {
    assert(toks("dup dup dup other") === Seq("dup", "other"))
  }

  test("admission skips null/empty text or category (D4)") {
    val df = Seq(
      (Some("good text"), Some("c1")),
      (Some(""), Some("c1")),
      (None: Option[String], Some("c1")),
      (Some("more text"), Some("")),
      (Some("also text"), None: Option[String])
    ).toDF("text", "cat")
    assert(Tokenize.admitted_docs(df, "text", "cat").count() === 1)
  }

  test("tokens emits (category, term) per distinct doc-term") {
    val df = Seq(("apple banana apple", "X"), ("banana", "Y")).toDF("text", "cat")
    val (_, tokens) = graft.pipeline.ChiSquarePipeline.tokens(df, "text", "cat")
    val got = tokens.as[(String, String)].collect().toSet
    assert(got === Set(("X", "apple"), ("X", "banana"), ("Y", "banana")))
  }
}
