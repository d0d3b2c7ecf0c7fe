package graft.pipeline

import graft.SparkSpec

class ChiSquarePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    ("apple banana", "X"),
    ("apple", "X"),
    ("banana", "Y"),
    ("cherry", "Y")).toDF("text", "cat")

  test("end-to-end golden: top terms per category, ordered (FIXTURES.md §2)") {
    val got = ChiSquarePipeline.topTerms(corpus, "text", "cat", k = 2, stopwords = Seq.empty)
      .as[(String, String, Double, Int)].collect().toList
    assert(got === List(
      ("X", "apple", 4.0, 1),
      ("X", "banana", 0.0, 2),
      ("Y", "cherry", 4.0 / 3.0, 1),
      ("Y", "banana", 0.0, 2)))
  }

  test("merged dictionary: distinct selected terms, sorted (G6/T3)") {
    val top = ChiSquarePipeline.topTerms(corpus, "text", "cat", k = 2, stopwords = Seq.empty)
    assert(ChiSquarePipeline.mergedDictionary(top).as[String].collect().toList ===
      List("apple", "banana", "cherry"))
  }

  test("formatted output lines: categories alphabetical, dictionary last (readme:63–66)") {
    implicit val s = spark
    val top = ChiSquarePipeline.topTerms(corpus, "text", "cat", k = 2, stopwords = Seq.empty)
    val lines = ChiSquarePipeline.formattedLines(top).as[String].collect().toList
    assert(lines.length === 3)
    assert(lines(0).startsWith("X apple:4.0"))
    assert(lines(1).startsWith("Y cherry:1.333"))
    assert(lines(2) === "apple banana cherry")
  }

  test("formatted lines of an empty top-k: zero lines, no dictionary") {
    implicit val s = spark
    val top = ChiSquarePipeline.topTerms(corpus.filter("cat = 'none'"), "text", "cat",
      k = 2, stopwords = Seq.empty)
    assert(top.isEmpty)
    assert(ChiSquarePipeline.formattedLines(top).collect().isEmpty)
  }

  test("flagship smoke: sf0.001 returns ≤ k rows per lang, all 5 langs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val top = ChiSquarePipeline.topTerms(docs, "text", "lang").cache()
    val perCat = top.groupBy("category").count().as[(String, Long)].collect().toMap
    assert(perCat.keySet === Set("de", "en", "es", "fr", "zh"))
    assert(perCat.values.forall(_ <= 75))
    top.unpersist()
  }
}
