package graft.sources

import graft.SparkSpec
import graft.pipeline.ChiSquarePipeline
import java.nio.file.Files

/** End-to-end parity with the reference's I/O contract: JSONL in
  * (malformed lines and empty fields skipped), stopwords side file
  * (lowercased on load), `<category> term:chi2 …` + dictionary text out.
  */
class ReferenceParitySpec extends SparkSpec {

  private def writeTemp(name: String, lines: Seq[String]): String = {
    val dir = graft.TempDir("graft-parity")
    val f = dir.resolve(name)
    Files.write(f, String.join("\n", lines: _*).getBytes("UTF-8"))
    f.toString
  }

  test("JSONL scan drops malformed lines; admission drops empty fields") {
    val path = writeTemp("reviews.jsonl", Seq(
      """{"reviewText": "apple banana", "category": "X"}""",
      """this is not json at all {{{""",
      """{"reviewText": "", "category": "X"}""",
      """{"reviewText": "cherry", "category": ""}""",
      """{"category": "X"}""",
      """{"reviewText": "cherry date", "category": "Y", "extra": 42}"""))
    val raw = ReviewSource.readReviews(spark, path)
    assert(raw.columns.toSeq === Seq("reviewText", "category"))
    // malformed line gone at scan level
    assert(raw.count() === 5)
    val admitted = graft.text.Tokenize.admitted_docs(raw, "reviewText", "category")
    // D4: empty text, empty category, missing text all skipped
    assert(admitted.count() === 2)
  }

  test("CSV scan round-trips quoted embedded newlines (multiLine)") {
    // Spark's CSV writer quotes embedded newlines; the reader must
    // reassemble them instead of splitting one record into malformed
    // fragments that DROPMALFORMED would silently drop (losing REAL
    // rows, not just injected junk).
    val dir = graft.TempDir("graft-parity-csv").toString
    val src = spark.createDataFrame(Seq(
      ("line one\nline two", "X"),
      ("plain text", "Y"),
      ("quoted \"inner\" text,with comma", "Z"))).toDF("reviewText", "category")
    src.coalesce(1).write.mode("overwrite").csv(dir)
    val back = ReviewSource.readReviewsCsv(spark, dir)
    assert(back.count() === 3)
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("line one\nline two", "X"), ("plain text", "Y"),
        ("quoted \"inner\" text,with comma", "Z")))
  }

  test("CSV scan still drops exactly the malformed rows under multiLine") {
    val dir = graft.TempDir("graft-parity-csv2")
    Files.write(dir.resolve("good.csv"),
      "\"multi\nline field\",X\nplain,Y\n".getBytes("UTF-8"))
    Files.write(dir.resolve("bad.csv"),
      "one,two,three,four\n".getBytes("UTF-8"))
    val back = ReviewSource.readReviewsCsv(spark, dir.toString)
    // over-wide row from bad.csv dies in the scan; both good rows
    // (including the multi-line one) survive
    assert(back.collect().map(_.getString(1)).toSet === Set("X", "Y"))
  }

  test("JSONL scan tolerates a UTF-8 BOM and non-UTF8 junk lines") {
    val dir = graft.TempDir("graft-parity-bom")
    // file 1: BOM prefix before the first record (exported-from-Windows
    // shape) + a real record
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    Files.write(dir.resolve("bom.jsonl"),
      bom ++ """{"reviewText": "alpha beta", "category": "X"}""".getBytes("UTF-8"))
    // file 2: a latin-1-encoded line (invalid UTF-8 bytes) between two
    // valid records — the junk line must drop, its neighbors survive
    val latin1 = "{\"reviewText\": \"café\", \"category\": \"Y\"}"
      .getBytes("ISO-8859-1")
    Files.write(dir.resolve("mixed.jsonl"),
      ("""{"reviewText": "gamma", "category": "X"}""" + "\n").getBytes("UTF-8")
        ++ latin1 ++ "\n".getBytes("UTF-8")
        ++ """{"reviewText": "delta", "category": "Y"}""".getBytes("UTF-8"))
    val rows = ReviewSource.readReviews(spark, dir.toString)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows.contains(("alpha beta", "X")), "BOM-prefixed record must parse")
    assert(rows.contains(("gamma", "X")) && rows.contains(("delta", "Y")),
      "records around an invalid-encoding line must survive")
    // the latin-1 line either dropped or decoded with replacement chars —
    // it must NOT take its neighbors down
    assert(rows.size >= 3 && rows.size <= 4)
  }

  test("stopwords file is lowercased, trimmed, deduplicated on load") {
    val path = writeTemp("stop.txt", Seq("The", " AND ", "the", "", "of"))
    assert(ReviewSource.loadStopwords(spark, path).sorted === Seq("and", "of", "the"))
  }

  test("CLI pipeline reproduces the golden micro-corpus text output") {
    val input = writeTemp("golden.jsonl", Seq(
      """{"reviewText": "apple banana", "category": "X"}""",
      """{"reviewText": "apple", "category": "X"}""",
      """{"reviewText": "banana", "category": "Y"}""",
      """{"reviewText": "cherry", "category": "Y"}"""))
    val outDir = graft.TempDir("graft-out").resolve("res").toString

    val reviews = ReviewSource.readReviews(spark, input)
    val top = ChiSquarePipeline.topTerms(
      reviews, "reviewText", "category", k = 75, stopwords = Seq.empty)
    ChiSquarePipeline.formattedLines(top)(spark)
      .coalesce(1).write.mode("overwrite").text(outDir)

    val lines = spark.read.textFile(outDir).collect().toSeq
    // FIXTURES.md §2 hand-verified values: apple/X χ²=4, banana 0 both,
    // cherry/Y χ² = 4·(1·2−0·1)²/(1·2·2·3) = 16/12 = 4/3; A=0 pairs
    // (apple/Y, cherry/X) never emitted; dictionary line last, sorted.
    assert(lines === Seq(
      "X apple:4.000000 banana:0.000000",
      "Y cherry:1.333333 banana:0.000000",
      "apple banana cherry"))
  }
}
