package graft.streaming

import graft.SparkSpec
import graft.pipeline.ChiSquarePipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

case class Doc(reviewText: String, category: String)

class StreamingChiSquareSpec extends SparkSpec {

  private val corpus = Seq(
    Doc("apple banana", "X"), Doc("apple", "X"),
    Doc("banana", "Y"), Doc("cherry", "Y"),
    Doc("apple cherry durian", "X"), Doc("banana durian", "Y"))

  test("incremental maintenance over two batches equals the batch pipeline") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = graft.TempDir("graft-chi-store").toString

    val stream = MemoryStream[Doc]
    stream.addData(corpus.take(3))
    val q1 = StreamingChiSquare.attach(stream.toDF(), store,
      "reviewText", "category", stopwords = Seq.empty)
    q1.awaitTermination()
    stream.addData(corpus.drop(3))
    val q2 = StreamingChiSquare.attach(stream.toDF(), store,
      "reviewText", "category", stopwords = Seq.empty)
    q2.awaitTermination()

    val streamed = StreamingChiSquare.topTermsFromStore(spark, store)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap
    val batch = ChiSquarePipeline.topTerms(
      corpus.toDF("reviewText", "category"), "reviewText", "category",
      k = ChiSquarePipeline.DefaultK, stopwords = Seq.empty)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap
    assert(streamed === batch)
  }

  test("store is versioned: each batch adds a vN generation") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = graft.TempDir("graft-chi-store2").toString
    val stream = MemoryStream[Doc]
    stream.addData(corpus.take(2))
    StreamingChiSquare.attach(stream.toDF(), store,
      "reviewText", "category", stopwords = Seq.empty).awaitTermination()
    val gens = new java.io.File(store).list().count(_.startsWith("v"))
    assert(gens === 1)
    // counts survive across maintainer restarts (read from latest vN)
    val (tc, cd) = StreamingChiSquare.latestCounts(spark, store).get
    assert(cd.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("X" -> 2L))
    assert(tc.count() === 2L) // apple, banana in X
  }

  test("store is bounded: old versions pruned, results unchanged") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = graft.TempDir("graft-chi-store3").toString
    val stream = MemoryStream[Doc]
    // 4 micro-batches (one per attach under AvailableNow), 1-2 docs each
    val batches = Seq(corpus.take(2), corpus.slice(2, 3),
      corpus.slice(3, 5), corpus.drop(5))
    for (b <- batches) {
      stream.addData(b)
      StreamingChiSquare.attach(stream.toDF(), store,
        "reviewText", "category", stopwords = Seq.empty).awaitTermination()
    }
    val gens = new java.io.File(store).list().filter(_.startsWith("v"))
    assert(gens.length <= StreamingChiSquare.RetainPredecessors + 1,
      gens.mkString(","))
    assert(gens.contains("v3")) // newest version survives
    // and the maintained counts still equal the batch pipeline
    val streamed = StreamingChiSquare.topTermsFromStore(spark, store)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap
    val batch = ChiSquarePipeline.topTerms(
      corpus.toDF("reviewText", "category"), "reviewText", "category",
      k = ChiSquarePipeline.DefaultK, stopwords = Seq.empty)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getInt(3))).toMap
    assert(streamed === batch)
  }

  test("empty micro-batch skips the rewrite (no new version dir)") {
    val s = spark; import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val store = graft.TempDir("graft-chi-store4").toString
    val stream = MemoryStream[Doc]
    stream.addData(corpus.take(2))
    StreamingChiSquare.attach(stream.toDF(), store,
      "reviewText", "category", stopwords = Seq.empty).awaitTermination()
    val before = new java.io.File(store).list().filter(_.startsWith("v")).toSet
    // a batch whose docs are all inadmissible (empty text) is a zero delta
    StreamingChiSquare.mergeBatch(
      Seq(Doc("", "X")).toDF("reviewText", "category"), 99L, store,
      "reviewText", "category", stopwords = Seq.empty)
    val after = new java.io.File(store).list().filter(_.startsWith("v")).toSet
    assert(after === before)
  }
}
