package graft.mm

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("media adapter: binary payload round-trips the text bytes") {
    val m = Multimodal.media(spark, dir)
    assert(m.schema("payload").dataType ===
      org.apache.spark.sql.types.BinaryType)
    val row = m.orderBy("media_id").select("payload").head()
    val docText = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id").select("text").head().getString(0)
    assert(new String(row.getAs[Array[Byte]](0), "UTF-8") === docText)
  }

  test("typed mapPartitions decode agrees with the column-level operator") {
    val s = spark; import s.implicits._
    val m = Multimodal.media(spark, dir)
    val typed = Multimodal.decodeFeatures(m.as[Multimodal.Media])
      .collect().map(f => f.media_id -> f).toMap
    val sqlStats = Multimodal.decodeStats(m)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(typed.keySet === sqlStats.keySet)
    for ((id, f) <- typed) {
      assert(f.n_bytes.toLong === sqlStats(id).getAs[Long]("n_bytes"), s"id $id")
      assert(f.mean_byte === sqlStats(id).getAs[Double]("mean_byte"), s"id $id")
    }
  }

  test("typed decode path plans no exchange (narrow map only)") {
    val s = spark; import s.implicits._
    val plan = Multimodal.decodeFeatures(
      Multimodal.media(spark, dir).as[Multimodal.Media])
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("resize keeps every 4th byte; frame sampling every 10th frame") {
    val r = Multimodal.resize(Multimodal.media(spark, dir))
      .collect().map(x => x.getLong(0) -> x).toMap
    for ((_, row) <- r.take(20))
      assert(row.getAs[Long]("resized_len") ===
        (row.getAs[Long]("orig_len") + Multimodal.ResizeStride - 1) /
          Multimodal.ResizeStride)
    val f = Multimodal.frameSample(Multimodal.media(spark, dir))
      .collect()
    assert(f.nonEmpty)
    for (row <- f) {
      val n = row.getAs[Long]("n_frames")
      assert(row.getAs[Long]("n_sampled") ===
        (n + Multimodal.FrameStride - 1) / Multimodal.FrameStride)
    }
  }

  test("byte-stride kernel equals the (slow) string-walk formulation") {
    import org.apache.spark.sql.functions._
    // the round-2 O(len²) string walk, kept here only as the reference
    // semantics for the linear graft_byte_stride kernel
    def slowPixels(txt: org.apache.spark.sql.Column, stride: Int) =
      transform(sequence(lit(1), length(txt), lit(stride)),
        i => ascii(txt.substr(i, lit(1))))
    for (stride <- Seq(1, Multimodal.ResizeStride)) {
      val m = Multimodal.media(spark, dir)
        .select(col("media_id"), col("payload"),
          col("payload").cast("string").as("txt"))
        .select(
          graft.functions.GraftFunctions
            .graftByteStride(col("payload"), lit(stride)).as("fast"),
          slowPixels(col("txt"), stride).as("slow"))
      assert(m.filter(not(col("fast") === col("slow"))).count() === 0,
        s"stride $stride")
    }
    // invalid stride surfaces as null, not a clamped result
    val bad = spark.sql(
      "SELECT graft_byte_stride(CAST('ab' AS BINARY), 0) AS x").head()
    assert(bad.isNullAt(0))
  }

  test("a custom decoder plugs into the same seam") {
    val s = spark; import s.implicits._
    val constDecoder: Array[Byte] => Array[Int] = _ => Array(7, 7, 7)
    val f = Multimodal.decodeFeatures(
      Multimodal.media(spark, dir).as[Multimodal.Media], constDecoder)
      .head()
    assert(f.n_bytes === 3 && f.mean_byte === 7.0 && f.checksum === 21L)
  }

  test("payload dedup: identical bytes collapse to the min keeper per kind") {
    val s = spark; import s.implicits._
    val m = Seq(
      (5L, "image", "abc"), (1L, "image", "abc"), (3L, "image", "xyz"),
      (2L, "audio", "abc")
    ).toDF("media_id", "kind", "p")
      .select(org.apache.spark.sql.functions.col("media_id"),
        org.apache.spark.sql.functions.col("kind"),
        org.apache.spark.sql.functions.col("p").cast("binary").as("payload"))
    val got = Multimodal.payloadDedup(m).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got.size === 3, "kind-scoped: audio 'abc' is its own group")
    val imgAbc = got.collect {
      case ((k, _), v) if k == "image" && v._2 == 2L => v }.toSeq
    assert(imgAbc === Seq((1L, 2L)), "keeper must be the min media_id")
    assert(got.values.map(_._2).sum === 4L, "copies account for every row")
  }
}
