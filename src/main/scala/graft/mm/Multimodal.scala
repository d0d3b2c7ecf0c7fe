package graft.mm

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.QuerySpec

/** Multimodal-column plumbing for LLM-data pipelines: media as opaque
  * `binary` payloads + typed metadata, with decode / feature-extract /
  * resize / frame-sample operators.
  *
  * There is no media fixture in the test data, so [[media]] adapts the
  * `documents` table into a deterministic media table (payload = the
  * UTF-8 text bytes, metadata derived from doc_id/n_chars), and the
  * decode step on THAT table is a clearly-marked DETERMINISTIC FAKE —
  * payload bytes treated as pixel/sample values ([[FakeDecoder]]).
  * Since r10 the seam also carries a GENUINE decode path: [[Codec]]
  * implements real BMP(24bpp)/WAV(PCM16)/PPM(P6) parsers (these
  * uncompressed containers need no codec library), [[realMedia]]
  * synthesizes honest files, and `mm_decode_real` oracle-checks the
  * encode→decode round trip value-for-value, order included. A
  * deployment with compressed formats (JPEG/PNG/Opus) plugs its codec
  * into the same `Array[Byte] => Array[Int]` seam.
  *
  * Two execution styles, both shuffle-free (narrow maps):
  *  - Column/HOF style ([[decodeStats]], [[resize]], [[frameSample]]):
  *    whole-stage-codegen'd, oracle-checkable in DuckDB.
  *  - Typed batch style ([[decodeFeatures]]): `Dataset[Media]` through
  *    `mapPartitions` with a pluggable `Array[Byte] => Array[Int]`
  *    decoder — the Scala-native analogue of a vectorized decode UDF:
  *    rows stream through each partition once, no exchange, and the
  *    decoder can amortize per-batch setup (codec init) per partition.
  *
  * Scale notes: payloads never shuffle — every operator here reduces a
  * payload to small features map-side. A pipeline that must carry
  * payloads across stages should partition by storage locality first
  * and keep `spark.sql.files.maxPartitionBytes` sized so a partition of
  * binaries fits executor memory.
  */
object Multimodal {

  val ResizeStride = 4
  val FrameStride = 10

  case class Media(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, n_frames: Int)

  case class MediaFeatures(media_id: Long, n_bytes: Int, mean_byte: Double,
      checksum: Long)

  /** STUB decoder — deterministic fake: unsigned byte values stand in
    * for decoded pixels/samples. A real image/audio decoder would parse
    * `payload` here; codec libraries are not available in this
    * environment, and nothing downstream depends on WHAT the decoder
    * returns, only on its `Array[Byte] => Array[Int]` shape.
    */
  val FakeDecoder: Array[Byte] => Array[Int] = b => b.map(x => x & 0xff)

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.parquet(s, dir, "documents")
      .filter(graft.text.Tokenize.hasText(col("text")))

  /** Deterministic media table derived from documents: one media row per
    * doc, kind round-robin over image/audio/video, payload = text bytes.
    */
  def media(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      (pmod(col("n_chars"), lit(32)) + 1).cast("int").as("width"),
      (pmod(col("doc_id"), lit(24)) + 1).cast("int").as("height"),
      (pmod(col("doc_id"), lit(100)) + 1).cast("int").as("n_frames"))

  /** Fake-decoded pixel array: unsigned payload byte at positions
    * 0, stride, 2·stride, … — the native codegen'd
    * [[graft.functions.ByteStride]] kernel (O(1) byte indexing, one
    * linear loop). The round-2 string-walk formulation
    * (`transform(sequence(1, length), i => ascii(substr(i, 1)))`) was
    * O(len²) per document — `UTF8String.substring` re-walks from the
    * string start per call; [[graft.mm.MultimodalSpec]] pins the two
    * forms equal. The fixture text is ASCII so bytes == characters and
    * the DuckDB oracle's per-character `unicode(text[i])` matches.
    */
  private def pixelsOf(payload: Column, stride: Int = 1): Column =
    graft.functions.GraftFunctions.graftByteStride(payload, lit(stride))

  /** (media_id, kind, n_bytes, mean_byte, min_byte, max_byte). */
  def decodeStats(m: DataFrame): DataFrame =
    m.select(col("media_id"), col("kind"), pixelsOf(col("payload")).as("px"))
      .select(
        col("media_id"), col("kind"),
        size(col("px")).cast("long").as("n_bytes"),
        (aggregate(col("px"), lit(0L), (a, x) => a + x).cast("double") /
          size(col("px")).cast("double")).as("mean_byte"),
        array_min(col("px")).cast("long").as("min_byte"),
        array_max(col("px")).cast("long").as("max_byte"))

  /** Stride subsampling of the decoded payload — the 1-D stand-in for
    * image resize: keep every `ResizeStride`-th pixel.
    */
  def resize(m: DataFrame): DataFrame =
    m.select(col("media_id"),
        length(col("payload")).cast("long").as("orig_len"),
        pixelsOf(col("payload"), ResizeStride).as("px"))
      .select(col("media_id"), col("orig_len"),
        size(col("px")).cast("long").as("resized_len"),
        aggregate(col("px"), lit(0L), (a, x) => a + x).as("resized_checksum"))

  /** Every `FrameStride`-th frame index of video media. */
  def frameSample(m: DataFrame): DataFrame =
    m.filter(col("kind") === "video")
      .select(col("media_id"), col("n_frames").cast("long").as("n_frames"),
        sequence(lit(0), col("n_frames") - 1, lit(FrameStride)).as("frames"))
      .select(col("media_id"), col("n_frames"),
        size(col("frames")).cast("long").as("n_sampled"),
        aggregate(col("frames"), lit(0L), (a, x) => a + x).as("sampled_sum"))

  /** Typed partition-batched decode: `Dataset[Media]` → features via a
    * pluggable decoder, one pass per partition, no shuffle.
    */
  def decodeFeatures(ds: Dataset[Media],
      decoder: Array[Byte] => Array[Int] = FakeDecoder): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition setup would init the codec once here
      it.map { m =>
        val px = decoder(m.payload)
        MediaFeatures(
          m.media_id,
          px.length,
          if (px.isEmpty) 0.0
          else px.foldLeft(0L)(_ + _).toDouble / px.length.toDouble,
          px.foldLeft(0L)(_ + _))
      }
    }
  }

  // ---- real-codec round trip (mm_decode_real) ---------------------------

  case class RealMedia(media_id: Long, codec: String, payload: Array[Byte])

  case class DecodedReal(media_id: Long, codec: String, n_vals: Long,
      sum_vals: Long, wsum_vals: Long)

  /** Deterministic synthesized pixel grid (top-down row-major, packed
    * 0xRRGGBB): channel c of pixel i is `(id·7 + i·13 + c·5) mod 256`.
    * Channels deliberately DIFFER (the +c·5 term), so a decoder that
    * forgets BMP's B,G,R byte order produces different values — a
    * grayscale fixture would hide that bug class.
    */
  private[mm] def synthPixels(id: Long, w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      def ch(c: Int) = ((id * 7 + i * 13 + c * 5) % 256).toInt
      (ch(0) << 16) | (ch(1) << 8) | ch(2)
    }

  /** Deterministic PCM16 samples: `(id·31 + i·17) mod 65536 − 32768`. */
  private[mm] def synthSamples(id: Long): Array[Short] =
    Array.tabulate((id % 50 + 10).toInt) { i =>
      ((id * 31 + i * 17) % 65536 - 32768).toShort
    }

  /** One REAL media file per document — BMP / WAV / PPM round-robin,
    * honestly encoded by [[Codec]] (padded bottom-up BGR rows, RIFF
    * chunks, netpbm header) from the deterministic content above.
    */
  def realMedia(s: SparkSession, dir: String): Dataset[RealMedia] = {
    import s.implicits._
    docs(s, dir).select(col("doc_id")).as[Long].map { id =>
      val w = (id % 8 + 1).toInt
      val h = (id % 6 + 1).toInt
      (id % 3) match {
        case 0 => RealMedia(id, "bmp",
          Codec.encodeBmp24(w, h, synthPixels(id, w, h)))
        case 1 => RealMedia(id, "wav", Codec.encodeWav(synthSamples(id)))
        case _ => RealMedia(id, "ppm",
          Codec.encodePpm(w, h, synthPixels(id, w, h)))
      }
    }
  }

  /** Decode stats over REAL containers via the same pluggable seam as
    * [[decodeFeatures]]: n_vals plus an order-SENSITIVE position-
    * weighted checksum (`Σ i·v_i`), so a decoder that reads the right
    * bytes in the wrong order (bottom-up rows kept bottom-up, BGR kept
    * BGR, byte-swapped samples) fails the oracle even though the plain
    * sum would match. The oracle predicts all three stats in closed
    * form from the synthesis formulas — the query is green only if
    * encode→decode is the identity on content, i.e. only if the
    * parsers actually implement the formats.
    */
  def decodeReal(ds: Dataset[RealMedia],
      decoder: Array[Byte] => Array[Int] = Codec.RealDecoder): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { m =>
        val v = decoder(m.payload)
        var sum = 0L; var wsum = 0L; var i = 0
        while (i < v.length) { sum += v(i); wsum += v(i).toLong * i; i += 1 }
        DecodedReal(m.media_id, m.codec, v.length.toLong, sum, wsum)
      }
    }.toDF()
  }

  /** Exact payload dedup per media kind: one row per distinct payload
    * with keeper = min media_id and the copy count — the first pass any
    * multimodal ingest runs (identical bytes re-crawled under different
    * ids). The CRITICAL property at 100 TB: the sha-256 digest is
    * computed MAP-SIDE over the binary, so the dedup shuffle carries
    * (kind, 64-hex hash, id) rows — payloads never move. Same keeper
    * semantics as the text-side `dedup_exact`.
    */
  def payloadDedup(m: DataFrame): DataFrame =
    m.select(col("kind"), sha2(col("payload"), 256).as("payload_hash"),
        col("media_id"))
      .groupBy("kind", "payload_hash")
      .agg(min(col("media_id")).as("keep_media_id"),
        count(lit(1)).as("n_copies"))

  lazy val specs: Map[String, QuerySpec] = Map(
    "mm_decode_stats" -> QuerySpec((s, dir) =>
      decodeStats(media(s, dir)).orderBy("media_id"),
      s"""$mCte, px AS (
         |  SELECT media_id, kind,
         |         list_transform(generate_series(1, length(text)),
         |                        i -> unicode(text[i])) AS p
         |  FROM m
         |)
         |SELECT media_id, kind,
         |       CAST(len(p) AS BIGINT) AS n_bytes,
         |       CAST(list_sum(p) AS DOUBLE) / CAST(len(p) AS DOUBLE) AS mean_byte,
         |       CAST(list_min(p) AS BIGINT) AS min_byte,
         |       CAST(list_max(p) AS BIGINT) AS max_byte
         |FROM px ORDER BY media_id""".stripMargin),
    "mm_resize" -> QuerySpec((s, dir) => resize(media(s, dir)).orderBy("media_id"),
      s"""$mCte, px AS (
         |  SELECT media_id, CAST(length(text) AS BIGINT) AS orig_len,
         |         list_transform(generate_series(1, length(text), $ResizeStride),
         |                        i -> unicode(text[i])) AS p
         |  FROM m
         |)
         |SELECT media_id, orig_len,
         |       CAST(len(p) AS BIGINT) AS resized_len,
         |       CAST(list_sum(p) AS BIGINT) AS resized_checksum
         |FROM px ORDER BY media_id""".stripMargin),
    "mm_frame_sample" -> QuerySpec((s, dir) =>
      frameSample(media(s, dir)).orderBy("media_id"),
      s"""$mCte, fr AS (
         |  SELECT media_id, CAST(n_frames AS BIGINT) AS n_frames,
         |         generate_series(0, n_frames - 1, $FrameStride) AS frames
         |  FROM m WHERE kind = 'video'
         |)
         |SELECT media_id, n_frames,
         |       CAST(len(frames) AS BIGINT) AS n_sampled,
         |       CAST(list_sum(frames) AS BIGINT) AS sampled_sum
         |FROM fr ORDER BY media_id""".stripMargin),
    "mm_payload_dedup" -> QuerySpec((s, dir) =>
      payloadDedup(media(s, dir)).orderBy("kind", "payload_hash"),
      // payload bytes ARE the utf8 text bytes (ASCII fixture), so DuckDB's
      // sha256(text) digests the same byte stream Spark's sha2(binary)
      // does — the dedup_exact hash-parity argument verbatim
      s"""$mCte
         |SELECT kind, sha256(text) AS payload_hash,
         |       min(media_id) AS keep_media_id, count(*) AS n_copies
         |FROM m GROUP BY 1, 2
         |ORDER BY kind, payload_hash""".stripMargin),
    "mm_decode_real" -> QuerySpec((s, dir) =>
      decodeReal(realMedia(s, dir)).orderBy("media_id"),
      // Predicts the decoded stats in CLOSED FORM from the synthesis
      // formulas — independent of any byte-level serialization. Spark
      // matches only if encode→decode round-trips content exactly (order
      // included, via the position-weighted checksum).
      """WITH d AS (
        |  SELECT doc_id FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0
        |), p AS (
        |  SELECT doc_id,
        |         CASE CAST(doc_id % 3 AS INT)
        |           WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'ppm' END AS codec,
        |         doc_id % 8 + 1 AS w, doc_id % 6 + 1 AS h,
        |         doc_id % 50 + 10 AS ns
        |  FROM d
        |), vals AS (
        |  SELECT doc_id, codec,
        |         CASE WHEN codec = 'wav'
        |           THEN list_transform(generate_series(0, CAST(ns - 1 AS BIGINT)),
        |                  i -> (doc_id * 31 + i * 17) % 65536 - 32768)
        |           ELSE list_transform(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT)),
        |                  q -> (doc_id * 7 + (q // 3) * 13 + (q % 3) * 5) % 256)
        |         END AS v
        |  FROM p
        |)
        |SELECT doc_id AS media_id, codec,
        |       CAST(len(v) AS BIGINT) AS n_vals,
        |       CAST(list_sum(v) AS BIGINT) AS sum_vals,
        |       CAST(list_sum(list_transform(generate_series(1, len(v)),
        |                                    i -> v[i] * (i - 1))) AS BIGINT)
        |         AS wsum_vals
        |FROM vals ORDER BY media_id""".stripMargin),
    // The TYPED mapPartitions decode path under the driver oracle (it
    // was spec-pinned against the column path only through r10-mid):
    // Dataset[Media] → pluggable decoder → features, zero shuffle.
    "mm_decode_features" -> QuerySpec((s, dir) => {
      import s.implicits._
      decodeFeatures(media(s, dir).as[Media]).toDF()
        .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("mean_byte"), col("checksum"))
        .orderBy("media_id")
    },
      // typed-path features: exact integer sum, one double division —
      // the same arithmetic the mapPartitions fold performs
      s"""$mCte, px AS (
         |  SELECT media_id,
         |         list_transform(generate_series(1, length(text)),
         |                        i -> unicode(text[i])) AS p
         |  FROM m
         |)
         |SELECT media_id,
         |       CAST(len(p) AS BIGINT) AS n_bytes,
         |       CAST(list_sum(p) AS DOUBLE) / CAST(len(p) AS DOUBLE) AS mean_byte,
         |       CAST(list_sum(p) AS BIGINT) AS checksum
         |FROM px ORDER BY media_id""".stripMargin)
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = QuerySpec.builds(specs)

  // ---- DuckDB oracle SQL ------------------------------------------------

  /** The fixture text is pure ASCII (verified: max code point 121), so
    * `unicode(one_char)` in DuckDB == `ascii` in Spark == payload byte.
    */
  private val mCte: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
      |         text,
      |         CAST(n_chars % 32 + 1 AS INT) AS width,
      |         CAST(doc_id % 24 + 1 AS INT) AS height,
      |         CAST(doc_id % 100 + 1 AS INT) AS n_frames
      |  FROM documents
      |  WHERE text IS NOT NULL AND length(text) > 0
      |)""".stripMargin
}
