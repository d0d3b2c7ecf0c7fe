package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Fixture-schema-variant regression guard (round-9 postmortem): the
  * driver regenerated events.parquet with TIMESTAMP_NTZ `ts` and four
  * operators (sessionize, top_sessions, attribution, range_join) failed
  * analysis outright because the loaders only normalized the legacy
  * long-nanos encoding. This spec writes the SAME rows under all three
  * historical encodings and pins (a) every ts-casting query analyzes and
  * (b) results are bit-identical across encodings — so the next fixture
  * regeneration cannot silently break an operator class again.
  */
class EventSourceSchemaSpec extends SparkSpec {

  /** The four queries that extract epochs from `ts` (the round-9 breakage
    * set) plus one window-aggregate representative.
    */
  private val tsQueries = Seq(
    "events_sessionize", "events_top_sessions", "events_attribution",
    "rel_range_join", "events_hourly")

  private def writeVariant(kind: String): String = {
    val s = spark
    val tmp = graft.TempDir(s"evschema-$kind")
    val base = graft.sources.EventSource.load(s, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val df = kind match {
      case "utc"  => base // TIMESTAMP (isAdjustedToUTC=true)
      case "ntz"  => base.withColumn("ts", col("ts").cast(TimestampNTZType))
      case "nanos" =>
        // legacy writer: raw epoch nanos as int64 named ts
        base.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    }
    df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
    tmp.toString
  }

  private def run(name: String, dir: String): Seq[String] = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect().map(_.toString).toSeq
  }

  test("loader normalizes all three ts encodings to TIMESTAMP") {
    for (kind <- Seq("utc", "ntz", "nanos")) {
      val dir = writeVariant(kind)
      val loaded = EventSource.load(spark, dir)
      assert(loaded.schema("ts").dataType === TimestampType,
        s"variant $kind must load as TIMESTAMP")
    }
  }

  test("ts-casting queries agree bit-for-bit across all ts encodings") {
    val dirs = Seq("utc", "ntz", "nanos").map(k => k -> writeVariant(k))
    for (q <- tsQueries) {
      val results = dirs.map { case (k, d) => k -> run(q, d) }
      val (refKind, ref) = results.head
      assert(ref.nonEmpty, s"$q returned no rows on $refKind")
      for ((k, got) <- results.tail)
        assert(got === ref, s"$q: variant $k diverges from $refKind")
    }
  }
}
