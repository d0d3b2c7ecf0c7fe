package graft.rel

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Top-level so Spark can build an encoder without an outer scope. */
case class PropEv(id: Long, sec: Long, kind: String)

/** Property pin for the horizon-banded attribution join: on random
  * event traces, `events_attribution` must equal the brute-force
  * all-pairs reference (same user, view at-or-before purchase, within
  * the horizon) — including the bucket-boundary cases a crafted trace
  * can miss. Pins both losslessness of the two-bucket probe AND the
  * exactly-once property (banding must not double-emit a pair).
  */
class AttributionPropertySpec extends graft.SparkSpec {

  private val traceGen: Gen[Seq[PropEv]] = for {
    n <- Gen.choose(4, 16)
    evs <- Gen.listOfN(n, for {
      // cluster times around bucket edges: multiples of the horizon ± a
      // small jitter, so boundary and cross-bucket cases occur often
      base <- Gen.choose(0L, 3L)
      jitter <- Gen.choose(-5L, 5L)
      kind <- Gen.oneOf("view", "purchase", "click")
    } yield (base * Temporal.AttributionHorizonSec + jitter).max(0L) -> kind)
  } yield evs.zipWithIndex.map { case ((sec, kind), i) => PropEv(i.toLong, sec, kind) }

  private def traces(count: Int): Seq[Seq[PropEv]] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(23L))(_.next)
      .flatMap(s => traceGen.apply(params, s))
      .take(count).toSeq
  }

  test("banded attribution equals the brute-force reference incl. boundaries") {
    val s = spark; import s.implicits._
    var sawPairs = false
    for (trace <- traces(5)) {
      val df = trace.toDF("event_id", "sec", "event_type")
        .select(col("event_id"), timestamp_seconds(col("sec")).as("ts"),
          lit(1L).as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
      val tmp = graft.TempDir("graft-ap")
      df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
      val want = (for {
        p <- trace if p.kind == "purchase"
        v <- trace if v.kind == "view"
        if v.sec <= p.sec && v.sec >= p.sec - Temporal.AttributionHorizonSec
      } yield (p.id, v.id, (p.sec - v.sec) * 1000000L)).toSet
      val rows = Temporal.queries("events_attribution")(spark, tmp.toString)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.length == rows.distinct.length,
        s"banding double-emitted a pair:\n$trace")
      assert(rows.toSet === want, s"trace:\n$trace")
      sawPairs ||= want.nonEmpty
    }
    assert(sawPairs, "generator must produce at least one attributed pair")
  }
}
