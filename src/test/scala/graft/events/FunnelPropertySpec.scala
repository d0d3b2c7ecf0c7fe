package graft.events

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Top-level so Spark can build an encoder without an outer scope. */
case class FunnelEv(id: Long, min: Long, uid: Long, kind: String)

/** Property pin for the strict-order funnel: on random event traces the
  * chained conditional window-mins must reproduce a brute-force driver
  * reference of the stage definition (first view, first click strictly
  * AFTER it, first purchase strictly after that) — including ties and
  * out-of-order arrivals a crafted trace under-samples.
  */
class FunnelPropertySpec extends graft.SparkSpec {

  private val traceGen: Gen[Seq[FunnelEv]] = for {
    n <- Gen.choose(5, 20)
    evs <- Gen.listOfN(n, for {
      uid <- Gen.choose(1L, 3L)
      min <- Gen.choose(0L, 10L) // tight range → frequent ts ties
      kind <- Gen.oneOf("view", "click", "purchase", "error")
    } yield (uid, min, kind))
  } yield evs.zipWithIndex.map { case ((uid, min, kind), i) =>
    FunnelEv(i.toLong, min, uid, kind)
  }

  private def traces(count: Int): Seq[Seq[FunnelEv]] = {
    val params = Gen.Parameters.default
    Iterator.iterate(Seed(31L))(_.next)
      .flatMap(s => traceGen.apply(params, s))
      .take(count).toSeq
  }

  /** The stage definition, computed independently on the driver. */
  private def stageOf(evs: Seq[FunnelEv]): Int = {
    def firstAfter(kind: String, after: Option[Long]): Option[Long] =
      after.flatMap(a =>
        evs.filter(e => e.kind == kind && e.min > a).map(_.min).minOption)
    val tv = evs.filter(_.kind == "view").map(_.min).minOption
    val tc = firstAfter("click", tv)
    val tp = firstAfter("purchase", tc)
    if (tp.isDefined) 3 else if (tc.isDefined) 2 else if (tv.isDefined) 1 else 0
  }

  test("funnel stages equal the brute-force driver reference") {
    val s = spark; import s.implicits._
    for (trace <- traces(5)) {
      val df = trace.toDF("event_id", "min", "user_id", "event_type")
        .select(col("event_id"), timestamp_seconds(col("min") * 60).as("ts"),
          col("user_id"), col("event_type"))
      val tmp = graft.TempDir("graft-fp")
      df.write.mode("overwrite").parquet(tmp.resolve("events.parquet").toString)
      val want = trace.groupBy(_.uid).values.map(stageOf)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = Events.queries("events_funnel")(spark, tmp.toString)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got === want, s"trace:\n${trace.mkString("\n")}")
    }
  }
}
