package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** The one loop over the registry that `Verify`, `Bench` and `PlanDump`
  * run, and RegistrySpec with them: a tool's session, its query
  * selection and the per-query run under the query's scoped conf.
  */
final class Runner(tool: String, val spark: SparkSession, val cpus: Int) {

  /** Runs `body` on query `name` over `sfDir` under the query's scoped
    * conf ([[SparkEntry.queryConfs]]); `body` gets the build, so it can
    * time or repeat it. Writes the `[tool] running <name>` breadcrumb to
    * stderr first, so a run that dies mid-registry names the query. A
    * failure is reported on stderr and returned as its message.
    */
  def run[T](name: String, sfDir: String)(body: (() => DataFrame) => T): Either[String, T] = {
    Console.err.println(s"[$tool] running $name")
    val fn = SparkEntry.queries(name)
    val build = () => fn(spark, sfDir)
    try Right(Session.withScopedConf(spark, SparkEntry.queryConfs(name, sfDir, cpus))(body(build)))
    catch { case e: Throwable =>
      val msg = String.valueOf(e.getMessage)
      Console.err.println(s"[$tool] $name failed: $msg")
      Left(msg)
    }
  }
}

object Runner {

  /** The tool session: `Session(graft-<tool>)` at [[Session.cpus]],
    * with `SPARK_GRAFT_PRODUCTION_HASH` (the xxhash64 gram-hash mode a
    * real cluster would run; default the oracle's md5) validated before
    * Spark starts, so a bad value fails once instead of in every
    * hash-consulting query.
    */
  def apply(tool: String, conf: Map[String, String] = Map.empty,
      cpus: Int = Session.cpus): Runner = {
    val prodHash = sys.env.get("SPARK_GRAFT_PRODUCTION_HASH")
      .map(v => Session.parseBool(v, "SPARK_GRAFT_PRODUCTION_HASH"))
    val spark = Session(s"graft-$tool", cpus, conf)
    prodHash.foreach(b => spark.conf.set(functions.PortableHash.ConfKey, b.toString))
    new Runner(tool, spark, cpus)
  }

  /** Registered names in the order [[SparkEntry.queries]] yields them
    * (Bench charges a shared memo build to the first query that runs),
    * restricted to the comma list `only` when given. An unknown name
    * fails before any query runs.
    */
  def select(only: Option[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq
    only.fold(all) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- all
      require(unknown.isEmpty, s"unknown query: ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter(names)
    }
  }

  /** The registry's build kinds by name, for PlanDump's eager table. */
  def builds: Seq[(String, QuerySpec.Build)] =
    SparkEntry.specs.toSeq.sortBy(_._1).map { case (n, q) => n -> q.build }

  /** A JSON string literal: backslash, quote and every control char
    * (< 0x20) escaped, so a tab or CR in an oracle SQL or an error
    * message cannot break the reader's `json.load`.
    */
  def json(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A plan's shuffle exchanges, broadcast exchanges and scans (file
    * scans plus checkpointed-RDD scans), subqueries included. */
  final case class Shape(shuffles: Int, broadcasts: Int, scans: Int) {
    override def toString = s"shuffles=$shuffles broadcasts=$broadcasts scans=$scans"
  }

  /** The [[Shape]] of `df`'s plan as AQE first builds it (each
    * `AdaptiveSparkPlanExec`'s `initialPlan`): the census runs nothing,
    * and runtime statistics do not move it.
    */
  def shape(df: DataFrame): Shape = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    Shape(all.count(_.isInstanceOf[ShuffleExchangeExec]),
      all.count(_.isInstanceOf[BroadcastExchangeExec]),
      all.count(p => p.isInstanceOf[FileSourceScanExec] || p.isInstanceOf[RDDScanExec]))
  }

  /** The formatted physical plan, [[renumber]]ed. */
  def explain(df: DataFrame): String = renumber(
    df.queryExecution.explainString(ExplainMode.fromString("formatted")))

  /** `plan` with expression ids (`#12`), exchange ids (`plan_id=34`),
    * lambda variables (`x_5`, `y_6`) and RDD ids (`MapPartitionsRDD[82]`)
    * renumbered from 1 in first-appearance order, and the line dropped
    * from RDD call sites (`at Dedup.scala:288`). The ids come from JVM-
    * and context-wide counters and the lines move with every edit above
    * the call; normalized, a regeneration diff shows only real plan
    * changes.
    */
  private[graft] def renumber(plan: String): String =
    Seq("""(#)(\d+)""", """(plan_id=)(\d+)""", """\b(x_)(\d+)\b""", """\b(y_)(\d+)\b""",
        """(RDD\[)(\d+)(?=\])""")
      .foldLeft(""" at (\w+\.scala):\d+""".r.replaceAllIn(plan, " at $1")) {
        case (text, pattern) =>
          val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
          pattern.r.replaceAllIn(text, m =>
            m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1))
      }
}
