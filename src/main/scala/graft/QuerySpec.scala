package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its build, its DuckDB twin and its
  * non-default facts. A family module declares one `specs` entry per
  * query, the oracle SQL inline next to the build; [[SparkEntry]]
  * gathers the families' maps into the registry. The family `specs`
  * are `lazy val`s because their oracle strings read CTE vals declared
  * further down the module.
  *
  * @param df     builds the query's DataFrame over a fixture dir
  * @param oracle equivalent SQL DuckDB runs on the same parquet tables
  *               (bare table names); Verify and the benchmark compare
  *               the two results exactly
  * @param conf   scoped session conf, `(sfDir, cpus) => overrides`; the
  *               harnesses set it around the one query's build and run
  *               ([[Session.withScopedConf]]). Values never change
  *               results: every covered query is exact-typed.
  * @param build  what constructing the DataFrame runs before any action
  */
final case class QuerySpec(
    df: (SparkSession, String) => DataFrame,
    oracle: String,
    conf: (String, Int) => Map[String, String] = QuerySpec.NoConf,
    build: QuerySpec.Build = QuerySpec.Lazy)

object QuerySpec {

  val NoConf: (String, Int) => Map[String, String] = (_, _) => Map.empty

  /** Reduce tasks `table` of fixture `sfDir` asks for at `bytesPerTask`
    * of its on-disk parquet (0 when absent — sizing falls back to the
    * session default).
    */
  def dataTasks(sfDir: String, table: String, bytesPerTask: Long): Long = {
    val f = new java.io.File(s"$sfDir/$table.parquet")
    val bytes = if (f.isDirectory) f.listFiles().map(_.length()).sum else f.length()
    bytes / bytesPerTask
  }

  /** A data-sized scoped conf: one shuffle partition per `bytesPerTask`
    * of `table`, floored at the session's parallelism and capped at
    * 2048; empty when the floor binds (the default is already right).
    * AQE's parallelism-first coalescing would re-merge the hand-sized
    * exchanges right back to ~defaultParallelism (their per-partition
    * bytes sit far under its 64 MB advisory target), undoing the
    * override — measured: identical spill with and without the bump
    * until it was pinned off. Scoped to the declaring queries only;
    * AQE itself (skew splits, plan re-opt) stays on.
    */
  def dataSizedShuffle(table: String, bytesPerTask: Long)(
      sfDir: String, cpus: Int): Map[String, String] = {
    val parts = math.max(cpus.toLong, math.min(2048L, dataTasks(sfDir, table, bytesPerTask))).toInt
    if (parts <= cpus) Map.empty
    else Map("spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
  }

  /** The builds of `specs`, keyed by query name. */
  def builds(specs: Map[String, QuerySpec]): Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (n, q) => n -> q.df }

  sealed trait Build

  /** Building schedules no Spark job beyond the parquet footer read. */
  case object Lazy extends Build

  /** Every build runs a bounded job; `collects` says what it brings to
    * the driver (or materializes), `bound` how large that can get.
    */
  final case class Eager(collects: String, bound: String) extends Build

  /** The first build per (app, fixture dir) runs a one-time pass whose
    * result later builds reuse without scheduling a job. Bench prices
    * that pass into its headline.
    */
  final case class Memoized(builds: String, bound: String) extends Build
}
