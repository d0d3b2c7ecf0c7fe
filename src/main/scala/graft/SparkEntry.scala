package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Thin aggregator: each operator family keeps its queries + DuckDB oracle
  * SQL side-by-side in its own module so the two can't drift apart.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pipeline.ChiSquareQueries.queries("chi2_top_terms")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * LLM-data-pipeline extension surface, SURVEY §7.4).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    pipeline.ChiSquareQueries.queries ++
      events.Events.queries ++
      rel.Relational.queries ++
      rel.Temporal.queries ++
      dedup.Dedup.queries ++
      sim.Similarity.queries ++
      text.Analysis.queries ++
      mm.Multimodal.queries ++
      ops.Sampling.queries ++
      ops.Salted.queries ++
      streaming.StreamingChiSquare.queries ++
      streaming.StreamingDedup.queries

  /** The non-default facts of each query (scoped conf, eager or
    * memoized build); a query without an entry is lazy and runs under
    * the session conf. Adding a query is one edit to its family module:
    * `queries`, `oracleSql` and, only if it needs one, `specs`.
    */
  val specs: Map[String, QuerySpec] =
    rel.Relational.specs ++
      dedup.Dedup.specs ++
      sim.Similarity.specs ++
      text.Analysis.specs ++
      ops.Salted.specs ++
      streaming.StreamingChiSquare.specs ++
      streaming.StreamingDedup.specs

  /** Queries whose FIRST build per (app, fixture dir) runs a one-time
    * memoized pass that later builds skip. Bench prices that build into
    * its headline (a median over warm-memo samples measures a cache
    * read, not the operator) and RegistrySpec asserts the memo prevents
    * re-scheduling.
    */
  val memoizedBuildQueries: Set[String] = specs.collect {
    case (n, QuerySpec(_, _: QuerySpec.Memoized)) => n
  }.toSet

  /** Scoped per-query session-conf overrides. The harnesses set these
    * around ONE query's build+execution and restore them
    * ([[Session.withScopedConf]]), so a data-sized knob applies to
    * exactly the queries that need it. Values never change results:
    * every covered query is exact-typed (spec-pinned).
    */
  def queryConfs(name: String, sfDir: String, cpus: Int): Map[String, String] =
    specs.get(name).fold(Map.empty[String, String])(_.conf(sfDir, cpus))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    pipeline.ChiSquareQueries.oracleSql ++
      events.Events.oracleSql ++
      rel.Relational.oracleSql ++
      rel.Temporal.oracleSql ++
      dedup.Dedup.oracleSql ++
      sim.Similarity.oracleSql ++
      text.Analysis.oracleSql ++
      mm.Multimodal.oracleSql ++
      ops.Sampling.oracleSql ++
      ops.Salted.oracleSql ++
      streaming.StreamingChiSquare.oracleSql ++
      streaming.StreamingDedup.oracleSql
}
