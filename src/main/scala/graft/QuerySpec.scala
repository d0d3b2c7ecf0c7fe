package graft

/** The non-default facts of one registered query. A family module
  * declares one entry in its `specs` map per query that needs one,
  * next to its `queries` and `oracleSql`; a query without an entry is
  * lazy at build and runs under the session's own conf.
  *
  * @param conf  scoped session conf, `(sfDir, cpus) => overrides`; the
  *              harnesses set it around the one query's build and run
  *              ([[Session.withScopedConf]]). Values never change
  *              results: every covered query is exact-typed.
  * @param build what constructing the DataFrame runs before any action
  */
final case class QuerySpec(
    conf: (String, Int) => Map[String, String] = QuerySpec.NoConf,
    build: QuerySpec.Build = QuerySpec.Lazy)

object QuerySpec {

  val NoConf: (String, Int) => Map[String, String] = (_, _) => Map.empty

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
