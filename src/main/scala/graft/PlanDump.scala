package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Writes docs/PLANS.md: the eager/memoized build table, the
  * plan-shape ledger of every registered query and the formatted
  * physical plan of the flagship `chi2_top_terms`. Run after
  * plan-affecting changes: `sbt "runMain graft.PlanDump [sfDir]"`
  * (RegistrySpec checks the ledger built at the default sf0.001). With
  * a comma list of query names,
  * `sbt "runMain graft.PlanDump <sfDir> q1,q2"` prints each query's
  * census line and plan to stdout instead and leaves docs/PLANS.md
  * alone.
  */
object PlanDump {

  val Path = "docs/PLANS.md"

  private val LedgerHeader = "| query | shuffles | broadcasts | scans |"
  private val Row = """\| `(\w+)` \| (\d+) \| (\d+) \| (\d+) \|""".r

  /** The ledger rows of a docs/PLANS.md text, by query name. */
  def ledger(text: String): Map[String, Runner.Shape] =
    text.linesIterator.dropWhile(_ != LedgerHeader).collect {
      case Row(name, s, b, c) => name -> Runner.Shape(s.toInt, b.toInt, c.toInt)
    }.toMap

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val named = args.lift(1).map(list => Runner.select(Some(list)))
    // the ledger reads the same on any host
    val runner = Runner("plandump", cpus = Session.PinnedCpus)
    def read[T](name: String)(f: DataFrame => T): T =
      runner.run(name, dir)(build => f(build())).fold(msg => sys.error(s"$name: $msg"), identity)
    named match {
      case Some(names) => names.foreach(n =>
        read(n)(df => println(s"## $n\n\n${Runner.shape(df)}\n\n${Runner.explain(df)}")))
      case None =>
        val sb = new StringBuilder
        sb ++= "# Physical plans\n\n"
        sb ++= s"Generated by `graft.PlanDump` against `$dir`.\n"
        sb ++= "Regenerate with `sbt \"runMain graft.PlanDump\"` after plan-affecting changes.\n"
        sb ++=
          """
            |## Eager-at-build registry entries
            |
            |The registry contract is lazy-at-build: constructing a query's
            |DataFrame (what `explain` does) schedules no Spark job beyond the
            |parquet footer read every `spark.read.parquet` performs. The
            |entries below are the exceptions each family module declares in
            |its `specs` map, and this table is generated from them. `Eager`
            |entries run a bounded job at every build, so `explain` on them
            |executes Spark work; `Memoized` entries run theirs once per
            |(app, fixture dir), and later builds of the same fixture schedule
            |nothing. RegistrySpec listener-counts build-time jobs and fails if
            |the declarations drift in either direction.
            |
            || Entry | Build | What it runs at build | Bound |
            ||---|---|---|---|
            |""".stripMargin
        Runner.builds.foreach {
          case (name, QuerySpec.Eager(what, bound)) => sb ++= s"| `$name` | eager | $what | $bound |\n"
          case (name, QuerySpec.Memoized(what, bound)) => sb ++= s"| `$name` | memoized | $what | $bound |\n"
          case (_, QuerySpec.Lazy) => ()
        }
        sb ++=
          s"""
             |## Plan-shape ledger
             |
             |Shuffle exchanges, broadcast exchanges and scans (file and
             |checkpointed-RDD) of each query's plan as AQE first builds it,
             |subqueries included, on ${Session.PinnedCpus} slots (`Runner.shape`).
             |RegistrySpec fails on a query whose census has left its row.
             |
             |$LedgerHeader
             ||---|---|---|---|
             |""".stripMargin
        val shapes = Runner.select(None).sorted.map(n => n -> read(n)(Runner.shape))
        for ((n, s) <- shapes) sb ++= s"| `$n` | ${s.shuffles} | ${s.broadcasts} | ${s.scans} |\n"
        sb ++= s"| total | ${shapes.map(_._2.shuffles).sum} | ${shapes.map(_._2.broadcasts).sum} | " +
          s"${shapes.map(_._2.scans).sum} |\n"
        sb ++= s"\n## chi2_top_terms\n\n```\n${read("chi2_top_terms")(Runner.explain)}```\n"
        Files.createDirectories(Paths.get(Path).getParent)
        Files.writeString(Paths.get(Path), sb.toString)
        println(s"wrote $Path (${shapes.size} ledger rows)")
    }
    runner.spark.stop()
  }
}
