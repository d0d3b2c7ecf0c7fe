package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected query's result → parquet
  * under `outDir/<name>`, plus `oracle_sql.json` with the same queries'
  * oracle SQL, for the DuckDB compare.
  *
  * `sbt "runMain graft.Verify <sfDir> <outDir> [q1,q2,…]"`: the
  * optional comma list restricts the dump (the sf≥10 oracle runs);
  * without it every registered query runs. A query that fails leaves
  * no output dir and a `[verify] <name> failed:` line on stderr.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = Runner.select(args.lift(2))
    val runner = Runner("verify")
    new java.io.File(outDir).mkdirs()
    names.foreach(name => runner.run(name, sfDir) { build =>
      build().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    })
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${Runner.json(k)}: ${Runner.json(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    runner.spark.stop()
  }
}
