package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlContextImplicits = spark.implicits

  /** Runs `body` with the optimizer rule ConvertToLocalRelation
    * excluded. That rule evaluates a projection over a local relation
    * (`Seq(…).toDF`) with interpreted eval while optimizing, so a
    * kernel spec over such input would never run the kernel's
    * generated code.
    */
  def withGeneratedCode[T](body: => T): T = Session.withScopedConf(spark, Map(
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"))(body)
}

object SparkSpec {
  /** [[Session.PinnedCpus]] slots whatever the host. */
  lazy val session: SparkSession = Session("graft-test", cpus = Session.PinnedCpus,
    conf = Map("spark.sql.warehouse.dir" ->
      TempDir("graft-warehouse").toString))
}
