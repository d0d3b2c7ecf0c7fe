package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlContextImplicits = spark.implicits
}

object SparkSpec {
  /** Four slots whatever the host, so partition-dependent plans and
    * results read the same everywhere.
    */
  lazy val session: SparkSession = Session("graft-test", cpus = 4,
    conf = Map("spark.sql.warehouse.dir" ->
      TempDir("graft-warehouse").toString))
}
