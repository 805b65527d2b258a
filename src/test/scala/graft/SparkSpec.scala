package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM per `sbt test` fork):
  * the harness factory at an explicit `local[4]`, whatever
  * `SPARK_GRAFT_CPUS` says. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
