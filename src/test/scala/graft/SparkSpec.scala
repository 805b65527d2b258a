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

  /** `f`'s result and the number of Spark jobs it ran (its job group's,
    * as the status listener recorded them). */
  def jobsOf[T](f: => T): (T, Int) = {
    val group = s"spec-jobs-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = f
      (out, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    } finally spark.sparkContext.clearJobGroup()
  }
}
