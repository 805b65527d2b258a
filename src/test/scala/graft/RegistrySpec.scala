package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry hygiene — cheap invariants that make a registration typo
  * fail in CI instead of as a silent driver-gate anomaly: every oracle
  * SQL string must point at a registered query, and the bench
  * subtotal sets must name real queries (a misspelled entry would
  * silently misclassify seconds between engine/twins/fit). Pure map
  * checks, no SparkSession. */
class RegistrySpec extends AnyFunSuite {

  test("every oracleSql key is a registered query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty,
      s"oracle SQL with no registered query (typo?): $dangling")
  }

  test("gateTwins and inQueryFit name registered queries only") {
    val badTwins = SparkEntry.gateTwins -- SparkEntry.queries.keySet
    val badFit = SparkEntry.inQueryFit -- SparkEntry.queries.keySet
    assert(badTwins.isEmpty, s"gateTwins not in the registry: $badTwins")
    assert(badFit.isEmpty, s"inQueryFit not in the registry: $badFit")
  }

  test("the subtotal sets do not overlap (a query's seconds land in " +
      "exactly one of engine/twins, and fit is an engine subset)") {
    val overlap = SparkEntry.gateTwins intersect SparkEntry.inQueryFit
    assert(overlap.isEmpty,
      s"fit queries must be engine queries, not gate twins: $overlap")
  }

  test("artifact builds are counted in build_sec only, never also " +
      "in twins_sec") {
    val overlap = SparkEntry.gateTwins intersect SparkEntry.artifactBuilds
    assert(overlap.isEmpty, s"builds double-counted as twins: $overlap")
  }

  test("query names are shell- and filename-safe (Verify writes " +
      "outDir/<name>)") {
    val bad = SparkEntry.queries.keySet
      .filterNot(_.matches("[a-z0-9_]+"))
    assert(bad.isEmpty, s"unsafe query names: $bad")
  }
}
