package graft

/** Registry hygiene — cheap invariants that make a registration typo
  * fail in CI instead of as a silent driver-gate anomaly: every oracle
  * SQL string must point at a registered query, and the bench
  * subtotal sets must name real queries (a misspelled entry would
  * silently misclassify seconds between engine/twins/fit). Pure map
  * checks, plus the flagship entry query. */
class RegistrySpec extends SparkSpec {

  test("SparkEntry.entry, the flagship smoke query, returns rows") {
    assert(SparkEntry.entry(spark).count() >= 1L)
  }

  test("the fixed-vector helpers name the embeddings rows they need on " +
      "an empty and a one-row table") {
    import spark.implicits._
    val one = Seq((7L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val empty = one.limit(0)
    def err(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    for (df <- Seq(empty, one)) {
      assert(err(SparkEntry.queryVec(df)).contains("vec_id = 0"))
      assert(err(SparkEntry.firstVecs(df, 4)).contains("vec_id < 4"))
    }
    assert(err(SparkEntry.sliceBooks(Array.empty, 4))
      .contains("4 <= vec_id < 8"))
    // a one-row table whose row is vec_id 0 serves all three
    val zero = Seq((0L, Array(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    assert(SparkEntry.queryVec(zero).toSeq == Seq(1f, 2f, 3f, 4f))
    val cents = SparkEntry.firstVecs(zero, 4)
    assert(cents.length == 1)
    assert(SparkEntry.sliceBooks(cents, 4).map(_.head.toSeq).toSeq ==
      Seq(Seq(1f), Seq(2f), Seq(3f), Seq(4f)))
  }

  test("ratio lines return NULL, as their DuckDB twins do, on empty and " +
      "one-row tables instead of dividing by zero") {
    // fixtures cut from the sf0.001 tables: every line reads its
    // tables as <dir>/<name>.parquet
    def cut(rows: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-rows$rows")
      for (name <- Seq("lineitem", "documents"))
        spark.read.parquet(s"${sf()}/$name.parquet").limit(rows)
          .write.parquet(s"$dir/$name.parquet")
      dir.toString
    }
    def run(name: String, dir: String) =
      SparkEntry.queries(name)(spark, dir).collect().toSeq
    for (rows <- Seq(0, 1)) {
      val dir = cut(rows)
      val pearson = run("pearson_corr", dir)
      assert(pearson.length == 1 && pearson.head.isNullAt(0), s"$rows: $pearson")
      val blocking = run("blocking_quality", dir)
      assert(blocking.length == 1, s"$rows: $blocking")
      val b = blocking.head
      assert(b.getAs[Long]("n_candidates") == 0L &&
        b.isNullAt(b.fieldIndex("pair_completeness")) &&
        b.isNullAt(b.fieldIndex("reduction_ratio")), s"$rows: $b")
      val kAnon = run("k_anonymity", dir)
      assert(kAnon.map(_.getAs[Long]("k")) == Seq(2L, 5L, 10L, 50L))
      assert(kAnon.forall(r => r.getAs[Long]("n_rows_below") == rows),
        s"$rows: $kAnon")
      val shares = kAnon.map(r => Option(r.getAs[java.lang.Double]("row_share_below")))
      assert(shares.forall(_ == (if (rows == 0) None else Some(1.0))),
        s"$rows: $kAnon")
    }
  }

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
