package graft.ml

import graft.SparkSpec

import scala.util.Random

/** Quality-threshold tests (SURVEY §7.4: sklearn seed parity is
  * impossible — assert the model learns separable structure, not
  * identical predictions). */
class MlpBridgeSpec extends SparkSpec {

  // 3 well-separated gaussian clusters in 8-d
  private def clustered = {
    import spark.implicits._
    val rnd = new Random(42)
    val centers = Map("a" -> 0f, "b" -> 5f, "c" -> -5f)
    val rows = for {
      (lbl, c) <- centers.toSeq
      i <- 0 until 60
    } yield (s"$lbl$i", lbl,
      Array.fill(8)(c + rnd.nextGaussian().toFloat * 0.5f))
    rows.toDF("id", "y", "vector")
  }

  test("MLP classifier learns separable clusters (M7)") {
    val res = MlpBridge.trainClassifier(clustered, "vector", "y",
      hidden = Seq(16), maxIter = 100)
    assert(res.holdoutMetric >= 0.9,
      s"holdout accuracy ${res.holdoutMetric}")
    val preds = res.predictions
    assert(preds.count() == 180) // predicts ALL rows, train+test
    assert(preds.columns.contains("mlp_pred"))
    val acc = preds.filter("y = mlp_pred").count().toDouble / 180
    assert(acc >= 0.95, s"all-rows accuracy $acc")
  }

  test("TRUE MLP regressor learns a linear signal (M8): holdout R², " +
      "all-rows predictions, input-partitioning insensitivity") {
    import spark.implicits._
    val rnd = new Random(7)
    val rows = (0 until 240).map { i =>
      val v = Array.fill(4)(rnd.nextGaussian().toFloat)
      (i.toLong, v, 3.0 * v(0) - 2.0 * v(1) + 0.1 * rnd.nextGaussian())
    }
    val df = rows.toDF("id", "vector", "y")
    val res = MlpBridge.trainMlpRegressor(df, "vector", "y",
      hidden = 16, iters = 300, lr = 0.05)
    assert(res.holdoutMetric >= 0.85, s"holdout R² ${res.holdoutMetric}")
    assert(res.predictions.count() == 240,
      "must predict every stored row, train+test")
    val p = MlpBridge.pearson(res.predictions, "mlp_pred", "y")
    assert(p >= 0.9, s"pearson $p")
    // quality holds under a different input partitioning (float
    // partial sums re-associate — quality-pinned, not value-pinned)
    val res2 = MlpBridge.trainMlpRegressor(df.repartition(7),
      "vector", "y", hidden = 16, iters = 300, lr = 0.05)
    assert(res2.holdoutMetric >= 0.85, s"repartitioned R² ${res2.holdoutMetric}")
  }

  test("MLP regressor learns a NONLINEAR signal the linear fit " +
      "cannot (the reason it exists): y = x0^2 - x1^2") {
    import spark.implicits._
    val rnd = new Random(11)
    val rows = (0 until 300).map { i =>
      val v = Array.fill(2)(rnd.nextGaussian().toFloat)
      (i.toLong, v,
        v(0).toDouble * v(0) - v(1).toDouble * v(1) +
          0.05 * rnd.nextGaussian())
    }
    val df = rows.toDF("id", "vector", "y")
    val res = MlpBridge.trainMlpRegressor(df, "vector", "y",
      hidden = 24, iters = 600, lr = 0.08)
    assert(res.holdoutMetric >= 0.6,
      s"nonlinear holdout R² ${res.holdoutMetric}")
  }

  test("classifier rejects single-class input") {
    import spark.implicits._
    val df = Seq(("x", "only", Array(1f, 2f))).toDF("id", "y", "vector")
    intercept[IllegalArgumentException] {
      MlpBridge.trainClassifier(df, "vector", "y")
    }
  }

  test("classifier on both sides of the collect gate: predictions agree " +
      "on >= 99% of rows, holdout accuracy within 0.01") {
    val df = clustered.repartition(3)
    def fit(budget: Long) = {
      val res = MlpBridge.trainClassifierWithin(df, "vector", "y",
        Seq(16), 100, 810L, budget)
      (res.holdoutMetric, res.predictions.select("id", "mlp_pred").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap)
    }
    val (sparkAcc, viaSpark) = fit(0L)
    val (localAcc, local) = fit(Long.MaxValue)
    assert(sparkAcc >= 0.9, s"Spark-side holdout accuracy $sparkAcc")
    assert(viaSpark.size == 180 && local.keySet == viaSpark.keySet)
    val agree = local.count { case (id, p) => viaSpark(id) == p }
    assert(agree >= 0.99 * 180, s"$agree of 180 predictions agree")
    assert(math.abs(localAcc - sparkAcc) <= 0.01, s"$localAcc vs $sparkAcc")
  }

  test("classifier under the gate: single-class input is rejected on " +
      "both sides, and the fit runs at most two jobs") {
    import spark.implicits._
    val one = Seq(("x", "only", Array(1f, 2f)), ("z", "only", Array(2f, 1f)))
      .toDF("id", "y", "vector")
    for (budget <- Seq(0L, Long.MaxValue))
      intercept[IllegalArgumentException] {
        MlpBridge.trainClassifierWithin(one, "vector", "y", Seq(4), 5, 810L,
          budget)
      }
    // a materialized input, as a pipeline stage hands it over
    val input = clustered.repartition(3).localCheckpoint(true)
    val (res, jobs) = jobsOf(MlpBridge.trainClassifier(
      input, "vector", "y", hidden = Seq(8), maxIter = 20))
    assert(res.predictions.columns.contains("mlp_pred"))
    assert(jobs <= 2, s"$jobs jobs")
  }

  test("in-process split: the collected draw picks sampleBy's train rows") {
    import org.apache.spark.sql.functions._
    val prepared = clustered.repartition(3)
      .withColumn("label", when(col("y") === "a", 0.0)
        .when(col("y") === "b", 1.0).otherwise(2.0))
      .cache()
    try {
      for (seed <- Seq(810L, 3L)) {
        val (rows, vecs) = MlpBridge.gathered(prepared, "vector", "y", seed,
          Long.MaxValue).get
        val train = rows.indices.filter(rows(_).getDouble(1) < 0.75)
          .map(i => vecs(i).toSeq).toSet
        val want = prepared.stat.sampleBy("label",
          Map(0.0 -> 0.75, 1.0 -> 0.75, 2.0 -> 0.75), seed)
          .select("vector").collect().map(_.getSeq[Float](0)).toSet
        assert(rows.length == 180)
        assert(train == want)
      }
    } finally { prepared.unpersist(); () }
  }

  test("classifier split: train rows equal sampleBy's for the same seed, " +
      "the holdout is their exact complement") {
    import org.apache.spark.sql.functions._
    val prepared = clustered.repartition(3)
      .withColumn("label", when(col("y") === "a", 0.0)
        .when(col("y") === "b", 1.0).otherwise(2.0))
      .cache()
    try {
      for (seed <- Seq(810L, 3L)) {
        val (train, test) = MlpBridge.stratifiedSplit(prepared, seed)
        def ids(df: org.apache.spark.sql.DataFrame): Set[String] =
          df.select("id").collect().map(_.getString(0)).toSet
        val want = ids(prepared.stat.sampleBy("label",
          Map(0.0 -> 0.75, 1.0 -> 0.75, 2.0 -> 0.75), seed))
        val trainIds = ids(train)
        val testIds = ids(test)
        assert(trainIds == want)
        assert((trainIds intersect testIds).isEmpty)
        assert((trainIds ++ testIds) == ids(prepared))
        assert(train.count() + test.count() == 180L)
      }
    } finally { prepared.unpersist(); () }
  }
}
