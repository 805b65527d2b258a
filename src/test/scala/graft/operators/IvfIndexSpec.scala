package graft.operators

import graft.SparkSpec

class IvfIndexSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val emb = spark.read
    .parquet(s"${sf()}/embeddings.parquet")
    .select("vec_id", "embedding")
    .cache()

  private lazy val index =
    IvfIndex.build(emb, "embedding", "vec_id", nClusters = 16)

  private def bruteTop(q: Array[Float], k: Int): Seq[Long] =
    Similarity.topK(emb, "embedding", "vec_id", q, k)
      .collect().map(_.getLong(0)).toSeq

  private def queries: Seq[Array[Float]] =
    emb.filter(col("vec_id") < 20).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).toArray).toSeq

  test("every row is assigned its nearest centroid") {
    val n = index.assigned.count()
    assert(n == 500)
    val nCells = index.assigned.select(IvfIndex.ClusterCol).distinct().count()
    assert(nCells > 1 && nCells <= 16)
  }

  test("nprobe = nClusters is exact (matches brute force)") {
    for (q <- queries.take(5)) {
      val ivf = index.query(q, k = 10, nprobe = 16)
        .collect().map(_.getLong(0)).toSeq
      assert(ivf == bruteTop(q, 10))
    }
  }

  test("nprobe=4 of 16 keeps high recall@10") {
    val recalls = queries.map { q =>
      val ivf = index.query(q, k = 10, nprobe = 4)
        .collect().map(_.getLong(0)).toSet
      val exact = bruteTop(q, 10).toSet
      (ivf intersect exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@10 $mean over ${recalls.size} queries")
  }

  test("queryBatch with full probe matches the brute-force batch join") {
    val qdf = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = index.queryBatch(qdf, "query_id", "embedding", k = 5,
      nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    val want = Similarity.topKJoin(emb, qdf, k = 5,
      corpusIdCol = "vec_id", corpusVecCol = "embedding",
      queryIdCol = "query_id", queryVecCol = "embedding")
      .select("query_id", "vec_id", "distance")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._3, t._2))
    assert(got.sameElements(want))
  }

  test("queryBatch multi-probe keeps high recall without broadcast") {
    val qdf = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val approx = index.queryBatch(qdf, "query_id", "embedding", k = 10,
      nprobe = 4)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = queries.zipWithIndex.map { case (q, i) =>
      val exact = bruteTop(q, 10).toSet
      (approx.getOrElse(i.toLong, Set.empty) intersect exact).size.toDouble /
        exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@10 $mean over ${recalls.size} queries")
  }

  test("partitioned write prunes probed cells at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    IvfIndex.save(index, s"$dir/ivf")
    val reloaded = IvfIndex.loadSaved(spark, s"$dir/ivf", "embedding",
      "vec_id")
    val q = queries.head
    assert(reloaded.query(q, 5, nprobe = 16).collect().map(_.getLong(0)).toSeq
      == bruteTop(q, 5))
    // the probed query's scan must carry partition filters
    val plan = reloaded.query(q, 5, nprobe = 2).queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(s"${IvfIndex.ClusterCol}#"),
      s"expected pruned scan, got:\n$plan")
  }

  test("lloydStepMeans emits one Lloyd's recenter, hand-checked: " +
      "argmin assignment then exact per-cell per-dim means") {
    val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val got = IvfIndex.lloydStepMeans(emb, "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))
    def cellOf(v: Array[Float]): Int =
      cents.zipWithIndex.minBy { case (c, i) =>
        (graft.functions.VectorOps.squaredL2Floats(v, c), i) }._2
    val byCell = rows.groupBy { case (_, v) => cellOf(v) }
    assert(got.keySet.map(_._1) == byCell.keySet.map(_.toLong))
    for ((cell, members) <- byCell; d <- cents(0).indices) {
      val mean = members.map(_._2(d).toDouble).sum / members.size
      val (v, n) = got((cell.toLong, d.toLong))
      assert(n == members.size)
      assert(math.abs(v - mean) <= 1e-6, s"cell $cell dim $d: $v vs $mean")
    }
  }

  test("cellStats: counts reconcile, per-cell quantization error is " +
      "non-negative and its max bounds its mean") {
    val stats = index.cellStats.collect()
    assert(stats.map(_.getLong(1)).sum == 500L)
    assert(stats.forall(r => r.getDouble(2) >= 0 &&
      r.getDouble(3) >= r.getDouble(2)))
  }

  test("fitted centroids are bit-identical for 1 and 7 input partitions") {
    def fit(parts: Int) = IvfIndex.build(emb.repartition(parts),
      "embedding", "vec_id", nClusters = 16).centroids.map(_.toSeq).toSeq
    val one = fit(1)
    assert(one == fit(7))
    assert(one == index.centroids.map(_.toSeq).toSeq)
  }

  test("bad training input raises a named error, never an NPE") {
    import spark.implicits._
    def err(df: org.apache.spark.sql.DataFrame): String =
      intercept[IllegalArgumentException] {
        IvfIndex.build(df, "embedding", "vec_id", nClusters = 4)
      }.getMessage
    val good = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 1f)))
    assert(err(good.toDF("vec_id", "embedding").filter("vec_id < 0"))
      .contains("empty"))
    assert(err((good :+ ((99L, null.asInstanceOf[Array[Float]])))
      .toDF("vec_id", "embedding")).contains("null vectors"))
    assert(err((good :+ ((99L, Array(1f, 2f, 3f))))
      .toDF("vec_id", "embedding")).contains("mixed vector dims"))
    assert(err((0 until 20).map(i => (i.toLong, Array(1f, 1f)))
      .toDF("vec_id", "embedding")).contains("distinct vectors"))
  }

  test("a vector with more copies than the sample cap still seeds every " +
      "cell") {
    import spark.implicits._
    // 256 × 2 = 512 rows cap; [1, 0] alone fills it many times over
    val crowded = Seq.tabulate(1000)(i => (i.toLong, Array(1f, 0f))) ++
      Seq((1000L, Array(0f, 1f)), (1001L, Array(5f, 5f)))
    val sameId = Seq.fill(1000)((1L, Array(1f, 0f))) ++
      Seq((2L, Array(0f, 1f)), (3L, Array(5f, 5f)))
    for (rows <- Seq(crowded, sameId); seed <- 0L until 6L) {
      val idx = IvfIndex.build(rows.toDF("vec_id", "embedding"), "embedding",
        "vec_id", nClusters = 2, seed = seed)
      assert(idx.centroids.length == 2, s"seed $seed")
      assert(idx.centroids.map(_.toSeq).distinct.length == 2, s"seed $seed")
    }
  }
}
