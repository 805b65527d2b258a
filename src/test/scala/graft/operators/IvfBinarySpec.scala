package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class IvfBinarySpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    .select("vec_id", "embedding")

  test("full-probe full-refine query is EXACTLY brute-force top-k") {
    val q = emb.filter($"vec_id" === 5).select("embedding")
      .head.getSeq[Float](0).toArray
    val idx = IvfBinary.buildWithCentroids(emb, "embedding", "vec_id",
      IvfIndex.build(emb, "embedding", "vec_id", nClusters = 8,
        maxIter = 4).centroids)
    val n = emb.count().toInt
    val got = idx.query(q, k = 5, nprobe = idx.cells.length, refineFactor = n)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.topK(emb, "embedding", "vec_id", q, 5)
      .select("vec_id", "distance")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want)
  }

  test("cell pruning reaches the scan as a cluster filter and keeps " +
      "the top-k heap plan") {
    val q = emb.filter($"vec_id" === 2).select("embedding")
      .head.getSeq[Float](0).toArray
    val idx = IvfBinary.buildWithCentroids(emb, "embedding", "vec_id",
      IvfIndex.build(emb, "embedding", "vec_id", nClusters = 8,
        maxIter = 4).centroids)
    val plan = idx.query(q, k = 5, nprobe = 2, refineFactor = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains(IvfIndex.ClusterCol),
      s"cell filter missing:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"candidate top-k lost:\n$plan")
  }
}
