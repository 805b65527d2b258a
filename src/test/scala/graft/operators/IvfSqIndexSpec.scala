package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfSqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def noise(i: Int, j: Int): Float = {
    var h = i * 0x9E3779B9 + j * 0x85EBCA6B
    h = (h ^ (h >>> 16)) * 0xC2B2AE35
    ((h & 0xFFFF).toFloat / 0xFFFF.toFloat - 0.5f) * 0.02f
  }

  private def clustered(): Seq[(Long, Array[Float])] = {
    val anchors = Seq(
      Array.fill(8)(0f), Array.fill(8)(3f),
      Array.tabulate(8)(i => if (i < 4) 6f else 0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 0f else 6f))
    for (c <- 0 until 4; r <- 0 until 20) yield {
      val id = (c * 20 + r).toLong
      (id, Array.tabulate(8)(j => anchors(c)(j) + noise(id.toInt, j)))
    }
  }

  test("full probe + full refine is exact by construction") {
    val df = clustered().toDF("vid", "vec")
    val idx = IvfSqIndex.build(df, "vec", "vid", nClusters = 4, maxIter = 5)
    val q = Array.tabulate(8)(j => 1f + noise(5, j))
    val got = idx.query(q, k = 3, nprobe = idx.cells.length, refineFactor = 80)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Similarity.topK(df, "vec", "vid", q, 3)
      .select("vid", "distance")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("recall on real embeddings: probed IVF-SQ finds the exact top-5") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = IvfSqIndex.build(emb, "embedding", "vec_id", nClusters = 8,
      maxIter = 5)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    val got = idx.query(q, k = 5, nprobe = 4, refineFactor = 8)
      .collect().map(_.getLong(0)).toSet
    val want = Similarity.topK(emb, "embedding", "vec_id", q, 5)
      .collect().map(_.getLong(0)).toSet
    assert(got.intersect(want).size >= 4, s"$got vs $want")
  }

  test("residual-fitted range is tighter than a raw-corpus fit") {
    val df = clustered().toDF("vid", "vec")
    val idx = IvfSqIndex.build(df, "vec", "vid", nClusters = 4, maxIter = 5)
    val raw = SqIndex.fit(df, "vec", "vid")
    val residSpread = idx.step.map(_ * 255.0).sum
    val rawSpread = raw.step.map(_ * 255.0).sum
    assert(residSpread < rawSpread,
      s"residual spread $residSpread !< raw $rawSpread")
  }

  test("probed ADC scan plans without Exchange (pruned branches + union)") {
    val df = clustered().toDF("vid", "vec")
    val idx = IvfSqIndex.build(df, "vec", "vid", nClusters = 4, maxIter = 5)
    val plan = idx.query(Array.fill(8)(1f), 3, nprobe = 2,
      refineFactor = 1).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange"), plan)
  }
}
