package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${sf()}/embeddings.parquet")
    .select("vec_id", "embedding")
    .cache()

  private lazy val index = IvfPqIndex.build(emb, "embedding", "vec_id",
    nClusters = 8, m = 8, codesPerBook = 32)

  private def bruteTop(q: Array[Float], k: Int): Seq[Long] =
    Similarity.topK(emb, "embedding", "vec_id", q, k)
      .collect().map(_.getLong(0)).toSeq

  private def queries: Seq[Array[Float]] =
    emb.filter(col("vec_id") < 10).orderBy("vec_id")
      .collect().map(_.getSeq[Float](1).toArray).toSeq

  test("full probe + full-corpus refine is exact by construction") {
    val q = queries.head
    val got = index.query(q, k = 10, nprobe = 8, refineFactor = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(got == bruteTop(q, 10))
  }

  test("multi-probe keeps high recall@10 with a 32x-compressed scan") {
    val recalls = queries.map { q =>
      val got = index.query(q, k = 10, nprobe = 5, refineFactor = 8)
        .collect().map(_.getLong(0)).toSet
      val want = bruteTop(q, 10).toSet
      (got & want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.8, s"mean recall@10 $mean below 0.8 ($recalls)")
  }

  test("residual codes differ from raw-vector codes (the IVFPQ part)") {
    // rows of the same cell but different positions must not collapse:
    // residual quantization keeps within-cell structure
    val codes = index.table.select(PqIndex.CodeCol).distinct().count()
    assert(codes > index.cells.length,
      s"only $codes distinct codes across ${index.cells.length} cells")
  }

  test("partitioned table prunes probed cells and reads only codes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    IvfPqIndex.save(index, s"$dir/t")
    val loaded = IvfPqIndex.loadSaved(spark, s"$dir/t", emb, "embedding",
      "vec_id")
    val q = queries.head
    assert(loaded.query(q, 10, nprobe = 8, refineFactor = 50)
      .collect().map(_.getLong(0)).toSeq == bruteTop(q, 10))
    val plan = loaded.query(q, 5, nprobe = 2, refineFactor = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"),
      s"probed scan not pruned:\n$plan")
    assert(!plan.contains("embedding#"),
      s"ADC scan reads raw vectors:\n$plan")
  }

  test("cells and codebooks are bit-identical for 1 and 7 input " +
      "partitions; bad training input raises a named error") {
    def fit(parts: Int) = {
      val idx = IvfPqIndex.build(emb.repartition(parts), "embedding",
        "vec_id", nClusters = 8, m = 8, codesPerBook = 32)
      (idx.cells.map(_.toSeq).toSeq,
        idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    }
    assert(fit(1) == fit(7))
    val nullVec = Seq((1L, Array(1f, 2f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfPqIndex.build(nullVec, "embedding", "vec_id", nClusters = 2, m = 2,
        codesPerBook = 4)
    }
    assert(e.getMessage.contains("null vectors"))
    intercept[IllegalArgumentException] {
      IvfPqIndex.build(emb.filter("vec_id < 0"), "embedding", "vec_id",
        nClusters = 2, m = 2, codesPerBook = 4)
    }
  }
}
