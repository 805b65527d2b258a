package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF + binary quantization — coarse cells prune the ROWS scanned
  * ([[IvfIndex]] partition pruning), sign codes shrink the BYTES per
  * scanned row 32× and the candidate metric to XOR+popcount
  * ([[BinaryQuant]]), composed the faiss `IndexBinaryIVF` way: a
  * float coarse quantizer routes queries to cells, Hamming distance
  * ranks candidates inside the probed cells only. The cheapest point
  * of the whole pruned-index family — no codebooks, no range fit, the
  * binary encode is a single projection — and because nothing besides
  * the coarse centroids is trained, a fixed-centroid instance is
  * deterministic end-to-end.
  *
  * Query: rank cells driver-side against the query (nCells·dim
  * flops), scan the nprobe pruned partitions with one packed-word
  * Hamming kernel (the query's code is a literal — no per-branch
  * recompute) into one global (hd, id) top-(k·refine) heap, re-rank
  * exactly in the original float space ([[Rerank]]). No
  * corpus shuffle anywhere; the codes table partitioned by cell reads
  * nprobe directories at 8 bytes/row for 64-dim vectors.
  */
final class IvfBinaryIndex(
    val cells: Array[Array[Float]],
    val table: DataFrame,
    val corpus: DataFrame,
    vecCol: String, idCol: String) extends Serializable {

  def nCells: Int = cells.length

  /** Approximate top-k under the [[Rerank]] contract: Hamming
    * distances over the probed cells pick the candidates. */
  def query(q: Array[Float], k: Int, nprobe: Int = 4,
      refineFactor: Int = 8): DataFrame = {
    val probed = IvfIndex.probe(cells, q, nprobe).map(Integer.valueOf)
    Rerank.topK(table.filter(col(IvfIndex.ClusterCol).isin(probed: _*)),
        BinaryQuant.CodeCol, "__hd", k, refineFactor, corpus, vecCol, idCol,
        q)(_.withColumn("__hd", hamming_dist(col(BinaryQuant.CodeCol),
      typedLit(BinaryQuant.pack(q)))))
  }

  /** Persist the codes table partitioned by cell — probed queries read
    * nprobe directories of packed-word codes. */
  def writeTable(path: String): Unit =
    table.write.mode("overwrite")
      .partitionBy(IvfIndex.ClusterCol).parquet(path)
}

object IvfBinary {

  /** Build with trained coarse centroids (sampled k-means via
    * [[IvfIndex.build]]) + one narrow sign-encode projection. */
  def build(df: DataFrame, vecCol: String, idCol: String,
      nClusters: Int = 16, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxIter: Int = 8): IvfBinaryIndex = {
    val ivf = IvfIndex.build(df, vecCol, idCol, nClusters, seed,
      sampleFraction, maxIter)
    fromAssigned(ivf.centroids, ivf.assigned, df, vecCol, idCol)
  }

  /** Build over FIXED centroids (deterministic end-to-end — the
    * oracle-checkable configuration, and the production shape when
    * centroids come from an offline fit). */
  def buildWithCentroids(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Float]]): IvfBinaryIndex =
    fromAssigned(centroids,
      IvfIndex.assignCells(df, vecCol, centroids), df, vecCol, idCol)

  private def fromAssigned(cents: Array[Array[Float]], assigned: DataFrame,
      df: DataFrame, vecCol: String, idCol: String): IvfBinaryIndex = {
    // null vectors would encode to null codes and sort NULLS FIRST
    // into every candidate slot — drop them (BinaryQuant discipline)
    val table = assigned.where(col(vecCol).isNotNull)
      .select(col(idCol), col(IvfIndex.ClusterCol),
        sign_bits(col(vecCol)).as(BinaryQuant.CodeCol))
      .cache()
    new IvfBinaryIndex(cents, table, df, vecCol, idCol)
  }

  /** Reload a partitioned codes table written by
    * [[IvfBinaryIndex.writeTable]]. */
  def load(spark: SparkSession, path: String, cells: Array[Array[Float]],
      corpus: DataFrame, vecCol: String, idCol: String): IvfBinaryIndex =
    new IvfBinaryIndex(cells, spark.read.parquet(path), corpus, vecCol,
      idCol)
}
