package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

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
  * corpus shuffle anywhere; the probed cells' codes are 8 bytes/row
  * for 64-dim vectors.
  */
final class IvfBinaryIndex(
    val cells: Array[Array[Float]],
    val table: DataFrame,
    val corpus: DataFrame,
    vecCol: String, idCol: String) extends Serializable {

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
}

object IvfBinary {

  /** Build over FIXED centroids (deterministic end-to-end — the
    * oracle-checkable configuration, and the production shape when
    * centroids come from an offline fit). */
  def buildWithCentroids(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Float]]): IvfBinaryIndex = {
    // null vectors would encode to null codes and sort NULLS FIRST
    // into every candidate slot — drop them (BinaryQuant discipline)
    val table = IvfIndex.assignCells(df, vecCol, centroids)
      .where(col(vecCol).isNotNull)
      .select(col(idCol), col(IvfIndex.ClusterCol),
        sign_bits(col(vecCol)).as(BinaryQuant.CodeCol))
      .cache()
    new IvfBinaryIndex(centroids, table, df, vecCol, idCol)
  }
}
