package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Matryoshka representation search (MRL, Kusupati et al. 2022,
  * arXiv:2205.13147): MRL-trained embeddings concentrate meaning in
  * their leading dimensions, so a vector TRUNCATED to its first d'
  * dims and re-normalized is a valid low-cost embedding. The standard
  * adaptive-retrieval deployment is two-stage: score candidates at a
  * small prefix (d'/d of the bytes and FLOPs), then re-rank the
  * short-list with full-dimension exact distances.
  *
  * Scale shape: the truncated scoring is a narrow projection +
  * `TakeOrderedAndProject` over the corpus (no shuffle; with column
  * pruning a prefix-sliced copy of the corpus reads d'/d of the scan
  * bytes when stored truncated); only k·refineFactor rows touch the
  * full vectors. Composes with [[BinaryQuant]]/[[IvfIndex]] for the
  * candidate stage when linear stops being enough.
  */
object Matryoshka {

  /** Truncate to the leading `dims` and L2-renormalize — the MRL
    * low-dim embedding contract. Uses the same codegen'd
    * [[graft.functions.L2Normalize]] float discipline as the full
    * vectors (double-widened norm, multiply by reciprocal, truncate
    * back to float32). */
  def truncate(v: Column, dims: Int): Column = {
    require(dims > 0, "dims must be positive")
    l2_normalize(slice(v, 1, dims))
  }

  /** Two-stage MRL top-k under the [[Rerank]] contract: squared-L2
    * over the `dims`-prefix units picks the candidates, so
    * `refineFactor == 1` returns the truncated-space distances. */
  def topK(corpus: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], dims: Int, k: Int,
      refineFactor: Int = 4): DataFrame = {
    require(query.length >= dims,
      s"query dim ${query.length} < truncation dims $dims")
    Rerank.topK(corpus, vecCol, "__mrl_d", k, refineFactor, corpus, vecCol,
        idCol, query)(_.withColumn("__mrl_d", squared_l2(
      truncate(col(vecCol), dims), truncate(typedLit(query), dims))))
  }
}
