package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** IVF-SQ — coarse cells prune the ROWS scanned ([[IvfIndex]] partition
  * pruning), scalar quantization shrinks the BYTES per scanned row 4×
  * ([[SqIndex]]), composed the faiss `IndexIVFScalarQuantizer` way: the
  * byte range is fitted on each vector's RESIDUAL against its cell
  * centroid — residual spread is far tighter than the raw corpus's, so
  * 8 bits buy markedly finer resolution than a global fit.
  *
  * The middle point of the compression/precision curve: cheaper to fit
  * than IVF-PQ (one min/max pass, no codebook training), 4× instead of
  * 32× compression, tighter approximate distances. Query: rank cells
  * driver-side, per probed cell fuse reconstruct-and-distance over that
  * cell's pruned partition with the query's residual, union the nprobe
  * branches into one global top-(k·refine), re-rank exactly in the
  * original space ([[Rerank]]). No corpus shuffle anywhere.
  */
final class IvfSqIndex(
    val cells: Array[Array[Float]],
    val lo: Array[Float], val step: Array[Float],
    val table: DataFrame,
    val corpus: DataFrame,
    vecCol: String, idCol: String) extends Serializable {

  def dim: Int = lo.length

  /** Approximate top-k under the [[Rerank]] contract: per probed cell,
    * SQ-ADC of the query's residual scores that cell's codes. */
  def query(q: Array[Float], k: Int, nprobe: Int = 4,
      refineFactor: Int = 4): DataFrame =
    Rerank.topK(table, SqIndex.CodeCol, "distance", k, refineFactor, corpus,
        vecCol, idCol, q) { codes =>
      IvfIndex.residualBranches(codes, cells, q, nprobe, idCol)(residQ =>
        sq_adc(col(SqIndex.CodeCol), residQ, lo, step))
    }
}

object IvfSqIndex {

  /** Build the composed index: coarse IVF fit, residuals (one narrow
    * codegen'd map), SQ range fit on the residuals (one treeAggregate),
    * one narrow projection to the (id, cell, code) table. */
  def build(df: DataFrame, vecCol: String, idCol: String,
      nClusters: Int = 16, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxIter: Int = 8): IvfSqIndex = {
    val ivf = IvfIndex.build(df, vecCol, idCol, nClusters, seed,
      sampleFraction, maxIter)
    val resid = ivf.assigned.withColumn("__resid",
      cell_residual(col(IvfIndex.ClusterCol), col(vecCol), ivf.centroids))
    val sq = SqIndex.fit(resid.select(col(idCol), col("__resid")),
      "__resid", idCol)
    // cache: queries fan into nprobe filtered branches — without this
    // each branch would recompute assignment + residual + encode; the
    // cached form is dim bytes/row (see IvfPqIndex.build's rationale)
    // null residuals (null input vectors) would encode to null codes
    // and sort NULLS FIRST into the candidate slots — drop them here,
    // matching SqIndex.fit's own null discipline
    val table = resid.where(col("__resid").isNotNull)
      .select(col(idCol), col(IvfIndex.ClusterCol),
        sq_encode(col("__resid"), sq.lo, sq.step).as(SqIndex.CodeCol))
      .cache()
    new IvfSqIndex(ivf.centroids, sq.lo, sq.step, table, df, vecCol,
      idCol)
  }
}
