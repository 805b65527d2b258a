package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** IVF-PQ — the composed 10⁹+-row ANN layout (faiss `IndexIVFPQ`
  * semantics): coarse cells prune the ROWS scanned (partition pruning,
  * [[IvfIndex]]), product quantization shrinks the BYTES per scanned
  * row 32× ([[PqIndex]]), and — like faiss, unlike naive composition —
  * the codebooks quantize each vector's RESIDUAL against its cell
  * centroid, whose distribution is far tighter than the raw vectors',
  * so the same codebook budget buys more precision.
  *
  * Query: rank cells driver-side, then per probed cell build the ADC
  * table for `q - cellCentroid` (driver-side, nprobe × m × k entries)
  * and scan ONLY that cell's partition of the codes table with m byte
  * lookups per row; the nprobe pruned scans union into one global
  * top-(k·refine) and the exact re-rank joins the original corpus by
  * id. Every stage is either a pruned scan, a narrow map, or a
  * TakeOrderedAndProject — no shuffle of the corpus anywhere.
  */
final class IvfPqIndex(
    val cells: Array[Array[Float]],
    val codebooks: Array[Array[Array[Float]]],
    val table: DataFrame,
    val corpus: DataFrame,
    vecCol: String, idCol: String)
    extends Serializable {

  def codesPerBook: Int = codebooks(0).length

  /** Approximate top-k under the [[Rerank]] contract: per probed cell,
    * the ADC table of the query's residual scores that cell's codes. */
  def query(q: Array[Float], k: Int, nprobe: Int = 4,
      refineFactor: Int = 4): DataFrame = {
    Rerank.topK(table, PqIndex.CodeCol, "distance", k, refineFactor, corpus,
        vecCol, idCol, q) { codes =>
      IvfIndex.residualBranches(codes, cells, q, nprobe, idCol) { residQ =>
        pq_adc(col(PqIndex.CodeCol), PqIndex.adcTable(codebooks, residQ),
          codesPerBook)
      }
    }
  }

  /** Persist the compressed table partitioned by cell: probed queries
    * read nprobe directories of m-byte codes — the 100 TB layout. */
  def writeTable(path: String): Unit =
    table.write.mode("overwrite")
      .partitionBy(IvfIndex.ClusterCol).parquet(path)
}

object IvfPqIndex {

  /** Build the composed index: coarse IVF fit, PQ fit on the
    * residuals, then ONE narrow projection to the (id, cell, code)
    * table — no join between the two stages.
    *
    * Training shape: one top-N collect (two for a large frame) brings
    * the `sampleFraction` sample to the driver, cut at 256 ×
    * max(nClusters, codesPerBook) rows and at a driver byte budget
    * ([[LocalFit.trainingSample]]). The coarse Lloyd's fit, the
    * residuals of that same sample and the PQ fit on them all run
    * in-process. Scale shape: the corpus is touched once, by the lazy
    * assign-residual-encode narrow map. */
  def build(df: DataFrame, vecCol: String, idCol: String,
      nClusters: Int = 16, m: Int = 8, codesPerBook: Int = 256,
      seed: Long = 42L, sampleFraction: Double = 1.0,
      maxIter: Int = 8): IvfPqIndex = {
    val (cells, resid) = fitCells(df, vecCol, idCol, nClusters,
      codesPerBook, seed, sampleFraction, maxIter)
    val books = PqIndex.fitBooks(resid, m, codesPerBook, seed, maxIter)
    // cache the codes table: queries fan out into nprobe filtered
    // branches, and without this each branch would recompute cell
    // assignment + residual + encode over the full corpus. The cached
    // form is m bytes/row — "codes fit in memory" IS the PQ design
    // point; the durable twin is writeTable's partitioned layout.
    val table = residualFrame(df, vecCol, idCol, cells)
      .select(col(idCol), col(IvfIndex.ClusterCol),
        pq_encode(col("__resid"), books).as(PqIndex.CodeCol)).cache()
    new IvfPqIndex(cells, books, table, df, vecCol, idCol)
  }

  /** The coarse centroids and the residuals of the same collected
    * training sample against them. */
  private def fitCells(df: DataFrame, vecCol: String, idCol: String,
      nClusters: Int, codesPerBook: Int, seed: Long, sampleFraction: Double,
      maxIter: Int): (Array[Array[Float]], Array[Array[Float]]) = {
    require(nClusters >= 2, "need at least 2 clusters")
    val sample = LocalFit.trainingSample(df, vecCol, idCol, seed,
      sampleFraction, math.max(nClusters, codesPerBook), "IVF-PQ")
    val cells = IvfIndex.fitCentroids(sample, nClusters, maxIter, 0.0)
    (cells, LocalFit.residuals(sample, cells))
  }

  private def residualFrame(df: DataFrame, vecCol: String, idCol: String,
      cells: Array[Array[Float]]): DataFrame =
    IvfIndex.assignCells(df.select(col(idCol), col(vecCol)), vecCol, cells)
      .withColumn("__resid",
        cell_residual(col(IvfIndex.ClusterCol), col(vecCol), cells))

  /** Persist the whole index under one root: the cell-partitioned
    * codes table (`<path>/table`), coarse centroids (`<path>/cells`),
    * and codebooks (`<path>/books`). A search job reopens
    * everything from the path via [[loadSaved]]: the honest
    * fit-offline / search-online split at 100 TB, where Lloyd's runs
    * in a scheduled build job and queries only read nprobe partition
    * directories of m-byte codes. */
  def save(idx: IvfPqIndex, path: String): Unit = {
    val spark = idx.table.sparkSession
    idx.writeTable(s"$path/table")
    IndexArtifacts.writeMatrix(spark, idx.cells, s"$path/cells")
    IndexArtifacts.writeBooks(spark, idx.codebooks, s"$path/books")
  }

  /** Reopen a [[save]]d index against its corpus (exact re-rank side). */
  def loadSaved(spark: SparkSession, path: String, corpus: DataFrame,
      vecCol: String, idCol: String): IvfPqIndex =
    new IvfPqIndex(
      IndexArtifacts.readMatrix(spark, s"$path/cells"),
      IndexArtifacts.readBooks(spark, s"$path/books"),
      spark.read.parquet(s"$path/table"), corpus, vecCol, idCol)
}
