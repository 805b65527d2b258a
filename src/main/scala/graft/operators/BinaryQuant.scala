package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Binary quantization ANN (faiss `IndexBinaryFlat` semantics over
  * sign codes): each dimension keeps ONE bit (`v > 0`), packed into
  * 64-bit words — a 64-dim float32 vector compresses 32× (256 B →
  * 8 B) and the candidate metric becomes XOR+popcount, the cheapest
  * distance a CPU can evaluate. Candidates ranked by Hamming distance
  * are re-ranked by exact squared-L2 against the original vectors —
  * the standard binary-quantization recall recovery (the [[Rerank]]
  * `refineFactor` contract).
  *
  * Training-free: no Lloyd's, no codebooks, no range fit — encode is a
  * single codegen'd projection, so unlike PQ/IVF the WHOLE pipeline is
  * deterministic integer arithmetic and fully oracle-checkable (no
  * fixed-centroid twin needed).
  *
  * Scale shape (100 TB): the codes table is the scan set at 32× fewer
  * bytes; a single query plans as `TakeOrderedAndProject` over the
  * codes (per-partition top heaps, no shuffle, no vector reads), and
  * only the k·refineFactor candidates touch the float vectors. The
  * batch form broadcasts the query codes and relies on
  * `WindowGroupLimit` to cut each partition to ≤ k·refine rows per
  * query before the rank shuffle. Compose with [[IvfIndex]] cell
  * pruning when linear popcount stops being enough.
  */
final class BinaryQuantIndex(
    val corpus: DataFrame, val codes: DataFrame,
    vecCol: String, idCol: String) extends Serializable {

  import BinaryQuant.CodeCol

  /** Approximate top-k under the [[Rerank]] contract: Hamming
    * distances pick the candidates. */
  def query(q: Array[Float], k: Int, refineFactor: Int = 8): DataFrame =
    Rerank.topK(codes, CodeCol, "__hd", k, refineFactor, corpus, vecCol,
        idCol, q)(_.withColumn("__hd", hamming_dist(col(CodeCol),
      typedLit(BinaryQuant.pack(q)))))

  /** Batch ANN join: per query row the approximate top-k corpus rows,
    * (queryIdCol, idCol, distance). The query side must be
    * broadcast-small (same contract as [[Similarity.topKJoin]]). */
  def queryBatch(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int, refineFactor: Int = 8): DataFrame = {
    val pool = Rerank.poolSize(k, refineFactor)
    // mirror build()'s null-code discipline on the query side: a null
    // query vector would yield null __qbits/__hd, and the ascending
    // Hamming sort puts NULLS FIRST — that query would get k arbitrary
    // candidates with null distances instead of being excluded
    val q = queries.where(col(queryVecCol).isNotNull)
      .select(col(queryIdCol),
        sign_bits(col(queryVecCol)).as("__qbits"),
        col(queryVecCol).as("__qvec"))
    val wHam = Window.partitionBy(queryIdCol)
      .orderBy(col("__hd").asc, col(idCol).asc)
    val cand = codes.crossJoin(broadcast(q))
      .withColumn("__hd", hamming_dist(col(CodeCol), col("__qbits")))
      .withColumn("__rn", row_number().over(wHam))
      .filter(col("__rn") <= pool)
      .select(col(queryIdCol), col(idCol), col("__qvec"))
    val wDist = Window.partitionBy(queryIdCol)
      .orderBy(col("distance").asc, col(idCol).asc)
    cand.join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .withColumn("distance", squared_l2(col(vecCol), col("__qvec")))
      .withColumn("__rn", row_number().over(wDist))
      .filter(col("__rn") <= k)
      .select(col(queryIdCol), col(idCol), col("distance"))
  }

  /** Persist the compressed table — (id, packed words): ceil(dim/64)
    * longs of payload per row. */
  def writeCodes(path: String): Unit =
    codes.write.mode("overwrite").parquet(path)
}

object BinaryQuant {
  val CodeCol = "bq_code"

  /** Driver-side twin of the [[graft.functions.SignBits]] kernel (for
    * encoding literal query vectors). */
  def pack(v: Array[Float]): Array[Long] = {
    val words = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) > 0f) words(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    words
  }

  /** Encode the corpus: one narrow codegen'd projection, no training
    * pass. Null vectors are excluded from the codes (a null code would
    * sort NULLS FIRST into every candidate set). */
  def build(df: DataFrame, vecCol: String, idCol: String): BinaryQuantIndex = {
    val codes = df.where(col(vecCol).isNotNull)
      .select(col(idCol), sign_bits(col(vecCol)).as(CodeCol))
    new BinaryQuantIndex(df, codes, vecCol, idCol)
  }
}
