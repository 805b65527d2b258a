package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scalar quantization (SQ8) ANN — the simplest point on the
  * compression/recall curve (faiss `IndexScalarQuantizer(QT_8bit)`
  * semantics): each dimension is quantized independently to one
  * unsigned byte against a per-dim [lo, hi] range fitted over the
  * corpus, so a 64-dim float32 row compresses 4× (256 B → 64 B) with
  * near-exact recall once re-ranked. Where PQ buys 32× at the cost of a
  * trained codebook and coarser distances, SQ8 is training-light (one
  * min/max pass), decode-free at scan time, and its approximate
  * distances are tight — the right first step before reaching for PQ.
  *
  *  - '''fit''': one `treeAggregate` over the vectors computing per-dim
  *    min/max — partials combine per partition, the driver holds 2×dim
  *    floats. No sampling needed; min/max is exact and cheap.
  *  - '''encode''': one codegen'd [[graft.functions.SqEncode]]
  *    projection → (id, dim-byte code).
  *  - '''query''': codegen'd [[graft.functions.SqAdcDistance]] fuses
  *    reconstruction and squared-L2 into one pass over the code bytes;
  *    planned as `TakeOrderedAndProject` over the codes frame (no
  *    shuffle, no vector reads). `refineFactor` re-ranks candidates by
  *    exact distance against the original vectors ([[Rerank]]).
  *
  * At 100 TB the codes table IS the scan set: 4× fewer bytes than the
  * raw vectors, still linear — compose with [[IvfIndex]] cell pruning
  * (encode within the IVF layout) when linear stops being enough.
  */
final class SqIndex(
    val lo: Array[Float], val step: Array[Float],
    val corpus: DataFrame, val codes: DataFrame,
    vecCol: String, idCol: String) extends Serializable {

  def dim: Int = lo.length

  /** Approximate top-k under the [[Rerank]] contract: SQ-ADC distances
    * pick the candidates. */
  def query(q: Array[Float], k: Int, refineFactor: Int = 4): DataFrame = {
    require(q.length == dim, s"query dim ${q.length} != fitted dim $dim")
    Rerank.topK(codes, SqIndex.CodeCol, "distance", k, refineFactor, corpus,
        vecCol, idCol, q)(_.withColumn("distance",
      sq_adc(col(SqIndex.CodeCol), q, lo, step)))
  }

  /** Persist the compressed table — (id, code), dim bytes of payload
    * per row. */
  def writeCodes(path: String): Unit =
    codes.write.mode("overwrite").parquet(path)
}

object SqIndex {
  val CodeCol = "sq_code"

  /** Fit per-dim [lo, hi] over the corpus and encode it. One exact
    * min/max pass (treeAggregate, no shuffle) + one encode projection. */
  def fit(df: DataFrame, vecCol: String, idCol: String): SqIndex = {
    val vecs = df.select(col(vecCol).cast(ArrayType(FloatType)))
      .where(col(vecCol).isNotNull)
    val (lo, hi) = vecs.rdd
      .treeAggregate((null: Array[Float], null: Array[Float]))(
        seqOp = { case ((mn, mx), row) =>
          val v = row.getSeq[Float](0)
          if (mn == null) {
            val a = v.toArray; (a, a.clone())
          } else {
            require(v.length == mn.length,
              s"vector length ${v.length} != ${mn.length}")
            var i = 0
            while (i < mn.length) {
              val x = v(i)
              if (x < mn(i)) mn(i) = x
              if (x > mx(i)) mx(i) = x
              i += 1
            }
            (mn, mx)
          }
        },
        combOp = {
          case ((null, _), b) => b
          case (a, (null, _)) => a
          case ((amn, amx), (bmn, bmx)) =>
            var i = 0
            while (i < amn.length) {
              if (bmn(i) < amn(i)) amn(i) = bmn(i)
              if (bmx(i) > amx(i)) amx(i) = bmx(i)
              i += 1
            }
            (amn, amx)
        })
    require(lo != null, "cannot fit SQ on an empty corpus")
    val step = Array.tabulate(lo.length)(i => (hi(i) - lo(i)) / 255f)
    // Encode only non-null vectors: a null vector would yield a null
    // code, sq_adc a null distance, and ascending sort is NULLS FIRST —
    // null rows would squat in the top-k candidate slots.
    val codes = df.where(col(vecCol).isNotNull).select(col(idCol),
      sq_encode(col(vecCol), lo, step).as(CodeCol))
    new SqIndex(lo, step, df.select(col(idCol), col(vecCol)), codes,
      vecCol, idCol)
  }

  /** Reload a codes table written by [[SqIndex.writeCodes]] against its
    * corpus (for the exact re-rank) and fitted range. */
  def load(spark: SparkSession, codesPath: String, lo: Array[Float],
      step: Array[Float], corpus: DataFrame, vecCol: String,
      idCol: String): SqIndex =
    new SqIndex(lo, step, corpus, spark.read.parquet(codesPath), vecCol,
      idCol)

  /** Persist codes AND fitted params under one root (`<path>/codes`,
    * `<path>/params`) — parquet, so it lands on whatever shared
    * filesystem the cluster writes (fit offline, search online). */
  def save(idx: SqIndex, path: String): Unit = {
    idx.writeCodes(s"$path/codes")
    val spark = idx.codes.sparkSession
    import spark.implicits._
    Seq((idx.lo.toSeq, idx.step.toSeq)).toDF("lo", "step")
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Reopen a [[save]]d index against its corpus. */
  def loadSaved(spark: SparkSession, path: String, corpus: DataFrame,
      vecCol: String, idCol: String): SqIndex = {
    val p = spark.read.parquet(s"$path/params").head
    load(spark, s"$path/codes",
      p.getSeq[Float](p.fieldIndex("lo")).toArray,
      p.getSeq[Float](p.fieldIndex("step")).toArray,
      corpus, vecCol, idCol)
  }
}
