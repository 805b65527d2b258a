package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.hashing.MurmurHash3

/** A self-contained QUANTIZED embedding model with weights that live
  * on disk — the full "load a checkpoint → batched inference → index"
  * path of a real model deployment (reference semantics: batch →
  * pool → vector, `/root/reference/vsu/text/_classes.py:47-55`),
  * with the one substitution the zero-egress environment forces: the
  * weight matrix is a seeded random projection instead of trained E5
  * weights. Everything else is production-shaped:
  *
  *  - the checkpoint is a real multi-MB parquet artifact (per-bucket
  *    int8 rows + dequantization scale — the layout of an int8
  *    symmetric-quantized embedding table),
  *  - executors receive the QUANTIZED bytes (4× smaller than float32)
  *    and dequantize once into a `@transient lazy val` — per-executor
  *    model init, exactly how real weights would ship,
  *  - inference runs through [[ColumnarEmbedder.embedBatch]]: one
  *    call per packed varchar batch, no per-row path, so swapping the
  *    matrix for real trained weights (same artifact schema) changes
  *    no plumbing.
  *
  * Model semantics: signed-hash bag-of-words into `vocab` buckets,
  * each bucket owning a `dim`-wide weight row; a document embeds as
  * the MEAN of its token rows (mean pooling, as E5 does) followed by
  * L2 normalization. Random projection preserves dot-product geometry
  * in expectation (Johnson–Lindenstrauss), so nearest-neighbor
  * structure is meaningful even without trained weights.
  */
object RandomProjection {

  /** splitmix64 — deterministic, order-free weight generation: entry
    * (bucket, d) depends only on (bucket, d, seed), never on
    * generation order, so re-exports are byte-identical. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** int8 weight for one (bucket, dim) cell, in [-127, 127]. */
  private[functions] def q8(bucket: Int, d: Int, dim: Int, seed: Int): Byte = {
    val h = mix64(bucket.toLong * dim + d + (seed.toLong << 32))
    // low byte, with -128 folded to 0 so the range is symmetric
    val b = (h & 0xff).toInt - 128
    (if (b == -128) 0 else b).toByte
  }

  /** Per-row dequantization scale: q·scale spans ±1/√dim, the classic
    * random-projection magnitude (rows have ~unit expected norm). */
  private[functions] def scaleFor(dim: Int): Float =
    (1.0 / (127.0 * math.sqrt(dim.toDouble))).toFloat

  private val schema = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    // intended shape rides in the artifact so a truncated copy (lost
    // part files) cannot masquerade as a smaller valid checkpoint
    StructField("vocab", IntegerType, nullable = false),
    StructField("seed", IntegerType, nullable = false),
    StructField("scale", FloatType, nullable = false),
    StructField("q", BinaryType, nullable = false)))

  /** Write the checkpoint: one parquet row per vocabulary bucket,
    * (bucket, seed, scale, q[dim] int8). Deterministic: same
    * (vocab, dim, seed) → the same artifact, byte for byte. The
    * matrix is generated driver-side — it is checkpoint-sized
    * (vocab·dim bytes, a few MB), not data-sized. */
  def export(spark: SparkSession, path: String, vocab: Int, dim: Int,
      seed: Int): Unit = {
    require(vocab > 0 && dim > 0, "vocab and dim must be positive")
    val scale = scaleFor(dim)
    val rows = (0 until vocab).map { b =>
      val q = new Array[Byte](dim)
      var d = 0
      while (d < dim) { q(d) = q8(b, d, dim, seed); d += 1 }
      Row(b, vocab, seed, scale, q)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, vocab / 8192)),
        schema)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a checkpoint written by [[export]] into a serializable
    * model. The collect is checkpoint-sized (vocab rows), and what
    * ships to executors is the int8 payload — dequantization to
    * float32 happens once per executor in the model's lazy init. */
  def load(spark: SparkSession, path: String): QuantizedProjection = {
    val rows = spark.read.parquet(path)
      .select(col("bucket"), col("vocab"), col("seed"), col("scale"),
        col("q"))
      .collect()
    require(rows.nonEmpty, s"empty checkpoint at $path")
    val vocab = rows.head.getInt(1)
    require(rows.length == vocab, s"checkpoint at $path has " +
      s"${rows.length} rows but declares vocab=$vocab — truncated or " +
      "mixed artifact")
    val dim = rows.head.getAs[Array[Byte]](4).length
    val seed = rows.head.getInt(2)
    val qWeights = new Array[Byte](vocab * dim)
    val scales = new Array[Float](vocab)
    val seen = new Array[Boolean](vocab)
    rows.foreach { r =>
      val b = r.getInt(0)
      require(b >= 0 && b < vocab, s"bucket $b outside [0, $vocab)")
      require(!seen(b), s"duplicate bucket $b in checkpoint")
      seen(b) = true
      require(r.getInt(1) == vocab && r.getInt(2) == seed,
        "mixed shapes/seeds in one checkpoint")
      val q = r.getAs[Array[Byte]](4)
      require(q.length == dim, s"ragged checkpoint: bucket $b has " +
        s"${q.length} dims, expected $dim")
      System.arraycopy(q, 0, qWeights, b * dim, dim)
      scales(b) = r.getFloat(3)
    }
    QuantizedProjection(dim, vocab, seed, scales, qWeights)
  }
}

/** The loaded model — see [[RandomProjection]]. Serializable payload
  * is the int8 matrix + per-bucket scales; the float32 weights are
  * rebuilt once per executor (`@transient lazy val`). */
final case class QuantizedProjection(dim: Int, vocab: Int, seed: Int,
    scales: Array[Float], qWeights: Array[Byte]) extends ColumnarEmbedder {
  require(qWeights.length == vocab * dim, "weight/shape mismatch")
  require(scales.length == vocab, "scale/shape mismatch")

  /** Dequantized float32 matrix, vocab × dim row-major — built lazily
    * on first batch, once per executor JVM. */
  @transient private lazy val weights: Array[Float] = {
    val w = new Array[Float](vocab * dim)
    var b = 0
    while (b < vocab) {
      val s = scales(b)
      var d = 0
      while (d < dim) {
        val i = b * dim + d
        w(i) = qWeights(i) * s
        d += 1
      }
      b += 1
    }
    w
  }

  override def embedBatch(values: Array[Byte], offsets: Array[Int],
      n: Int, out: Array[Float]): Unit = {
    val w = weights
    var j = 0
    while (j < n) {
      val s = new String(values, offsets(j), offsets(j + 1) - offsets(j),
        java.nio.charset.StandardCharsets.UTF_8)
      val toks = s.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      val base = j * dim
      var nTok = 0
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        if (t.nonEmpty) {
          val b = math.floorMod(MurmurHash3.stringHash(t, seed), vocab)
          val row = b * dim
          var d = 0
          while (d < dim) { out(base + d) += w(row + d); d += 1 }
          nTok += 1
        }
        i += 1
      }
      // mean pool, then L2 normalize (E5-style output vectors)
      if (nTok > 0) {
        val inv = 1.0f / nTok
        var d = 0
        var acc = 0.0
        while (d < dim) {
          out(base + d) *= inv
          acc += out(base + d).toDouble * out(base + d)
          d += 1
        }
        if (acc > 0) {
          val invN = (1.0 / math.sqrt(acc)).toFloat
          d = 0
          while (d < dim) { out(base + d) *= invN; d += 1 }
        }
      }
      j += 1
    }
  }
}
