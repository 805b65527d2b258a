package graft.functions

import graft.Schemas
import org.apache.spark.sql.{DataFrame, Encoders, Row}

import scala.util.hashing.MurmurHash3

/** Pluggable embedding model — the engine's equivalent of the reference's
  * model layer (M1–M4 in SURVEY §2.8: E5 text, CLIP image/text,
  * EfficientNet image — `/root/reference/vsu/text/_classes.py:47-55`,
  * `/root/reference/vsu/image/_classes.py:39-55,73-91`).
  *
  * Implementations must be Serializable (shipped to executors) and hold
  * heavyweight model handles in `@transient lazy val`s so each executor
  * initializes its own copy lazily.
  */
trait Embedder extends Serializable {
  def dim: Int

  /** Embed one batch of texts. Called with at most `batchSize` rows —
    * the reference's `sp`-chunked inference loop
    * (`/root/reference/vsu/base/VectorSearchBase.py:153-170`). */
  def embed(batch: Seq[String]): Seq[Array[Float]]

  final def embedOne(s: String): Array[Float] = embed(Seq(s)).head
}

/** Columnar inference surface — the drop-in point for a REAL model
  * runtime (ONNX Runtime, a JNI-wrapped torch export, TVM): a batch
  * arrives as ONE contiguous Arrow-style varchar block (concatenated
  * UTF-8 value bytes + `n+1` int offsets) and the model writes all
  * embeddings into ONE caller-allocated `n × dim` float buffer. Both
  * buffers map 1:1 onto Arrow `LargeUtf8`/`FixedSizeList<Float32>`
  * vectors, so a native runtime binds them zero-copy; nothing in the
  * contract forces per-row JVM objects anywhere between the scan and
  * the model.
  *
  * Implementations hold their session/weights in `@transient lazy val`s
  * (one per executor, like [[Embedder]]).
  */
trait ColumnarEmbedder extends Serializable {
  def dim: Int

  /** Embed one packed batch.
    *
    * @param values  concatenated UTF-8 bytes of all `n` strings
    * @param offsets `n + 1` offsets into `values` (row j spans
    *                `[offsets(j), offsets(j+1))` — Arrow varchar layout)
    * @param n       rows in this batch
    * @param out     caller-allocated `n * dim` output buffer; row j's
    *                embedding goes to `[j * dim, (j+1) * dim)`
    */
  def embedBatch(values: Array[Byte], offsets: Array[Int], n: Int,
      out: Array[Float]): Unit
}

object ColumnarEmbedder {
  /** Adapt a columnar model to the Seq-based [[Embedder]] surface (so
    * `VectorStore` and zero-shot paths take it unchanged): each Seq
    * batch is packed into one varchar block and embedded with ONE
    * `embedBatch` call — the adapter never degrades to per-row calls. */
  final case class AsEmbedder(model: ColumnarEmbedder) extends Embedder {
    override def dim: Int = model.dim
    override def embed(batch: Seq[String]): Seq[Array[Float]] = {
      val n = batch.length
      val (values, offsets) = Embed.packUtf8(batch.iterator, n)
      val out = new Array[Float](n * dim)
      model.embedBatch(values, offsets, n, out)
      (0 until n).map(j =>
        java.util.Arrays.copyOfRange(out, j * dim, (j + 1) * dim))
    }
  }
}

/** Deterministic, dependency-free text embedder for offline use: signed
  * feature hashing over lowercase whitespace tokens (the classic
  * hashing-trick bag-of-words). Same string → same vector on every JVM
  * (MurmurHash3 with a fixed seed), so k-NN and zero-shot results are
  * reproducible without model weights (zero-egress substitute for E5 —
  * SURVEY §5/§7.4).
  *
  * @param normalized L2-normalize outputs (CLIP stores normalized
  *                   vectors, E5 does not — quirk Q6 in SURVEY §2.11).
  */
final case class HashEmbedder(dim: Int = 64, normalized: Boolean = false,
    seed: Int = 42) extends Embedder {
  require(dim > 0, "dim must be positive")

  override def embed(batch: Seq[String]): Seq[Array[Float]] = batch.map { s =>
    val v = new Array[Float](dim)
    val toks = Option(s).getOrElse("")
      .toLowerCase(java.util.Locale.ROOT).split("\\s+")
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        val h = MurmurHash3.stringHash(t, seed)
        val idx = math.floorMod(h, dim)
        // independent sign bit so collisions cancel unbiasedly
        val sign = if (((h >>> 16) & 1) == 0) 1f else -1f
        v(idx) += sign
      }
      i += 1
    }
    if (normalized) {
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += v(j).toDouble * v(j); j += 1 }
      if (acc > 0) {
        val inv = (1.0 / math.sqrt(acc)).toFloat
        j = 0
        while (j < dim) { v(j) *= inv; j += 1 }
      }
    }
    v
  }
}

/** Batched executor-side embedding of a string column — the engine's
  * model-inference operator. Maps the reference's chunked inference
  * (`__trans_vec_main/sub`, `/root/reference/vsu/base/VectorSearchBase
  * .py:153-191`) onto `mapPartitions` + `grouped(batchSize)`: one model
  * invocation per batch, no per-row overhead, executors work partitions
  * in parallel.
  *
  * Scale note: inference is the bottleneck at 100 TB, not the shuffle —
  * there is none here (narrow map). Size batches to the model
  * (reference default sp=10 is tiny; use 256+ for real models) and
  * `repartition` beforehand if upstream partitioning is skewed.
  */
object Embed {
  /** Production default. The reference's `sp=10`
    * (VectorSearchBase.py:101) is far too small for real model
    * inference — callers wanting exact reference chunking pass 10. */
  val DefaultBatchSize = 256

  def embedColumn(df: DataFrame, inCol: String, outCol: String,
      embedder: Embedder, batchSize: Int = DefaultBatchSize,
      prefix: String = ""): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val outSchema = df.schema.add(outCol, Schemas.vectorType)
    val inIdx = df.schema.fieldIndex(inCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { rows =>
        val texts = rows.map(r =>
          prefix + Option(r.get(inIdx)).map(_.toString).getOrElse(""))
        val vecs = embedder.embed(texts)
        require(vecs.length == rows.length,
          s"embedder returned ${vecs.length} vectors for ${rows.length} rows")
        rows.lazyZip(vecs).map((r, v) => Row.fromSeq(r.toSeq :+ v))
      }
    }(Encoders.row(outSchema))
  }

  /** Pack `n` strings into one Arrow-style varchar block: concatenated
    * UTF-8 value bytes + `n + 1` offsets. The only per-row JVM work is
    * the UTF-8 encode; a future Arrow-native scan hands equivalent
    * buffers straight from parquet. */
  private[graft] def packUtf8(strings: Iterator[String],
      n: Int): (Array[Byte], Array[Int]) = {
    val offsets = new Array[Int](n + 1)
    val buf = new java.io.ByteArrayOutputStream(n * 64)
    var i = 0
    // bound the loop by n as well: an oversized iterator must reach
    // the require below, not overrun the offsets array
    while (i < n && strings.hasNext) {
      val b = strings.next()
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      buf.write(b, 0, b.length)
      offsets(i + 1) = offsets(i) + b.length
      i += 1
    }
    require(i == n && !strings.hasNext,
      s"packed $i strings (more remaining: ${strings.hasNext}), expected $n")
    (buf.toByteArray, offsets)
  }

  /** Columnar twin of [[embedColumn]]: batches are packed into
    * contiguous buffers (see [[ColumnarEmbedder]]) and embedded with
    * ONE model call per batch — there is no per-row inference path at
    * all, so a real native runtime dropped in behind the trait runs at
    * full batch width from day one. Narrow map, no shuffle. */
  def embedColumnColumnar(df: DataFrame, inCol: String, outCol: String,
      model: ColumnarEmbedder, batchSize: Int = DefaultBatchSize,
      prefix: String = ""): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val outSchema = df.schema.add(outCol, Schemas.vectorType)
    val inIdx = df.schema.fieldIndex(inCol)
    val dim = model.dim
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { rows =>
        val n = rows.length
        val (values, offsets) = packUtf8(rows.iterator.map(r =>
          prefix + Option(r.get(inIdx)).map(_.toString).getOrElse("")), n)
        val out = new Array[Float](n * dim)
        model.embedBatch(values, offsets, n, out)
        rows.zipWithIndex.map { case (r, j) =>
          Row.fromSeq(r.toSeq :+
            java.util.Arrays.copyOfRange(out, j * dim, (j + 1) * dim))
        }
      }
    }(Encoders.row(outSchema))
  }
}
