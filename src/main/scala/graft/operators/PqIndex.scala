package graft.operators

import graft.functions.VectorFunctions._
import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Product-quantization ANN — the MEMORY side of the 100 TB scale story
  * (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011; faiss `IndexPQ` semantics). The vector is split
  * into `m` subspaces, each quantized against its own `codesPerBook`
  * centroids, so a row compresses to `m` bytes: a 64-dim float32 corpus
  * shrinks 32× (256 B → 8 B/row), which is the difference between "the
  * candidate scan fits in cluster memory" and "it does not" at 10⁹+
  * rows.
  *
  *  - '''train''': Lloyd's over ALL subspaces, in-process on one
  *    bounded collected sample ([[LocalFit]]): one job (two for a
  *    large frame) brings the sample to the driver, every round runs
  *    there on all driver cores with the engine's
  *    [[graft.functions.NearestSubCentroid]] kernel.
  *  - '''encode''': one narrow codegen'd [[graft.functions.PqEncode]]
  *    projection → `codes` frame of (id, m-byte code).
  *  - '''query''': the ADC table (m × codesPerBook squared-L2 entries
  *    from the query's subvectors to every centroid) is computed
  *    driver-side; the scan then does m BYTE-indexed lookups per row —
  *    no float math — planned as `TakeOrderedAndProject` over the
  *    codes-only columns (no shuffle, no vector reads); `refineFactor`
  *    re-ranks the ADC candidates exactly ([[Rerank]]).
  *
  * Compose with [[IvfIndex]] for IVF-PQ: partition the CODES frame by
  * the IVF cell (`IvfIndex.assignCells` on the same vectors) and probe
  * nprobe cells of the compressed table — cell pruning cuts rows
  * scanned, PQ cuts bytes per row.
  */
final class PqIndex(
    val codebooks: Array[Array[Array[Float]]],
    val corpus: DataFrame,
    val codes: DataFrame,
    vecCol: String, idCol: String) extends Serializable {

  def m: Int = codebooks.length
  def codesPerBook: Int = codebooks(0).length
  def subDim: Int = codebooks(0)(0).length

  /** ADC lookup table for `q` (see [[PqIndex.adcTable]]). */
  def adcTable(q: Array[Float]): Array[Double] = PqIndex.adcTable(codebooks, q)

  /** Approximate top-k under the [[Rerank]] contract: ADC distances
    * pick the candidates. */
  def query(q: Array[Float], k: Int, refineFactor: Int = 4): DataFrame =
    Rerank.topK(codes, PqIndex.CodeCol, "distance", k, refineFactor, corpus,
        vecCol, idCol, q)(_.withColumn("distance",
      pq_adc(col(PqIndex.CodeCol), adcTable(q), codesPerBook)))

  /** Persist the compressed table — (id, code) only, m bytes of payload
    * per row; downstream ADC scans read THIS, never the vectors. */
  def writeCodes(path: String): Unit =
    codes.write.mode("overwrite").parquet(path)
}

/** PQ over a rotated space (see [[PqIndex.trainRotated]]): the inner
  * index holds rotated corpus + codes; queries rotate driver-side
  * (dim² flops — microseconds) and delegate. Returned distances are in
  * the rotated space, which equals the original squared-L2 up to
  * float32 rounding (orthonormal invariance). */
final class RotatedPqIndex(
    val rotation: Array[Array[Float]],
    val inner: PqIndex) extends Serializable {

  /** Driver-side rotation of a query vector (double accumulation). */
  def rotate(q: Array[Float]): Array[Float] = {
    require(q.length == rotation(0).length,
      s"query dim ${q.length} != rotation dim ${rotation(0).length}")
    PqIndex.matVecFloats(rotation, q)
  }

  def query(q: Array[Float], k: Int, refineFactor: Int = 4): DataFrame =
    inner.query(rotate(q), k, refineFactor)

  /** Codes are in the ROTATED space — reload with
    * [[PqIndex.loadRotated]] (same rotation + codebooks), never with
    * plain [[PqIndex.load]]. */
  def writeCodes(path: String): Unit = inner.writeCodes(path)
}

object PqIndex {
  val CodeCol = "pq_code"

  /** ADC lookup table: entry `s * codesPerBook + c` is the squared-L2
    * between q's s-th subvector and centroid c of codebook s
    * (driver-side — m × codesPerBook × subDim flops, microseconds). */
  def adcTable(codebooks: Array[Array[Array[Float]]],
      q: Array[Float]): Array[Double] = {
    val m = codebooks.length
    val k = codebooks(0).length
    val subDim = codebooks(0)(0).length
    require(q.length == m * subDim, s"query dim ${q.length} != ${m * subDim}")
    val t = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      val book = codebooks(s)
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val d = q(s * subDim + i).toDouble - cent(i)
          acc += d * d
          i += 1
        }
        t(s * k + c) = acc
        c += 1
      }
      s += 1
    }
    t
  }

  /** Train codebooks on (a sample of) `df` and lazily encode its
    * non-null vectors. `codesPerBook` ≤ 256 (one byte per subspace); `df`'s vector
    * dim must divide evenly into `m` subspaces.
    *
    * Training shape: one top-N collect (two for a large frame) brings
    * the `sampleFraction` sample to the driver, cut at 256 ×
    * codesPerBook rows and at a driver byte budget
    * ([[LocalFit.trainingSample]]); seeding and the Lloyd's rounds run
    * in-process on it ([[fitBooks]]). The corpus is touched once, by
    * the lazy narrow [[graft.functions.PqEncode]] projection. */
  def train(df: DataFrame, vecCol: String, idCol: String, m: Int = 8,
      codesPerBook: Int = 256, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxIter: Int = 8): PqIndex = {
    val sample = trainingSample(df, vecCol, idCol, codesPerBook, seed,
      sampleFraction, "PQ codebooks")
    val books = fitBooks(sample, m, codesPerBook, seed, maxIter)
    new PqIndex(books, df, Rerank.nonNullVectors(df, vecCol)
      .select(col(idCol), pq_encode(col(vecCol), books).as(CodeCol)),
      vecCol, idCol)
  }

  /** The collected training sample of a PQ fit
    * ([[LocalFit.trainingSample]]) after checking `df` has no column
    * named like the codes. */
  private def trainingSample(df: DataFrame, vecCol: String, idCol: String,
      codesPerBook: Int, seed: Long, sampleFraction: Double,
      what: String): Array[Array[Float]] = {
    require(!df.columns.contains(CodeCol),
      s"input frame must not contain a column named '$CodeCol'")
    LocalFit.trainingSample(df, vecCol, idCol, seed, sampleFraction,
      codesPerBook, what)
  }

  /** Joint-subspace Lloyd's fit on a collected training sample
    * ([[LocalFit.trainingSample]]), returning only the codebooks (shared by
    * [[train]], the OPQ alternation — which refits books per rotation
    * update — and IVF-PQ's residual fit). In-process: seeds from
    * [[seedBooks]], then at most `maxIter` rounds of
    * [[graft.functions.NearestSubCentroid]] assignment and double-sum
    * recentering per subspace ([[LocalFit.lloyd]]), stopping at the
    * exact fixpoint. */
  private[operators] def fitBooks(sample: Array[Array[Float]], m: Int,
      codesPerBook: Int, seed: Long,
      maxIter: Int): Array[Array[Array[Float]]] = {
    require(m >= 1, "need at least 1 subspace")
    require(codesPerBook >= 2 && codesPerBook <= 256,
      "codesPerBook must be in [2, 256] (one byte per code)")
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim must divide into $m subspaces")
    require(LocalFit.firstDistinct(sample, 2).length >= 2,
      "need >= 2 distinct vectors to train PQ codebooks")
    val subDim = dim / m
    val subs = Array.tabulate(m)(s =>
      sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim,
        (s + 1) * subDim)))
    LocalFit.lloyd(subs, seedBooks(subs, codesPerBook, seed), maxIter,
      0.0) { (books, s, p) =>
      VectorOps.nearestSubCentroid(s, p, true, books)
    }
  }

  /** Seeded random orthonormal rotation (the OPQ random-rotation
    * baseline — Ge/He/Ke/Sun, "Optimized Product Quantization", CVPR
    * 2013 §4; faiss `OPQMatrix`'s random init): Gram-Schmidt over a
    * seeded Gaussian matrix, double precision driver-side. A rotation
    * spreads correlated-dimension variance across PQ subspaces, which
    * is where plain PQ loses precision when the energy concentrates in
    * a few dims. */
  def randomRotation(dim: Int, seed: Long = 7L): Array[Array[Float]] = {
    require(dim >= 1, "dim must be positive")
    val rnd = new scala.util.Random(seed)
    val basis = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    while (basis.length < dim) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      for (b <- basis) {
        var d = 0.0
        var i = 0
        while (i < dim) { d += v(i) * b(i); i += 1 }
        i = 0
        while (i < dim) { v(i) -= d * b(i); i += 1 }
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 1e-8) basis += v.map(_ / n) // ~never skips at double precision
    }
    basis.map(_.map(_.toFloat)).toArray
  }

  /** Train PQ on ROTATED vectors: the collected training sample rotates
    * in-process before [[fitBooks]], corpus rows pass once through the
    * codegen'd [[graft.functions.MatVec]] kernel (narrow map), queries
    * rotate driver-side. Squared-L2 is rotation-invariant, so ranks and
    * re-ranked distances match the unrotated space (up to float32
    * rounding); what changes is how variance lands across subspaces —
    * on anisotropic data the same m-byte budget quantizes finer. */
  def trainRotated(df: DataFrame, vecCol: String, idCol: String,
      m: Int = 8, codesPerBook: Int = 256, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxIter: Int = 8,
      rotationSeed: Long = 7L): RotatedPqIndex = {
    val sample = trainingSample(df, vecCol, idCol, codesPerBook, seed,
      sampleFraction, "PQ codebooks")
    val r = randomRotation(sample(0).length, rotationSeed)
    val books = fitBooks(sample.map(matVecFloats(r, _)), m, codesPerBook,
      seed, maxIter)
    rotatedIndex(df, vecCol, idCol, r, books)
  }

  /** The corpus through the rotation kernel (lazy narrow map) and its
    * codes, of the non-null vectors: the only distributed work of a
    * rotated fit. */
  private def rotatedIndex(df: DataFrame, vecCol: String, idCol: String,
      r: Array[Array[Float]],
      books: Array[Array[Array[Float]]]): RotatedPqIndex = {
    import graft.functions.VectorFunctions.mat_vec
    def rotate(d: DataFrame) = d.withColumn(vecCol, mat_vec(col(vecCol), r))
    new RotatedPqIndex(r, new PqIndex(books, rotate(df),
      rotate(Rerank.nonNullVectors(df, vecCol))
        .select(col(idCol), pq_encode(col(vecCol), books).as(CodeCol)),
      vecCol, idCol))
  }

  /** OPQ proper — the NON-PARAMETRIC alternating optimization of
    * Ge/He/Ke/Sun, "Optimized Product Quantization", CVPR 2013 §3.2
    * (faiss `OPQMatrix`'s training loop), upgrading [[trainRotated]]'s
    * fixed random rotation: alternate
    *
    *  1. fix R → refit codebooks on the rotated sample (the shared
    *     joint-subspace Lloyd's pass), and
    *  2. fix the quantization → solve the orthogonal Procrustes
    *     problem `min_R Σᵢ ‖R xᵢ − ŷᵢ‖²` where ŷᵢ is the quantized
    *     reconstruction: maximize `tr(R · Σᵢ xᵢ ŷᵢᵀ)`, whose optimum
    *     is `R = V Uᵀ` from the SVD `Σᵢ xᵢ ŷᵢᵀ = U S Vᵀ`.
    *
    * Each alternation monotonically lowers quantization error (both
    * half-steps are exact minimizations of the shared objective), so
    * the ADC tables get strictly tighter than the random-rotation
    * baseline on anisotropic data.
    *
    * Training shape: one top-N collect (two for a large frame) brings
    * the `sampleFraction` sample to the driver, cut at 256 ×
    * codesPerBook rows and at a driver byte budget
    * ([[LocalFit.trainingSample]]); both half-steps run in-process on
    * it ([[fitOpq]]) — step 1 is [[fitBooks]], step 2 accumulates the
    * dim×dim cross matrix in double and takes its SVD via breeze
    * (bundled with Spark). Scale shape: the full corpus is touched once
    * at the end, by the lazy rotate-and-encode narrow map. */
  def trainOpq(df: DataFrame, vecCol: String, idCol: String, m: Int = 8,
      codesPerBook: Int = 256, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxIter: Int = 8, opqIters: Int = 4,
      rotationSeed: Long = 7L): RotatedPqIndex = {
    val sample = trainingSample(df, vecCol, idCol, codesPerBook, seed,
      sampleFraction, "OPQ codebooks")
    val (r, books) = fitOpq(sample, m, codesPerBook, seed, maxIter,
      opqIters, rotationSeed)
    rotatedIndex(df, vecCol, idCol, r, books)
  }

  /** The OPQ alternation on a collected training sample: returns the
    * rotation and the codebooks fitted for it (shared by [[trainOpq]]
    * and IVF-OPQ's residual fit). */
  private[operators] def fitOpq(sample: Array[Array[Float]], m: Int,
      codesPerBook: Int, seed: Long, maxIter: Int, opqIters: Int,
      rotationSeed: Long): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    require(opqIters >= 1, "need at least one alternation")
    val dim = sample(0).length
    var r = randomRotation(dim, rotationSeed)
    var books: Array[Array[Array[Float]]] = null
    var it = 0
    while (it < opqIters) {
      // (1) refit codebooks for the current rotation
      books = fitBooks(sample.map(matVecFloats(r, _)), m, codesPerBook,
        seed, maxIter)
      // (2) Procrustes update — skip after the last codebook fit so
      // the returned books always match the returned rotation
      if (it < opqIters - 1) {
        val cross = Array.ofDim[Double](dim, dim)
        for (x <- sample) {
          val y = quantizeFloats(books, matVecFloats(r, x))
          var a = 0
          while (a < dim) {
            val xa = x(a).toDouble
            val row = cross(a)
            var b = 0
            while (b < dim) { row(b) += xa * y(b); b += 1 }
            a += 1
          }
        }
        r = procrustesRotation(cross)
      }
      it += 1
    }
    (r, books)
  }

  /** `R = V Uᵀ` for the cross matrix `M = Σ x ŷᵀ = U S Vᵀ` — the
    * orthogonal Procrustes optimum of `max_R tr(R M)`. */
  private def procrustesRotation(
      cross: Array[Array[Double]]): Array[Array[Float]] = {
    val dim = cross.length
    val mat = breeze.linalg.DenseMatrix.tabulate(dim, dim) {
      (i, j) => cross(i)(j)
    }
    val s = breeze.linalg.svd(mat)
    val rot = s.Vt.t * s.U.t
    Array.tabulate(dim, dim)((i, j) => rot(i, j).toFloat)
  }

  /** Driver/executor-side quantized reconstruction: each subvector is
    * replaced by its nearest codebook centroid. */
  private[operators] def quantizeFloats(books: Array[Array[Array[Float]]],
      v: Array[Float]): Array[Float] = {
    val m = books.length
    val subDim = books(0)(0).length
    val out = new Array[Float](v.length)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < books(s).length) {
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val t = v(s * subDim + i) - books(s)(c)(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      System.arraycopy(books(s)(best), 0, out, s * subDim, subDim)
      s += 1
    }
    out
  }

  private[operators] def matVecFloats(rows: Array[Array[Float]],
      x: Array[Float]): Array[Float] = {
    val out = new Array[Float](rows.length)
    var i = 0
    while (i < rows.length) {
      var s = 0.0
      var j = 0
      val row = rows(i)
      while (j < x.length) { s += row(j).toDouble * x(j); j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    out
  }

  /** Reload a rotated index from a codes table written by
    * [[RotatedPqIndex.writeCodes]]: pass the ORIGINAL (unrotated)
    * corpus plus the same rotation and codebooks you trained with —
    * the corpus is re-rotated through the `mat_vec` kernel (narrow
    * map, lazy) so the exact re-rank meets the codes in the same
    * space. Loading rotated codes with plain [[PqIndex.load]] would
    * silently mix spaces and return wrong neighbors. */
  def loadRotated(spark: SparkSession, codesPath: String,
      rotation: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], corpus: DataFrame,
      vecCol: String, idCol: String): RotatedPqIndex = {
    import graft.functions.VectorFunctions.mat_vec
    val rotated = corpus.withColumn(vecCol, mat_vec(col(vecCol), rotation))
    new RotatedPqIndex(rotation,
      load(spark, codesPath, codebooks, rotated, vecCol, idCol))
  }

  /** Reload a codes table written by [[PqIndex.writeCodes]] against its
    * corpus (for the exact re-rank) and codebooks. */
  def load(spark: SparkSession, codesPath: String,
      codebooks: Array[Array[Array[Float]]], corpus: DataFrame,
      vecCol: String, idCol: String): PqIndex =
    new PqIndex(codebooks, corpus, spark.read.parquet(codesPath), vecCol,
      idCol)

  /** Persist codes AND codebooks under one root (`<path>/codes`,
    * `<path>/books`) — the fully self-describing fit-offline artifact:
    * a separate search job reopens the index from the path alone via
    * [[loadSaved]], no trained arrays carried across processes. */
  def save(idx: PqIndex, path: String): Unit = {
    idx.writeCodes(s"$path/codes")
    IndexArtifacts.writeBooks(idx.codes.sparkSession, idx.codebooks,
      s"$path/books")
  }

  /** Reopen a [[save]]d index against its corpus (exact re-rank side). */
  def loadSaved(spark: SparkSession, path: String, corpus: DataFrame,
      vecCol: String, idCol: String): PqIndex =
    load(spark, s"$path/codes",
      IndexArtifacts.readBooks(spark, s"$path/books"), corpus, vecCol,
      idCol)

  /** Persist an OPQ index: rotated-space codes, codebooks, AND the
    * rotation (`<path>/codes`, `<path>/books`, `<path>/rotation`). */
  def saveRotated(idx: RotatedPqIndex, path: String): Unit = {
    val spark = idx.inner.codes.sparkSession
    idx.writeCodes(s"$path/codes")
    IndexArtifacts.writeBooks(spark, idx.inner.codebooks, s"$path/books")
    IndexArtifacts.writeMatrix(spark, idx.rotation, s"$path/rotation")
  }

  /** Reopen a [[saveRotated]]'d index against the ORIGINAL (unrotated)
    * corpus — the corpus re-rotates through the lazy `mat_vec` kernel
    * exactly as in [[loadRotated]]. */
  def loadSavedRotated(spark: SparkSession, path: String,
      corpus: DataFrame, vecCol: String, idCol: String): RotatedPqIndex =
    loadRotated(spark, s"$path/codes",
      IndexArtifacts.readMatrix(spark, s"$path/rotation"),
      IndexArtifacts.readBooks(spark, s"$path/books"), corpus, vecCol,
      idCol)

  /** Per-subspace seeding: the first `codesPerBook` DISTINCT subvectors
    * in seeded hash order (`hash(subvec, seed)`, [[LocalFit.hashOrdered]]),
    * drawn from the first 4 × codesPerBook of that order — the 4×
    * oversample absorbs duplicate-heavy data. Under-populated books pad
    * by repeating their first seed: a duplicate centroid never wins the
    * lowest-index argmin tie, so padding is inert. */
  private def seedBooks(subs: Array[Array[Array[Float]]], codesPerBook: Int,
      seed: Long): Array[Array[Array[Float]]] =
    subs.map { vs =>
      val b = LocalFit.firstDistinct(
        LocalFit.hashOrdered(vs, seed).take(codesPerBook * 4), codesPerBook)
      while (b.length < codesPerBook) b += b.head.clone()
      b.toArray
    }
}
