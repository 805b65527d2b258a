package graft.operators

import graft.functions.VectorFunctions.mat_vec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** PCA dimensionality reduction for embedding columns — the standard
  * pre-step before indexing/clustering a high-dim corpus (and the
  * "reduce then IVF/PQ" composition faiss ships as `PCAMatrix`):
  * project 64-dim embeddings to the top-k variance directions with one
  * distributed moment pass and a driver-side eigendecomposition of the
  * dim×dim covariance (64×64 here — microscopic next to the data).
  *
  *  - '''fit''': one `mapPartitions` pass accumulates (n, Σx, Σxxᵀ) per
  *    partition (dim + dim² doubles of state), reduced on the driver;
  *    covariance = Σxxᵀ/n − μμᵀ; `breeze.linalg.eigSym` gives the
  *    eigenbasis. No per-iteration jobs, no shuffle — the pass is a
  *    pure map-side fold, so it scales linearly in rows and never
  *    materializes anything row-proportional on the driver.
  *  - '''transform''': center + project as one codegen'd projection
  *    (`zip_with` subtraction into [[graft.functions.MatVec]]) — no
  *    UDF, stays inside whole-stage codegen.
  *
  * Component sign is canonicalized (largest-|entry| coordinate made
  * positive) so fits are bit-deterministic across runs and partition
  * counts up to float addition order in the moment pass — the moment
  * reduce accumulates in double and the testdata scales keep that exact;
  * at extreme scale document the usual caveat that double summation
  * order can wiggle the last ulp.
  */
object PcaReduce {

  /** Fitted model: `mean` of the corpus, `components` as k rows of dim
    * floats (descending eigenvalue order), and the per-component /
    * total variance for explained-variance accounting. */
  final case class PcaModel(mean: Array[Float],
      components: Array[Array[Float]], eigenvalues: Array[Double],
      totalVariance: Double) {
    def k: Int = components.length
    def dim: Int = mean.length
    /** Retained share of the total variance.
      * Contract: the figure `PcaReduceSpec` checks the fitted
      * eigenvalues with; no program caller. */
    def explainedRatio: Double =
      if (totalVariance <= 0) 0.0 else eigenvalues.sum / totalVariance

    /** Driver-side single-vector projection (query-time twin of
      * [[PcaReduce.projection]]). */
    def projectOne(v: Array[Float]): Array[Float] = {
      require(v.length == dim, s"vector dim ${v.length} != $dim")
      components.map { c =>
        var acc = 0.0
        var i = 0
        while (i < dim) { acc += c(i) * (v(i).toDouble - mean(i)); i += 1 }
        acc.toFloat
      }
    }
  }

  def fit(df: DataFrame, vecCol: String, k: Int): PcaModel = {
    require(k >= 1, "k must be >= 1")
    val vecs = df.select(col(vecCol)).where(col(vecCol).isNotNull)
    val moments = vecs.rdd.mapPartitions { rows =>
      var n = 0L
      var sum: Array[Double] = null
      var cross: Array[Array[Double]] = null
      rows.foreach { row =>
        val v = row.getSeq[Float](0)
        if (sum == null) {
          sum = new Array[Double](v.length)
          cross = Array.ofDim[Double](v.length, v.length)
        }
        require(v.length == sum.length,
          s"vector length ${v.length} != ${sum.length}")
        var i = 0
        while (i < sum.length) {
          val xi = v(i).toDouble
          sum(i) += xi
          val ci = cross(i)
          var j = 0
          while (j < sum.length) { ci(j) += xi * v(j); j += 1 }
          i += 1
        }
        n += 1L
      }
      if (n == 0) Iterator.empty else Iterator((n, sum, cross))
    }.reduce { case ((an, as, ac), (bn, bs, bc)) =>
      var i = 0
      while (i < as.length) {
        as(i) += bs(i)
        val ai = ac(i); val bi = bc(i)
        var j = 0
        while (j < as.length) { ai(j) += bi(j); j += 1 }
        i += 1
      }
      (an + bn, as, ac)
    }
    val (n, sum, cross) = moments
    val dim = sum.length
    require(k <= dim, s"k=$k exceeds vector dim $dim")
    val mean = sum.map(_ / n)
    val cov = breeze.linalg.DenseMatrix.tabulate(dim, dim) { (i, j) =>
      cross(i)(j) / n - mean(i) * mean(j)
    }
    val (comps, evals) = eigTopKCanonical(cov, k)
    PcaModel(mean.map(_.toFloat), comps, evals,
      breeze.linalg.trace(cov))
  }

  /** The driver-side eigenbasis stage of [[fit]], factored out so the
    * gate can replay it on a FIXED matrix (`pca_eig_fixed`): eigSym,
    * descending-eigenvalue top-k, and sign canonicalization (the
    * coordinate with the largest magnitude is made positive; ties —
    * only possible at equal |entry| — resolve to the FIRST such
    * coordinate, so the canonical form is deterministic). Returns
    * (components as float rows, eigenvalues), both in descending
    * eigenvalue order. The `+ 0.0` normalizes IEEE negative zeros
    * out of the canonical vectors (LAPACK emits −0.0 off-support
    * entries; −0.0 + 0.0 = +0.0 and every other value is unchanged,
    * so canonical components never carry a sign-of-zero artifact
    * into stored models or engine comparisons). */
  private[graft] def eigTopKCanonical(
      cov: breeze.linalg.DenseMatrix[Double],
      k: Int): (Array[Array[Float]], Array[Double]) = {
    val dim = cov.rows
    val es = breeze.linalg.eigSym(cov)
    // eigSym returns ascending eigenvalues; take the top k, canonical
    // sign: the coordinate with the largest magnitude is positive
    val order = (0 until dim).sortBy(i => -es.eigenvalues(i)).take(k)
    val comps = order.map { c =>
      val v = Array.tabulate(dim)(i => es.eigenvectors(i, c))
      val m = v.indices.maxBy(i => math.abs(v(i)))
      val s = if (v(m) < 0) -1.0 else 1.0
      v.map(x => (x * s + 0.0).toFloat)
    }.toArray
    (comps, order.map(es.eigenvalues(_)).toArray)
  }

  /** The [[fit]] moment pass as a cross-engine-auditable frame — the
    * oracle twin of PCA training's only distributed step (eigSym runs
    * on the driver over a dim×dim matrix and is not scale-relevant).
    * Inputs are quantized to integers (`round(x · scale)`, exact in
    * double for float inputs since 24 + log2(scale) < 53 bits), so
    * every downstream sum is BIGINT — order-free and bit-identical in
    * any SQL engine (the embed_knn_md5 convention; a corpus-sized SUM
    * of raw doubles would be partition-order-dependent). Emits the
    * upper triangle of the second-moment matrix as `(i, j, value)`
    * rows, the linear sums as `(i, -1, value)`, and the row count as
    * `(-1, -1, n)` — everything `fit` folds, in exact arithmetic.
    *
    * Scale shape: one narrow generate per row (dim + dim(dim+1)/2
    * terms), then a partial-aggregated groupBy onto dim(dim+1)/2 + dim
    * keys — no join, no window; the shuffle carries only the fixed
    * key space regardless of corpus size. Overflow contract:
    * `n · (maxAbs · scale)² < 2^63` — 10^10 rows of unit-ish values at
    * the default scale. */
  def momentSumsQuantized(df: DataFrame, vecCol: String,
      scale: Long = 1000000L): DataFrame = {
    require(scale >= 1L, "scale must be >= 1")
    val vecs = df.select(col(vecCol).as("__v")).where(col("__v").isNotNull)
    val q = vecs.select(org.apache.spark.sql.functions.transform(col("__v"),
      x => round(x.cast("double") * scale).cast("long")).as("__q"))
    val base = q.select(col("__q"),
      posexplode(col("__q")).as(Seq("__i", "__xi")))
    val prods = base
      .select(col("__i"), col("__xi"), col("__q"),
        explode(sequence(col("__i"), size(col("__q")) - 1)).as("__j"))
      .select(col("__i"), col("__j"),
        (col("__xi") * element_at(col("__q"), col("__j") + 1)).as("__c"))
      .groupBy("__i", "__j").agg(sum("__c").as("value"))
      .select(col("__i").cast("long").as("i"),
        col("__j").cast("long").as("j"), col("value"))
    val lin = base.groupBy("__i").agg(sum("__xi").as("value"))
      .select(col("__i").cast("long").as("i"), lit(-1L).as("j"),
        col("value"))
    val cnt = q.agg(count(lit(1)).cast("long").as("value"))
      .select(lit(-1L).as("i"), lit(-1L).as("j"), col("value"))
    prods.unionByName(lin).unionByName(cnt).orderBy("i", "j")
  }

  /** Center-and-project column: `components × (v - mean)` →
    * `array<float>` of length k. Codegen'd end to end. */
  def projection(vecCol: Column, model: PcaModel): Column =
    mat_vec(zip_with(vecCol,
      typedlit(model.mean.toSeq), (a, b) => a - b), model.components)

  /** Project `vecCol` to the model's k dims as `outCol`. */
  def transform(df: DataFrame, vecCol: String, model: PcaModel,
      outCol: String = "pca_vec"): DataFrame =
    df.withColumn(outCol, projection(col(vecCol), model))

  /** Persist a fitted model as parquet (one row per component, plus a
    * dim-length mean row at component -1) — shared-filesystem friendly,
    * no sidecar format. */
  def save(model: PcaModel, spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    import spark.implicits._
    val rows = (-1, model.mean.toSeq, 0.0, model.totalVariance) +:
      model.components.indices.map(i => (i, model.components(i).toSeq,
        model.eigenvalues(i), model.totalVariance))
    rows.toDF("component", "values", "eigenvalue", "total_variance")
      .write.mode("overwrite").parquet(path)
  }

  /** Reopen a [[save]]d model. */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): PcaModel = {
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray, r.getDouble(2),
        r.getDouble(3))).sortBy(_._1)
    require(rows.nonEmpty && rows.head._1 == -1,
      s"no PCA model at $path (missing mean row)")
    PcaModel(rows.head._2, rows.tail.map(_._2), rows.tail.map(_._3),
      rows.head._4)
  }

  /** Persist a [[fitSq]] index under one root: the PCA model
    * (`<path>/pca`) plus the inner SQ index's params and reduced-space
    * codes (`<path>/sq`). [[loadSavedSq]] reopens the whole thing from
    * the path — fit offline, search online. */
  def saveSq(idx: ReducedSqIndex,
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    save(idx.model, spark, s"$path/pca")
    SqIndex.save(idx.inner, s"$path/sq")
  }

  /** Reopen a [[saveSq]]'d index against the ORIGINAL corpus: the
    * inner SQ index's corpus view is the lazy PCA projection of
    * `corpus` (a narrow codegen'd map — only materialized if an inner
    * refine ever runs; [[ReducedSqIndex.query]] refines in the
    * original space). */
  def loadSavedSq(spark: org.apache.spark.sql.SparkSession, path: String,
      corpus: DataFrame, vecCol: String, idCol: String): ReducedSqIndex = {
    val model = load(spark, s"$path/pca")
    val reduced = transform(corpus, vecCol, model, "__pca_vec")
      .select(col(idCol), col("__pca_vec"))
    new ReducedSqIndex(model,
      SqIndex.loadSaved(spark, s"$path/sq", reduced, "__pca_vec", idCol),
      corpus.select(col(idCol), col(vecCol)), vecCol, idCol)
  }

  /** PCA→SQ8 composition (faiss `PCAMatrix + SQ` index-factory shape):
    * candidates come from a byte-coded scan in the reduced space
    * (k bytes/row — 16× compression at 64→16), the final answer from an
    * exact re-rank in the ORIGINAL space, so reduction error can only
    * cost recall inside the candidate pool, never corrupt distances. */
  def fitSq(df: DataFrame, vecCol: String, idCol: String,
      k: Int): ReducedSqIndex = {
    val model = fit(df, vecCol, k)
    // project only non-null vectors: the reduced column is then
    // non-nullable, and the SQ fit's null filter cannot push down to
    // re-run the projection
    val reduced = transform(Rerank.nonNullVectors(df, vecCol), vecCol,
      model, "__pca_vec").select(col(idCol), col("__pca_vec"))
    new ReducedSqIndex(model,
      SqIndex.fit(reduced, "__pca_vec", idCol),
      df.select(col(idCol), col(vecCol)), vecCol, idCol)
  }
}

/** See [[PcaReduce.fitSq]]. */
final class ReducedSqIndex(val model: PcaReduce.PcaModel,
    val inner: SqIndex, corpus: DataFrame, vecCol: String,
    idCol: String) extends Serializable {

  /** Top-k: k·refineFactor SQ-ADC candidates in the reduced space,
    * re-ranked by exact squared-L2 in the original space at every
    * `refineFactor`, 1 included ([[Rerank.exact]]). */
  def query(q: Array[Float], k: Int, refineFactor: Int = 8): DataFrame =
    Rerank.exact(
      inner.query(model.projectOne(q), Rerank.poolSize(k, refineFactor),
        refineFactor = 1).select(col(idCol)),
      corpus, vecCol, idCol, q, k)
}
