package graft.operators

import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** IVF (inverted-file) approximate k-NN — the 100 TB scale path
  * (SURVEY §7.1 step 7; faiss IVF-Flat semantics: exact search inside
  * probed cells). The reference's index is exact faiss Flat
  * (`/root/reference/vsu/base/VectorSearchBase.py:54-59`); brute-force
  * [[Similarity.topK]] matches that. This index trades recall for a
  * `nprobe/nClusters` scan fraction:
  *
  *  - '''build''': seeded Lloyd's k-means in-process on one
  *    bounded, collected sample → centroids on the driver (nClusters ×
  *    dim floats — tiny); every row gets a `cluster` column via one
  *    codegen'd nearest-centroid kernel expression.
  *  - '''persist''': `partitionBy(cluster)` parquet. Queries filter on
  *    cluster ids → Spark partition pruning reads only nprobe
  *    directories of the lake, never the full corpus.
  *  - '''query''': rank centroids driver-side, probe the nprobe
  *    nearest cells, exact top-k inside them
  *    (`TakeOrderedAndProject`, no shuffle).
  */
final class IvfIndex(
    val centroids: Array[Array[Float]],
    val assigned: DataFrame,
    vecCol: String, idCol: String) extends Serializable {

  def nClusters: Int = centroids.length

  /** Cluster ids nearest to `q`, closest first (driver-side — the
    * centroid table is tiny by construction). */
  def rankCells(q: Array[Float]): Array[Int] =
    IvfIndex.probe(centroids, q, nClusters)

  /** Approximate top-k: exact search over the `nprobe` nearest cells. */
  def query(q: Array[Float], k: Int, nprobe: Int = 4): DataFrame =
    Similarity.topK(
      assigned.filter(col(IvfIndex.ClusterCol)
        .isin(IvfIndex.probe(centroids, q, nprobe).toSeq: _*)),
      vecCol, idCol, q, k)

  /** Batch ANN join: approximate top-k corpus neighbors for EVERY row
    * of a query DataFrame — the scale path when the query side is too
    * big for [[Similarity.topKJoin]]'s broadcast (millions of queries ×
    * billions of corpus rows). No broadcast, no all-pairs: each query
    * expands to its `nprobe` nearest cells (one codegen'd
    * multi-probe kernel — the centroid matrix is the only driver-side
    * state), candidates meet in a hash join keyed by cell id, exact
    * distances run inside probed cells only, and a rank-limit window
    * (WindowGroupLimit pushes the top-k below the shuffle) keeps k per
    * query. Hot cells skew the join the same way hot keys skew any
    * join — AQE skew splitting applies.
    *
    * Returns (queryIdCol, idCol, distance), ascending per query. */
  def queryBatch(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    require(nprobe >= 1 && nprobe <= nClusters,
      s"nprobe must be in [1, $nClusters]")
    require(queryIdCol != idCol,
      s"query id column '$queryIdCol' must differ from corpus id '$idCol'")
    // the join/window below introduce these names; a corpus column with
    // the same name would be ambiguous or silently clobbered
    for (reserved <- Seq("__qid", "__qv", "__rn", "distance"))
      require(!assigned.columns.contains(reserved),
        s"corpus frame must not contain a column named '$reserved'")
    import graft.functions.VectorFunctions.{nearest_centroids, squared_l2}
    import org.apache.spark.sql.expressions.Window
    val probes = queries
      .select(col(queryIdCol).as("__qid"), col(queryVecCol).as("__qv"))
      .select(col("__qid"), col("__qv"),
        explode(nearest_centroids(col("__qv"), centroids, nprobe))
          .as(IvfIndex.ClusterCol))
    val w = Window.partitionBy("__qid")
      .orderBy(col("distance").asc, col(idCol).asc)
    probes.join(assigned, Seq(IvfIndex.ClusterCol))
      .withColumn("distance", squared_l2(col("__qv"), col(vecCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col("__qid").as(queryIdCol), col(idCol), col("distance"))
  }

  /** Persist partitioned by cluster: downstream reads of a probed
    * query prune to nprobe directories (`PartitionFilters` in the
    * scan). */
  def writePartitioned(path: String): Unit =
    assigned.write.mode("overwrite")
      .partitionBy(IvfIndex.ClusterCol).parquet(path)

  /** Per-cell health: row count plus quantization error (squared-L2 of
    * each row's residual against its OWN centroid — for rows assigned
    * by [[IvfIndex.assignCells]] this is also the nearest-centroid
    * distance). One partial-aggregated `groupBy` job whose output is
    * nClusters rows; cells currently empty are absent.
    * Returns (cluster, n, mean_sq_err, max_sq_err). */
  def cellStats: DataFrame = {
    import graft.functions.VectorFunctions.{cell_residual, vec_dot}
    assigned
      .withColumn("__r",
        cell_residual(col(IvfIndex.ClusterCol), col(vecCol), centroids))
      .withColumn("__qe", vec_dot(col("__r"), col("__r")))
      .groupBy(IvfIndex.ClusterCol)
      .agg(count(lit(1)).as("n"), avg("__qe").as("mean_sq_err"),
        max("__qe").as("max_sq_err"))
  }
}

object IvfIndex {
  val ClusterCol = "cluster"

  /** The `nprobe` cells nearest to `q`, closest first: squared-L2 to
    * each centroid driver-side (the centroid table is tiny by
    * construction), ties by cell id. */
  private[operators] def probe(cells: Array[Array[Float]], q: Array[Float],
      nprobe: Int): Array[Int] = {
    require(nprobe >= 1 && nprobe <= cells.length,
      s"nprobe must be in [1, ${cells.length}]")
    cells.zipWithIndex
      .map { case (c, i) => (VectorOps.squaredL2Floats(q, c), i) }
      .sortBy { case (d, i) => (d, i) }
      .take(nprobe).map(_._2)
  }

  /** One branch per probed cell of a cell-partitioned codes `table`,
    * unioned: the cell's pruned partition scored by `score` of the
    * query's residual against that cell's centroid, as
    * (idCol, distance) — nprobe parallel pruned scans. */
  private[operators] def residualBranches(table: DataFrame,
      cells: Array[Array[Float]], q: Array[Float], nprobe: Int,
      idCol: String)(score: Array[Float] => Column): DataFrame =
    probe(cells, q, nprobe).toSeq.map { cell =>
      val residQ = q.indices.map(i => q(i) - cells(cell)(i)).toArray
      table.filter(col(ClusterCol) === cell)
        .withColumn("distance", score(residQ))
        .select(col(idCol), col("distance"))
    }.reduce(_ unionByName _)

  /** Fit centroids on one bounded in-process sample, assign every row
    * its nearest centroid.
    *
    * Training shape: one top-N collect (two for a large frame) brings
    * the `sampleFraction` sample to the driver, cut at 256 × nClusters
    * rows and at a driver byte budget ([[LocalFit.trainingSample]]).
    * Seeding and every Lloyd's round run in-process on that array with
    * the engine's own
    * [[graft.functions.NearestCentroid]] kernel, double accumulation,
    * and empty cells keeping their previous centroid
    * ([[LocalFit.lloyd]]). Scale shape: the corpus is touched once, by
    * the final assignment — one lazy narrow codegen'd map.
    *
    * @param sampleFraction training sample for the fit, before the
    *                       256-per-centroid cap
    * @param tol            early-exit threshold on the max squared-L2
    *                       centroid shift per iteration; the default 0
    *                       exits only on an exact fixpoint (assignment
    *                       is deterministic given centroids, so further
    *                       iterations cannot change anything)
    */
  def build(df: DataFrame, vecCol: String, idCol: String, nClusters: Int,
      seed: Long = 42L, sampleFraction: Double = 1.0,
      maxIter: Int = 8, tol: Double = 0.0): IvfIndex = {
    require(nClusters >= 2, "need at least 2 clusters")
    val sample = LocalFit.trainingSample(df, vecCol, idCol, seed,
      sampleFraction, nClusters, "IVF centroids")
    val centroids = fitCentroids(sample, nClusters, maxIter, tol)
    new IvfIndex(centroids, assignCells(df, vecCol, centroids), vecCol,
      idCol)
  }

  /** Seeded Lloyd's on a hash-ordered sample ([[LocalFit.trainingSample]]).
    * Init: the first nClusters DISTINCT vectors in that order (duplicate
    * vectors — common in dedup corpora — would seed identical centroids
    * and leave cells permanently dead). */
  private[operators] def fitCentroids(sample: Array[Array[Float]],
      nClusters: Int, maxIter: Int, tol: Double): Array[Array[Float]] = {
    val seeds = LocalFit.firstDistinct(sample, nClusters)
    require(seeds.length >= 2,
      s"need >= 2 distinct vectors to build $nClusters clusters")
    lloydRounds(sample, seeds.toArray, maxIter, tol)
  }

  /** In-process Lloyd's rounds from `init` ([[LocalFit.lloyd]] with the
    * [[graft.functions.NearestCentroid]] kernel); one round is the
    * in-process twin of [[lloydStepMeans]]. */
  private[operators] def lloydRounds(points: Array[Array[Float]],
      init: Array[Array[Float]], maxIter: Int,
      tol: Double): Array[Array[Float]] =
    LocalFit.lloyd(Array(points), Array(init), maxIter, tol) {
      (books, _, p) => VectorOps.nearestCentroid(p, true, books(0))
    }(0)

  /** Persist the whole index under one root: the cell-partitioned
    * rows (`<path>/table`) plus the centroid matrix (`<path>/cells`) —
    * self-describing, so a search job reopens it from the path alone
    * via [[loadSaved]]. */
  def save(idx: IvfIndex, path: String): Unit = {
    idx.writePartitioned(s"$path/table")
    IndexArtifacts.writeMatrix(idx.assigned.sparkSession, idx.centroids,
      s"$path/cells")
  }

  /** Reopen a [[save]]d index. */
  def loadSaved(spark: SparkSession, path: String, vecCol: String,
      idCol: String): IvfIndex =
    new IvfIndex(IndexArtifacts.readMatrix(spark, s"$path/cells"),
      spark.read.parquet(s"$path/table"), vecCol, idCol)

  /** One Lloyd's recenter step as a cross-engine-auditable frame —
    * the oracle twin of the in-process round [[IvfIndex.build]] runs
    * ([[lloydRounds]],
    * spec-pinned to this frame). Runs the REAL code path (the codegen'd
    * [[graft.functions.NearestCentroid]] argmin assignment, then the
    * `vec_sum` partial-aggregate recenter), but emits scalar rows
    * `(cluster, i, value, n)` with each mean rounded to decimal(18,9)
    * so the result is sum-order independent and hash-comparable against
    * a SQL engine (the `label_centroids` convention). With this, the
    * previously unoracled "Lloyd's training" exemption shrinks to just
    * the convergence LOOP — the assignment kernel and the recenter
    * arithmetic of a full iteration are machine-checked. */
  def lloydStepMeans(df: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    import graft.functions.VectorFunctions.vec_sum
    assignCells(df, vecCol, centroids)
      .groupBy(col(ClusterCol))
      .agg(vec_sum(col(vecCol)).as("s"), count(lit(1)).as("n"))
      .select(col(ClusterCol).cast("long").as("cluster"), col("n"),
        posexplode(col("s")).as(Seq("i", "s")))
      .select(col("cluster"), col("i").cast("long").as("i"),
        (col("s") / col("n").cast("double"))
          .cast("decimal(18,9)").cast("double").as("value"), col("n"))
      .orderBy("cluster", "i")
  }

  /** Nearest-centroid assignment as one codegen'd kernel expression —
    * the centroid matrix rides along as a reference object, so the
    * projection stays a single expression at any cluster count (an
    * argmin over N subexpressions would hit codegen size limits in the
    * thousands). Narrow map: no shuffle, no ML dependency. */
  def assignCells(df: DataFrame, vecCol: String,
      centroids: Array[Array[Float]]): DataFrame = {
    import graft.functions.VectorFunctions.nearest_centroid
    df.withColumn(ClusterCol, nearest_centroid(col(vecCol), centroids))
  }
}
