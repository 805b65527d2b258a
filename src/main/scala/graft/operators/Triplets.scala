package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contrastive-triplet mining over an embedding column — the
  * training-data operator behind embedding-model fine-tuning
  * (sentence-transformers-style (anchor, positive, negative) triplets
  * with HARD negatives, per Schroff et al., FaceNet CVPR 2015 §3.2:
  * the informative negatives are the nearest wrong-label examples,
  * not random ones).
  *
  * Scale shape — the SemDeDup trick reused for mining: k-means-cell
  * the corpus (IVF Lloyd's fit, sampleable), generate candidate pairs
  * ONLY within cells (quadratic cost confined to corpus/nClusters
  * slices, hot cells pruned), score each distinct pair with one
  * cosine, then per anchor keep the best same-label candidate
  * (positive) and the best different-label candidate (hard negative)
  * via max_by partial aggregation. Vectors cross the shuffle exactly
  * twice (the pair payload re-joins); everything after is id-sized.
  * Like SemDeDup, cross-cell pairs are sacrificed — for mining that
  * costs candidate coverage, not correctness (any in-cell hard
  * negative is still a hard negative).
  *
  * Sizing `nClusters`: identical to [[Dedup.semanticDedupPairs]] —
  * in-cell pair volume is Θ(n²/nClusters), so hold expected cell size
  * constant (nClusters = n/targetCellSize) as the corpus grows; a
  * pinned k at 10× data means ~100× scoring work (measured:
  * `triplet_mine_fixed` 0.95 s→25.2 s sf0.1→sf1 at fixed k).
  */
object Triplets {

  /** Mine (anchor, positive, negative) triplets. Returns one row per
    * anchor that has BOTH an in-cell same-label and different-label
    * candidate: (idCol, positive_id, negative_id, pos_cosine,
    * neg_cosine). Ties break by candidate id for determinism. */
  def mine(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, nClusters: Int, seed: Long = 42L,
      sampleFraction: Double = 1.0,
      maxCellSize: Int = 10000): DataFrame = {
    val scored = Dedup.semanticDedupPairs(df, idCol, vecCol, nClusters,
      threshold = -1.0, seed = seed, sampleFraction = sampleFraction,
      maxCellSize = maxCellSize)
    fromScoredPairs(scored, df, idCol, labelCol)
  }

  /** [[mine]] with a caller-provided centroid matrix (see
    * [[Dedup.semanticDedupPairsWithCentroids]]) — reuse an existing
    * IVF fit or an offline sample fit; also float-deterministic, so
    * the mining selection itself is oracle-checkable. */
  def mineWithCentroids(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, centroids: Array[Array[Float]],
      maxCellSize: Int = 10000): DataFrame = {
    val scored = Dedup.semanticDedupPairsWithCentroids(df, idCol,
      vecCol, centroids, threshold = -1.0, maxCellSize = maxCellSize)
    fromScoredPairs(scored, df, idCol, labelCol)
  }

  private def fromScoredPairs(scored: DataFrame, df: DataFrame,
      idCol: String, labelCol: String): DataFrame = {
    // both directions: every pair member is an anchor for the other
    val directed = scored.select(col("idA").as("__anchor"),
        col("idB").as("__cand"), col("cosine"))
      .unionByName(scored.select(col("idB").as("__anchor"),
        col("idA").as("__cand"), col("cosine")))
    val labels = df.select(col(idCol), col(labelCol))
    val withLabels = directed
      .join(labels.select(col(idCol).as("__anchor"),
        col(labelCol).as("__la")), Seq("__anchor"))
      .join(labels.select(col(idCol).as("__cand"),
        col(labelCol).as("__lc")), Seq("__cand"))
    // max_by(value, struct(cosine, -cand)): highest cosine wins, ties
    // by smaller candidate id (numeric ids by contract) — partial-
    // aggregated, one shuffle
    def best(side: DataFrame): DataFrame = side
      .groupBy(col("__anchor"))
      .agg(max_by(struct(col("__cand"), col("cosine")),
        struct(col("cosine"), -col("__cand"))).as("__b"))
      .select(col("__anchor"), col("__b.__cand"), col("__b.cosine"))
    val pos = withLabels.filter(col("__la") === col("__lc"))
      .transform(best)
      .select(col("__anchor"), col("__cand").as("positive_id"),
        col("cosine").as("pos_cosine"))
    val neg = withLabels.filter(col("__la") =!= col("__lc"))
      .transform(best)
      .select(col("__anchor"), col("__cand").as("negative_id"),
        col("cosine").as("neg_cosine"))
    pos.join(neg, Seq("__anchor"))
      .select(col("__anchor").as(idCol), col("positive_id"),
        col("negative_id"), col("pos_cosine"), col("neg_cosine"))
  }
}
