package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Margin-based parallel-pair mining (Artetxe & Schwenk 2019, the
  * LASER/CCMatrix recipe): a raw cosine threshold cannot separate
  * translations from "hub" sentences that are near everything, so each
  * candidate pair (x, y) is scored by the RATIO margin
  *
  *   margin(x, y) = cos(x, y) / ((Σ_{z∈NNk(x)} cos(x,z) +
  *                                Σ_{z∈NNk(y)} cos(y,z)) / 2k)
  *
  * — similarity relative to what each side's neighborhood already
  * offers. Mined pairs are each x's best-margin y above a threshold
  * (margin > 1 ⇒ y is closer to x than x's average neighbor).
  *
  * Scale shape: two directed top-k joins (each a broadcast of the
  * QUERY side + narrow scoring + `WindowGroupLimit`-pruned rank — the
  * [[Similarity.topKJoin]] contract; corpus-×-corpus mining composes
  * the same margin over an LSH/IVF candidate set instead), then
  * per-node k-row aggregates and a broadcast-small join of the two
  * neighborhood-sum tables back onto the k·|A| candidate pairs.
  *
  * Determinism (oracle parity): each cosine is decimal(18,9)-rounded
  * before any sum — neighborhood sums become order-free decimal adds,
  * and the margin is a fixed two-division double expression over
  * engine-exact inputs. A double can never land exactly on a
  * 9-decimal half-tick (5·10⁻¹⁰ is not dyadic), so both engines round
  * identically — the [[Similarity.rrfFuse]] argument.
  */
object BitextMine {

  /** Candidate pairs with margins: for every x in `a`, its `k`
    * forward neighbors y in `b` scored by the ratio margin. Returns
    * (idA, idB, cos, margin) — `cos` is the 9-decimal pair cosine.
    * Both id columns must be distinct names; vectors same dimension.
    * `a` and `b` must each be broadcast-small as topKJoin query
    * sides (mine over candidate sets, not whole corpora). */
  def marginPairs(a: DataFrame, b: DataFrame, idA: String, vecA: String,
      idB: String, vecB: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(idA != idB, "idA and idB must differ (join output carries both)")
    val dec = "decimal(18,9)"
    // forward: x's top-k neighborhood in b (candidate pairs + Σ_fwd)
    val fwd = Similarity.topKJoin(
      b.select(col(idB), col(vecB)), a.select(col(idA), col(vecA)),
      k, idB, vecB, idA, vecA, Metric.Cosine, "__cos")
      .select(col(idA), col(idB), col("__cos").cast(dec).as("__cos9"))
    val sumFwd = fwd.groupBy(idA)
      .agg(sum("__cos9").as("__sum_fwd"))
    // backward: y's top-k neighborhood in a (only the Σ_bwd survives)
    val bwd = Similarity.topKJoin(
      a.select(col(idA), col(vecA)), b.select(col(idB), col(vecB)),
      k, idA, vecA, idB, vecB, Metric.Cosine, "__cos")
      .select(col(idB), col("__cos").cast(dec).as("__cos9"))
    val sumBwd = bwd.groupBy(idB)
      .agg(sum("__cos9").as("__sum_bwd"))
    // margin = cos / ((Σf + Σb) / 2k): both neighborhood-sum tables
    // are ≤|A| / ≤|B| single-row-per-node aggregates — broadcast joins
    fwd.join(broadcast(sumFwd), Seq(idA))
      .join(broadcast(sumBwd), Seq(idB))
      .select(col(idA), col(idB),
        col("__cos9").cast("string").cast("double").as("cos"),
        (col("__cos9").cast("string").cast("double") /
          ((col("__sum_fwd") + col("__sum_bwd")).cast("string")
            .cast("double") / lit(2.0 * k))).as("margin"))
  }

  /** Mined pairs: each x's single best-margin y, kept above
    * `threshold` (> 1.0 is the standard operating point). Ties break
    * by idB ascending. */
  def mine(a: DataFrame, b: DataFrame, idA: String, vecA: String,
      idB: String, vecB: String, k: Int,
      threshold: Double = 1.0): DataFrame = {
    val pairs = marginPairs(a, b, idA, vecA, idB, vecB, k)
    val w = Window.partitionBy(col(idA))
      .orderBy(col("margin").desc, col(idB).asc)
    pairs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1 && col("margin") > threshold)
      .drop("__rn")
  }
}
