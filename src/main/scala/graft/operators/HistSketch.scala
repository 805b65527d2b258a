package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Fixed-grid quantile sketch — the bounded-memory complement to
  * [[Quantiles]]' exact two-pass cutpoints: an equi-width histogram
  * over known value bounds, with rank error bounded by one bucket
  * width. That is the right trade for pipeline telemetry at 100 TB,
  * where an exact global sort per metric would dwarf the job it
  * monitors. (Value-adaptive sketches — t-digest/KLL — trade the fixed
  * grid for relative accuracy but lose engine-exact determinism; the
  * fixed grid is deterministic to the bit in ANY engine.)
  *
  * Scale shape: the sketch is [[Profile.histogram]]'s partial-agg
  * bounded shuffle (≤ B rows cross the exchange per map task);
  * quantile evaluation runs a window over the ≤ B-row sketch frame —
  * bounded by construction, never data-sized.
  */
object HistSketch {

  /** Build the sketch: (bucket, lo, hi, n) over [minVal, maxVal) with
    * `buckets` equal widths; out-of-range values clamp into the edge
    * buckets (their mass is real, its position saturates — same
    * contract as [[Profile.histogram]], which this IS). */
  def sketch(df: DataFrame, valCol: String, minVal: Double, maxVal: Double,
      buckets: Int): DataFrame =
    Profile.histogram(df, valCol, minVal, maxVal, buckets)

  /** Quantile estimates from a sketch: for each p in `probs`, the
    * value at rank ⌈p·N⌉ (type-1 rank, p=0 → rank 1) located by the
    * cumulative bucket counts and linearly interpolated inside its
    * bucket:
    *
    *   est = lo_b + (hi_b − lo_b) · (rank − cum_{b−1}) / n_b
    *
    * an exact-integer-driven fixed double expression — deterministic
    * across engines. Returns (p, rank, est) ordered by p. Empty
    * sketches (N = 0) return no rows. The window runs over the ≤ B-row
    * sketch frame (bounded by construction, not data-sized). */
  def quantiles(sk: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty, "need at least one probability")
    require(probs.forall(p => p >= 0.0 && p <= 1.0), "probs in [0,1]")
    val spark = sk.sparkSession
    import spark.implicits._
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sk.withColumn("cum", sum("n").over(w).cast("long"))
      .withColumn("cum_prev", (col("cum") - col("n")).cast("long"))
    // "__total", not "N": Spark resolves case-insensitively, so an
    // "N" column would collide with the sketch's "n" at the join
    val total = cum.agg(max("cum").cast("long").as("__total"))
    val pf = probs.toDF("p")
    // rank = ceil(p·N) as exact integers (clamped to ≥ 1 for p = 0);
    // the bucket holding it is the first with cum >= rank
    pf.crossJoin(broadcast(total))
      .filter(col("__total") > 0L)
      .withColumn("rank",
        greatest(ceil(col("p") * col("__total")).cast("long"), lit(1L)))
      .join(cum, col("cum") >= col("rank") && col("cum_prev") < col("rank"))
      .select(col("p"), col("rank"),
        (col("lo") + (col("hi") - col("lo")) *
          ((col("rank") - col("cum_prev")).cast("double") /
            col("n").cast("double"))).as("est"))
      .orderBy("p")
  }
}
