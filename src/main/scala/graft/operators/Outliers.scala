package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quantile-based outlier handling — the curation stage that keeps a
  * handful of pathological rows (a 10 MB "document", a corrupt length
  * field, an exploding embedding norm) from dominating downstream
  * statistics and training mixes.
  *
  *  - '''winsorize''': clamp `valCol` into its per-key [pLo, pHi]
  *    EXACT quantile cutpoints (type-7, via [[Quantiles.exact]] — the
  *    same fixed interpolation expression the oracle reproduces).
  *
  * Scale shape: the cutpoint frame is |keys|×2 rows — broadcast-small
  * by construction, so the clamp pass is one broadcast join +
  * codegen'd `greatest/least`, no second shuffle of the data. The
  * quantile pass itself is [[Quantiles.exact]]'s one sort-shuffle; at
  * 100 TB swap in `approx_percentile` cutpoints when sketch error is
  * acceptable — the clamp pass is unchanged.
  */
object Outliers {

  private def cutpoints(df: DataFrame, keyCols: Seq[String],
      valCol: String, pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    Quantiles.exact(df, keyCols, valCol, Seq(pLo, pHi))
      .groupBy(keyCols.map(col): _*)
      .agg(min(when(col("p") === pLo, col("quantile"))).as("__qlo"),
        min(when(col("p") === pHi, col("quantile"))).as("__qhi"))
  }

  /** Winsorized copy of `valCol` as `outCol`: values clamp into the
    * per-key exact [pLo, pHi] quantile range; NULL values pass through
    * as NULL. Rows of keys absent from the fit (all-null groups) keep
    * their value unclamped. */
  def winsorize(df: DataFrame, keyCols: Seq[String], valCol: String,
      pLo: Double = 0.01, pHi: Double = 0.99,
      outCol: String = "winsorized"): DataFrame = {
    val cuts = cutpoints(df, keyCols, valCol, pLo, pHi)
    df.join(broadcast(cuts), keyCols, "left")
      .withColumn(outCol,
        when(col(valCol).isNull || col("__qlo").isNull, col(valCol))
          .otherwise(greatest(least(col(valCol).cast("double"),
            col("__qhi")), col("__qlo"))))
      .drop("__qlo", "__qhi")
  }

  /** Robust (MAD) modified z-score per key — Iglewicz–Hoaglin:
    * `0.6745 · (v − median) / MAD` with both statistics EXACT type-7
    * medians, so one extreme row cannot drag its own cutoff the way a
    * mean/stddev z-score lets it. A degenerate key (MAD 0: over half
    * the values identical) scores NULL rather than ±∞ — flag nothing,
    * by convention. NULL values score NULL.
    *
    * Two quantile passes (median, then median of |v − median|) and two
    * broadcast joins of |keys|-row frames; the scoring pass itself is
    * one codegen'd projection. The z expression is one fixed double
    * formula over exact inputs — bit-stable across engines, so the
    * oracle replicates it verbatim. */
  def madScore(df: DataFrame, keyCols: Seq[String], valCol: String,
      scoreCol: String = "mad_z"): DataFrame = {
    val med = Quantiles.exact(df, keyCols, valCol, Seq(0.5))
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("quantile")).as("__med"))
    val dev = df.join(broadcast(med), keyCols)
      .withColumn("__absdev",
        abs(col(valCol).cast("double") - col("__med")))
    val mad = Quantiles.exact(dev, keyCols, "__absdev", Seq(0.5))
      .groupBy(keyCols.map(col): _*)
      .agg(min(col("quantile")).as("__mad"))
    df.join(broadcast(med), keyCols, "left")
      .join(broadcast(mad), keyCols, "left")
      .withColumn(scoreCol,
        when(col(valCol).isNull || col("__mad").isNull ||
          col("__mad") === 0.0, lit(null).cast("double"))
          .otherwise(lit(0.6745) *
            (col(valCol).cast("double") - col("__med")) / col("__mad")))
      .drop("__med", "__mad")
  }
}
