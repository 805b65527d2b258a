package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{tokens, shingles}

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): pick raw-corpus documents whose hashed-n-gram
  * distribution resembles a small high-quality target corpus. The
  * standard pretraining-data selection recipe: fit two bucketed
  * bag-of-n-gram language models (target and raw), score every raw
  * document by its log importance weight
  * `Σ_grams [ln p_target(bucket) − ln p_raw(bucket)]`, then sample
  * without replacement with probability ∝ exp(weight) via Gumbel
  * top-k.
  *
  * Scale shape (built for the 100 TB corpus, not the toy gate):
  *  - the two LM fits are one explode + B-bounded hash aggregate each
  *    (B = `buckets` output rows, partial-aggregated — the shuffle
  *    carries at most B rows per partition);
  *  - the per-bucket log-likelihood-ratio table is ≤ B rows and joins
  *    the document grams BROADCAST — the corpus never shuffles for
  *    scoring; the only corpus-sized shuffle is the per-doc weight
  *    aggregate on the id;
  *  - Gumbel top-k plans as a narrow map + `TakeOrderedAndProject`
  *    (per-partition heaps) — no global sort of the corpus.
  *
  * Hashing: the default `portableHash=false` buckets grams with
  * codegen'd xxhash64 (the throughput path). `portableHash=true`
  * buckets by the first 3 hex chars of md5 — identical in every
  * engine, so the WHOLE pipeline (fit → score → select) is
  * DuckDB-oracle-checkable; md5-per-gram costs more but changes
  * nothing semantic. Same policy as `Sampling.hashSample`.
  *
  * Determinism: with `oracleRounding=true` each bucket's llr is
  * rounded to decimal(18,9) BEFORE the per-doc sum (ln is
  * libm-dependent at the ulp; a rounded decimal sum is order-free and
  * engine-exact — the BM25/RRF lesson), and Gumbel keys round to
  * decimal(18,6) with id tiebreaks exactly like
  * `Sampling.weightedSample(roundKeys = true)`.
  */
object Dsir {

  /** Unigrams + word bigrams — the paper's feature set. */
  private[operators] def grams(c: Column): Column =
    concat(tokens(c), shingles(c, 2))

  private def bucketOf(gram: Column, buckets: Int,
      portableHash: Boolean): Column =
    if (portableHash) {
      // divisor-of-4096 keeps the 12 drawn bits exactly uniform over
      // the buckets (pmod over a non-divisor biases low buckets) —
      // same policy as [[CountMin]]
      require(buckets <= 4096 && 4096 % buckets == 0,
        "portable hashing draws 12 bits (3 md5 hex chars): buckets must " +
          s"divide 4096 for an unbiased bucket map, got $buckets")
      pmod(conv(substring(md5(gram), 1, 3), 16, 10).cast("int"), lit(buckets))
    } else pmod(xxhash64(gram), lit(buckets.toLong)).cast("int")

  /** Hashed-gram counts over a corpus: (bucket, c), ≤ `buckets` rows. */
  def hashedGramCounts(docs: DataFrame, textCol: String, buckets: Int,
      portableHash: Boolean = false): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    docs.select(explode(grams(col(textCol))).as("__g"))
      .select(bucketOf(col("__g"), buckets, portableHash).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
  }

  /** Per-bucket log-likelihood ratio `ln p_t(b) − ln p_r(b)` with
    * add-1 smoothing, TOTAL over all `buckets` buckets (unseen buckets
    * get the smoothed floor, so downstream joins never miss). ≤ B
    * rows — always broadcast-able. */
  def logRatioTable(target: DataFrame, raw: DataFrame, textCol: String,
      buckets: Int, portableHash: Boolean = false,
      oracleRounding: Boolean = false): DataFrame = {
    val tc = hashedGramCounts(target, textCol, buckets, portableHash)
      .withColumnRenamed("c", "ct")
    val rc = hashedGramCounts(raw, textCol, buckets, portableHash)
      .withColumnRenamed("c", "cr")
    // corpus gram totals via narrow no-explode size-sums (sum skips
    // null arrays exactly as explode drops them — the bigramPmi
    // lesson: re-aggregating tc/rc here would re-run both corpus
    // explodes, since exchange reuse across aliased branches is not
    // guaranteed)
    val totals =
      target.agg(coalesce(sum(size(grams(col(textCol)))), lit(0L))
          .cast("long").as("__nt"))
        .crossJoin(raw.agg(coalesce(sum(size(grams(col(textCol)))), lit(0L))
          .cast("long").as("__nr")))
    val all = target.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val llr =
      log((col("ct") + 1).cast("double") /
        (col("__nt") + buckets).cast("double")) -
      log((col("cr") + 1).cast("double") /
        (col("__nr") + buckets).cast("double"))
    all.join(tc, Seq("bucket"), "left")
      .join(rc, Seq("bucket"), "left")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (if (oracleRounding) llr.cast("decimal(18,9)") else llr).as("llr"))
  }

  /** Log importance weight per document of `docs`: one explode, a
    * BROADCAST join against the llr table, one per-doc aggregated
    * shuffle. Documents with no grams score 0 (they stay selectable,
    * at the neutral weight). Returns (idCol, logw) — logw is
    * decimal when the table was built with `oracleRounding`. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      llrTable: DataFrame, buckets: Int,
      portableHash: Boolean = false): DataFrame = {
    val scored = docs
      .select(col(idCol), explode(grams(col(textCol))).as("__g"))
      .select(col(idCol), bucketOf(col("__g"), buckets, portableHash).as("bucket"))
      .join(broadcast(llrTable), Seq("bucket"))
      .groupBy(idCol).agg(sum("llr").as("logw"))
    val zero = lit(0).cast(scored.schema("logw").dataType)
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("logw"), zero).as("logw"))
  }

  /** Gumbel top-k: k rows without replacement with probability
    * ∝ exp(logw). Each row draws u ∈ (0,1) from its md5 digest (same
    * row → same draw on any engine or partitioning; the +0.5 offset
    * keeps u strictly inside (0,1) so both ln's stay finite), keys
    * `logw + (−ln(−ln u))`, and the k LARGEST keys win (Gumbel-max
    * trick). Narrow map + TakeOrderedAndProject — no corpus shuffle.
    * `roundKeys=true` is the oracle-comparable mode: decimal(18,6)
    * keys, ties by id (see Sampling.weightedSample's contract). */
  def gumbelTopK(weights: DataFrame, idCol: String, logwCol: String,
      k: Int, roundKeys: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    require(!weights.columns.contains("__dsir_key"),
      "reserved column '__dsir_key' present — rename it")
    val u = (conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 13), 16, 10).cast("double") + 0.5) / math.pow(16.0, 13)
    val key0 = col(logwCol).cast("double") - log(-log(u))
    val key = if (roundKeys) key0.cast("decimal(18,6)") else key0
    weights.withColumn("__dsir_key", key)
      .orderBy(col("__dsir_key").desc, col(idCol).asc)
      .limit(k)
      .drop("__dsir_key")
  }
}
