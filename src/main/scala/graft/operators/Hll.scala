package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007) — the
  * bounded-memory answer to "how many distinct tokens / URLs / users
  * does this corpus have", where the exact `COUNT(DISTINCT x)`
  * shuffles every distinct value (billions of n-grams at 100 TB).
  *
  * Each value hashes once; `reg` register index bits and a
  * leading-zero rank `rho` come from disjoint bit ranges of the hash;
  * a register keeps MAX(rho). The whole sketch is ≤ m rows however
  * large the corpus — partial aggregation collapses every partition to
  * ≤ m (reg, rho) rows before the exchange, so the shuffle is
  * m-bounded like [[CountMin]]'s, and the merge is the register-wise
  * MAX monoid: `merge(sketch(A), sketch(B)) == sketch(A ∪ B)` EXACTLY
  * (spec-asserted), which is what makes it shard-friendly — fit per
  * day/crawl-slice, merge the tiny frames.
  *
  * Hashing, same policy as [[CountMin]]/[[Dsir]]: default
  * xxhash64 (codegen'd scale path; register = low log2(m) bits, rho
  * over the remaining 64−b bits via exact `bin()` bit-length — no
  * floating log2); `portableHash=true` derives both fields from md5
  * hex so registers AND estimates are engine-exact for the oracle
  * gate (register = 12 bits over chars 1–3, rho = leading zero BITS
  * of chars 4–15, computed by exact string ops both engines replay).
  */
object Hll {

  /** rho upper bound in portable mode: 48 hash bits → ranks 1..49. */
  val PortableRhoMax = 49

  private def portableFields(v: Column, m: Int): (Column, Column) = {
    require(m <= 1024 && 4096 % m == 0,
      "portable hashing draws 12 register bits (3 md5 hex chars): m " +
        s"must divide 4096 and stay <= 1024 (exact-integer Z), got $m")
    val h = md5(v)
    val reg = pmod(conv(substring(h, 1, 3), 16, 10).cast("int"), lit(m))
    // rank of the first 1-bit in the 48 bits of hex chars 4..15:
    // 4 bits per leading zero CHAR + the zero bits inside the first
    // significant char (by its value class) + 1; all-zero -> 49
    val tail = substring(h, 4, 12)
    val sig = regexp_replace(tail, "^0+", "")
    val zeroChars = lit(12) - length(sig)
    val firstVal = conv(substring(sig, 1, 1), 16, 10).cast("int")
    val inChar = when(firstVal >= 8, 0).when(firstVal >= 4, 1)
      .when(firstVal >= 2, 2).otherwise(3)
    val rho = when(length(sig) === 0, lit(PortableRhoMax))
      .otherwise(zeroChars * 4 + inChar + 1)
    (reg, rho)
  }

  private def xxFields(v: Column, m: Int): (Column, Column) = {
    require(m >= 2 && (m & (m - 1)) == 0,
      s"xxhash64 mode needs a power-of-two register count, got $m")
    val b = java.lang.Integer.numberOfTrailingZeros(m)
    val h = xxhash64(v)
    val reg = (h.bitwiseAND(lit((m - 1).toLong))).cast("int")
    // w = the remaining 64-b bits (unsigned shift makes it >= 0);
    // bin(w) has no leading zeros, so its length IS bitlength(w) and
    // rho = (64-b) - bitlength + 1 exactly — no float log anywhere
    val w = shiftrightunsigned(h, b)
    val rho = when(w === 0, lit(64 - b + 1))
      .otherwise(lit(64 - b + 1) - length(bin(w)))
    (reg, rho)
  }

  /** Sketch one value column: registers (reg, rho) with at most m
    * rows, rho = MAX over values hashing to the register. Nulls are
    * not counted (COUNT DISTINCT semantics). */
  def sketch(df: DataFrame, valueCol: String, m: Int,
      portableHash: Boolean = false): DataFrame =
    sketchByKey(df, Nil, valueCol, m, portableHash)

  /** Per-group sketches in one pass: (keyCols..., reg, rho) — ≤ m rows
    * per key. The grouped form is how "distinct tokens per language /
    * per crawl-slice" stays one bounded shuffle instead of a
    * per-group COUNT DISTINCT. */
  def sketchByKey(df: DataFrame, keyCols: Seq[String], valueCol: String,
      m: Int, portableHash: Boolean = false): DataFrame = {
    val (reg, rho) =
      if (portableHash) portableFields(col(valueCol), m)
      else xxFields(col(valueCol), m)
    df.where(col(valueCol).isNotNull)
      .select(keyCols.map(col) :+ reg.as("reg") :+ rho.as("rho"): _*)
      .groupBy(keyCols.map(col) :+ col("reg"): _*)
      .agg(max("rho").cast("int").as("rho"))
  }

  /** EXACT mergeable distinct count over an integer id column via
    * Spark's built-in bitmap aggregates (bitmap_bucket_number /
    * bitmap_bit_position / bitmap_construct_agg, codegen'd): ids
    * partition into 32768-bit buckets; each (key, bucket) collapses
    * to ONE 4-KiB bitmap with map-side combine, so the shuffle
    * carries at most one bitmap row per (partition, key, occupied
    * bucket) — exact like COUNT(DISTINCT), bounded like the HLL
    * sketch. The right tool when ids are
    * integers with bounded range density (users, docs, events) and
    * the count must be exact (dedup accounting, billing); HLL remains
    * the choice for unbounded string universes. Returns one row per
    * key: (keyCols..., n_distinct). */
  def exactDistinctBitmap(df: DataFrame, keyCols: Seq[String],
      valueCol: String): DataFrame =
    df.where(col(valueCol).isNotNull)
      .select(keyCols.map(col) :+
        expr(s"bitmap_bucket_number($valueCol)").as("__bucket") :+
        expr(s"bitmap_bit_position($valueCol)").as("__pos"): _*)
      .groupBy(keyCols.map(col) :+ col("__bucket"): _*)
      .agg(expr("bitmap_construct_agg(__pos)").as("__bm"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(expr("bitmap_count(__bm)")).cast("long").as("n_distinct"))

  /** Merge sketches built with the SAME (m, hash): register-wise MAX.
    * Pass the key columns the sketches were grouped by (empty for
    * ungrouped). */
  def merge(sketches: Seq[DataFrame], keyCols: Seq[String] = Nil): DataFrame = {
    require(sketches.nonEmpty, "need at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy(keyCols.map(col) :+ col("reg"): _*)
      .agg(max("rho").cast("int").as("rho"))
  }

  /** alpha_m * m^2 — the raw-estimate numerator constant (Flajolet et
    * al. 2007 eq. 3, the m >= 128 alpha). One Scala double; the oracle
    * embeds its decimal string so both engines divide the same
    * numerator. */
  def alphaM2(m: Int): Double =
    0.7213 / (1.0 + 1.079 / m) * m * m

  /** Exact-integer harmonic denominator + raw estimate, per key, in
    * PORTABLE-mode rank units: z_scaled = sum over all m registers of
    * 2^(49-rho) (empty registers rho=0 contribute 2^49), a plain
    * BIGINT (m <= 1024 keeps it under 2^59) — so the only floating op
    * is ONE division of engine-exact inputs, bit-identical across
    * engines. Returns (keyCols..., zeros, z_scaled, raw_est); raw_est
    * is the uncorrected HLL estimator (no small-range linear-counting
    * correction). */
  def rawEstimateByKey(registers: DataFrame, keyCols: Seq[String],
      m: Int): DataFrame = {
    require(m <= 1024, s"exact-integer Z needs m <= 1024, got $m")
    // xxhash-mode ranks can exceed the portable max (up to 64−b+1);
    // an unclamped 49 − rho would go negative and Java's masked shift
    // would turn a ~2^-8 weight into ~2^56. Clamp at the portable max:
    // the bias is one register seeing ≥ 49 leading zero bits —
    // probability 2^-49 per value, irrelevant next to HLL's 1.04/√m
    // coalesce: a sketch of an EMPTY frame has zero register rows, so
    // the keyless global aggregate yields count=0 / sum=NULL — __zused
    // must be 0 there (zeros then covers all m registers and raw_est
    // is the standard alpha·m empty-sketch estimate, not NULL). Keyed
    // groups always have ≥1 row, so the coalesce is a no-op for them.
    val grouped = registers
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("__used"),
        coalesce(sum(expr(s"shiftleft(cast(1 as bigint), " +
          s"$PortableRhoMax - least(rho, $PortableRhoMax))")), lit(0L))
          .cast("long").as("__zused"))
    grouped
      .withColumn("zeros", lit(m.toLong) - col("__used"))
      .withColumn("z_scaled",
        col("__zused") + col("zeros") * lit(1L << PortableRhoMax))
      .withColumn("raw_est",
        lit(alphaM2(m) * math.pow(2.0, PortableRhoMax)) /
          col("z_scaled").cast("double"))
      .drop("__used", "__zused")
  }

  /** Sketch set algebra: distinct-count estimates for two value sets,
    * their union (register-wise MAX — the HLL union is EXACT over
    * sketches), the inclusion–exclusion intersection estimate
    * est_a + est_b − est_union, and the derived Jaccard estimate —
    * one row. The sketch-union trick is the point: |A∪B| needs no
    * re-scan of either input once sketches exist, so cross-corpus
    * overlap questions ("how much vocabulary do these two crawls
    * share?") run over ≤ 3m register rows. Raw (uncorrected)
    * estimates, so every emitted double is a fixed chain of
    * engine-exact divisions/adds. Intersection via inclusion–exclusion
    * can go negative for near-disjoint sets — that is the estimator,
    * not a bug (documented). m ≤ 1024 (the exact-integer Z
    * constraint of [[rawEstimateByKey]], both hash modes — xx-mode
    * ranks above the portable max are clamped there). */
  def setOpEstimates(a: DataFrame, b: DataFrame, valueCol: String,
      m: Int, portableHash: Boolean = false): DataFrame = {
    val ska = sketch(a, valueCol, m, portableHash)
    val skb = sketch(b, valueCol, m, portableHash)
    val sku = merge(Seq(ska, skb))
    def est(sk: DataFrame, name: String) =
      broadcast(rawEstimateByKey(sk, Nil, m)
        .select(col("raw_est").as(name)))
    est(ska, "est_a").crossJoin(est(skb, "est_b"))
      .crossJoin(est(sku, "est_union"))
      .withColumn("est_inter",
        col("est_a") + col("est_b") - col("est_union"))
      .withColumn("jaccard_est", col("est_inter") / col("est_union"))
  }
}
