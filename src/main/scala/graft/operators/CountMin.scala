package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan 2005) — bounded-memory
  * frequency estimation for heavy-hitter analysis over corpora whose
  * exact vocabulary would itself be a scale problem. `depth`
  * independent hash rows × `width` buckets; a point estimate is the
  * MIN over rows of the hashed bucket counts — always ≥ the true
  * count, within εN with probability 1−δ for width = ⌈e/ε⌉,
  * depth = ⌈ln(1/δ)⌉.
  *
  * Scale shape: the exact `groupBy(token)` this replaces shuffles
  * |vocab| keys (billions of n-grams at 100 TB); the sketch shuffle is
  * bounded depth·width ROWS TOTAL regardless of corpus size — the
  * depth-factor explode is map-side and partial aggregation collapses
  * each partition to ≤ depth·width rows before the exchange. The
  * sketch frame is tiny by construction, so estimation joins it
  * BROADCAST.
  *
  * Hashing: default xxhash64(seed, token) (codegen'd scale path);
  * `portableHash=true` derives buckets from md5 hex so sketch AND
  * estimates are engine-exact (same policy as [[Dsir]]).
  */
object CountMin {

  private def bucketOf(seed: Column, tok: Column, width: Int,
      portableHash: Boolean): Column =
    if (portableHash) {
      // pmod over a non-divisor of 4096 would bias low buckets and
      // quietly weaken the width=⌈e/ε⌉ error bound (the upper-bound
      // property itself would survive); requiring a divisor keeps the
      // 12 drawn bits exactly uniform over the buckets
      require(width <= 4096 && 4096 % width == 0,
        "portable hashing draws 12 bits (3 md5 hex chars): width must " +
          s"divide 4096 for an unbiased bucket map, got $width")
      pmod(conv(substring(
        md5(concat(seed.cast("string"), lit(":"), tok)), 1, 3), 16, 10)
        .cast("int"), lit(width))
    } else pmod(xxhash64(seed, tok), lit(width.toLong)).cast("int")

  /** Build the sketch over one token column: (seed, bucket, c) with at
    * most depth·width rows. Null tokens are not counted. */
  def sketch(df: DataFrame, tokenCol: String, depth: Int, width: Int,
      portableHash: Boolean = false): DataFrame = {
    require(depth > 0, "depth must be positive")
    require(width > 0, "width must be positive")
    df.select(col(tokenCol).as("__tok"))
      .where(col("__tok").isNotNull)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("seed"),
        col("__tok"))
      .select(col("seed"),
        bucketOf(col("seed"), col("__tok"), width, portableHash).as("bucket"))
      .groupBy("seed", "bucket").agg(count(lit(1)).as("c"))
  }

  /** Collect a [[sketch]] frame into the dense depth×width count
    * table [[estimateCol]] embeds. Bounded by construction: the
    * sketch frame has at most depth·width rows whatever the corpus
    * size, so this collect is sketch-sized, never data-sized. */
  def collectTable(sk: DataFrame, depth: Int, width: Int): Array[Array[Long]] = {
    require(depth > 0 && width > 0, "depth/width must be positive")
    val t = Array.fill(depth)(Array.fill(width)(0L))
    sk.select(col("seed").cast("int"), col("bucket").cast("int"),
        col("c").cast("long"))
      .collect()
      .foreach(r => t(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    t
  }

  /** Per-row point-estimate COLUMN against a driver-collected count
    * table — the probe side of [[sketch]] with no UDF: each hash
    * row's width-long bucket array is embedded as ONE array literal
    * and the estimate is `least` over depth of
    * `element_at(row_i, bucket_i(tok) + 1)` — plain codegen'd
    * Catalyst (xxhash64/md5 + array index), no serialized closure on
    * the per-row hot path. `table` must come from a sketch built with
    * the SAME (depth = table.length, width = table(0).length, hash) —
    * [[collectTable]] produces exactly that. */
  def estimateCol(table: Array[Array[Long]], tok: Column,
      portableHash: Boolean = false): Column = {
    require(table.nonEmpty, "empty sketch table")
    val width = table(0).length
    require(table.forall(_.length == width), "ragged sketch table")
    table.toIndexedSeq.zipWithIndex.map { case (row, i) =>
      // lit(i) is IntegerType, matching sketch()'s sequence()-derived
      // seed — xxhash64 output depends on the input TYPE, so the
      // probe must hash (int, string) exactly as the build did
      element_at(typedLit(row.toIndexedSeq),
        bucketOf(lit(i), tok, width, portableHash) + 1)
    }.reduce(least(_, _))
  }

  /** Point estimates for `tokens` (one row per distinct token):
    * (tokenCol, est). Never underestimates; tokens hashing only to
    * empty buckets estimate 0. The sketch side joins BROADCAST —
    * depth·width rows by construction. Build and estimate must agree
    * on (depth, width, portableHash). */
  def estimate(sk: DataFrame, tokens: DataFrame, tokenCol: String,
      depth: Int, width: Int, portableHash: Boolean = false): DataFrame = {
    require(depth > 0 && width > 0, "depth/width must be positive")
    tokens
      .select(col(tokenCol),
        explode(sequence(lit(0), lit(depth - 1))).as("seed"))
      .withColumn("bucket",
        bucketOf(col("seed"), col(tokenCol), width, portableHash))
      .join(broadcast(sk), Seq("seed", "bucket"), "left")
      .na.fill(0L, Seq("c"))
      .groupBy(tokenCol).agg(min("c").as("est"))
  }
}
