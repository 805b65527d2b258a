package graft.operators

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.{SqlGlue, UnaryKeyExpression}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-membership probe against a driver-built filter. Boolean,
  * null-intolerant (the operator wraps it in `coalesce(_, false)` so a
  * NULL key routes to the "no match possible" branch, matching anti-join
  * semantics where NULL never equals anything).
  *
  * Long keys probe `mightContainLong`; string keys probe
  * `mightContainBinary` over the UTF-8 bytes, which is exactly what
  * `BloomFilter.putString` inserts — no per-row `toString` allocation in
  * generated code. The filter rides into tasks via the plan's reference
  * array (one copy per executor, not per row).
  */
private[operators] case class BloomMightContain(
    child: Expression, bloom: BloomFilter) extends UnaryKeyExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override protected def nullSafeEval(v: Any): Any = child.dataType match {
    case LongType => bloom.mightContainLong(v.asInstanceOf[Long])
    case StringType =>
      bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
    case other => throw new IllegalStateException(s"unsupported key: $other")
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", bloom,
      classOf[BloomFilter].getName)
    child.dataType match {
      case LongType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
      case StringType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary(($c).getBytes())")
      case other => throw new IllegalStateException(s"unsupported key: $other")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom-pruned anti join for the "right side too big to
  * broadcast, left side enormous" regime.
  *
  * A plain `left_anti` join shuffles EVERY left row on the
  * join key. At 100 TB left / 10^8-key right that shuffle is the job.
  * Instead: build a Bloom filter of the right keys (distributed
  * `treeAggregate`, one filter merge per partition), broadcast it inside
  * the plan, and settle every bloom-negative left row WITHOUT shuffling
  * it — `mightContain = false` proves the key is absent from the right
  * side. Only the candidate fraction (true matches + fpp false
  * positives) proceeds to the exact join, so the shuffle carries
  * `match_rate + fpp` of the left side rather than all of it. The final
  * result is EXACT for any fpp; the filter only routes rows.
  *
  * Trade-offs, stated:
  *  - The left side is scanned twice (once per branch). Scans are cheap
  *    next to shuffles, and at scale both scans push the same column
  *    pruning into parquet; a single-pass form would have to shuffle
  *    everything, which is the thing being avoided.
  *  - The filter lives on the driver and in each task binary: ~1.2 bytes
  *    per right key at fpp 1% (n * ln(1/fpp) / ln(2)^2 / 8), so 10^8
  *    keys ≈ 140 MB. Beyond that, raise fpp or range-partition the
  *    filter. When the right side is broadcast-small, skip all of this
  *    and let AQE plan a broadcast join.
  *  - Sizing the filter needs the right-side key count; pass
  *    `expectedItems` when known, else one cheap `count()` job runs.
  *
  * This mirrors Spark's own runtime bloom-filter rewrite
  * (`spark.sql.optimizer.runtimeFilter.bloomFilter.enabled`, see
  * `InjectRuntimeFilter`), generalized to an explicit operator that also
  * settles the negative branch join-free rather than merely pre-filtering
  * the shuffle input.
  */
object BloomJoin {

  private final case class Built(might: Column, rightKeys: DataFrame)

  private def isIntegral(t: DataType): Boolean = t match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | LongType => true
    case _ => false
  }

  private def build(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, fpp: Double, expectedItems: Option[Long]): Built = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    // The bloom probe casts the LEFT key to the RIGHT key's family, but
    // the exact verify join compares under Spark's own coercion. With
    // mixed families (long vs string) the two disagree — e.g. 123 vs
    // '0123' match under numeric coercion but probe as '123', which was
    // never inserted — so a real match would be settled join-free and
    // silently dropped/kept wrongly. Integral widening is the one safe
    // mix: both sides funnel through the same cast-to-Long.
    val leftType = left.schema(leftKey).dataType
    val rightType = right.schema(rightKey).dataType
    require(leftType == rightType || (isIntegral(leftType) && isIntegral(rightType)),
      s"bloom join keys must share a data type (or both be integral): " +
        s"left $leftKey: $leftType vs right $rightKey: $rightType")
    val keyType = right.schema(rightKey).dataType
    val isString = keyType == StringType
    val keys = right.select(col(rightKey)).where(col(rightKey).isNotNull)
    val expected = math.max(1L, expectedItems.getOrElse(keys.count()))
    val zero = BloomFilter.create(expected, fpp)
    val bloom =
      if (isString)
        keys.rdd.treeAggregate(zero)(
          (f, r) => { f.putString(r.getString(0)); f },
          (a, b) => { a.mergeInPlace(b); a })
      else
        keys.select(col(rightKey).cast(LongType)).rdd.treeAggregate(zero)(
          (f, r) => { f.putLong(r.getLong(0)); f },
          (a, b) => { a.mergeInPlace(b); a })
    val probeCol =
      if (isString) col(leftKey).cast(StringType)
      else col(leftKey).cast(LongType)
    val might = coalesce(
      SqlGlue.column(BloomMightContain(SqlGlue.expression(probeCol), bloom)),
      lit(false))
    Built(might, keys)
  }

  /** Exact left-anti join, bloom-routed: rows whose key the filter
    * excludes are emitted directly (no shuffle); only candidates run the
    * real anti join. NULL left keys are kept, matching `left_anti`. */
  def prunedAntiJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, fpp: Double = 0.01,
      expectedItems: Option[Long] = None): DataFrame = {
    val b = build(left, right, leftKey, rightKey, fpp, expectedItems)
    val settled = left.where(!b.might)
    val candidates = left.where(b.might)
      .join(b.rightKeys.withColumnRenamed(rightKey, "__bloom_key"),
        col(leftKey) === col("__bloom_key"), "left_anti")
    settled.unionByName(candidates)
  }
}
