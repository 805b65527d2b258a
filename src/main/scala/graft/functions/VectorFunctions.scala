package graft.functions

import org.apache.spark.sql.graftglue.SqlGlue.{column, expression}
import org.apache.spark.sql.{Column, SparkSession}

/** Column-API surface for the vector kernels, plus SQL registration.
  *
  * These are native Catalyst expressions with `doGenCode` — they stay
  * inside whole-stage codegen (unlike Scala UDFs, which box every row).
  */
object VectorFunctions {

  def vec_dot(a: Column, b: Column): Column = column(VectorDot(expression(a), expression(b)))

  def squared_l2(a: Column, b: Column): Column = column(SquaredL2(expression(a), expression(b)))

  def cosine_sim(a: Column, b: Column): Column = column(CosineSim(expression(a), expression(b)))

  def vec_norm(a: Column): Column = column(VectorNorm(expression(a)))

  def l2_normalize(a: Column): Column = column(L2Normalize(expression(a)))

  /** Binary-quantization encode: packed sign bits (see [[SignBits]]). */
  def sign_bits(a: Column): Column = column(SignBits(expression(a)))

  /** Hamming distance over packed sign-bit codes (see
    * [[HammingDist]]). */
  def hamming_dist(a: Column, b: Column): Column =
    column(HammingDist(expression(a), expression(b)))

  /** IVF cell assignment: argmin squared-L2 over an embedded centroid
    * matrix (see [[NearestCentroid]]). */
  def nearest_centroid(a: Column, centroids: Array[Array[Float]]): Column =
    column(NearestCentroid(expression(a), centroids))

  /** Multi-probe IVF: the nprobe nearest cell ids, closest first (see
    * [[NearestCentroids]]). */
  def nearest_centroids(a: Column, centroids: Array[Array[Float]],
      nprobe: Int): Column =
    column(NearestCentroids(expression(a), centroids, nprobe))

  /** Product-quantization encode (see [[PqEncode]]). */
  def pq_encode(a: Column, codebooks: Array[Array[Array[Float]]]): Column =
    column(PqEncode(expression(a), codebooks))

  /** ADC distance over PQ codes (see [[PqAdcDistance]]). */
  def pq_adc(codes: Column, table: Array[Double], codesPerBook: Int): Column =
    column(PqAdcDistance(expression(codes), table, codesPerBook))

  /** Scalar-quantization encode (see [[SqEncode]]). */
  def sq_encode(a: Column, lo: Array[Float], step: Array[Float]): Column =
    column(SqEncode(expression(a), lo, step))

  /** Asymmetric distance over SQ codes (see [[SqAdcDistance]]). */
  def sq_adc(codes: Column, query: Array[Float], lo: Array[Float],
      step: Array[Float]): Column =
    column(SqAdcDistance(expression(codes), query, lo, step))

  /** PQ training assignment (see [[NearestSubCentroid]]). */
  def nearest_sub_centroid(sub: Column, subvec: Column,
      codebooks: Array[Array[Array[Float]]]): Column =
    column(NearestSubCentroid(expression(sub), expression(subvec), codebooks))

  /** Dense matrix × vector (OPQ rotation / projection — see
    * [[MatVec]]). */
  def mat_vec(v: Column, rows: Array[Array[Float]]): Column =
    column(MatVec(expression(v), rows))

  /** IVF-PQ residual against an indexed coarse centroid (see
    * [[CellResidual]]). */
  def cell_residual(cell: Column, v: Column,
      centroids: Array[Array[Float]]): Column =
    column(CellResidual(expression(cell), expression(v), centroids))

  /** Element-wise vector sum aggregate (partial-aggregation friendly —
    * see [[VectorSumAgg]]). */
  def vec_sum(a: Column): Column =
    column(VectorSumAgg(expression(a)).toAggregateExpression())

  /** Register all kernels for `spark.sql(...)` use. Arity is validated
    * here — the raw builders would otherwise throw index errors on
    * e.g. `vec_dot(a)`.
    * Contract: the `spark.sql` surface of the vector kernels; callers
    * are users' sessions, not program code. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def fn(name: String, arity: Int)(
        f: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => {
        require(es.length == arity,
          s"$name expects exactly $arity argument(s), got ${es.length}")
        f(es)
      }, "scala_udf")
    fn("vec_dot", 2)(es => VectorDot(es(0), es(1)))
    fn("squared_l2", 2)(es => SquaredL2(es(0), es(1)))
    fn("cosine_sim", 2)(es => CosineSim(es(0), es(1)))
    fn("vec_norm", 1)(es => VectorNorm(es.head))
    fn("l2_normalize", 1)(es => L2Normalize(es.head))
  }
}
