package graft.operators

import graft.functions.VectorOps
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Murmur3Hash, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType, StructType}

import java.util.stream.IntStream
import scala.collection.mutable.{ArrayBuffer, HashSet}

/** In-process index training, the faiss shape (Jégou/Douze/Schmid,
  * TPAMI 2011): one collect (two above [[LocalFit.ProbeRows]] rows)
  * brings a bounded training sample to the driver, seeding and every
  * Lloyd's round run in memory on it, and only the final assign/encode
  * touches the corpus, as a distributed narrow map. The sample is
  * capped at [[PointsPerCentroid]] rows per centroid (faiss's
  * `max_points_per_centroid`): past that, more points do not move the
  * centroids, they only cost time. It is also capped at
  * [[sampleBudgetBytes]] of driver memory, derived from the vector dim.
  *
  * The arithmetic is the distributed twin's: assignment runs the
  * engine's own kernels ([[VectorOps.nearestCentroid]],
  * [[VectorOps.nearestSubCentroid]]) on all driver cores, recentering
  * sums in double in point order and truncates the mean to float32
  * (`vec_sum` / count), and an empty cell keeps its previous centroid.
  * Points are visited in the sample's seeded hash order, so the fit
  * does not depend on how the input is partitioned.
  */
private[graft] object LocalFit {

  /** Training rows per centroid; the sample cap is this × the largest
    * centroid count the fit needs. */
  val PointsPerCentroid = 256

  /** Rows the first collect may bring before the vector dim is known.
    * A larger cap is then bounded by [[sampleBudgetBytes]]. */
  private[operators] val ProbeRows = 4096

  /** Driver bytes the sample's floats may take: a 32nd of the driver
    * heap. The fit holds a few copies at once (the collected rows, the
    * decoded floats, the kernels' `ArrayData` copies, PQ's subvectors);
    * at this budget its live driver heap measured below that of the
    * distributed fit it replaced, which cached the whole sample. The
    * same budget bounds every other in-process decision, through
    * [[collect]]: a [[graft.store.VectorStore]]'s snapshot,
    * `Dedup.dedupNearMinHash` and `MlpBridge.trainClassifier`. */
  def sampleBudgetBytes: Long = Runtime.getRuntime.maxMemory / 32

  /** Heap bytes a row costs beyond its floats and string chars: object
    * headers and references of the row, its array and its strings. */
  private val RowOverheadBytes = 96L

  /** The collect gate of every in-process decider: `df`'s `cols` as
    * rows and, when `vecCol` is given, its vectors decoded straight to
    * float arrays (an array of nulls otherwise), with their heap
    * estimate, when that is under `budgetBytes`; None otherwise,
    * decided before the rows reach the driver. A frame the optimizer
    * sizes at the budget or over is rejected with no job. Otherwise one
    * job collects it, each task keeping its partition's rows while their
    * heap estimate stays under an equal share of the budget and shipping
    * a marker instead once it does not; so at most the budget is ever
    * collected, and a partition holding more than its share rejects the
    * frame. A local relation is already on the driver and is copied,
    * with no job. */
  def collect(df: DataFrame, cols: Seq[String], budgetBytes: Long,
      vecCol: Option[String])
      : Option[(Array[Row], Array[Array[Float]], Long)] = {
    val schema = StructType(cols.map(df.schema(_)))
    val (width, strings) =
      (cols.length, cols.indices.filter(schema(_).dataType == StringType))
    val selected = df.select(struct(cols.map(col): _*),
      vecCol.fold(lit(null).cast(ArrayType(FloatType)))(col))
    val plan = df.queryExecution.optimizedPlan
    val sized = plan.stats.sizeInBytes
    // internal rows, decoded on the driver below: a typed Dataset would
    // generate and compile an encoder per frame, which a first append
    // pays for twice (the store, then the batch)
    val got: Option[Array[InternalRow]] =
      if (sized < Long.MaxValue && sized >= budgetBytes) None
      else if (plan.isInstanceOf[LocalRelation])
        Some(selected.queryExecution.executedPlan.executeCollect())
      else {
        val kept = selected.queryExecution.toRdd.mapPartitions { it =>
          val share = budgetBytes / TaskContext.get.numPartitions
          val out = ArrayBuffer.empty[InternalRow]
          var used = 0L
          while (used < share && it.hasNext) {
            val r = it.next()
            val (fields, v) = (r.getStruct(0, width), r.getArray(1))
            used += RowOverheadBytes +
              (if (v == null) 0L else 4L * v.numElements) +
              strings.iterator.map(i =>
                if (fields.isNullAt(i)) 0L
                else 2L * fields.getUTF8String(i).numChars).sum
            out += r.copy()
          }
          if (used >= share) Iterator.single(null: InternalRow)
          else out.iterator
        }.collect()
        if (kept.contains(null)) None else Some(kept)
      }
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    got.map(_.map { r =>
      (toRow(r.getStruct(0, width)).asInstanceOf[Row],
        if (r.isNullAt(1)) null else r.getArray(1).toFloatArray())
    }.unzip).map { case (r, v) => (r, v, heapBytes(r, v)) }
      .filter(_._3 < budgetBytes)
  }

  /** The heap estimate of one row and its vector. */
  private def rowBytes(r: Row, v: Array[Float]): Long =
    RowOverheadBytes + (if (v == null) 0L else 4L * v.length) +
      (0 until r.length).iterator.map(r.get(_) match {
        case s: String => 2L * s.length
        case _ => 0L
      }).sum

  /** The heap estimate of rows and their vectors. */
  def heapBytes(rows: Array[Row], vecs: Array[Array[Float]]): Long =
    rows.indices.iterator.map(i => rowBytes(rows(i), vecs(i))).sum

  /** The training sample for a fit with `centroids` centroids per
    * codebook: the `sampleFraction` sample of `df`'s vectors, cut at
    * [[PointsPerCentroid]] × `centroids` rows and at
    * [[sampleBudgetBytes]], returned in the seeded `hash(vec, seed)`
    * order that seeding reads.
    *
    * Rows are cut by a per-row key, `hash(vec, id, seed)`, so the copies
    * of a repeated vector are spread over the key order instead of
    * filling one run of it. Below the cap the sample is the whole
    * sampled frame. A cut sample with fewer than `centroids` distinct
    * vectors also gets the frame's first `centroids` distinct vectors
    * in `hash(vec, seed)` order (one `dropDuplicates` job), so seeding
    * still finds them.
    *
    * Collected by one top-N job (no shuffle) when the sample has at
    * most [[ProbeRows]] rows or the cap is that small; otherwise a
    * second top-N job brings the budget-bounded sample. A null vector
    * anywhere in the sample sorts first, so it is always seen. Raises a
    * named error on an empty frame, on an empty `sampleFraction` sample
    * of a non-empty frame, on null vectors and on mixed dims.
    *
    * @param budgetBytes package-visible so specs can force the budget
    *                    cut; not a user option */
  def trainingSample(df: DataFrame, vecCol: String, idCol: String,
      seed: Long, sampleFraction: Double, centroids: Int, what: String,
      budgetBytes: Long = sampleBudgetBytes): Array[Array[Float]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val sampled =
      if (sampleFraction >= 1.0) df else df.sample(sampleFraction, seed)
    val keyed = sampled.select(col(vecCol).as("__v"),
      hash(col(vecCol), col(idCol), lit(seed.toInt)).as("__k"))
    def top(n: Int): Array[Array[Float]] =
      keyed.orderBy(col("__v").isNull.desc, col("__k"), col("__v"))
        .limit(n).select("__v").as[Array[Float]].collect()
    val cap = math.min(PointsPerCentroid.toLong * centroids,
      Int.MaxValue - 1).toInt
    val first = top(math.min(cap, ProbeRows))
    // whether the frame itself is empty is asked only once the sample
    // came back empty, so a successful fit runs no extra job
    require(first.nonEmpty || sampleFraction >= 1.0 || df.isEmpty,
      s"cannot train $what: the sampleFraction = $sampleFraction sample " +
        s"(seed $seed) of a non-empty frame is empty; raise sampleFraction")
    require(first.nonEmpty, s"cannot train $what on an empty frame")
    require(first(0) != null,
      s"cannot train $what: null vectors in column '$vecCol'")
    val budgetRows =
      math.max(ProbeRows.toLong, budgetBytes / (4L * math.max(1,
        first(0).length)))
    val rowCap = math.min(cap.toLong, budgetRows).toInt
    // same order, so `first` is a prefix of the second collect
    val rows = if (first.length == rowCap || first.length < ProbeRows) first
      else top(rowCap)
    val dims = rows.map(_.length).distinct
    require(dims.length == 1,
      s"cannot train $what: mixed vector dims ${dims.sorted.mkString(", ")}")
    val extra =
      if (rows.length < rowCap) Array.empty[Array[Float]]
      else {
        val present = firstDistinct(rows, centroids)
        if (present.length >= centroids) Array.empty[Array[Float]]
        else {
          val seen = present.map(_.toSeq).toSet
          sampled.select(col(vecCol).as("__v")).where(col("__v").isNotNull)
            .dropDuplicates("__v")
            .orderBy(hash(col("__v"), lit(seed.toInt)), col("__v"))
            .limit(centroids).as[Array[Float]].collect()
            .filterNot(v => seen(v.toSeq))
        }
      }
    hashOrdered(rows ++ extra, seed)
  }

  /** `vs` sorted by (`hash(v, seed)`, v) — Spark's own `hash` expression
    * and array ordering, so the order equals a `orderBy(hash(col, lit(
    * seed)), col)` over the same vectors. */
  def hashOrdered(vs: Array[Array[Float]],
      seed: Long): Array[Array[Float]] = {
    val h = Murmur3Hash(Seq(BoundReference(0, ArrayType(FloatType), false),
      Literal(seed.toInt)), 42)
    vs.map(v => (h.eval(InternalRow(UnsafeArrayData.fromPrimitiveArray(v)))
        .asInstanceOf[Int], v))
      .sortWith { case ((ha, a), (hb, b)) =>
        if (ha != hb) ha < hb else compareVecs(a, b) < 0 }
      .map(_._2)
  }

  private def compareVecs(a: Array[Float], b: Array[Float]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val c = SQLOrderingUtil.compareFloats(a(i), b(i))
      if (c != 0) return c
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  /** The first `n` distinct vectors of `ordered`, in order (duplicate
    * vectors would seed identical centroids and leave cells dead). */
  def firstDistinct(ordered: Iterable[Array[Float]],
      n: Int): ArrayBuffer[Array[Float]] = {
    val out = ArrayBuffer[Array[Float]]()
    val seen = HashSet[Seq[Float]]()
    val it = ordered.iterator
    while (out.length < n && it.hasNext) {
      val v = it.next()
      if (seen.add(v.toSeq)) out += v
    }
    out
  }

  /** Per-cell means of `points` (double sums in point order ÷ count);
    * null for an empty cell. */
  private def cellMeans(points: Array[Array[Float]], cells: Array[Int],
      k: Int): Array[Array[Double]] = {
    val sums = new Array[Array[Double]](k)
    val counts = new Array[Long](k)
    var p = 0
    while (p < points.length) {
      val c = cells(p)
      val v = points(p)
      if (sums(c) == null) sums(c) = new Array[Double](v.length)
      val s = sums(c)
      var i = 0
      while (i < v.length) { s(i) += v(i).toDouble; i += 1 }
      counts(c) += 1
      p += 1
    }
    for (c <- 0 until k if sums(c) != null) {
      val n = counts(c).toDouble
      sums(c) = sums(c).map(_ / n)
    }
    sums
  }

  /** Lloyd's rounds over several codebooks at once: book `b` quantizes
    * `points(b)` with `assign(books, b, point)`. Stops after `maxIter`
    * rounds or once no centroid of any book moved more than `tol`
    * (squared L2) — assignment is deterministic given the centroids, so
    * a book at its fixpoint stays there while the others move. Points
    * are assigned in parallel (each assignment is independent) and
    * summed sequentially, so the result does not depend on the thread
    * count. */
  def lloyd(points: Array[Array[Array[Float]]],
      init: Array[Array[Array[Float]]], maxIter: Int, tol: Double)(
      assign: (Array[Array[Array[Float]]], Int, ArrayData) => Int)
      : Array[Array[Array[Float]]] = {
    val data = points.map(_.map(UnsafeArrayData.fromPrimitiveArray(_): ArrayData))
    var books = init
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val cur = books
      val next = cur.indices.map { b =>
        val cells = new Array[Int](data(b).length)
        IntStream.range(0, cells.length).parallel()
          .forEach(p => cells(p) = assign(cur, b, data(b)(p)))
        val means = cellMeans(points(b), cells, cur(b).length)
        Array.tabulate(cur(b).length) { c =>
          if (means(c) == null) cur(b)(c).clone() else means(c).map(_.toFloat)
        }
      }.toArray
      var shift = 0.0
      for (b <- cur.indices; c <- cur(b).indices)
        shift = math.max(shift,
          VectorOps.squaredL2Floats(cur(b)(c), next(b)(c)))
      books = next
      converged = shift <= tol
      it += 1
    }
    books
  }

  /** Each point minus its nearest centroid (the engine's
    * [[VectorOps.nearestCentroid]] and [[VectorOps.cellResidual]]
    * kernels) — what IVF-PQ quantizes. */
  def residuals(points: Array[Array[Float]],
      centroids: Array[Array[Float]]): Array[Array[Float]] =
    points.map { v =>
      val a = UnsafeArrayData.fromPrimitiveArray(v)
      VectorOps.cellResidual(VectorOps.nearestCentroid(a, true, centroids),
        a, true, centroids).toFloatArray()
    }
}
