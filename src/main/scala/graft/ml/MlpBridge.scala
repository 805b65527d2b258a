package graft.ml

import graft.operators.LocalFit
import org.apache.spark.ml.classification.{MultilayerPerceptronClassificationModel, MultilayerPerceptronClassifier}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.graftglue.MlpGlue
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Result of a train-and-predict-all run: predictions for EVERY stored
  * row (train+test — the reference intentionally labels the whole
  * store, `/root/reference/vsu/base/VectorSearchBase.py:232-234`) plus
  * the holdout metric. */
final case class MlpResult(predictions: DataFrame, holdoutMetric: Double)

/** MLlib bridge for the reference's sklearn MLP surface (M7/M8,
  * `/root/reference/vsu/base/VectorSearchBase.py:219-256`).
  *
  * Parity notes (SURVEY §7.4): sklearn seeds 810/1 are not
  * reproducible in MLlib — tests assert quality (accuracy threshold on
  * separable data), not identical predictions. The M8 regressor is
  * [[trainMlpRegressor]] — a real one-hidden-layer MLP trained by
  * data-parallel full-batch gradient descent (MLlib itself has no MLP
  * regressor).
  *
  * Scale: the classifier fits on the driver while its input fits the
  * in-process budget and by MLlib's distributed L-BFGS above it (see
  * [[trainClassifier]]); the regressor's iterations are each one
  * treeAggregate over executors — no shuffle of the feature matrix.
  */
object MlpBridge {

  /** Train an MLP classifier on (vecCol → labelCol), hidden layers
    * (100,) by default like the reference (`VectorSearchBase.py:230`),
    * stratified 75/25 split, predict all rows.
    *
    * Scale: two sides of one gate, [[LocalFit.collect]] under
    * [[LocalFit.sampleBudgetBytes]], of the rows with a label and a
    * vector: the label rendered as a string, the split draw (one
    * `rand(seed)` column, as [[stratifiedSplit]] draws it), the
    * partition and the vector ([[gathered]]).
    *  - Under the budget that collect is the fit's only job: labels are
    *    indexed, the split taken and MLlib's perceptron fitted on the
    *    driver ([[org.apache.spark.ml.graftglue.MlpGlue.fit]], MLlib's
    *    own topology, initial weights, loss, gradient and L-BFGS over
    *    the same per-partition blocks), and the holdout accuracy is
    *    counted from the collected rows.
    *  - Over it (the collect rejects the frame before its rows reach the
    *    driver), the prepared frame is cached once, split by
    *    [[stratifiedSplit]] (no step shuffles the feature matrix) and
    *    fitted by MLlib's L-BFGS, one treeAggregate per iteration.
    *    `array<double>` vectors always take this side: the gate decodes
    *    float vectors.
    * Either way every row is predicted by the fitted MLlib model's
    * narrow `transform`, materialized once.
    *
    * @param labelCol string or numeric label column; indexed to
    *                 0..n-1 by sorted distinct value (deterministic)
    */
  def trainClassifier(df: DataFrame, vecCol: String, labelCol: String,
      hidden: Seq[Int] = Seq(100), maxIter: Int = 300,
      seed: Long = 810L): MlpResult =
    trainClassifierWithin(df, vecCol, labelCol, hidden, maxIter, seed,
      LocalFit.sampleBudgetBytes)

  /** [[trainClassifier]] with the gate's budget as a parameter.
    *
    * @param budgetBytes package-visible so specs can force either side
    *                    of the gate; not a user option */
  private[ml] def trainClassifierWithin(df: DataFrame, vecCol: String,
      labelCol: String, hidden: Seq[Int], maxIter: Int, seed: Long,
      budgetBytes: Long): MlpResult = {
    val clean = df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
    gathered(clean, vecCol, labelCol, seed, budgetBytes) match {
      case Some((rows, vecs)) =>
        val (model, labels, acc) = fitLocal(rows, vecs, hidden, maxIter, seed)
        MlpResult(predictAll(model, labels, clean.withColumn("features",
          array_to_vector(col(vecCol).cast("array<double>")))), acc)
      case None => trainSpark(clean, vecCol, labelCol, hidden, maxIter, seed)
    }
  }

  /** Every row of `prepared` with its predicted label as `mlp_pred`,
    * materialized; the fit's working columns are dropped. */
  private def predictAll(model: MultilayerPerceptronClassificationModel,
      labels: Array[String], prepared: DataFrame): DataFrame = {
    // inverse lookup by exact class-index double — same map-literal
    // form as the indexer (predictions are exact index doubles)
    val invMap = map(labels.zipWithIndex.flatMap { case (v, i) =>
      Seq(lit(i.toDouble), lit(v)) }: _*)
    model.transform(prepared)
      .withColumn("mlp_pred", element_at(invMap, col("prediction")))
      .drop("features", "label", "rawPrediction", "probability", "prediction")
      .localCheckpoint(true) // materialize so a cache can be released
  }

  /** Train-side share of every class (sklearn's 75/25 stratified split). */
  private val TrainFraction = 0.75

  /** `clean`'s rows for an in-process fit, through [[LocalFit.collect]]
    * under `budgetBytes`: per row `(label as a string, split draw,
    * partition)` and its vector, in partition and row order. The draw is
    * `rand(seed)` over `clean`'s partitions, the one [[stratifiedSplit]]
    * takes over the same rows. None over the budget, or when the vectors
    * are not `array<float>`. */
  private[ml] def gathered(clean: DataFrame, vecCol: String,
      labelCol: String, seed: Long,
      budgetBytes: Long): Option[(Array[Row], Array[Array[Float]])] =
    clean.schema(vecCol).dataType match {
      case ArrayType(FloatType, _) =>
        LocalFit.collect(clean.select(col(labelCol).cast("string").as("__y"),
            rand(seed).as("__u"), spark_partition_id().as("__p"),
            col(vecCol).as("__v")),
          Seq("__y", "__u", "__p"), budgetBytes, Some("__v"))
          .map { case (rows, vecs, _) => (rows, vecs) }
      case _ => None
    }

  /** The in-process side of [[trainClassifier]] over [[gathered]] rows:
    * the fitted model, the sorted labels and the holdout accuracy. */
  private def fitLocal(rows: Array[Row], vecs: Array[Array[Float]],
      hidden: Seq[Int], maxIter: Int,
      seed: Long): (MultilayerPerceptronClassificationModel, Array[String], Double) = {
    val labels = rows.map(_.getString(0)).distinct.sorted
    require(labels.length >= 2, "need at least 2 classes")
    val dims = vecs.map(_.length).distinct
    require(dims.length == 1,
      s"cannot train an MLP: mixed vector dims ${dims.sorted.mkString(", ")}")
    require(vecs.forall(_.forall(f => !f.isNaN && !f.isInfinite)),
      "cannot train an MLP: vector values must not be NaN or Infinity")
    val index = labels.zipWithIndex.toMap
    val (train, test) = rows.indices.partition(rows(_).getDouble(1) < TrainFraction)
    def features(i: Int): Array[Double] = vecs(i).map(_.toDouble)
    // rows arrive in partition order; MLlib stacks each partition apart
    val parts = train.groupBy(rows(_).getInt(2)).toSeq.sortBy(_._1)
      .map(_._2.map(i => (features(i), index(rows(i).getString(0)))))
    val model = MlpGlue.fit((dims.head +: hidden :+ labels.length).toArray,
      parts, maxIter, seed)
    val right = test.count(i => model.predict(Vectors.dense(features(i))) ==
      index(rows(i).getString(0)).toDouble)
    (model, labels, right.toDouble / test.length)
  }

  /** The Spark side of [[trainClassifier]]. */
  private def trainSpark(clean: DataFrame, vecCol: String, labelCol: String,
      hidden: Seq[Int], maxIter: Int, seed: Long): MlpResult = {
    // index by Spark's OWN string rendering (cast-to-string), which is
    // what the lookup probes with — JVM toString differs for
    // timestamp/decimal values and would miss the map
    val labels = clean.select(col(labelCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    require(labels.length >= 2, "need at least 2 classes")
    // label indexing as a codegen'd map-literal lookup, not a Scala UDF
    // — stays inside whole-stage codegen (the label map is driver-sized
    // already: it was collected to index it)
    val idxMap = map(labels.zipWithIndex.flatMap { case (v, i) =>
      Seq(lit(v), lit(i.toDouble)) }: _*)
    val prepared = clean
      .withColumn("features", array_to_vector(col(vecCol).cast("array<double>")))
      .withColumn("label", element_at(idxMap, col(labelCol).cast("string")))
      .cache()
    val dim = prepared.select(size(col(vecCol))).head.getInt(0)

    val (train, testSet) = stratifiedSplit(prepared, seed)

    val mlp = new MultilayerPerceptronClassifier()
      .setLayers((dim +: hidden :+ labels.length).toArray)
      .setMaxIter(maxIter)
      .setSeed(seed)
      .setFeaturesCol("features")
      .setLabelCol("label")
    val model = mlp.fit(train)
    val acc = new MulticlassClassificationEvaluator()
      .setMetricName("accuracy")
      .evaluate(model.transform(testSet))
    val all = predictAll(model, labels, prepared)
    prepared.unpersist()
    MlpResult(all, acc)
  }

  /** Stratified 75/25 split of a CACHED frame (reference: sklearn
    * stratified split with seed 810, `VectorSearchBase.py:225`). Every
    * class keeps 0.75, so the train side is `sampleBy(label, 0.75 per
    * class, seed)` — which Spark plans as a filter on one `rand(seed)`
    * draw per row — and the holdout is the exact complement of that
    * same draw: no `exceptAll` shuffle of the feature vectors. The
    * draw is per partition and row order, so both sides must read the
    * same cached partitions. */
  private[ml] def stratifiedSplit(prepared: DataFrame,
      seed: Long): (DataFrame, DataFrame) = {
    val split = prepared.withColumn("__u", rand(seed))
    (split.filter(col("__u") < TrainFraction).drop("__u"),
      split.filter(col("__u") >= TrainFraction).drop("__u"))
  }

  /** MLP regressor (M8 — sklearn's MLPRegressor,
    * `VectorSearchBase.py:236-256`): one tanh hidden layer + linear
    * output, trained by full-batch gradient descent with momentum.
    * Weights live on the driver; every iteration is ONE
    * `treeAggregate` of per-row gradients over the executors — the
    * feature matrix never shuffles (the same data-parallel shape
    * MLlib's own L-BFGS uses, so it scales to a 1000-executor corpus:
    * per-iteration traffic is O(model), not O(data)). Features and label are standardized from TRAIN
    * statistics; predictions de-standardize. Deterministic given
    * (seed, partitioning); across partitionings the float partial
    * sums re-associate, so tests pin QUALITY (R² threshold), not
    * bit-identical predictions — the M7 contract. */
  def trainMlpRegressor(df: DataFrame, vecCol: String, labelCol: String,
      hidden: Int = 32, iters: Int = 300, lr: Double = 0.05,
      momentum: Double = 0.9, seed: Long = 810L): MlpResult = {
    require(hidden >= 1 && iters >= 1 && lr > 0.0, "bad hyperparams")
    val clean = df
      .filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .withColumn("__feat", col(vecCol).cast("array<double>"))
      .withColumn("__y", col(labelCol).cast("double"))
    val d = clean.select(size(col("__feat"))).head.getInt(0)
    val Array(trainDf, testDf) =
      clean.randomSplit(Array(0.75, 0.25), seed)
    val fi = clean.schema.fieldIndex("__feat")
    val yi = clean.schema.fieldIndex("__y")
    def toXY(frame: DataFrame) = frame.rdd.map { r =>
      (r.getSeq[Double](fi).toArray, r.getDouble(yi))
    }
    val train = toXY(trainDf).cache()
    val n = train.count()
    require(n >= 2, "need at least 2 training rows")

    // standardization from TRAIN: per-dim mean/std + label mean/std
    val zeros = Array.fill(2 * d + 2)(0.0)
    val moments = train.treeAggregate(zeros)(
      (acc, xy) => {
        var i = 0
        while (i < d) {
          acc(i) += xy._1(i); acc(d + i) += xy._1(i) * xy._1(i); i += 1
        }
        acc(2 * d) += xy._2; acc(2 * d + 1) += xy._2 * xy._2
        acc
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    val fMean = Array.tabulate(d)(i => moments(i) / n)
    val fStd = Array.tabulate(d) { i =>
      val v = moments(d + i) / n - fMean(i) * fMean(i)
      if (v > 1e-12) math.sqrt(v) else 1.0
    }
    val yMean = moments(2 * d) / n
    val yStd = {
      val v = moments(2 * d + 1) / n - yMean * yMean
      if (v > 1e-12) math.sqrt(v) else 1.0
    }

    // Glorot-uniform init, seeded — layout: W1 (h rows × d), b1, w2, b2
    val h = hidden
    val nw = h * d + h + h + 1
    val rnd = new java.util.Random(seed)
    val lim1 = math.sqrt(6.0 / (d + h))
    val lim2 = math.sqrt(6.0 / (h + 1))
    val w = new Array[Double](nw)
    var i = 0
    while (i < h * d) { w(i) = (rnd.nextDouble() * 2 - 1) * lim1; i += 1 }
    i = h * d + h // b1 stays 0
    while (i < h * d + 2 * h) { w(i) = (rnd.nextDouble() * 2 - 1) * lim2; i += 1 }

    // forward/backward of one standardized row into a gradient
    // accumulator (last slot carries the batch loss for monitoring)
    def rowGrad(acc: Array[Double], ws: Array[Double],
        x: Array[Double], y: Double): Unit = {
      val z = new Array[Double](h)
      var j = 0
      while (j < h) {
        var s = ws(h * d + j) // b1(j)
        var k = 0
        while (k < d) { s += ws(j * d + k) * x(k); k += 1 }
        z(j) = math.tanh(s); j += 1
      }
      var yhat = ws(nw - 1) // b2
      j = 0
      while (j < h) { yhat += ws(h * d + h + j) * z(j); j += 1 }
      val err = yhat - y
      acc(nw) += 0.5 * err * err
      acc(nw - 1) += err // dL/db2
      j = 0
      while (j < h) {
        acc(h * d + h + j) += err * z(j) // dL/dw2
        val dz = err * ws(h * d + h + j) * (1.0 - z(j) * z(j))
        acc(h * d + j) += dz // dL/db1
        var k = 0
        while (k < d) { acc(j * d + k) += dz * x(k); k += 1 }
        j += 1
      }
    }

    val std = train.map { case (x, y) =>
      (Array.tabulate(d)(k => (x(k) - fMean(k)) / fStd(k)),
        (y - yMean) / yStd)
    }.cache()
    std.count() // materialize before the loop
    train.unpersist(blocking = false)
    val vel = new Array[Double](nw)
    var it = 0
    while (it < iters) {
      val ws = std.sparkContext.broadcast(w.clone())
      val grad = std.treeAggregate(new Array[Double](nw + 1))(
        (acc, xy) => { rowGrad(acc, ws.value, xy._1, xy._2); acc },
        (a, b) => { var k = 0; while (k < a.length) { a(k) += b(k); k += 1 }; a })
      var k = 0
      while (k < nw) {
        vel(k) = momentum * vel(k) - lr * grad(k) / n
        w(k) += vel(k); k += 1
      }
      ws.destroy()
      it += 1
    }
    std.unpersist(blocking = false)

    // score every stored row with the final weights (broadcast model,
    // narrow map — the reference labels the whole store)
    val bw = clean.sparkSession.sparkContext.broadcast(
      (w, fMean, fStd, yMean, yStd))
    def predict(x: Array[Double]): Double = {
      val (ws, fm, fs, ym, ys) = bw.value
      var yhat = ws(nw - 1)
      var j = 0
      while (j < h) {
        var s = ws(h * d + j)
        var k = 0
        while (k < d) { s += ws(j * d + k) * ((x(k) - fm(k)) / fs(k)); k += 1 }
        yhat += ws(h * d + h + j) * math.tanh(s); j += 1
      }
      yhat * ys + ym
    }
    val outSchema = clean.schema
      .add("mlp_pred", org.apache.spark.sql.types.DoubleType)
    val outRdd = clean.rdd.map { r =>
      org.apache.spark.sql.Row.fromSeq(
        r.toSeq :+ predict(r.getSeq[Double](fi).toArray))
    }
    val all = clean.sparkSession.createDataFrame(outRdd, outSchema)
      .drop("__feat", "__y")
      .localCheckpoint(true)

    // holdout R² = 1 − SS_res/SS_tot over the test split
    val testXY = toXY(testDf)
    val stats = testXY.map { case (x, y) =>
      (y, predict(x))
    }.treeAggregate(Array.fill(5)(0.0))(
      (a, p) => {
        a(0) += 1; a(1) += p._1; a(2) += p._1 * p._1
        a(3) += (p._1 - p._2) * (p._1 - p._2); a(4) += p._2; a
      },
      (a, b) => { var k = 0; while (k < 5) { a(k) += b(k); k += 1 }; a })
    val r2 =
      if (stats(0) < 2) Double.NaN
      else {
        val ssTot = stats(2) - stats(1) * stats(1) / stats(0)
        if (ssTot <= 0) Double.NaN else 1.0 - stats(3) / ssTot
      }
    MlpResult(all, r2)
  }

  /** Pearson correlation of prediction vs truth (A6 — the reference
    * prints `np.corrcoef`, `VectorSearchBase.py:251`).
    * Contract: reference-parity figure `MlpBridgeSpec` checks; no
    * program caller. */
  def pearson(df: DataFrame, a: String, b: String): Double =
    df.agg(corr(col(a).cast("double"), col(b).cast("double"))).head.getDouble(0)
}
