package org.apache.spark.ml.graftglue

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS}
import org.apache.spark.ml.ann.FeedForwardTopology
import org.apache.spark.ml.classification.MultilayerPerceptronClassificationModel
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable

import java.util.stream.IntStream

/** Bridge into MLlib's `private[ml]` perceptron internals, kept to the
  * minimum the graft package needs: fitting a
  * `MultilayerPerceptronClassifier` on rows already on the driver. Lives
  * under `org.apache.spark.ml` for access; the math is MLlib's own.
  */
object MlpGlue {

  /** MLlib's `blockSize` default: rows stacked per gradient call. */
  private val BlockSize = 128

  /** A fitted `MultilayerPerceptronClassificationModel` over `layers`,
    * trained as MLlib's classifier trains it with its default solver,
    * `tol` and `blockSize`: `FeedForwardTopology.multiLayerPerceptron`
    * with softmax on top, `model(seed)` initial weights, each
    * partition's rows stacked in blocks of [[BlockSize]], the objective
    * the mean over blocks of `computeGradient`'s loss (its gradient the
    * block gradients' sum times 1 / blocks), minimized by breeze's
    * `LBFGS` with `maxIter`, 10 corrections and tolerance 1e-6.
    * Partitions are evaluated on all driver cores and summed in order.
    *
    * @param parts per input partition, in row order, each training row's
    *              features and class index in `0 until layers.last` */
  def fit(layers: Array[Int], parts: Seq[Seq[(Array[Double], Int)]],
      maxIter: Int, seed: Long): MultilayerPerceptronClassificationModel = {
    val (in, out) = (layers.head, layers.last)
    val topology = FeedForwardTopology.multiLayerPerceptron(layers,
      softmaxOnTop = true)
    val blocks: Array[Array[(BDM[Double], BDM[Double])]] =
      parts.map(_.grouped(BlockSize).map { rows =>
        val x = new BDM[Double](in, rows.length)
        val y = BDM.zeros[Double](out, rows.length)
        rows.zipWithIndex.foreach { case ((f, label), j) =>
          System.arraycopy(f, 0, x.data, j * in, in)
          y(label, j) = 1.0
        }
        (x, y)
      }.toArray).toArray
    val n = blocks.map(_.length).sum.toDouble
    val cost = new DiffFunction[BDV[Double]] {
      override def calculate(w: BDV[Double]): (Double, BDV[Double]) = {
        val weights = Vectors.dense(w.toArray)
        val grads = new Array[Array[Double]](blocks.length)
        val losses = new Array[Double](blocks.length)
        IntStream.range(0, blocks.length).parallel().forEach { p =>
          val model = topology.model(weights)
          val g = Vectors.zeros(weights.size)
          var loss = 0.0
          blocks(p).foreach { case (x, y) =>
            loss += model.computeGradient(x, y, g, x.cols)
          }
          grads(p) = g.toArray
          losses(p) = loss
        }
        val sum = new Array[Double](weights.size)
        grads.foreach(g => g.indices.foreach(i => sum(i) += g(i)))
        (losses.sum / n, new BDV(sum.map(_ * (1.0 / n))))
      }
    }
    val init = new BDV(topology.model(seed).weights.toArray.clone())
    val states = new LBFGS[BDV[Double]](maxIter, 10, 1e-6)
      .iterations(new CachedDiffFunction(cost), init)
    var state = states.next()
    while (states.hasNext) state = states.next()
    val model = new MultilayerPerceptronClassificationModel(
      Identifiable.randomUID("mlpc"), Vectors.dense(state.x.toArray))
    model.copy(ParamMap(model.layers -> layers))
  }
}
