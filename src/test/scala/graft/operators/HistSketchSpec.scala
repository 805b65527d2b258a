package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HistSketchSpec extends SparkSpec {
  import spark.implicits._

  test("rank lookup and interpolation on a hand-built histogram") {
    // values: 10 in [0,10), 30 in [10,20), 60 in [20,30) — N=100
    val vals = Seq.fill(10)(5.0) ++ Seq.fill(30)(15.0) ++ Seq.fill(60)(25.0)
    val sk = HistSketch.sketch(vals.toDF("v"), "v", 0.0, 30.0, 3)
    val got = HistSketch.quantiles(sk, Seq(0.05, 0.1, 0.4, 1.0))
      .collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // p=.05 -> rank 5 in bucket0 (cum 10): 0 + 10*(5-0)/10 = 5
    assert(got(0.05) === ((5L, 5.0)))
    // p=.1 -> rank 10, still bucket0: 10*(10-0)/10 = 10
    assert(got(0.1) === ((10L, 10.0)))
    // p=.4 -> rank 40, bucket1 (cum_prev 10, n 30): 10 + 10*(30/30) = 20
    assert(got(0.4) === ((40L, 20.0)))
    // p=1 -> rank 100, bucket2: 20 + 10*(60/60) = 30
    assert(got(1.0) === ((100L, 30.0)))
  }

  test("estimates stay within one bucket width of the exact quantile") {
    val n = 5000
    val vals = (0 until n).map(i => (i * 37 % 1000).toDouble)
    val sk = HistSketch.sketch(vals.toDF("v"), "v", 0.0, 1000.0, 100)
    val width = 10.0
    val got = HistSketch.quantiles(sk, Seq(0.1, 0.5, 0.9)).collect()
    val sorted = vals.sorted
    for (r <- got) {
      val exact = sorted(math.max(0,
        math.ceil(r.getDouble(0) * n).toInt - 1))
      assert(math.abs(r.getDouble(2) - exact) <= width,
        s"p=${r.getDouble(0)}: est ${r.getDouble(2)} vs exact $exact")
    }
  }

  test("empty input yields no quantile rows; out-of-range mass clamps " +
      "into edge buckets") {
    val empty = Seq.empty[Double].toDF("v")
    assert(HistSketch.quantiles(
      HistSketch.sketch(empty, "v", 0.0, 10.0, 5), Seq(0.5)).count() === 0L)
    val sk = HistSketch.sketch(
      Seq(-100.0, 5.0, 999.0).toDF("v"), "v", 0.0, 10.0, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(sk(0L) === 1L) // -100 clamped into the low edge
    assert(sk(2L) === 1L) // 5.0 in [4,6)
    assert(sk(4L) === 1L) // 999 clamped into the high edge
  }

  test("probs guard rejects out-of-range probabilities") {
    val sk = HistSketch.sketch(Seq(1.0).toDF("v"), "v", 0.0, 10.0, 5)
    intercept[IllegalArgumentException](
      HistSketch.quantiles(sk, Seq(1.5)))
    intercept[IllegalArgumentException](
      HistSketch.quantiles(sk, Nil))
  }
}
