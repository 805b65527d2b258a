package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OutliersSpec extends SparkSpec {
  import spark.implicits._

  // two keys with different scales; values 1..100 and 1000..1100
  private def data = (
    (1 to 100).map(i => ("a", i.toDouble)) ++
    (0 to 100).map(i => ("b", 1000.0 + i))).toDF("k", "v")

  private def q7(sorted: Seq[Double], p: Double): Double = {
    val rank = (sorted.size - 1) * p
    val lo = math.floor(rank).toInt; val hi = math.ceil(rank).toInt
    val g = rank - lo
    (1 - g) * sorted(lo) + g * sorted(hi)
  }

  test("winsorize clamps exactly to the type-7 cutpoints per key") {
    val out = Outliers.winsorize(data, Seq("k"), "v", 0.1, 0.9)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val as = (1 to 100).map(_.toDouble)
    val bs = (0 to 100).map(1000.0 + _)
    val (aLo, aHi) = (q7(as, 0.1), q7(as, 0.9))
    val (bLo, bHi) = (q7(bs, 0.1), q7(bs, 0.9))
    out.foreach { case (k, v, w) =>
      val (lo, hi) = if (k == "a") (aLo, aHi) else (bLo, bHi)
      assert(w == math.max(lo, math.min(hi, v)), s"($k, $v) -> $w")
    }
    // some rows actually clamped on both tails of both keys
    assert(out.count { case (_, v, w) => w > v } >= 10)
    assert(out.count { case (_, v, w) => w < v } >= 10)
  }

  test("null values pass through winsorize") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(100.0)),
      ("a", Some(50.0))).toDF("k", "v")
    val w = Outliers.winsorize(df, Seq("k"), "v", 0.0, 1.0)
    assert(w.where(col("winsorized").isNull).count() == 1)
  }

  test("keys are independent: one key's outliers don't move another's cuts") {
    val w = Outliers.winsorize(data, Seq("k"), "v", 0.1, 0.9)
    val aMax = w.where(col("k") === "a").agg(max("winsorized"))
      .as[Double].head()
    assert(aMax < 1000.0, s"key a clamped against key b's range: $aMax")
  }

  test("plan: clamp pass joins the cutpoints by broadcast") {
    val plan = Outliers.winsorize(data, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("madScore matches the hand formula on a planted-outlier set") {
    import spark.implicits._
    // key a: 1..9 plus a planted 100 — median 5.5, MAD of
    // |v-5.5| = {4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,94.5} -> 2.5
    val df = ((1 to 9).map(i => ("a", i.toDouble)) :+ ("a", 100.0))
      .toDF("k", "v")
    val scores = Outliers.madScore(df, Seq("k"), "v")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    def z(v: Double) = 0.6745 * (v - 5.5) / 2.5
    for (v <- Seq(1.0, 5.0, 100.0))
      assert(math.abs(scores(v) - z(v)) < 1e-12, s"$v -> ${scores(v)}")
    // the Iglewicz–Hoaglin cut, |z| > 3.5
    val flagged = Outliers.madScore(df, Seq("k"), "v")
      .where(abs(col("mad_z")) > 3.5)
      .select("v").as[Double].collect().toSeq
    assert(flagged == Seq(100.0)) // z(100) = 25.5, z(9) = 0.94
  }

  test("degenerate MAD (over half identical) scores null and flags nothing") {
    import spark.implicits._
    val df = (Seq.fill(6)(("k", 5.0)) ++ Seq(("k", 1.0), ("k", 9.0)))
      .toDF("k", "v")
    val s = Outliers.madScore(df, Seq("k"), "v")
    assert(s.where(col("mad_z").isNotNull).count() == 0)
    assert(s.where(abs(col("mad_z")) > 3.5).count() == 0)
  }

  test("madScore keys are independent and nulls score null") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("a", None), ("b", Some(1000.0)), ("b", Some(1001.0)),
      ("b", Some(1002.0))).toDF("k", "v")
    val s = Outliers.madScore(df, Seq("k"), "v").collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    assert(s.count { case (_, v, z) => v.isEmpty && z.isEmpty } == 1)
    // both keys center at their own median: middle value scores 0
    val mids = s.collect { case (k, Some(v), Some(z))
      if v == 2.0 || v == 1001.0 => z.asInstanceOf[Double] }
    assert(mids.forall(_ == 0.0))
  }
}
