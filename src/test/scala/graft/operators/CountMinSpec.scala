package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def toks(rows: Seq[String]) = rows.toDF("tok")

  test("estimates never underestimate, and are exact without " +
      "collisions") {
    val data = toks(Seq.fill(50)("a") ++ Seq.fill(7)("b") ++ Seq("c"))
    for (portable <- Seq(false, true)) {
      val sk = CountMin.sketch(data, "tok", depth = 4, width = 1024,
        portableHash = portable)
      val est = CountMin.estimate(sk, Seq("a", "b", "c", "never").toDF("tok"),
        "tok", 4, 1024, portableHash = portable)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // 3 tokens, 1024 buckets, 4 rows: no row collides — exact
      assert(est("a") === 50L && est("b") === 7L && est("c") === 1L,
        s"portable=$portable: $est")
      assert(est("never") === 0L)
    }
  }

  test("under heavy collision pressure estimates stay upper bounds") {
    val words = (0 until 200).flatMap(i => Seq.fill(i % 7 + 1)(s"w$i"))
    val data = toks(words)
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // width 16 forces collisions in every row
    val sk = CountMin.sketch(data, "tok", depth = 3, width = 16)
    val est = CountMin.estimate(sk, words.distinct.toDF("tok"), "tok", 3, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((w, c) <- truth)
      assert(est(w) >= c, s"$w: est ${est(w)} < true $c")
    assert(est.values.max > truth.values.max,
      "width 16 over 200 tokens must actually collide somewhere")
  }

  test("sketch is bounded depth*width whatever the input size") {
    val data = toks(Seq.tabulate(5000)(i => s"t${i % 997}"))
    val sk = CountMin.sketch(data, "tok", depth = 4, width = 32)
    assert(sk.count() <= 4L * 32L)
    // one partial-aggregated shuffle; no join, no window
    val plan = sk.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
  }
}
