package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HllSpec extends SparkSpec {
  import spark.implicits._

  private def vals(rows: Seq[String]) = rows.toDF("v")

  test("estimate lands within HLL error bounds, both hash modes") {
    val n = 5000
    val data = vals((0 until n).map(i => s"item-$i"))
    for (portable <- Seq(false, true)) {
      // n is far above 2.5·m, where the raw estimator is the estimate
      val est = Hll.rawEstimateByKey(
        Hll.sketch(data, "v", m = 1024, portableHash = portable), Nil, 1024)
        .head().getAs[Double]("raw_est")
      // 1.04/sqrt(1024) ≈ 3.3% standard error; allow 5 sigma
      assert(math.abs(est - n) / n < 0.17,
        s"portable=$portable: est $est vs true $n")
    }
  }

  test("duplicates do not move the sketch: registers are a pure " +
      "function of the distinct set") {
    val distinct = vals((0 until 300).map(i => s"t$i"))
    val dups = vals((0 until 300).flatMap(i => Seq.fill(i % 5 + 1)(s"t$i")))
    for (portable <- Seq(false, true)) {
      val a = Hll.sketch(distinct, "v", 256, portable).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val b = Hll.sketch(dups, "v", 256, portable).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(a === b, s"portable=$portable")
    }
  }

  test("merge is the exact max monoid: sharded sketches equal the whole") {
    val a = vals((0 until 400).map(i => s"a$i"))
    val b = vals((200 until 600).map(i => s"a$i")) // overlapping shard
    for (portable <- Seq(false, true)) {
      val whole = Hll.sketch(a.union(b), "v", 128, portable).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      val merged = Hll.merge(Seq(
        Hll.sketch(a, "v", 128, portable),
        Hll.sketch(b, "v", 128, portable))).collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(merged === whole, s"portable=$portable")
    }
  }

  test("grouped sketch matches per-group ungrouped sketches") {
    val df = (0 until 500)
      .map(i => (if (i % 3 == 0) "en" else "de", s"w${i % 97}"))
      .toDF("lang", "v")
    val grouped = Hll.sketchByKey(df, Seq("lang"), "v", 64,
        portableHash = true)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    for (lang <- Seq("en", "de")) {
      val solo = Hll.sketch(df.filter($"lang" === lang), "v", 64,
          portableHash = true)
        .collect().map(r => (lang, r.getInt(0)) -> r.getInt(1)).toMap
      assert(grouped.filter(_._1._1 == lang) === solo, lang)
    }
  }

  test("rho ranges: portable in [1,49]; xxhash in [1, 64-b+1]; nulls " +
      "are not counted") {
    val data = vals((0 until 2000).map(i => s"x$i"))
    val p = Hll.sketch(data, "v", 64, portableHash = true)
      .select(min("rho"), max("rho")).head()
    assert(p.getInt(0) >= 1 && p.getInt(1) <= Hll.PortableRhoMax)
    val x = Hll.sketch(data, "v", 64, portableHash = false)
      .select(min("rho"), max("rho")).head()
    assert(x.getInt(0) >= 1 && x.getInt(1) <= 64 - 6 + 1)
    val withNulls = (Seq("a", "b") :+ (null: String)).toDF("v")
    // null contributes no register: same sketch as the non-null rows
    assert(Hll.sketch(withNulls, "v", 64, portableHash = true).collect()
      .toSet ===
      Hll.sketch(Seq("a", "b").toDF("v"), "v", 64, portableHash = true)
        .collect().toSet)
  }

  test("rawEstimateByKey: z_scaled is the exact integer harmonic sum " +
      "and raw_est one division") {
    val df = (0 until 200).map(i => ("en", s"w$i")).toDF("lang", "v")
    val sk = Hll.sketchByKey(df, Seq("lang"), "v", 64, portableHash = true)
    val regs = sk.collect().map(r => r.getInt(1) -> r.getInt(2)).toMap
    val est = Hll.rawEstimateByKey(sk, Seq("lang"), 64).head()
    val zeros = 64 - regs.size
    val zExpect = regs.values.map(r => 1L << (49 - r)).sum +
      zeros.toLong * (1L << 49)
    assert(est.getAs[Long]("zeros") === zeros)
    assert(est.getAs[Long]("z_scaled") === zExpect)
    val num = Hll.alphaM2(64) * math.pow(2.0, 49)
    assert(est.getAs[Double]("raw_est") === num / zExpect.toDouble)
  }

  test("mode guards: portable m must divide 4096 and stay <= 1024; " +
      "xxhash m must be a power of two") {
    val df = vals(Seq("a"))
    intercept[IllegalArgumentException](
      Hll.sketch(df, "v", 100, portableHash = true))
    intercept[IllegalArgumentException](
      Hll.sketch(df, "v", 2048, portableHash = true))
    intercept[IllegalArgumentException](
      Hll.sketch(df, "v", 100, portableHash = false))
  }

  test("bounded shuffle: sketch aggregates partially before the " +
      "exchange (no data-sized shuffle)") {
    val data = vals((0 until 3000).map(i => s"z$i")).repartition(8)
    val plan = Hll.sketch(data, "v", 256).queryExecution.executedPlan
      .toString()
    // partial HashAggregate below the exchange caps each map task's
    // output at m rows
    assert(plan.contains("HashAggregate"))
    val firstExchange = plan.indexOf("Exchange hashpartitioning")
    val partialAgg = plan.lastIndexOf("HashAggregate")
    assert(firstExchange >= 0 && partialAgg > firstExchange,
      s"expected partial aggregation under the exchange:\n$plan")
  }

  test("setOpEstimates: identical sets give est_inter == est, jaccard 1; " +
      "disjoint union dominates either side") {
    import spark.implicits._
    val a = (1 to 500).map(i => s"tok_a_$i").toDF("v")
    val r1 = Hll.setOpEstimates(a, a, "v", m = 256).head
    assert(r1.getAs[Double]("est_a") === r1.getAs[Double]("est_union"))
    assert(math.abs(r1.getAs[Double]("jaccard_est") - 1.0) < 1e-12)
    assert(r1.getAs[Double]("est_inter") === r1.getAs[Double]("est_a"))
    val b = (1 to 500).map(i => s"tok_b_$i").toDF("v")
    val r2 = Hll.setOpEstimates(a, b, "v", m = 256).head
    assert(r2.getAs[Double]("est_union") > r2.getAs[Double]("est_a"))
    assert(r2.getAs[Double]("est_union") > r2.getAs[Double]("est_b"))
    // half-overlap: intersection estimate lands within HLL error of 250
    val c = (251 to 750).map(i => s"tok_a_$i").toDF("v")
    val r3 = Hll.setOpEstimates(a, c, "v", m = 256).head
    val inter = r3.getAs[Double]("est_inter")
    assert(inter > 100 && inter < 400, s"inter=$inter")
  }

  test("setOpEstimates: an EMPTY side yields numeric estimates (the " +
      "alpha·m empty-sketch raw estimate), never nulls") {
    import spark.implicits._
    val a = (1 to 300).map(i => s"tok_$i").toDF("v")
    val empty = a.limit(0)
    for ((x, y) <- Seq((a, empty), (empty, a), (empty, empty))) {
      val r = Hll.setOpEstimates(x, y, "v", m = 256).head
      for (c <- Seq("est_a", "est_b", "est_union", "est_inter",
          "jaccard_est"))
        assert(!r.isNullAt(r.fieldIndex(c)), s"$c null on empty side")
    }
    // empty ∪ A estimates like A alone: union register MAX with an
    // all-zero sketch is identity
    val r = Hll.setOpEstimates(empty, a, "v", m = 256).head
    assert(r.getAs[Double]("est_union") === r.getAs[Double]("est_b"))
    // empty side's raw estimate is alpha·m (all m registers empty)
    assert(math.abs(r.getAs[Double]("est_a") -
      Hll.alphaM2(256) / 256.0) < 1e-9)
  }

  test("exactDistinctBitmap matches COUNT(DISTINCT) per key and globally") {
    val ev = spark.read.parquet(sf() + "/events.parquet")
    val got = Hll.exactDistinctBitmap(ev, Seq("event_type"), "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    val g = Hll.exactDistinctBitmap(ev, Nil, "user_id")
      .collect().head.getLong(0)
    assert(g === ev.select("user_id").distinct().count())
  }

  test("exactDistinctBitmap: negatives and reuse are exact") {
    import spark.implicits._
    // negative ids land in negative buckets and stay exact
    val neg = Seq(-1L, -1L, -40000L, 3L, 0L).toDF("v")
    assert(Hll.exactDistinctBitmap(neg, Nil, "v")
      .collect().head.getLong(0) === 4L)
  }
}
