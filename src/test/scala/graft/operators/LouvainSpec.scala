package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LouvainSpec extends SparkSpec {
  import spark.implicits._

  // two triangles {a,b,c} {d,e,f} bridged by c-d; c deliberately
  // mislabeled into the right-hand community
  private val triEdges = Seq(
    ("a", "b"), ("a", "c"), ("b", "c"),
    ("d", "e"), ("d", "f"), ("e", "f"),
    ("c", "d")).toDF("u", "v")
  private val triLabels = Seq(
    ("a", "A"), ("b", "A"),
    ("c", "B"), ("d", "B"), ("e", "B"), ("f", "B")).toDF("n", "lbl")

  test("mislabeled bridge node moves home with the hand-computed gain") {
    val out = Graph.louvainMoveRound(triEdges, "u", "v",
      triLabels, "n", "lbl")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getDouble(3)))).toMap
    // m=7, k_c=3, k_cA=2, k_cB=1, totA=4, totB=10:
    // gain = (2-1)/7 - (3/(2*7))*((4-10+3)/7) = 1/7 + 9/98 = 23/98
    val expected = 23.0 / 98.0
    assert(out("c")._1 === "B" && out("c")._2 === "A")
    assert(math.abs(out("c")._3 - expected) < 1e-15)
    // everyone else stays: a/b have negative move gains, d/e/f have
    // no foreign neighbor community
    for (n <- Seq("a", "b", "d", "e", "f")) {
      assert(out(n)._1 === out(n)._2, s"$n moved")
      assert(out(n)._3 === 0.0)
    }
  }

  test("equal-gain candidates tie-break to the smallest label") {
    // path a-b-c, all different communities: b gains 1/2 - 2*1/8 = 1/4
    // toward BOTH A and C -> picks A (smallest)
    val edges = Seq(("a", "b"), ("b", "c")).toDF("u", "v")
    val labels = Seq(("a", "A"), ("b", "B"), ("c", "C")).toDF("n", "lbl")
    val out = Graph.louvainMoveRound(edges, "u", "v", labels, "n", "lbl")
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    assert(out("b")._1 === "A")
    assert(out("b")._2 === 0.25)
    // the endpoints both see gain 1/4 toward B (synchronous overshoot
    // is inherent and deterministic — same caveat as sync LPA)
    assert(out("a")._1 === "B" && out("a")._2 === 0.25)
    assert(out("c")._1 === "B" && out("c")._2 === 0.25)
  }

  test("isolated labeled nodes and unlabeled endpoints follow the modularity contract") {
    val labels = triLabels.union(Seq(("zz", "Z")).toDF("n", "lbl"))
    val out = Graph.louvainMoveRound(triEdges, "u", "v",
      labels, "n", "lbl")
    val zz = out.where($"node" === "zz").collect().head
    assert(zz.getString(2) === "Z" && zz.getDouble(3) === 0.0)
    assert(out.count() === 7)
  }

  test("weighted move round with unit weights equals the unweighted round") {
    val weighted = Graph.louvainMoveRoundWeighted(
      triEdges.withColumn("w", lit(1L)), "u", "v", "w",
      triLabels, "n", "lbl")
    // a multigraph (parallel edges in both orientations, a self-loop)
    // moves like its simple unit-weight graph, which is triEdges
    val multi = triEdges.union(Seq(("b", "a"), ("a", "b"), ("d", "c"),
      ("c", "c")).toDF("u", "v"))
    for (raw <- Seq(triEdges, multi)) {
      val unweighted = Graph.louvainMoveRound(raw, "u", "v",
        triLabels, "n", "lbl")
      assert(weighted.except(unweighted).count() === 0 &&
        unweighted.except(weighted).count() === 0)
    }
  }

  test("coarsenByLabels: hand-checked inter weights and self-loops") {
    val labels = Seq(("a", "A"), ("b", "A"), ("c", "A"),
      ("d", "B"), ("e", "B"), ("f", "B")).toDF("n", "lbl")
    val coarse = Graph.coarsenByLabels(
      triEdges.withColumn("w", lit(1L)), "u", "v", "w",
      labels, "n", "lbl")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(2)).toMap
    assert(coarse === Map(("A", "A") -> 3L, ("B", "B") -> 3L,
      ("A", "B") -> 1L))
  }

  test("modularity is invariant under coarsening (weighted sums match the base Q)") {
    val labels = Seq(("a", "A"), ("b", "A"), ("c", "A"),
      ("d", "B"), ("e", "B"), ("f", "B")).toDF("n", "lbl")
    val baseQ = Graph.modularity(triEdges, "u", "v", labels, "n", "lbl")
      .agg(sum("q_term")).collect().head.getDouble(0)
    val coarse = Graph.coarsenByLabels(
      triEdges.withColumn("w", lit(1L)), "u", "v", "w",
      labels, "n", "lbl")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // weighted Q of the coarse graph under identity labels, driver-side
    val m = coarse.map(_._3).sum.toDouble
    val selfW = coarse.collect { case (u, v, w) if u == v => u -> w }.toMap
    val kOf = coarse.flatMap { case (u, v, w) =>
      if (u == v) Seq(u -> 2L * w) else Seq(u -> w, v -> w)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val coarseQ = kOf.keys.toSeq.map { c =>
      selfW.getOrElse(c, 0L) / m -
        (kOf(c) / (2.0 * m)) * (kOf(c) / (2.0 * m))
    }.sum
    assert(math.abs(baseQ - coarseQ) < 1e-12,
      s"base $baseQ vs coarse $coarseQ")
  }

  test("modularityWeighted reduces to modularity on unit weights and " +
      "scores coarse graphs identically to the base assignment") {
    val labels = Seq(("a", "A"), ("b", "A"), ("c", "A"),
      ("d", "B"), ("e", "B"), ("f", "B")).toDF("n", "lbl")
    val unw = Graph.modularity(triEdges, "u", "v", labels, "n", "lbl")
      .select("label", "q_term").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val w = Graph.modularityWeighted(
      triEdges.withColumn("w", lit(1L)), "u", "v", "w",
      labels, "n", "lbl")
      .select("label", "q_term").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(unw === w)
    // the coarse graph under identity labels carries the SAME Q
    val coarse = Graph.coarsenByLabels(
      triEdges.withColumn("w", lit(1L)), "u", "v", "w",
      labels, "n", "lbl")
    val idLabels = coarse.select($"u".as("n")).union(
        coarse.select($"v")).distinct()
      .select($"n", $"n".as("lbl"))
    val coarseQ = Graph.modularityWeighted(coarse, "u", "v", "w",
      idLabels, "n", "lbl")
      .agg(sum("q_term")).collect().head.getDouble(0)
    val baseQ = unw.values.sum
    assert(math.abs(coarseQ - baseQ) < 1e-12)
  }

  test("full louvain separates two bridged cliques into two communities") {
    val k4a = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"a$i", s"a$j")
    val k4b = for (i <- 1 to 4; j <- (i + 1) to 4) yield (s"b$i", s"b$j")
    val edges = (k4a ++ k4b :+ ("a1", "b1")).toDF("u", "v")
    val out = Graph.louvain(edges, "u", "v", levels = 2,
      roundsPerLevel = 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.size === 8)
    val aComms = (1 to 4).map(i => out(s"a$i")).toSet
    val bComms = (1 to 4).map(i => out(s"b$i")).toSet
    assert(aComms.size === 1, s"clique A split: $aComms")
    assert(bComms.size === 1, s"clique B split: $bComms")
    assert(aComms != bComms, "cliques merged")
  }
}
