package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("degrees symmetrizes, drops self-loops, collapses parallels") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 3L))
      .toDF("src", "dst")
    // the 1-core keeps every node with its plain degree
    val out = Graph.kCore(e, "src", "dst", k = 1).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("pageRank on a symmetric pair splits mass evenly") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val out = Graph.pageRank(e, "src", "dst", iters = 5)
      .orderBy("node").collect().map(_.getDouble(1))
    // two symmetric nodes: rank stays uniform 0.5 (up to the decimal
    // quantization of contributions)
    assert(out.forall(r => math.abs(r - 0.5) < 1e-9))
  }

  test("pageRank ranks the hub of a star above its leaves, mass ~1") {
    // star: 0 -- {1,2,3,4}
    val e = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val out = Graph.pageRank(e, "src", "dst", iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(0L) > out(1L) * 2)
    assert((1L to 4L).map(out).distinct.size === 1) // leaves identical
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
  }

  test("labelPropagation converges two triangles to their min labels " +
      "and breaks ties deterministically") {
    // two triangles joined by one bridge edge
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)).toDF("src", "dst")
    val out = Graph.labelPropagation(e, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle {1,2,3} pulls to label 1; {10,11,12} keeps its own
    // min label — the bridge must NOT flood one label everywhere
    assert(Set(1L, 2L, 3L).map(out).size === 1)
    assert(out(1L) === 1L)
    assert(Set(10L, 11L, 12L).map(out).size === 1)
    assert(out(10L) === 3L || out(10L) === 10L, s"got $out")
    assert(out(1L) !== out(11L), "bridge flooded one community label")
    // every label is one of the node ids (labels propagate, never
    // invent)
    assert(out.values.toSet.subsetOf(out.keySet))
    intercept[IllegalArgumentException] {
      Graph.labelPropagation(e, "src", "dst", iters = 0)
    }
  }

  test("labelPropagation single round: a node adopts its neighbors' " +
      "majority label, ties to the smallest") {
    // star center 5 with leaves 1,2,3 -> center adopts min leaf 1;
    // leaves adopt 5 (their only neighbor)
    val e = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("src", "dst")
    val out = Graph.labelPropagation(e, "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) === 1L)
    assert(Seq(1L, 2L, 3L).forall(out(_) === 5L))
  }

  test("pageRank matches a hand-computed iteration on a path graph") {
    // path 1-2-3, degrees 1,2,1. After one iteration with d=0.85:
    // pr(1) = 0.15/3 + 0.85*(pr2/2); pr(2) = 0.15/3 + 0.85*(pr1+pr3);
    // pr(3) symmetric to 1. Initial pr = 1/3.
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = Graph.pageRank(e, "src", "dst", iters = 1)
      .orderBy("node").collect().map(_.getDouble(1))
    val third = 1.0 / 3.0
    val exp1 = (1.0 - 0.85) / 3.0 + 0.85 * (third / 2.0)
    val exp2 = (1.0 - 0.85) / 3.0 + 0.85 * (third + third)
    assert(math.abs(out(0) - exp1) < 1e-9)
    assert(math.abs(out(1) - exp2) < 1e-9)
    assert(math.abs(out(2) - exp1) < 1e-9)
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(e, "src", "dst", iters = 1, damping = 1.0)
    }
  }

  test("weighted pageRank with uniform weights equals the unweighted " +
      "form bit-for-bit") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val unw = Graph.pageRank(e, "src", "dst", iters = 4)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val w = Graph.pageRank(e.withColumn("w", org.apache.spark.sql
        .functions.lit(1L)), "src", "dst", iters = 4,
      weightCol = Some("w"))
      .orderBy("node").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(w.toSeq === unw.toSeq)
  }

  test("weighted pageRank pulls rank toward the heavy edge; " +
      "non-positive and null weights drop") {
    // triangle with one heavy edge 1-2 (w=10) vs light 1-3, 2-3 (w=1):
    // nodes 1 and 2 outrank 3
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val out = Graph.pageRank(e, "src", "dst", iters = 8,
      weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > out(3L) && out(2L) > out(3L))
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
    // one edge-cleaning rule for the three PageRanks (personalized
    // seeded with every vertex)
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val rankers: Seq[(String, DataFrame => DataFrame)] = Seq(
      "pageRank" -> (df => Graph.pageRank(df, "src", "dst", iters = 3,
        weightCol = Some("w"))),
      "pageRankDirected" -> (df => Graph.pageRankDirected(df, "src",
        "dst", iters = 3, weightCol = Some("w"))),
      "personalizedPageRank" -> (df => Graph.personalizedPageRank(df,
        "src", "dst", df.select(col("src").as("seed"))
          .unionByName(df.select(col("dst").as("seed"))), "seed",
        iters = 3, weightCol = Some("w"))))
    // a zero/negative/null-weight edge is no edge: node 4 vanishes
    val e2 = Seq((1L, 2L, java.lang.Long.valueOf(10L)),
      (1L, 4L, java.lang.Long.valueOf(0L)),
      (2L, 4L, java.lang.Long.valueOf(-3L)),
      (3L, 4L, null.asInstanceOf[java.lang.Long]))
      .toDF("src", "dst", "w")
    // parallel weighted edges pool their weight (multigraph collapse):
    // 1-2 twice at w=5 ranks like 1-2 once at w=10
    val ePar = Seq((1L, 2L, 5L), (1L, 2L, 5L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val eSum = Seq((1L, 2L, 10L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    for ((name, rank) <- rankers) {
      val nodes = rank(e2).collect().map(_.getLong(0)).toSet
      assert(nodes === Set(1L, 2L), name)
      def ranks(df: DataFrame) = rank(df).orderBy("node").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ranks(ePar) === ranks(eSum), name)
    }
  }

  test("pageRankDirected conserves mass on a graph WITH a sink and " +
      "matches a hand-computed iteration") {
    // 1 → 2 → 3, 1 → 3; node 3 is a sink (inbound only)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    // one iteration by hand, d = 0.85, N = 3, pr0 = 1/3 each:
    //   contribs: 1→2: (1/3)/2, 1→3: (1/3)/2, 2→3: 1/3
    //   dangling D = pr(3) = 1/3 → every node gains d·D/3
    val third = 1.0 / 3.0
    val dang = 0.85 * (third / 3.0)
    val exp1 = 0.15 / 3.0 + 0.85 * 0.0 + dang
    val exp2 = 0.15 / 3.0 + 0.85 * (third / 2.0) + dang
    val exp3 = 0.15 / 3.0 + 0.85 * (third / 2.0 + third) + dang
    val out = Graph.pageRankDirected(e, "src", "dst", iters = 1)
      .orderBy("node").collect().map(_.getDouble(1))
    assert(math.abs(out(0) - exp1) < 1e-9, s"node1 ${out(0)} vs $exp1")
    assert(math.abs(out(1) - exp2) < 1e-9, s"node2 ${out(1)} vs $exp2")
    assert(math.abs(out(2) - exp3) < 1e-9, s"node3 ${out(2)} vs $exp3")
    // mass conservation across several rounds, sink included
    for (k <- Seq(2, 5)) {
      val sum = Graph.pageRankDirected(e, "src", "dst", iters = k)
        .collect().map(_.getDouble(1)).sum
      assert(math.abs(sum - 1.0) < 1e-8, s"iters=$k mass $sum")
    }
    // without redistribution the sink would hoard and total mass
    // would drop below 1; with it, the sink still ranks highest here
    val ranks = Graph.pageRankDirected(e, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks(3L) > ranks(2L) && ranks(2L) > ranks(1L))
  }

  test("personalizedPageRank: rank concentrates on and near the seed; " +
      "mass conserved; all-vertex seeding matches pageRankDirected") {
    import org.apache.spark.sql.functions.col
    // chain 1 → 2 → 3 plus far pair 8 → 9; seed {1}
    val e = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("src", "dst")
    val r = Graph.personalizedPageRank(e, "src", "dst",
      Seq(1L).toDF("seed"), "seed", iters = 6)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L) && r(2L) > r(3L), s"$r")
    // nodes unreachable from the seed converge to 0 but stay present
    assert(r(8L) < 1e-9 && r(9L) < 1e-9)
    assert(math.abs(r.values.sum - 1.0) < 1e-8, s"mass ${r.values.sum}")
    // seeding EVERY vertex reduces to the global directed PageRank
    val verts = e.select(col("src").as("seed"))
      .unionByName(e.select(col("dst").as("seed"))).distinct()
    val ppr = Graph.personalizedPageRank(e, "src", "dst", verts, "seed",
      iters = 3).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val dpr = Graph.pageRankDirected(e, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    ppr.foreach { case (n, v) =>
      assert(math.abs(v - dpr(n)) < 1e-12, s"node $n: $v vs ${dpr(n)}") }
    // a seed absent from the graph is ignored; all-absent rejects
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, "src", "dst",
        Seq(77L).toDF("seed"), "seed", iters = 1)
    }
  }

  test("hits: hub/authority split on a directed star matches the " +
      "hand-computed fixpoint; scores L1-normalize to 1") {
    // hubs 1,2,3 all point at authorities 8,9: after any round,
    // hubs carry all hub mass equally, authorities all auth mass
    val e = (for (h <- Seq(1L, 2L, 3L); a <- Seq(8L, 9L)) yield (h, a))
      .toDF("src", "dst")
    val out = Graph.hits(e, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    for (h <- Seq(1L, 2L, 3L)) {
      assert(math.abs(out(h)._1 - 1.0 / 3.0) < 1e-9, s"hub($h)")
      assert(out(h)._2 === 0.0, s"auth($h) must be 0")
    }
    for (a <- Seq(8L, 9L)) {
      assert(out(a)._1 === 0.0, s"hub($a) must be 0")
      assert(math.abs(out(a)._2 - 0.5) < 1e-9, s"auth($a)")
    }
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-8)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-8)
  }

  test("hits: a better-pointed-at authority outranks; a hub pointing " +
      "at stronger authorities outranks") {
    // 1→3, 2→3, 1→4: node 3 (2 inbound) > node 4 (1); hub 1 (points
    // at both) > hub 2
    val e = Seq((1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val out = Graph.hits(e, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(out(3L)._2 > out(4L)._2)
    assert(out(1L)._1 > out(2L)._1)
  }

  test("triangleCounts: K4 gives every node 3, a star gives 0, a " +
      "pendant node gets 0 while its triangle neighbors get 1") {
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b))
      .toDF("src", "dst")
    val outK4 = Graph.triangleCounts(k4, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(outK4 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    val star = (1L to 4L).map(i => (0L, i)).toDF("src", "dst")
    val outStar = Graph.triangleCounts(star, "src", "dst")
      .collect().map(_.getLong(1))
    assert(outStar.forall(_ === 0L) && outStar.length === 5)
    // triangle 1-2-3 with pendant 4 on node 1; duplicate + reversed
    // + self-loop edges must not change counts
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L),
      (2L, 1L), (1L, 2L), (3L, 3L)).toDF("src", "dst")
    val out = Graph.triangleCounts(e, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("triangleCounts matches brute-force enumeration on a random " +
      "graph (orientation completeness)") {
    val rnd = new scala.util.Random(7)
    val edges = (0 until 120).map(_ =>
      (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter { case (a, b) => a != b }.distinct
    val df = edges.toDF("src", "dst")
    val got = Graph.triangleCounts(df, "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute force over canonical undirected adjacency
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val nodes = und.map(_._1)
    val canon = und.filter { case (a, b) => a < b }.toSeq.sorted
    val triangles = for {
      (a, b) <- canon
      c <- nodes if b < c && und(a -> c) && und(b -> c)
    } yield (a, b, c)
    val brute = nodes.map(n => n ->
      triangles.count(t => t._1 == n || t._2 == n || t._3 == n).toLong)
      .toMap
    assert(got === brute)
  }

  test("bfsHops: path-graph distances, multi-seed min, maxHops " +
      "truncation, unreachable nodes absent") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("src", "dst")
    val seeds1 = Seq(1L).toDF("seed")
    val out = Graph.bfsHops(path, "src", "dst", seeds1, "seed",
      maxHops = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    val out2 = Graph.bfsHops(path, "src", "dst", seeds1, "seed",
      maxHops = 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out2 === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // two seeds: every node takes the nearer one; the 8-9 component
    // stays unreachable from seed 1 but is covered by seed 9
    val seeds2 = Seq(1L, 9L).toDF("seed")
    val out3 = Graph.bfsHops(path, "src", "dst", seeds2, "seed",
      maxHops = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out3(9L) === 0L && out3(8L) === 1L && out3(5L) === 4L)
    // a seed absent from the graph still reports itself at distance 0
    val out4 = Graph.bfsHops(path, "src", "dst", Seq(77L).toDF("seed"),
      "seed", maxHops = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out4 === Map(77L -> 0L))
  }

  test("pageRankDirected: a dangling-free cycle stays uniform; " +
      "weighted directed edges route mass by weight") {
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.pageRankDirected(cyc, "src", "dst", iters = 6)
      .collect().map(_.getDouble(1))
    assert(out.forall(r => math.abs(r - 1.0 / 3.0) < 1e-9))
    // 1 →(9) 2, 1 →(1) 3: node 2 receives 9× node 3's share from 1
    val w = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pageRankDirected(w, "src", "dst", iters = 4,
      weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(2L) > r(3L) * 2, s"$r")
    assert(math.abs(r.values.sum - 1.0) < 1e-8)
  }

  test("kCore: peel cascade removes a tail chain hanging off a clique; " +
      "survivors keep within-core degree") {
    // K4 on {0,1,2,3} plus a chain 3-4-5: for k=2 the chain peels in
    // CASCADE (5 first — degree 1 — then 4, whose degree drops to 1
    // only after 5 is gone) — two rounds, exercising the driver loop
    val e = (Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)) ++
      Seq((3L,4L),(4L,5L))).toDF("src", "dst")
    val core2 = Graph.kCore(e, "src", "dst", k = 2)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core2.toSeq === Seq((0L,3L),(1L,3L),(2L,3L),(3L,3L)),
      "k=2 core must be exactly the K4 with degree 3 each")
    // k=4 empties the graph (K4 max degree is 3)
    assert(Graph.kCore(e, "src", "dst", k = 4).isEmpty)
    // k=1 keeps everything with plain degrees
    val core1 = Graph.kCore(e, "src", "dst", k = 1)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core1.toSeq === Seq((0L,3L),(1L,3L),(2L,3L),(3L,4L),
      (4L,2L),(5L,1L)))
  }

  test("kCore is idempotent: peeling the surviving core again changes " +
      "nothing") {
    val e = (Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)) ++
      Seq((3L,4L),(4L,5L),(5L,6L),(6L,4L))).toDF("src", "dst")
    val once = Graph.kCore(e, "src", "dst", k = 2)
    // rebuild the surviving edge set and peel again
    val survivors = once.select("node")
    val surEdges = e
      .join(survivors.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(survivors.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
    val twice = Graph.kCore(surEdges, "src", "dst", k = 2)
    assert(twice.orderBy("node").collect().toSeq ===
      once.orderBy("node").collect().toSeq)
  }

  test("coreness equals the peel definition: node in kCore(k) iff " +
      "coreness >= k, on a clique + cycle + tail graph") {
    val e = (Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)) ++
      Seq((3L,4L),(4L,5L),(5L,6L),(6L,4L)) ++ Seq((6L,7L)))
      .toDF("src", "dst")
    val cn = Graph.coreness(e, "src", "dst").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4 members: coreness 3; cycle {4,5,6}: 2; tail 7: 1; bridge
    // node 3 is in the K4 so 3, node 4/5/6 cycle gives 2
    assert(cn === Map(0L->3L,1L->3L,2L->3L,3L->3L,4L->2L,5L->2L,
      6L->2L,7L->1L), cn.toString)
    for (k <- 1 to 4) {
      val inCore = Graph.kCore(e, "src", "dst", k)
        .select("node").as[Long].collect().toSet
      val byCoreness = cn.filter(_._2 >= k).keySet
      assert(inCore === byCoreness, s"k=$k")
    }
  }

  test("kTruss: a K4 with a pendant triangle — the 4-truss keeps only " +
      "the K4 (cascade: the bridge triangle dies once the K4 edge " +
      "support recounts)") {
    // K4 on {0,1,2,3}; extra triangle (3,4),(3,5),(4,5) hanging off
    val e = (Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)) ++
      Seq((3L,4L),(3L,5L),(4L,5L))).toDF("src", "dst")
    // k=3: every edge in >= 1 triangle — everything survives
    val t3 = Graph.kTruss(e, "src", "dst", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t3.size == 9)
    // k=4: K4 edges each sit in 2 K4-triangles; the pendant triangle
    // edges have support 1 and peel away
    val t4 = Graph.kTruss(e, "src", "dst", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t4.map(x => (x._1, x._2)).toSet ==
      Set((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)))
    assert(t4.forall(_._3 == 2L), "within-truss support must be 2")
    // k=5 empties a K4 (max support 2 < 3)
    assert(Graph.kTruss(e, "src", "dst", k = 5).isEmpty)
  }

  test("orientedWedges caps hub fan-out: a LOW-ID hub star yields " +
      "ZERO wedges (edges point into the hub), so kTruss round-1 " +
      "never pays the O(d^2) id-ordered blow-up") {
    import org.apache.spark.sql.functions.{col => c}
    // star: hub 0 (the SMALLEST id — the id-ordered enumeration would
    // key every wedge on it: C(60,2) = 1770 rows) with 60 leaves
    val star = (1L to 60L).map(l => (0L, l)).toDF("src", "dst")
    val canon = star.select(c("src").as("__u"), c("dst").as("__v"))
    assert(Graph.orientedWedges(canon).count() == 0L,
      "degree orientation must point every star edge INTO the hub")
    // and the full operator stays correct on a star + one triangle:
    // only the triangle survives a 3-truss
    val withTri = (star.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq ++ Seq((61L, 62L), (62L, 63L), (61L, 63L)))
      .toDF("src", "dst")
    val t3 = Graph.kTruss(withTri, "src", "dst", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(t3.map(x => (x._1, x._2)).toSet ===
      Set((61L, 62L), (61L, 63L), (62L, 63L)))
    assert(t3.forall(_._3 == 1L))
  }

  test("kTruss/kCore maxRounds backstop fails loudly, and the real " +
      "loops stay far under it") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    // a 1-round fixpoint fits within maxRounds = 1
    assert(Graph.kTruss(e, "src", "dst", k = 3, maxRounds = 1)
      .count() == 3L)
    assert(Graph.kCore(e, "src", "dst", k = 2, maxRounds = 1)
      .count() == 3L)
    // a peel CASCADE (chain 0-1-2-3 under k=2 peels end-in) trips a
    // too-small bound with the documented message
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.kCore(chain, "src", "dst", k = 2, maxRounds = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("linkPrediction: hand-checked path/square scores, existing " +
      "edges excluded, hub middles capped out") {
    import org.apache.spark.sql.functions.{col => c}
    // path 1-2-3: the only candidate is (1,3) via middle 2
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Graph.linkPrediction(path, "src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(p.length == 1)
    assert(p(0)._1 == 1L && p(0)._2 == 3L && p(0)._3 == 1L)
    assert(math.abs(p(0)._4 - 1.0) < 1e-12, "jaccard 1/(1+1-1)")
    assert(math.abs(p(0)._5 - 1.0 / math.log(2.0)) < 1e-9)
    // square 1-2-3-4-1: diagonals (1,3) and (2,4), TWO middles each
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val d = Graph.linkPrediction(sq, "src", "dst").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(d === Map((1L, 3L) -> 2L, (2L, 4L) -> 2L))
    // star: hub middle capped out → no candidates survive the cap
    val star = (2L to 12L).map(l => (1L, l)).toDF("src", "dst")
    assert(Graph.linkPrediction(star, "src", "dst",
      maxMiddleDegree = 5L).isEmpty)
    // existing edges never appear as predictions
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.linkPrediction(tri, "src", "dst").isEmpty)
  }

  test("kTruss is nested in kCore: every k-truss vertex is in the " +
      "(k-1)-core, and the truss is idempotent under re-peeling") {
    val e = (Seq((0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(2L,3L)) ++
      Seq((3L,4L),(4L,5L),(5L,6L),(6L,4L),(2L,6L))).toDF("src", "dst")
    for (k <- 3 to 4) {
      val truss = Graph.kTruss(e, "src", "dst", k)
      val trussNodes = truss.select("src").union(truss.select("dst"))
        .distinct().as[Long].collect().toSet
      val coreNodes = Graph.kCore(e, "src", "dst", k - 1)
        .select("node").as[Long].collect().toSet
      assert(trussNodes.subsetOf(coreNodes), s"k=$k")
      val again = Graph.kTruss(truss.select("src", "dst"), "src",
        "dst", k)
      assert(again.orderBy("src", "dst").collect().toSeq ==
        truss.orderBy("src", "dst").collect().toSeq, s"k=$k idempotence")
    }
  }

  test("reliable-checkpoint mode (spark.graft.checkpoint.dir) yields " +
      "byte-identical results to localCheckpoint mode for the " +
      "iterative operators, and actually writes to the dir") {
    // ring + star + an isolated pair: multi-round convergence for
    // all three operators under test
    val e = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)) ++
      (10L to 13L).map(i => (9L, i)) ++ Seq((20L, 21L))).toDF("src", "dst")
    def runAll() = (
      Graph.pageRank(e, "src", "dst", iters = 8)
        .orderBy("node").collect().toSeq,
      Graph.kCore(e, "src", "dst", 2).orderBy("node").collect().toSeq,
      Dedup.connectedComponents(e, "src", "dst")
        .orderBy("id").collect().toSeq)
    val local = runAll()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.Checkpoints.ConfKey, dir)
    try {
      val reliable = runAll()
      assert(reliable == local,
        "reliable checkpoint() changed iterative results")
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty,
        s"no checkpoint data written under $dir — knob not in effect")
    } finally {
      spark.conf.unset(graft.Checkpoints.ConfKey)
    }
  }

  test("modularity: two bridged triangles under the right communities," +
      " hand-checked terms; singleton community contributes zero") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} plus bridge 3–4; self-loop and a
    // reversed parallel edge must collapse away; node 7 is an
    // edge-less labeled singleton
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 1L),
      (4L, 5L), (5L, 6L), (6L, 4L), (3L, 4L)).toDF("src", "dst")
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "B"), (7L, "C")).toDF("node", "com")
    val rows = Graph.modularity(e, "src", "dst", lab, "node", "com")
      .orderBy("label").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // m = 7; d_A = 2+2+3 = 7, d_B = 3+2+2 = 7, e_A = e_B = 3
    val expTerm = 3.0 / 7.0 - (7.0 / 14.0) * (7.0 / 14.0)
    assert(rows.toSeq === Seq(
      ("A", 3L, 3L, 7L, 7L, expTerm),
      ("B", 3L, 3L, 7L, 7L, expTerm),
      ("C", 1L, 0L, 0L, 7L, 0.0)))
    // Q for a near-perfect 2-community split is solidly positive
    assert(rows.map(_._6).sum > 0.3)
  }

  test("modularity of the everything-in-one-community partition " +
      "equals 0 (e_in = m, deg_sum = 2m)") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val lab = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"))
      .toDF("node", "com")
    val rows = Graph.modularity(e, "src", "dst", lab, "node", "com")
      .collect()
    assert(rows.length === 1)
    assert(rows.head.getDouble(5) === 0.0)
  }

  test("modularity of an edgeless graph: one row per community, m = 0, " +
      "q_term null") {
    import spark.implicits._
    // Q is undefined without edges; both entry points agree on it
    val lab = Seq((1L, "A"), (2L, "A"), (3L, "B")).toDF("node", "com")
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    // self-loops are no edges of the simple graph; non-positive
    // weights are no edges of the weighted one
    val loops = Seq((1L, 1L, 1L), (3L, 3L, 1L)).toDF("src", "dst", "w")
    val dropped = Seq((1L, 2L, 0L), (2L, 3L, -1L)).toDF("src", "dst", "w")
    val runs = Seq(
      "modularity/empty" -> Graph.modularity(empty, "src", "dst", lab,
        "node", "com"),
      "modularity/self-loops" -> Graph.modularity(loops, "src", "dst",
        lab, "node", "com"),
      "modularityWeighted/empty" -> Graph.modularityWeighted(empty,
        "src", "dst", "w", lab, "node", "com"),
      "modularityWeighted/non-positive" -> Graph.modularityWeighted(
        dropped, "src", "dst", "w", lab, "node", "com"))
    for ((name, df) <- runs) {
      val rows = df.orderBy("label").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.get(4), r.get(5)))
      assert(rows.toSeq === Seq(("A", 2L, 0L, 0L, 0L, null),
        ("B", 1L, 0L, 0L, 0L, null)), name)
    }
  }
}
