package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Checkpoints.LineageCutOps

/** Iterative graph analytics over plain edge frames — the Pregel
  * shapes (degree, fixed-iteration PageRank) expressed as keyed
  * join/aggregate rounds, the same way [[Dedup.connectedComponents]]
  * expresses large-star/small-star. No graph library: an edge list is
  * a DataFrame, a vertex state is a DataFrame, one iteration is one
  * hash-join + one hash-aggregate — exactly the plan a 1000-executor
  * cluster runs well when edges are hash-partitioned by vertex.
  *
  * Determinism contract (oracle-replayable like Drift/Anomaly): each
  * per-edge contribution is ONE double division cast to
  * decimal(18,12), per-node sums are exact decimal (order-free), and
  * the rank update is a fixed parenthesized double expression entered
  * through the decimal→double VARCHAR bridge — so N iterations stay
  * bit-identical across engines.
  */
object Graph {

  /** Fixed-iteration PageRank over an UNDIRECTED edge list (the
    * TextRank setting — Mihalcea & Tarau 2004: rank tokens in a
    * co-occurrence graph; also hub scoring of near-dup graphs).
    * Symmetrized edges mean every node has degree ≥ 1, so there is no
    * dangling-mass term. `iters` is fixed (convergence-loop stopping
    * needs a driver-side delta check; at corpus scale run a few fixed
    * rounds — TextRank plateaus in ~10).
    *
    * Per iteration: contrib(u→v) = pr(u)/deg(u) — one double
    * division, cast decimal(18,12); per-node exact decimal sum;
    * pr'(v) = (1−d)/N + d·sum — fixed double ops via the VARCHAR
    * bridge. The iteration unrolls into one lazy plan; for many
    * rounds at corpus scale, checkpoint the rank frame every few
    * iterations (same guidance as connectedComponents).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, "at least one iteration")
    require(damping > 0.0 && damping < 1.0, "damping in (0,1)")
    // the symmetrized edge frame is scanned 1 + iters times (degree
    // pass + one contribution join per round), so it is cut once,
    // always: skipping the cut even over a parquet-scan edge list made
    // token_ppr 1.20 → 2.90 s (OPTIMIZATION_r17.md).
    //
    // weightCol (the TRUE TextRank form — Mihalcea & Tarau rank a
    // WEIGHTED co-occurrence graph): contrib(u→v) = pr(u)·w(u,v)/W(u)
    // with W(u) the exact-decimal out-weight sum; weights must be
    // positive (null/≤0 edges drop) and enter as decimal(27,12) —
    // exact for integer weights (co-occurrence counts), the documented
    // cross-engine determinism guarantee; per-edge w and per-node W
    // re-enter double arithmetic through the decimal→VARCHAR→double
    // bridge so both engines divide identical values. With uniform
    // weights the ranks equal the unweighted form bit-for-bit
    // (w/W = 1/deg on the same doubles — spec-pinned).
    val sym = (weightCol match {
      case Some(w) => symmetrizeWeighted(edges, srcCol, dstCol, w)
      case None => symmetrize(edges, srcCol, dstCol)
        .withColumn("__w", unitWeight)
    }).lineageCut()
    val deg = outWeights(sym)
    // N enters every row via a broadcast 1-row aggregate (never a
    // driver-side collect of the vertex set)
    val n = broadcast(deg.agg(count(lit(1)).as("__n")))
    var pr = deg.crossJoin(n)
      .select(col("__u"), col("__n"),
        (lit(1.0) / col("__n").cast("double")).as("__pr"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(pr.join(deg, Seq("__u"))
          .select(col("__u"), col("__n"), col("__deg"), col("__wout"),
            col("__pr")),
          Seq("__u"))
        .select(col("__v"), col("__n"),
          contribution(weightCol.isDefined).as("__c"))
        .groupBy(col("__v").as("__u"))
        .agg(sum(col("__c")).as("__s"), min(col("__n")).as("__n"))
      pr = contrib.select(col("__u"), col("__n"),
        (lit(1.0 - damping) / col("__n").cast("double") +
          lit(damping) *
            col("__s").cast("string").cast("double")).as("__pr"))
    }
    pr.select(col("__u").as("node"), col("__pr").as("rank"))
  }

  /** Fixed-iteration PageRank over a DIRECTED edge list with
    * dangling-mass redistribution — the citation/link-graph form the
    * symmetrize-only [[pageRank]] cannot express: a node with inbound
    * but no outbound edges (a sink) must donate its rank uniformly to
    * every node, or mass leaks and ranks drift toward zero.
    *
    * pr'(v) = (1−d)/N + d·(Σ_{u→v} pr(u)·w(u,v)/W(u) + D/N), where D
    * is the total rank held by dangling nodes this round — ONE extra
    * broadcast scalar per iteration (a 1-row exact-decimal aggregate
    * over the anti-join of ranks vs out-edge sources; never a driver
    * collect). Rank state spans ALL of V = src ∪ dst (isolated
    * receivers keep collecting the teleport + dangling terms), so mass
    * is conserved: Σ pr = 1 every round up to decimal(18,12) rounding
    * (spec-asserted).
    *
    * Same determinism chain as [[pageRank]]: per-edge contributions
    * decimal(18,12), exact decimal sums, doubles re-entered through
    * the VARCHAR bridge; `weightCol` semantics (positive, exact for
    * integer weights) match the undirected form. Self-loops drop
    * (standard PageRank convention — a self-loop would let a node
    * keep its own mass); parallel edges collapse (weight-sum when
    * weighted, distinct when not).
    *
    * Scale shape per iteration: one hash-join edges⋈ranks + one
    * hash-aggregate by dst + one broadcast 1-row dangling aggregate —
    * the plan a 1000-executor cluster runs well with edges
    * hash-partitioned by src. For many rounds, checkpoint the rank
    * frame every few iterations (connectedComponents guidance). */
  def pageRankDirected(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, "at least one iteration")
    require(damping > 0.0 && damping < 1.0, "damping in (0,1)")
    val e = directedEdges(edges, srcCol, dstCol, weightCol).lineageCut()
    val verts = vertices(e).lineageCut()
    val outw = outWeights(e)
    val n = broadcast(verts.agg(count(lit(1)).as("__n")))
    var pr = verts.crossJoin(n)
      .select(col("__u"), col("__n"),
        (lit(1.0) / col("__n").cast("double")).as("__pr"))
    for (_ <- 1 to iters) {
      val (inbound, dang) = directedRound(e, outw, pr, weightCol.isDefined)
      pr = pr.select(col("__u"), col("__n"))
        .join(inbound, Seq("__u"), "left")
        .crossJoin(dang)
        .select(col("__u"), col("__n"),
          (lit(1.0 - damping) / col("__n").cast("double") +
            lit(damping) *
              (coalesce(col("__s"), lit(0L).cast("decimal(18,12)"))
                .cast("string").cast("double") +
                col("__d").cast("string").cast("double") /
                  col("__n").cast("double"))).as("__pr"))
      // each round reads the PREVIOUS rank frame three times (base
      // vertex set, contribution join, dangling aggregate): without a
      // per-round materialization the lazy plan re-derives it 3^iters
      // times. The rank frame is |V| rows — checkpointing it each
      // round is the standard Pregel shape, not an optimization hack
      pr = pr.lineageCut()
    }
    pr.select(col("__u").as("node"), col("__pr").as("rank"))
  }

  /** Fixed-iteration synchronous label propagation (community
    * detection, Raghavan et al. 2007) made DETERMINISTIC: every node
    * starts labeled with itself; each round it adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label
    * (the argmax is a `min_by` over (−count, label) — no window, no
    * random tie order, so results replay exactly). One join + one
    * grouped aggregate per round, same Pregel-as-join-agg shape as
    * [[pageRank]]; labels are whatever ordered type the node ids are.
    *
    * Fixed `iters` for the same reason as pageRank (convergence
    * checks are driver round-trips); LPA on real graphs plateaus in
    * ~5 rounds. Oscillation on bipartite structures is inherent to
    * synchronous LPA — run an odd/even iters pair if it matters. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val sym = symmetrize(edges, srcCol, dstCol).lineageCut()
    var labels = sym.select(col("__u")).distinct()
      .select(col("__u"), col("__u").as("__lbl"))
    for (_ <- 1 to iters) {
      labels = sym
        .join(labels, Seq("__u"))
        .groupBy(col("__v"), col("__lbl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("__v").as("__u"))
        .agg(min_by(col("__lbl"),
          struct((lit(0L) - col("__c")).as("nc"), col("__lbl")))
          .as("__lbl"))
    }
    labels.select(col("__u").as("node"), col("__lbl").as("label"))
  }

  /** Personalized PageRank over a DIRECTED edge list: the teleport
    * lands on the `seeds` set (uniformly) instead of all of V — "rank
    * everything by relevance TO these nodes" (related-item retrieval,
    * seed-expansion labeling, trust propagation). Dangling mass also
    * teleports per the personalization vector, the standard PPR
    * convention, so mass is conserved (Σ pr = 1 up to decimal
    * rounding; spec-asserted). Nodes unreachable from the seed set
    * (and outside it) converge to rank 0 and are RETAINED in the
    * output — their zeros are information.
    *
    * Seeds are a COLUMN (never collected); seeds not present in the
    * graph are ignored (require at least one in-graph seed — an empty
    * teleport set has no fixpoint). Same determinism chain and
    * per-round checkpoint rule as [[pageRankDirected]]; `weightCol`
    * as there. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String, iters: Int,
      damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(iters >= 1, "at least one iteration")
    require(damping > 0.0 && damping < 1.0, "damping in (0,1)")
    val e = directedEdges(edges, srcCol, dstCol, weightCol).lineageCut()
    val verts0 = vertices(e)
    val sInGraph = verts0.join(
      seeds.select(col(seedCol).as("__u")).where(col("__u").isNotNull)
        .distinct(), Seq("__u"), "left_semi")
    // EAGER guard (one tiny job): an empty in-graph teleport set has
    // no fixpoint — every rank would silently converge to 0
    require(!sInGraph.isEmpty,
      "personalizedPageRank needs at least one seed present in the graph")
    val nSeeds = broadcast(sInGraph.agg(count(lit(1)).as("__ns")))
    // personalization vector: 1/|S| on in-graph seeds, 0 elsewhere
    val verts = verts0
      .join(sInGraph.withColumn("__isSeed", lit(1)), Seq("__u"), "left")
      .crossJoin(nSeeds)
      .select(col("__u"),
        when(col("__isSeed") === 1,
          lit(1.0) / col("__ns").cast("double"))
          .otherwise(lit(0.0)).as("__p"))
      .lineageCut()
    val outw = outWeights(e)
    var pr = verts.select(col("__u"), col("__p"), col("__p").as("__pr"))
    for (_ <- 1 to iters) {
      val (inbound, dang) = directedRound(e, outw, pr, weightCol.isDefined)
      pr = pr.select(col("__u"), col("__p"))
        .join(inbound, Seq("__u"), "left")
        .crossJoin(dang)
        .select(col("__u"), col("__p"),
          (lit(1.0 - damping) * col("__p") +
            lit(damping) *
              (coalesce(col("__s"), lit(0L).cast("decimal(18,12)"))
                .cast("string").cast("double") +
                col("__d").cast("string").cast("double") *
                  col("__p"))).as("__pr"))
      pr = pr.lineageCut() // see pageRankDirected
    }
    pr.select(col("__u").as("node"), col("__pr").as("rank"))
  }

  /** Fixed-iteration HITS (Kleinberg 1999) over a DIRECTED edge list:
    * hubs point at good authorities, authorities are pointed at by
    * good hubs — the query-dependent ranking pair PageRank's single
    * score cannot express (a page can be a great directory and a poor
    * destination). Returns (node, hub, authority) over V = src ∪ dst,
    * L1-normalized each half-round (Σhub = Σauthority = 1 up to
    * decimal rounding).
    *
    * Determinism chain matches [[pageRank]]: per-edge contributions
    * cast decimal(18,12), per-node and normalizer sums exact decimal,
    * every double re-entered through the VARCHAR bridge. Per
    * half-round: one hash-join + one hash-aggregate + one broadcast
    * 1-row normalizer — and the score frames checkpoint per round
    * (each is read by the next half-round AND the normalizer), the
    * [[pageRankDirected]] plan-growth rule. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "at least one iteration")
    val e = properPairs(edges, srcCol, dstCol).distinct().lineageCut()
    val verts = vertices(e).lineageCut()
    val zero = lit(0L).cast("decimal(18,12)")
    var hub = verts.withColumn("__h", lit(1.0))
    var auth = verts.withColumn("__a", lit(1.0))
    for (_ <- 1 to iters) {
      val araw = verts.select(col("__u").as("__v"))
        .join(e.join(hub, Seq("__u"))
          .select(col("__v"), col("__h").cast("decimal(18,12)").as("__c"))
          .groupBy("__v").agg(sum("__c").as("__s")),
          Seq("__v"), "left")
        .select(col("__v"), coalesce(col("__s"), zero).as("__s"))
      val asum = broadcast(araw.agg(sum("__s").as("__t")))
      auth = araw.crossJoin(asum)
        .select(col("__v").as("__u"),
          (col("__s").cast("string").cast("double") /
            col("__t").cast("string").cast("double")).as("__a"))
      auth = auth.lineageCut() // see pageRankDirected
      val hraw = verts
        .join(e.join(auth.select(col("__u").as("__v"), col("__a")),
            Seq("__v"))
          .select(col("__u"), col("__a").cast("decimal(18,12)").as("__c"))
          .groupBy("__u").agg(sum("__c").as("__s")),
          Seq("__u"), "left")
        .select(col("__u"), coalesce(col("__s"), zero).as("__s"))
      val hsum = broadcast(hraw.agg(sum("__s").as("__t")))
      hub = hraw.crossJoin(hsum)
        .select(col("__u"),
          (col("__s").cast("string").cast("double") /
            col("__t").cast("string").cast("double")).as("__h"))
      hub = hub.lineageCut() // see pageRankDirected
    }
    hub.join(auth, Seq("__u"))
      .select(col("__u").as("node"), col("__h").as("hub"),
        col("__a").as("authority"))
  }

  /** The one per-edge PageRank contribution, cast decimal(18,12):
    * pr(u)·w(u,v)/W(u) with w and W re-entering doubles through the
    * VARCHAR bridge when weighted, pr(u)/deg(u) when not. Reads
    * `__pr` plus [[outWeights]]' `__deg`/`__wout` and the edge `__w`. */
  private def contribution(weighted: Boolean): Column =
    (if (weighted)
      (col("__pr") * col("__w").cast("string").cast("double")) /
        col("__wout").cast("string").cast("double")
    else col("__pr") / col("__deg").cast("double"))
      .cast("decimal(18,12)")

  /** Per-source out-degree `__deg` and exact-decimal out-weight
    * `__wout` of a (__u, __v, __w) edge frame. */
  private def outWeights(e: DataFrame): DataFrame =
    e.groupBy("__u").agg(count(lit(1)).as("__deg"),
      sum("__w").as("__wout"))

  /** One directed PageRank round's two reads of the previous rank
    * frame `pr`: the per-node inbound contribution sums (__u, __s) and
    * the broadcast 1-row dangling mass __d — the exact-decimal sum of
    * ranks whose node has no out-edge (coalesced for the no-danglers
    * case). Each caller applies its own update line. */
  private def directedRound(e: DataFrame, outw: DataFrame, pr: DataFrame,
      weighted: Boolean): (DataFrame, DataFrame) = {
    val inbound = e
      .join(pr.select(col("__u"), col("__pr")).join(outw, Seq("__u")),
        Seq("__u"))
      .select(col("__v"), contribution(weighted).as("__c"))
      .groupBy(col("__v").as("__u"))
      .agg(sum(col("__c")).as("__s"))
    val dang = broadcast(
      pr.join(outw.select("__u"), Seq("__u"), "left_anti")
        .agg(coalesce(sum(col("__pr").cast("decimal(18,12)")),
          lit(0L).cast("decimal(18,12)")).as("__d")))
    (inbound, dang)
  }

  /** Directed (__u, __v, __w) edges: null endpoints and self-loops
    * drop; weighted, null/non-positive weights drop and parallel edges
    * sum their decimal(27,12) weights; unweighted, parallel edges
    * collapse to one with a unit weight. */
  private def directedEdges(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: Option[String]): DataFrame =
    weightCol match {
      case Some(w) => positiveEdges(edges, srcCol, dstCol, w)
        .groupBy("__u", "__v").agg(sum("__w").as("__w"))
      case None => properPairs(edges, srcCol, dstCol).distinct()
        .withColumn("__w", unitWeight)
    }

  /** Every endpoint of an edge frame, sources and sinks alike, as one
    * distinct `__u` column. */
  private def vertices(e: DataFrame): DataFrame =
    e.select(col("__u")).unionByName(
      e.select(col("__v").as("__u"))).distinct()

  /** The weight an unweighted PageRank edge carries. */
  private def unitWeight: Column = lit(1L).cast("decimal(27,12)")

  /** Degree-ordered wedge enumeration over an id-canonical edge list
    * (`__u` < `__v`, one row per unordered pair): orient each edge
    * from its (within-subgraph degree, id)-smaller endpoint to the
    * larger, and self-join oriented edges on their source. The
    * orientation caps every node's wedge fan-out at its oriented
    * OUT-degree — O(√|E|) for any graph (Cohen 2009 / Suri &
    * Vassilvitskii WWW'11) — so a hub contributes no O(d²) wedge
    * blow-up: its edges all point INTO it. Returns (__s, __b, __c)
    * with __b < __c (id order — the closure key matches canon). */
  private[operators] def orientedWedges(canon: DataFrame): DataFrame = {
    val deg = canon
      .select(explode(array(col("__u"), col("__v"))).as("__n"))
      .groupBy("__n").agg(count(lit(1)).as("__deg"))
    val ranked = canon
      .join(deg.select(col("__n").as("__u"), col("__deg").as("__du")),
        Seq("__u"))
      .join(deg.select(col("__n").as("__v"), col("__deg").as("__dv")),
        Seq("__v"))
    val oriented = ranked.select(
      when(col("__du") < col("__dv") ||
          (col("__du") === col("__dv") && col("__u") < col("__v")),
        struct(col("__u").as("s"), col("__v").as("t")))
        .otherwise(struct(col("__v").as("s"), col("__u").as("t")))
        .as("__e"))
      .select(col("__e.s").as("__s"), col("__e.t").as("__t"))
    // wedges from a common source, id-ordered to count each pair once
    oriented.select(col("__s"), col("__t").as("__b"))
      .join(oriented.select(col("__s"), col("__t").as("__c")), Seq("__s"))
      .where(col("__b") < col("__c"))
  }

  /** Each triangle of the id-canonical edge list EXACTLY once:
    * [[orientedWedges]] closed against the edge table (wedge pairs are
    * id-ordered, so the lookup key is exactly canon's (u, v)).
    * Returns (__s, __b, __c), __b < __c. */
  private[operators] def orientedTriangles(canon: DataFrame): DataFrame =
    orientedWedges(canon).join(
      canon.select(col("__u").as("__b"), col("__v").as("__c")),
      Seq("__b", "__c"))

  /** Per-node triangle counts over an UNDIRECTED edge list — the
    * clustering/cohesion primitive (community density, spam-farm
    * detection, graph feature engineering). Returns (node, triangles)
    * for every node with degree ≥ 1 (0 for triangle-free nodes).
    *
    * Algorithm: degree-ordered orientation (Cohen 2009 / Suri &
    * Vassilvitskii WWW'11 "MR node iterator++"): orient each
    * undirected edge from its (degree, id)-smaller endpoint to the
    * larger, enumerate wedges by self-joining oriented edges on their
    * source, and close each wedge against the oriented edge table —
    * every triangle is found EXACTLY once, and the per-source wedge
    * fan-out is bounded by the oriented out-degree, which the
    * orientation caps at O(√|E|) for any graph (a hot celebrity node
    * generates no giant wedge set because its edges all point INTO
    * it). Two hash-joins + one aggregate; ids shuffle, never
    * payloads. Exact integers end-to-end — oracle-replayable by plain
    * canonical a<b<c enumeration. */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val sym = symmetrize(edges, srcCol, dstCol)
    val deg = sym.groupBy("__u").agg(count(lit(1)).as("__deg"))
    // canonical undirected edges (one row per unordered pair)
    val canon = sym.where(col("__u") < col("__v"))
    val closed = orientedTriangles(canon)
    val perNode = closed
      .select(explode(array(col("__s"), col("__b"), col("__c")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.select(col("__u").as("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Multi-source BFS hop distances over an UNDIRECTED edge list:
    * for every node reachable from `seeds` within `maxHops`, the
    * minimum hop count (seeds are 0 — including seeds absent from the
    * edge list, which pass through as isolated distance-0 rows). The
    * "how far is everything from this set" primitive — influence
    * radius, contamination spread, crawl frontier depth. Unreachable
    * nodes are ABSENT (a null/∞ row would force every consumer to
    * filter).
    *
    * One join + one min-aggregate per hop round (frontier expansion
    * re-derived from the full distance frame — simple and exactly
    * replayable; a delta-frontier variant saves work at high hop
    * counts but complicates determinism for no gate benefit). Exact
    * integers; `seeds` is one column of node ids and joins the vertex
    * set (never collected). */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "at least one hop")
    val sym = symmetrize(edges, srcCol, dstCol).lineageCut()
    // off-graph seeds are NOT filtered out: a seed with no edges still
    // reports itself at distance 0 (spec-pinned) — callers wanting
    // graph-only nodes semi-join the output against the edge list
    var dist = seeds.select(col(seedCol).as("__u")).where(
      col("__u").isNotNull).distinct()
      .withColumn("__d", lit(0L))
    for (_ <- 1 to maxHops) {
      val next = sym.join(dist, Seq("__u"))
        .select(col("__v").as("__u"), (col("__d") + 1L).as("__d"))
      dist = dist.unionByName(next)
        .groupBy("__u").agg(min("__d").as("__d"))
      // the round reads the previous distance frame twice (carry-over
      // union + frontier join): checkpoint per round — unconditional,
      // like pageRankDirected's rank frame — or the lazy plan
      // re-derives it 2^maxHops times
      dist = dist.lineageCut()
    }
    dist.select(col("__u").as("node"), col("__d").as("hops"))
  }

  /** k-core of an UNDIRECTED edge list: the maximal subgraph where
    * every node keeps degree ≥ k — the classic "dense part" peel
    * (Seidman 1983; community cores, spam-farm pruning, the
    * "remove the long tail before the expensive pass" primitive).
    * Returns the surviving nodes with their WITHIN-CORE degree:
    * (node, degree).
    *
    * Iterative peel with a DRIVER convergence check (the
    * [[Dedup.connectedComponents]] loop shape — the round count is
    * data-dependent, so a fixed unroll would either waste rounds or
    * stop early): each round recomputes degrees over the surviving
    * subgraph (one hash-aggregate), drops nodes under k, and
    * semi-joins the edge list down to survivors (two hash semi-joins
    * keyed on the vertex — the partitioning a cluster already has for
    * edges). The edge frame is localCheckpointed per round: the next
    * round reads it three times (degree pass + two endpoint
    * semi-joins), so an unmaterialized plan would grow 3^rounds.
    * Rounds are bounded by the longest peel cascade (≤ |V|, tiny in
    * practice: each round removes EVERY currently-under-k node at
    * once). All-integer arithmetic — exactly replayable cross-engine,
    * no decimal bridge needed. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 10000): DataFrame =
    kCoreInstrumented(edges, srcCol, dstCol, k, maxRounds)._1

  /** [[kCore]] plus the number of driver peel rounds executed
    * (including the final no-change confirming round) — the
    * measurement behind the twin-unroll-depth gate: a DuckDB twin
    * that unrolls fewer stages than the operator needs would return a
    * NON-fixpoint and fail the hash with no pointer to the cause. */
  private[graft] def kCoreInstrumented(edges: DataFrame, srcCol: String,
      dstCol: String, k: Int, maxRounds: Int = 10000): (DataFrame, Int) = {
    require(k >= 1, "k must be >= 1")
    var e = symmetrize(edges, srcCol, dstCol).lineageCut()
    // ONE count action per round: the previous round's count is
    // already known, so carry it instead of re-counting the old frame
    var prevEdges = e.count()
    var rounds = 0
    var converged = prevEdges == 0L
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"kCore did not converge within $maxRounds rounds — " +
          "non-monotone peel (bug) or raise maxRounds")
      val deg = e.groupBy("__u").agg(count(lit(1)).as("__deg"))
      val survivors = deg.where(col("__deg") >= k).select("__u")
      val pruned = e
        .join(survivors, Seq("__u"), "left_semi")
        .join(survivors.select(col("__u").as("__v")), Seq("__v"),
          "left_semi")
        .lineageCut()
      // fixpoint when no edge was peeled this round (edge count is
      // monotone non-increasing, so equality IS convergence)
      val prunedEdges = pruned.count()
      converged = prunedEdges == prevEdges
      prevEdges = prunedEdges
      e = pruned
    }
    (e.groupBy(col("__u").as("node")).agg(count(lit(1)).as("degree")),
      rounds)
  }

  /** k-truss of an UNDIRECTED edge list: the maximal subgraph where
    * every EDGE sits in at least k−2 triangles (Cohen 2008) — the
    * cohesion peel one level stronger than [[kCore]] (a k-truss is
    * always inside the (k−1)-core): spam-farm edges and weak bridges
    * die even when their endpoints are individually well-connected.
    * Returns the surviving id-canonical edges with their WITHIN-TRUSS
    * triangle support: (src, dst, support), src < dst.
    *
    * Same driver-convergence-loop shape as [[kCore]]: per round,
    * enumerate triangles by the DEGREE-ORIENTED wedge join
    * ([[orientedTriangles]] — the same (degree, id)-min orientation
    * [[triangleCounts]] uses, so round-1 wedge fan-out on a hub-heavy
    * graph is O(√|E|)-capped, not O(d²) from a low-id hub), explode
    * each triangle onto its three id-canonical edges for the support
    * count, drop edges under k−2, checkpoint, repeat until no edge
    * drops. All-integer — exactly replayable; the twin unrolls the
    * rounds. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, maxRounds: Int = 10000): DataFrame =
    kTrussInstrumented(edges, srcCol, dstCol, k, maxRounds)._1

  /** [[kTruss]] plus the executed round count (incl. the confirming
    * round) — see [[kCoreInstrumented]] for why the gate needs it. */
  private[graft] def kTrussInstrumented(edges: DataFrame, srcCol: String,
      dstCol: String, k: Int, maxRounds: Int = 10000): (DataFrame, Int) = {
    require(k >= 2, "k must be >= 2 (k-2 triangles per edge)")
    var canon = symmetrize(edges, srcCol, dstCol)
      .where(col("__u") < col("__v")).lineageCut()
    var prevEdges = canon.count()
    var result: DataFrame = canon.withColumn("support", lit(0L))
    var rounds = 0
    var converged = prevEdges == 0L
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"kTruss did not converge within $maxRounds rounds — " +
          "non-monotone peel (bug) or raise maxRounds")
      // wedge source is (degree, id)-min; the triangle's three edges
      // re-canonicalize by id for the support key
      val tri = orientedTriangles(canon)
      val sup = tri.select(explode(array(
          struct(least(col("__s"), col("__b")).as("__u"),
            greatest(col("__s"), col("__b")).as("__v")),
          struct(least(col("__s"), col("__c")).as("__u"),
            greatest(col("__s"), col("__c")).as("__v")),
          struct(col("__b").as("__u"), col("__c").as("__v")))).as("__e"))
        .select(col("__e.__u").as("__u"), col("__e.__v").as("__v"))
        .groupBy("__u", "__v").agg(count(lit(1)).as("support"))
      val kept = canon.join(sup, Seq("__u", "__v"), "left")
        .withColumn("support", coalesce(col("support"), lit(0L)))
        .where(col("support") >= (k - 2).toLong)
        .lineageCut()
      val keptEdges = kept.count()
      converged = keptEdges == prevEdges
      prevEdges = keptEdges
      result = kept
      canon = kept.select("__u", "__v").lineageCut()
    }
    (result.select(col("__u").as(srcCol), col("__v").as(dstCol),
      col("support")), rounds)
  }

  /** Full core decomposition: every node's CORENESS (the largest k
    * for which it survives the [[kCore]] peel). Computed by h-index
    * propagation (Lü, Zhou, Zhang, Stanley — "The H-index of a
    * network node", Nature Comms 2016): start at c(v) = deg(v),
    * repeat c(v) ← H({c(u) : u ~ v}) until fixpoint; the limit is
    * exactly the core number. Converges in far fewer rounds than
    * k-by-k peeling (one pass per "coreness wave", not one per k per
    * cascade step), and each round is the Pregel join+agg shape: join
    * neighbor values, aggregate the h-index per node.
    *
    * The per-node h-index is computed from `sort_array(collect_list)`
    * of neighbor values — bounded by the node's DEGREE. On a 100 TB
    * graph a hub's list is its adjacency, the same row a plain
    * adjacency-list layout stores; cap degrees upstream if hubs
    * exceed executor memory (same guidance as Sessionize skew).
    * All-integer — exactly replayable. Returns (node, coreness). */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    corenessInstrumented(edges, srcCol, dstCol)._1

  /** [[coreness]] plus the executed h-index round count (incl. the
    * confirming round) — see [[kCoreInstrumented]]. */
  private[graft] def corenessInstrumented(edges: DataFrame,
      srcCol: String, dstCol: String): (DataFrame, Int) = {
    val e = symmetrize(edges, srcCol, dstCol).lineageCut()
    // h-index of a descending-sorted int array: largest i (1-based)
    // with arr[i-1] >= i
    val hIndex = (arr: Column) => aggregate(
      zip_with(sort_array(arr, asc = false),
        sequence(lit(1), size(arr)),
        (v, i) => when(v >= i, i).otherwise(lit(0))),
      lit(0), (acc, x) => greatest(acc, x))
    var c = e.groupBy("__u").agg(count(lit(1)).cast("int").as("__c"))
      .lineageCut()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val next = e
        .join(c.select(col("__u").as("__v"), col("__c").as("__cv")),
          Seq("__v"))
        .groupBy("__u")
        .agg(hIndex(collect_list(col("__cv"))).as("__c"))
        .lineageCut()
      // values only ever DECREASE (h-index of neighbors ≤ degree, and
      // the map is monotone), so fixpoint == no row changed
      converged = next.join(c.withColumnRenamed("__c", "__prev"),
        Seq("__u")).where(col("__c") =!= col("__prev")).isEmpty
      c = next
    }
    (c.select(col("__u").as("node"),
      col("__c").cast("long").as("coreness")), rounds)
  }

  /** Link-prediction features over an UNDIRECTED edge list: for every
    * NON-adjacent pair with ≥ 1 common neighbor, the three classic
    * scores (Liben-Nowell & Kleinberg 2003) — common-neighbor count,
    * neighborhood Jaccard, Adamic-Adar (Σ_z 1/ln deg z; a middle
    * needs degree ≥ 2, so ln never hits 0). The "which edge forms
    * next" ranking behind related-item suggestion and graph cleanup.
    * Returns (src, dst, n_common, jaccard, adamic_adar), src < dst,
    * Adamic-Adar as per-middle decimal(18,9)-quantized terms summed
    * exactly (order-free, engine-replayable; scale 9 so the exact
    * decimal sum already carries the output scale — see the in-code
    * comment at the aggregation).
    *
    * Scale shape: one wedge join keyed on the middle vertex plus two
    * degree joins and an anti-join against the edge set — ids only.
    * A middle of degree d fans out O(d²) candidate rows, so middles
    * with degree > `maxMiddleDegree` are EXCLUDED (the standard
    * hub-cap: a hub's Adamic-Adar weight 1/ln d is near-noise, and
    * "both follow a celebrity" predicts nothing). n_common/jaccard
    * then count common neighbors THROUGH allowed middles — document
    * the cap when reporting. */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
      maxMiddleDegree: Long = 10000L): DataFrame = {
    require(maxMiddleDegree >= 2L, "maxMiddleDegree must be >= 2")
    val sym = symmetrize(edges, srcCol, dstCol)
    val deg = sym.groupBy("__u").agg(count(lit(1)).as("__deg"))
    val mid = deg
      .where(col("__deg") >= 2L && col("__deg") <= maxMiddleDegree)
      .select(col("__u").as("__z"), col("__deg").as("__dz"))
    val half = sym.select(col("__u").as("__z"), col("__v").as("__a"))
      .join(mid, Seq("__z"))
    val wedges = half
      .join(sym.select(col("__u").as("__z"), col("__v").as("__b")),
        Seq("__z"))
      .where(col("__a") < col("__b"))
    // terms quantize at scale 9 so the exact decimal SUM already has
    // the output scale — re-rounding a double sum at 9 dp was a
    // half-ulp coin flip between engines (observed at the gate)
    val scored = wedges.groupBy("__a", "__b")
      .agg(count(lit(1)).as("n_common"),
        sum((lit(1.0) / log(col("__dz").cast("double")))
          .cast("decimal(18,9)")).as("__aa"))
    val canon = sym.where(col("__u") < col("__v"))
    scored
      .join(canon.select(col("__u").as("__a"), col("__v").as("__b")),
        Seq("__a", "__b"), "left_anti")
      .join(deg.select(col("__u").as("__a"), col("__deg").as("__da")),
        Seq("__a"))
      .join(deg.select(col("__u").as("__b"), col("__deg").as("__db")),
        Seq("__b"))
      .select(col("__a").as(srcCol), col("__b").as(dstCol),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("__da") + col("__db") - col("n_common")).cast("double"))
          .as("jaccard"),
        col("__aa").cast("double").as("adamic_adar"))
  }

  /** Weighted [[symmetrize]]: both directions carry the edge's weight;
    * parallel edges collapse by exact-decimal weight SUM (a multigraph
    * pools its parallel weights); null/non-positive weights drop with
    * the edge (a zero-weight edge contributes nothing and a negative
    * one has no PageRank meaning). */
  private def symmetrizeWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String): DataFrame = {
    val e = positiveEdges(edges, srcCol, dstCol, wCol)
    e.unionByName(e.select(col("__v").as("__u"), col("__u").as("__v"),
        col("__w")))
      .groupBy("__u", "__v").agg(sum("__w").as("__w"))
  }

  /** Newman modularity, per community (Newman & Girvan 2004): for an
    * undirected graph (self-loops dropped, parallel edges collapsed;
    * m = |E|) and a node→community assignment,
    * q_term(c) = e_c/m − (d_c/2m)², so Q = Σ_c q_term(c) — the
    * partition-quality read run after [[labelPropagation]] (or any
    * clustering) to decide whether the communities are better than a
    * random degree-preserving rewiring (Q ≈ 0) before acting on them.
    *
    * Per-community EXACT longs (n_nodes, e_in = e_c, deg_sum = d_c,
    * m) plus one double `q_term` computed per row from those longs by
    * a fixed parenthesized expression — no distributed float sum
    * anywhere, so every row is bit-stable across engines; callers sum
    * q_term driver-side (communities-sized) if they want scalar Q.
    * Without edges (m = 0) Q is undefined: every community still gets
    * its row, with m = 0 and a null q_term.
    *
    * This is [[modularityWeighted]] over the simple unit-weight graph
    * ([[simpleEdges]]): there sum(w) = |E|, k_i = degree and w_in =
    * e_c, all exact longs, so the rows are the unweighted ones.
    *
    * Scale shape: canonicalize+distinct the edge list, two keyed
    * joins of edges onto the labels (co-partitioned by node — labels
    * are node-sized, NOT broadcast), degree as a sum over the
    * endpoint union, everything aggregated to communities-sized
    * frames; m rides a broadcast one-row crossJoin. Nodes appearing
    * in `labels` but not in any edge count into n_nodes with degree
    * 0; every edge endpoint must be labeled (inner joins — an
    * unlabeled endpoint's edges silently vanish, so callers pass the
    * same node universe they clustered). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame =
    modularityOf(simpleEdges(edges, srcCol, dstCol), labels, nodeCol,
      labelCol, "e_in")

  /** WEIGHTED per-community modularity — [[modularity]] generalized
    * to the weighted-with-self-loops graphs [[coarsenByLabels]]
    * produces (and any caller-weighted edge list with exact LONG
    * weights): q_term(c) = w_in(c)/m − (S_c/2m)², where w_in counts
    * internal edge weight (a self-loop counts its full weight), k_i
    * follows the Louvain convention (w per proper-edge endpoint, 2w
    * per self-loop) and S_c = Σ k_i. Null/non-positive weights drop;
    * with no weight left, m = 0 and q_term is null. Same scale shape
    * and exact-longs/one-double contract. */
  def modularityWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String, labels: DataFrame, nodeCol: String,
      labelCol: String): DataFrame =
    modularityOf(weightedEdges(edges, srcCol, dstCol, wCol), labels,
      nodeCol, labelCol, "w_in")

  /** The one modularity body over canonical (__eu, __ev, __w) long
    * edges; `inCol` names the internal-weight column. */
  private def modularityOf(e: DataFrame, labels: DataFrame,
      nodeCol: String, labelCol: String, inCol: String): DataFrame = {
    val lab = labels.select(col(nodeCol).as("__n"),
      col(labelCol).as("label"))
    val mDf = e.agg(coalesce(sum("__w").cast("long"), lit(0L)).as("m"))
    val internal = e
      .join(lab.select(col("__n").as("__eu"), col("label").as("__cu")),
        Seq("__eu"))
      .join(lab.select(col("__n").as("__ev"), col("label").as("__cv")),
        Seq("__ev"))
      .filter(col("__cu") === col("__cv"))
      .groupBy(col("__cu").as("label"))
      .agg(sum("__w").cast("long").as(inCol))
    val byC = lab.join(strengths(e, "__d"), Seq("__n"), "left")
      .na.fill(0L, Seq("__d"))
      .groupBy("label")
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        sum("__d").cast("long").as("deg_sum"))
    byC.join(internal, Seq("label"), "left")
      .na.fill(0L, Seq(inCol))
      .crossJoin(broadcast(mDf))
      .withColumn("q_term", when(col("m") > 0L,
        col(inCol).cast("double") / col("m").cast("double")
          - (col("deg_sum").cast("double")
              / (lit(2.0d) * col("m").cast("double")))
            * (col("deg_sum").cast("double")
              / (lit(2.0d) * col("m").cast("double")))))
      .select("label", "n_nodes", inCol, "deg_sum", "m", "q_term")
  }

  /** ONE synchronous Louvain move round (the phase-1 local-move step
    * of Blondel et al. 2008 §2, made deterministic): every labeled
    * node simultaneously evaluates moving into each NEIGHBOR
    * community and takes the modularity-gain argmax — gain ties break
    * to the smallest label, and a node moves only if its best gain is
    * strictly positive. Classic sequential Louvain moves nodes one at
    * a time in visit order (irreproducible under parallelism); the
    * synchronous round is the standard distributed variant (one round
    * of Prat-Pérez et al.-style parallel moves): deterministic,
    * engine-replayable, and callers iterate rounds to convergence
    * ([[louvain]]), accepting that simultaneous moves can
    * overshoot (label-swap oscillation on symmetric structures —
    * same caveat as synchronous LPA, [[labelPropagation]]).
    *
    * Gain of moving i from its community A into C (unweighted simple
    * graph, m = |E|, k_i = degree, k_{i,C} = edges from i into C,
    * Σ_C = degree mass of C):
    *   ΔQ = (k_{i,C} − k_{i,A})/m − k_i·(Σ_C − (Σ_A − k_i))/(2m²)
    * — exact longs everywhere except the single fixed-shape double
    * expression per candidate row (the [[modularity]] q_term
    * convention), so selection replays bit-identically cross-engine.
    * This is [[louvainMoveRoundWeighted]] over the simple unit-weight
    * graph ([[simpleEdges]]), where every weighted sum is that count.
    *
    * Returns one row per `labels` row: (node, old_label, new_label,
    * gain) — gain 0.0 and new_label = old_label for stayers (isolated
    * nodes included). Same labeling contract as [[modularity]]:
    * unlabeled edge endpoints vanish (inner joins), so pass the node
    * universe you clustered.
    *
    * Scale shape: canonical distinct edge set, neighbor-community
    * sums via one edges⋈labels join + grouped sum (map-side
    * partials), community degree masses joined co-partitioned on
    * label (communities can be node-sized — never broadcast), argmax
    * via `min_by` over (−gain, label) — no window; m rides a
    * broadcast one-row crossJoin. */
  def louvainMoveRound(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame =
    moveRound(simpleEdges(edges, srcCol, dstCol), labels, nodeCol,
      labelCol)

  /** [[louvainMoveRound]] over a WEIGHTED canonical edge list with
    * LONG count weights and self-loops — the form [[coarsenByLabels]]
    * produces, which is what makes multi-level Louvain possible: after
    * coarsening, "edges" are inter-community edge COUNTS and
    * self-loops are internal counts, so every quantity here stays an
    * exact long and the gain is still one fixed-shape double per
    * candidate (cross-engine bit-stable through every level).
    *
    * Conventions (the original Louvain/igraph ones): an edge {u,v},
    * u≠v, of weight w adds w to m, to k_u and to k_v; a self-loop
    * {u,u} of weight w adds w to m and 2w to k_u. A node's self-loop
    * travels with it on a move, so it cancels out of the gain
    * comparison and is EXCLUDED from k_{i,C}; it still counts in k_i
    * and Σ_C. Input rows are canonicalized (least, greatest) and
    * summed, so callers may pass either orientation. */
  def louvainMoveRoundWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String, labels: DataFrame, nodeCol: String,
      labelCol: String): DataFrame =
    moveRound(weightedEdges(edges, srcCol, dstCol, wCol), labels,
      nodeCol, labelCol)

  /** The one Louvain move-round body over canonical (__eu, __ev, __w)
    * long edges (conventions at [[louvainMoveRoundWeighted]]). */
  private def moveRound(e: DataFrame, labels: DataFrame, nodeCol: String,
      labelCol: String): DataFrame = {
    val lab = labels.select(col(nodeCol).as("__n"),
      col(labelCol).as("__lbl"))
    val mDf = e.agg(sum("__w").cast("long").as("__m"))
    val deg = strengths(e, "__ki")
    val tot = lab.join(deg, Seq("__n"), "left").na.fill(0L, Seq("__ki"))
      .groupBy("__lbl").agg(sum("__ki").cast("long").as("__tot"))
    // weighted neighbor-community mass, self-loops excluded
    val proper = e.where(col("__eu") =!= col("__ev"))
    val sym = proper.select(col("__eu"), col("__ev"), col("__w"))
      .unionByName(proper.select(col("__ev").as("__eu"),
        col("__eu").as("__ev"), col("__w")))
    val nbrC = sym
      .join(lab.select(col("__n").as("__ev"), col("__lbl").as("__c")),
        Seq("__ev"))
      .groupBy(col("__eu").as("__n"), col("__c"))
      .agg(sum("__w").cast("long").as("__kic"))
    val base = lab
      .join(deg, Seq("__n"), "left").na.fill(0L, Seq("__ki"))
      .join(tot.select(col("__lbl"), col("__tot").as("__totA")),
        Seq("__lbl"))
      .join(nbrC.select(col("__n"), col("__c").as("__lbl"),
        col("__kic").as("__kia")), Seq("__n", "__lbl"), "left")
      .na.fill(0L, Seq("__kia"))
    val cand = nbrC.join(base, Seq("__n"))
      .where(col("__c") =!= col("__lbl"))
      .join(tot.select(col("__lbl").as("__c"),
        col("__tot").as("__totC")), Seq("__c"))
      .crossJoin(broadcast(mDf))
      .withColumn("__gain",
        (col("__kic") - col("__kia")).cast("double")
            / col("__m").cast("double")
          - (col("__ki").cast("double")
              / (lit(2.0d) * col("__m").cast("double")))
            * ((col("__totC") - col("__totA") + col("__ki"))
                .cast("double") / col("__m").cast("double")))
    val best = cand.groupBy("__n")
      .agg(min_by(struct(col("__c"), col("__gain")),
        struct((lit(0.0d) - col("__gain")).as("ng"), col("__c")))
        .as("__b"))
      .select(col("__n"), col("__b.__c").as("__bc"),
        col("__b.__gain").as("__bg"))
    lab.join(best, Seq("__n"), "left")
      .select(col("__n").as("node"), col("__lbl").as("old_label"),
        when(col("__bg") > 0.0d, col("__bc")).otherwise(col("__lbl"))
          .as("new_label"),
        when(col("__bg") > 0.0d, col("__bg")).otherwise(lit(0.0d))
          .as("gain"))
  }

  /** Louvain phase-2 coarsening: contract each community to one node;
    * inter-community weights sum, internal weights (including existing
    * self-loops) become the community's self-loop. One edges⋈labels
    * join per endpoint (co-partitioned — labels are node-sized) + one
    * grouped sum; weights stay exact longs. Modularity is INVARIANT
    * under this contraction (spec-asserted via the identity-labels
    * weighted sums), which is what lets the next level's moves keep
    * optimizing the same Q. */
  def coarsenByLabels(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, labels: DataFrame, nodeCol: String,
      labelCol: String): DataFrame = {
    val lab = labels.select(col(nodeCol).as("__n"),
      col(labelCol).as("__lbl"))
    edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"),
        col(wCol).cast("long").as("__w"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__w").isNotNull && col("__w") > 0L)
      .join(lab.select(col("__n").as("__a"), col("__lbl").as("__ca")),
        Seq("__a"))
      .join(lab.select(col("__n").as("__b"), col("__lbl").as("__cb")),
        Seq("__b"))
      .select(least(col("__ca"), col("__cb")).as("u"),
        greatest(col("__ca"), col("__cb")).as("v"), col("__w"))
      .groupBy("u", "v").agg(sum("__w").cast("long").as("w"))
  }

  /** Full multi-level Louvain (Blondel et al. 2008): per level,
    * `roundsPerLevel` synchronous weighted move rounds
    * ([[louvainMoveRoundWeighted]]) then community contraction
    * ([[coarsenByLabels]]); the node→community map composes across
    * levels by one keyed join per level. Deterministic end to end
    * (every tie broken to the smallest label), exact-long weights at
    * every level, per-step lineage cuts. Returns (node, community)
    * over the BASE graph's nodes. */
  def louvain(edges: DataFrame, srcCol: String, dstCol: String,
      levels: Int = 2, roundsPerLevel: Int = 2): DataFrame = {
    require(levels >= 1 && roundsPerLevel >= 1,
      "at least one level and one round")
    var g = simpleEdges(edges, srcCol, dstCol)
      .select(col("__eu").as("u"), col("__ev").as("v"), col("__w").as("w"))
      .lineageCut()
    var assign = g.select(col("u").as("node")).unionByName(
        g.select(col("v").as("node"))).distinct()
      .select(col("node"), col("node").as("community"))
    for (_ <- 1 to levels) {
      var labels = g.select(col("u").as("node")).unionByName(
          g.select(col("v").as("node"))).distinct()
        .select(col("node"), col("node").as("label"))
      for (_ <- 1 to roundsPerLevel) {
        labels = louvainMoveRoundWeighted(g, "u", "v", "w", labels,
          "node", "label")
          .select(col("node"), col("new_label").as("label"))
          .lineageCut()
      }
      assign = assign
        .join(labels.select(col("node").as("community"),
          col("label").as("__new")), Seq("community"))
        .select(col("node"), col("__new").as("community"))
        .lineageCut()
      g = coarsenByLabels(g, "u", "v", "w", labels, "node", "label")
        .lineageCut()
    }
    assign
  }

  /** Canonical weighted undirected edges (__eu ≤ __ev, long __w):
    * null endpoints and null/non-positive weights drop, self-loops
    * stay, parallel edges of either orientation sum their weights. */
  private def weightedEdges(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String): DataFrame =
    edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"),
        col(wCol).cast("long").as("__w"))
      .where(col("__a").isNotNull && col("__b").isNotNull &&
        col("__w").isNotNull && col("__w") > 0L)
      .select(least(col("__a"), col("__b")).as("__eu"),
        greatest(col("__a"), col("__b")).as("__ev"), col("__w"))
      .groupBy("__eu", "__ev").agg(sum("__w").cast("long").as("__w"))

  /** The simple graph of an edge list as canonical unit-weight edges
    * (__eu < __ev, __w = 1L): null endpoints and self-loops drop,
    * parallel edges of either orientation collapse to one. Already in
    * [[weightedEdges]]' form, so it feeds the weighted bodies as is. */
  private def simpleEdges(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .where(properEdge("__a", "__b"))
      .select(least(col("__a"), col("__b")).as("__eu"),
        greatest(col("__a"), col("__b")).as("__ev"))
      .distinct()
      .withColumn("__w", lit(1L))

  /** Louvain k_i per node `__n`, as the long column `name`: w to each
    * endpoint of a proper (__eu, __ev, __w) edge, 2w for a self-loop. */
  private def strengths(e: DataFrame, name: String): DataFrame =
    e.select(col("__eu").as("__n"),
        when(col("__eu") === col("__ev"), col("__w") * 2L)
          .otherwise(col("__w")).as("__kw"))
      .unionByName(e.where(col("__eu") =!= col("__ev"))
        .select(col("__ev").as("__n"), col("__w").as("__kw")))
      .groupBy("__n").agg(sum("__kw").cast("long").as(name))

  /** Both directions of each edge, self-loops dropped, null endpoints
    * dropped, parallel edges collapsed. */
  private def symmetrize(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = properPairs(edges, srcCol, dstCol)
    e.unionByName(e.select(col("__v").as("__u"), col("__u").as("__v")))
      .distinct()
  }

  /** (__u, __v) per input edge, null endpoints and self-loops dropped
    * (parallel edges kept). */
  private def properPairs(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
      .where(properEdge("__u", "__v"))

  /** (__u, __v, __w) per input edge with the weight cast
    * decimal(27,12): null endpoints, self-loops and null/non-positive
    * weights drop. */
  private def positiveEdges(edges: DataFrame, srcCol: String,
      dstCol: String, wCol: String): DataFrame =
    edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"),
        col(wCol).cast("decimal(27,12)").as("__w"))
      .where(properEdge("__u", "__v") && col("__w").isNotNull &&
        col("__w") > 0)

  /** Both endpoints present and distinct — the edge filter every
    * graph operator applies. */
  private def properEdge(u: String, v: String): Column =
    col(u).isNotNull && col(v).isNotNull && col(u) =!= col(v)
}
