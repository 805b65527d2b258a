package graft.operators

import graft.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-NN graph construction and mutual-kNN (reciprocal nearest
  * neighbor) filtering over an embedding column — the relationship
  * layer on top of [[Similarity]]'s point lookups: retrieval
  * re-ranking (reciprocal top-k is the classic re-rank signal,
  * Qin et al. 2011 "Hello neighbor"), and a higher-precision
  * candidate filter for embedding dedup (a mutual edge is a far
  * stronger near-dup signal than a one-directional one: hubs in
  * high-dim spaces appear in MANY nodes' top-k lists without those
  * nodes appearing in theirs — Radovanović et al. 2010 on hubness).
  *
  * Scale design (100 TB): the graph is built INSIDE candidate cells
  * (caller-fit or reused IVF centroids — the offline-fit / online-
  * build split of [[Dedup.semanticDedupPairsWithCentroids]]), never
  * all-pairs: cell assignment is one codegen'd kernel map, candidate
  * generation shuffles only (id, cell), vectors re-join by id exactly
  * twice, and each DISTINCT unordered pair is scored ONCE — both
  * directed ranks are derived from the same scored pair row, so the
  * score kernel cost never doubles. Per-node ranking is a
  * (src)-partitioned window whose input is already cell-bounded
  * (≤ maxCellSize neighbors per node by construction), and Spark's
  * WindowGroupLimit pushes the rank-≤-k cut below the shuffle. The
  * mutual join meets on slim (src, dst) edges — ≤ n·k rows a side.
  *
  * In-cell recall caveat (shared with SemDeDup): a true neighbor
  * assigned to a different cell is missed; identical/near-identical
  * vectors co-locate by construction. Raise recall by probing more
  * cells upstream (IVF nProbe) or accepting the one-cell contract.
  */
object KnnGraph {

  /** Directed in-cell k-NN edges: for every node, its up-to-k nearest
    * in-cell neighbors under `metric`. Ties break (score, dst ASC) so
    * the edge set is partitioning-independent. Returns
    * (src, dst, score, rank) with 1-based rank ≤ k.
    *
    * Hot cells larger than `maxCellSize` are dropped whole (the
    * [[Dedup]] candidate-join contract: a degenerate cell —
    * boilerplate embeddings, a collapsed space — would otherwise
    * explode quadratically at corpus scale; its members get no
    * edges, which the caller reads as "no reliable neighbors"). */
  def knnEdgesWithCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], k: Int,
      metric: Metric = Metric.Cosine,
      maxCellSize: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    require(centroids.nonEmpty, "at least one centroid")
    val assigned = IvfIndex.assignCells(
      df.select(col(idCol), col(vecCol)), vecCol, centroids)
    val slim = assigned.select(col(idCol), col(IvfIndex.ClusterCol))
    val pairs = Dedup.candidatePairs(slim, idCol,
      Seq(IvfIndex.ClusterCol), maxCellSize)
    val base = df.select(col(idCol), col(vecCol).as("__v"))
    val scored = Dedup.attachPayload(pairs, base, idCol, "__v")
      .select(col("idA"), col("idB"),
        metric.score(col("__vA"), col("__vB")).as("score"))
    // both directions from the SAME scored row: the kernel runs once
    // per distinct pair, the union is a zero-cost plan duplication of
    // the slim (id, id, score) frame
    val directed = scored.select(col("idA").as("src"),
        col("idB").as("dst"), col("score"))
      .unionByName(scored.select(col("idB").as("src"),
        col("idA").as("dst"), col("score")))
    val ord =
      if (metric.ascending) Seq(col("score").asc, col("dst").asc)
      else Seq(col("score").desc, col("dst").asc)
    val w = Window.partitionBy(col("src")).orderBy(ord: _*)
    directed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Mutual (reciprocal) k-NN edges: unordered pairs where BOTH
    * directed ranks are ≤ k. Returns (idA, idB, score), idA < idB —
    * the hubness-robust edge set for graph dedup / re-ranking.
    * The mutual meet is an inner self-join of the ≤ n·k directed
    * edge frame on swapped endpoints; keeping idA < idB halves it.
    * Contract: the composed reference `KnnGraphSpec` checks the
    * registry's stored-edge path ([[mutualFromEdges]]) against; no
    * program caller. */
  def mutualKnnWithCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], k: Int,
      metric: Metric = Metric.Cosine,
      maxCellSize: Int = 10000): DataFrame =
    mutualFromEdges(knnEdgesWithCentroids(df, idCol, vecCol, centroids,
      k, metric, maxCellSize))

  /** The mutual meet over a PRECOMPUTED directed edge frame
    * (src, dst, score) — the stored-graph entry point: a pipeline
    * persists its kNN edges once ([[knnEdgesWithCentroids]] output)
    * and derives the reciprocal pair set from the stored table. */
  def mutualFromEdges(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("src"), col("dst"), col("score"))
    val rev = edges.select(col("src").as("dst"), col("dst").as("src"))
    fwd.join(rev, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("idA"), col("dst").as("idB"), col("score"))
  }

  /** Batched BEAM SEARCH over a precomputed neighbor graph — the
    * graph-traversal ANN family (NSW/HNSW, Malkov & Yashunin 2016;
    * DiskANN, Jayaram Subramanya et al. 2019) expressed in Spark's
    * bulk-synchronous model: instead of one sequential priority queue
    * per query, EVERY query advances one hop per superstep, and each
    * superstep is three bounded joins. Complements the cell-probe
    * family ([[IvfIndex]] and its code variants): a graph search
    * reaches across cell boundaries by construction — the recall
    * failure mode of one-cell probing — at the price of `hops`
    * sequential rounds.
    *
    * Semantics (deterministic, the batched variant — NOT the
    * sequential best-first queue, which is order-dependent):
    *   - hop 0: every query scores the shared `seeds` entry points.
    *   - hop h: the up-to-`beam` best nodes FIRST DISCOVERED at hop
    *     h−1 (ties: id ASC) expand along `edges`; neighbors already
    *     scored for that query are dropped (each (query, node) pair
    *     is scored exactly ONCE); survivors are scored.
    *   - result: top-`k` of everything visited, rank 1-based,
    *     ties id ASC.
    * Recall rises monotonically in `beam`, `hops`, and seed count
    * (the visited set only grows); `hops=0` degenerates to scoring
    * the seeds.
    *
    * Scale design (100 TB corpus, large query batch): per superstep,
    * (a) frontier⋈edges is a slim (qid, node) join co-partitioned on
    * the graph's src key — frontier is ≤ queries×beam rows; (b) the
    * visited anti-join bounds re-scoring, with visited ≤
    * queries×(seeds + hops×beam×maxDegree) rows of three columns —
    * bounded state, the graph analog of a watermark; (c) vectors
    * join back by node id ONCE per newly discovered node, so the
    * score-kernel volume equals the number of distinct visits, never
    * corpus×queries. Per-query windows run over frontier-expansion
    * slices (≤ beam×maxDegree rows per qid) — WindowGroupLimit cuts
    * them below the shuffle; no global window, no corpus broadcast.
    * Seeds ride a guarded driver-side collect (≤ `maxSeeds`, the
    * [[Coreset]] center-list contract) into one literal-array
    * explode — zero shuffle, no cross join. Per-hop lineage cuts via
    * [[Checkpoints.cut]] (the Pregel convention of [[Graph]]).
    *
    * @param edges directed adjacency (srcCol, dstCol) — e.g.
    *              [[knnEdgesWithCentroids]] output; scores on the
    *              edges are NOT used (the query re-scores nodes).
    * @param seeds single-column frame of entry-point ids, shared by
    *              all queries. Driver-small by contract (≤ maxSeeds).
    * @return (qid, id, score, rank) with rank ≤ k per qid. */
  def graphSearch(base: DataFrame, idCol: String, vecCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      seeds: DataFrame, beam: Int, hops: Int, k: Int,
      metric: Metric = Metric.Cosine, maxSeeds: Int = 64): DataFrame = {
    require(beam > 0, "beam must be positive")
    require(hops >= 0, "hops must be >= 0")
    require(k > 0, "k must be positive")
    val bv = base.select(col(idCol).as("__nid"), col(vecCol).as("__nv"))
    val q = queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qv"))
    val adj = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct()

    val seedRows = seeds.select(col(seeds.columns.head).as("__nid"))
      .distinct().limit(maxSeeds + 1).collect()
    require(seedRows.nonEmpty, "at least one seed entry point")
    require(seedRows.length <= maxSeeds,
      s"seed frame exceeds maxSeeds=$maxSeeds — entry points are a " +
        "driver-small list by contract (raise maxSeeds deliberately)")
    val seedArr = array(seedRows.map(r => lit(r.get(0))): _*)

    val ord =
      if (metric.ascending) Seq(col("__s").asc, col("__nid").asc)
      else Seq(col("__s").desc, col("__nid").asc)
    // (qid, nid) -> (qid, nid, score): vectors join back by id once
    // per distinct visit
    def score(cand: DataFrame): DataFrame =
      cand.join(bv, "__nid").join(q, "__qid")
        .select(col("__qid"), col("__nid"),
          metric.score(col("__qv"), col("__nv")).as("__s"))
    def topPerQ(scored: DataFrame, n: Int): DataFrame = {
      val w = Window.partitionBy(col("__qid")).orderBy(ord: _*)
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n)
    }

    // visited = union of per-hop CUT slices, never re-cut as a whole:
    // each hop's fresh scores are materialized exactly once, and the
    // union of already-cut frames has depth-1 lineage (h+1 leaves), so
    // re-materializing the full visited set every hop — O(hops²)
    // block writes, the r17 optimization finding: it doubled the cut
    // count and re-copied every prior hop's rows each superstep — buys
    // nothing. Plan width grows linearly in `hops`; NSW/DiskANN-style
    // searches run a small constant hop budget by design (a very deep
    // walk would fold the slices periodically).
    val hop0 = Checkpoints.cut(score(
      q.select(col("__qid"), explode(seedArr).as("__nid"))))
    var visitedParts = Vector(hop0)
    def visited: DataFrame = visitedParts.reduce(_.unionByName(_))
    var frontier = topPerQ(hop0, beam).select("__qid", "__nid")
    var h = 0
    while (h < hops) {
      val cand = frontier
        .join(adj, frontier("__nid") === adj("__src"))
        .select(col("__qid"), col("__dst").as("__nid")).distinct()
        .join(visited.select("__qid", "__nid"),
          Seq("__qid", "__nid"), "left_anti")
      val fresh = Checkpoints.cut(score(cand))
      visitedParts = visitedParts :+ fresh
      frontier = topPerQ(fresh, beam).select("__qid", "__nid")
      h += 1
    }
    topPerQ(visited, k).select(col("__qid").as("qid"),
      col("__nid").as("id"), col("__s").as("score"),
      col("__rn").as("rank"))
  }
}
