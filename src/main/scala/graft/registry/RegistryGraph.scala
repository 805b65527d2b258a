package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Graph slice of the [[SparkEntry]] registry — token co-occurrence / event graphs: PageRank, Louvain, k-core/k-truss, components, link prediction.
  *
  * Split from the single 9.5k-line SparkEntry.scala (r16 verdict item
  * 6); every entry is VERBATIM from that file, and the shared frame /
  * SQL-snippet helpers stay on [[SparkEntry]] (imported wholesale
  * below) so registration text and oracle twins cannot drift during
  * the move. Composition happens in [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSqlRaw]]. */
private[graft] object RegistryGraph {
  import SparkEntry._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // item co-visitation over props.k: "users who touched A also
    // touched B", recency-capped baskets, lift like coocLift —
    // the related-items signal
    "covisitation" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").cast("long").as("item"))
      graft.operators.Funnel.covisitation(ev, "user_id", "item", "ts",
        maxPerUser = 30, minSupport = 5L)
        .withColumn("lift",
          col("lift").cast("decimal(18,9)").cast("double"))
        .orderBy("item_a", "item_b")
    }),
    // TextRank: 3 fixed PageRank iterations over the same top-40
    // co-occurrence edges (keyword centrality; iterative join-agg
    // rounds, decimal-quantized contributions)
    "token_pagerank" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      graft.operators.Graph.pageRank(pairs, "tok_a", "tok_b", iters = 3)
        .orderBy("node")
    }),
    // TRUE TextRank (Mihalcea & Tarau rank a WEIGHTED co-occurrence
    // graph): same 3 PageRank rounds over the same edges, per-edge
    // contribution pr·w/Σw_out with w = the exact co-occurrence count
    // n_ab — integer weights keep the decimal chain engine-exact
    "token_pagerank_weighted" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b", "n_ab")
      graft.operators.Graph.pageRank(pairs, "tok_a", "tok_b", iters = 3,
        weightCol = Some("n_ab"))
        .orderBy("node")
    }),
    // DIRECTED PageRank with dangling-mass redistribution over the
    // cooc DAG (tok_a → tok_b, lexicographic): the max token never
    // appears as a source, so real sink nodes exercise the dangling
    // term — one broadcast exact-decimal scalar per round
    "pagerank_directed" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      graft.operators.Graph.pageRankDirected(pairs, "tok_a", "tok_b",
        iters = 3)
        .orderBy("node")
    }),
    // personalized PageRank: teleport to the 4 lexicographically
    // smallest tokens — "rank every token by relevance to this seed
    // set"; dangling mass teleports per the personalization vector.
    // 4 seeds, not 3: p = 0.25 is exactly representable, and the
    // resulting value stream was verified free of doubles that sit ON
    // a decimal(18,12) rounding boundary — the double→decimal cast is
    // the one op where engines can legitimately disagree (Spark
    // quantizes the shortest string repr, DuckDB the exact binary
    // value; 1/3-seeded runs hit one such boundary at iteration 1,
    // found by simulating both casts over the real graph)
    "token_ppr" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      val seeds = pairs.select(col("tok_a").as("seed"))
        .unionByName(pairs.select(col("tok_b").as("seed")))
        .distinct().orderBy("seed").limit(4)
      graft.operators.Graph.personalizedPageRank(pairs, "tok_a",
        "tok_b", seeds, "seed", iters = 3)
        .orderBy("node")
    }),
    // per-node triangle counts (degree-ordered orientation — each
    // triangle enumerated exactly once from its rank-min vertex, hot
    // nodes capped at O(√E) wedge fan-out) over the cooc graph
    "token_triangles" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      graft.operators.Graph.triangleCounts(pairs, "tok_a", "tok_b")
        .orderBy("node")
    }),
    // multi-source BFS hop distances (4 rounds of join + min-agg)
    // from the lexicographically smallest token — exact integers
    "token_bfs" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      graft.operators.Graph.bfsHops(pairs, "tok_a", "tok_b",
        pairs.agg(min(col("tok_a")).as("seed")), "seed", maxHops = 4)
        .orderBy("node")
    }),
    // k-core of the lift-filtered cooc graph (lift >= 1.05 keeps only
    // above-independence associations — the unfiltered top-40 graph is
    // COMPLETE at gate scale, where every core is trivial). Driver
    // convergence loop; all-integer, so the twin replays the peels
    // unrolled. k=8 peels in 2 rounds at sf0.01 — the twin unrolls 4
    // stages for margin (extra peels are idempotent). If the driver
    // regenerates testdata, re-verify depth <= 4 (handoff note).
    "token_kcore" -> ((s, dir) => {
      val e = SharedFrames.coocPairs(s, dir)
        .where(col("lift") >= 1.05).select("tok_a", "tok_b")
      graft.operators.Graph.kCore(e, "tok_a", "tok_b", k = 8)
        .orderBy("node")
    }),
    // k-truss of the same lift-filtered graph (k=7: every surviving
    // edge sits in >= 5 within-truss triangles — 5 peel rounds at
    // sf0.01, twin unrolls 7); the edge-level cohesion peel
    "token_ktruss" -> ((s, dir) => {
      val e = SharedFrames.coocPairs(s, dir)
        .where(col("lift") >= 1.05).select("tok_a", "tok_b")
      graft.operators.Graph.kTruss(e, "tok_a", "tok_b", k = 7)
        .orderBy("tok_a", "tok_b")
    }),
    // full core decomposition of the same lift-filtered graph via
    // h-index propagation (Lü 2016 — converges to the core number);
    // all-integer, fixpoint in 6 rounds at sf0.01, twin unrolls 8
    "token_coreness" -> ((s, dir) => {
      val e = SharedFrames.coocPairs(s, dir)
        .where(col("lift") >= 1.05).select("tok_a", "tok_b")
      graft.operators.Graph.coreness(e, "tok_a", "tok_b")
        .orderBy("node")
    }),
    // link prediction over the lift-filtered graph: common-neighbor /
    // Jaccard / Adamic-Adar features for every non-adjacent pair with
    // a shared (degree-capped) middle — the "which edge forms next"
    // ranking; AA terms decimal-quantized then summed exactly
    "link_prediction" -> ((s, dir) => {
      val e = SharedFrames.coocPairs(s, dir)
        .where(col("lift") >= 1.05).select("tok_a", "tok_b")
      graft.operators.Graph.linkPrediction(e, "tok_a", "tok_b")
        .withColumn("jaccard",
          col("jaccard").cast("decimal(18,9)").cast("double"))
        .withColumn("adamic_adar",
          col("adamic_adar").cast("decimal(18,9)").cast("double"))
        .orderBy("tok_a", "tok_b")
    }),
    // deterministic label propagation (2 rounds) over the same
    // co-occurrence token graph — community labels, ties to the
    // smallest label
    "label_prop" -> ((s, dir) =>
      // the process-shared assignment artifact (louvain_communities
      // precedent): three queries consume this 2-round propagation
      labelPropShared(s, dir).orderBy("node")),
    // X214 Newman modularity of the label-prop communities over the
    // cooc graph — exact per-community longs (n_nodes, e_in, deg_sum,
    // m) + one per-row double q_term from a fixed expression; the twin
    // replays label propagation AND the modularity sums
    "modularity_by_community" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      val labels = labelPropShared(s, dir)
      graft.operators.Graph.modularity(pairs, "tok_a", "tok_b",
        labels, "node", "label")
        .orderBy("label")
    }),
    // X219 one synchronous Louvain move round over the label-prop
    // assignment on the co-occurrence graph — the deterministic
    // phase-1 local-move step (gain argmax, ties to smallest label,
    // move iff gain > 0); exact longs + one fixed-shape double gain
    // per candidate, so the selection replays bit-identically
    "louvain_move" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      val labels = labelPropShared(s, dir)
      graft.operators.Graph.louvainMoveRound(pairs, "tok_a", "tok_b",
        labels, "node", "label")
        .orderBy("node")
    }),
    // X222 full multi-level Louvain (2 levels × 2 weighted move
    // rounds + community contraction) on the co-occurrence graph —
    // exact-long count weights at every level, so the whole
    // clustering replays in SQL
    "louvain_communities" -> ((s, dir) =>
      louvainLabelsShared(s, dir).orderBy("node")),
    // weighted-modularity score of the louvain assignment — the
    // partition-quality read over the clustering X222 just produced
    // (reads the shared assignment artifact, the persist-then-score
    // pipeline shape)
    "louvain_quality" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      graft.operators.Graph.modularityWeighted(
        pairs.withColumn("w", lit(1L)), "tok_a", "tok_b", "w",
        louvainLabelsShared(s, dir), "node", "community")
        .orderBy("label")
    }),
  )

  def twins: Map[String, String] = Map(
    // co-visitation twin: same last-touch aggregate, same
    // (lt DESC, item) recency cap, pair self-join, coocLift lift
    // arithmetic through the decimal bridge
    "covisitation" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) AS tn,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events WHERE user_id IS NOT NULL),
        |ui AS (SELECT user_id, item, MAX(tn) AS lt FROM ev
        |  WHERE item IS NOT NULL GROUP BY user_id, item),
        |cap AS (SELECT user_id, item FROM (
        |    SELECT user_id, item, ROW_NUMBER() OVER (
        |      PARTITION BY user_id ORDER BY lt DESC, item ASC) AS rn
        |    FROM ui)
        |  WHERE rn <= 30),
        |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
        |  FROM cap),
        |iu AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS u FROM cap
        |  GROUP BY item),
        |p AS (SELECT a.item AS item_a, b.item AS item_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM cap a JOIN cap b ON b.user_id = a.user_id
        |    AND a.item < b.item
        |  GROUP BY a.item, b.item HAVING COUNT(*) >= 5)
        |SELECT item_a, item_b, n_users,
        |  CAST(CAST(CAST((CAST(n_users AS DOUBLE) * CAST(nu.nu AS DOUBLE))
        |    / (CAST(ua.u AS DOUBLE) * CAST(ub.u AS DOUBLE))
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS lift
        |FROM p
        |JOIN iu ua ON ua.item = p.item_a
        |JOIN iu ub ON ub.item = p.item_b, nu
        |ORDER BY item_a, item_b""".stripMargin,
    // TextRank twin: same co-occurrence edges, 3 PageRank iterations
    // unrolled — contributions double-divided then decimal(18,12),
    // exact sums, rank update in the same parenthesized double ops
    // ((1.0 - 0.85) is COMPUTED in both engines, never the 0.15
    // literal — the IEEE subtraction result is not the nearest double
    // to 0.15)
    "token_pagerank" -> {
      def iter(prev: String, out: String): String =
        s"""c$out AS (SELECT s.v AS u,
           |    CAST(p.pr / CAST(d.deg AS DOUBLE) AS DECIMAL(18,12)) AS c
           |  FROM sym s JOIN $prev p ON s.u = p.u
           |  JOIN deg d ON s.u = d.u),
           |$out AS (SELECT u,
           |    (1.0::DOUBLE - 0.85::DOUBLE) /
           |      CAST((SELECT n FROM nn) AS DOUBLE) +
           |      0.85::DOUBLE * CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE)
           |      AS pr
           |  FROM c$out GROUP BY u)""".stripMargin
      s"""WITH $coocPairsCte,
         |sym AS (SELECT tok_a AS u, tok_b AS v FROM pairs
         |        UNION SELECT tok_b, tok_a FROM pairs),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym
         |        GROUP BY u),
         |nn AS (SELECT COUNT(*) AS n FROM deg),
         |pr0 AS (SELECT u,
         |    1.0::DOUBLE / CAST((SELECT n FROM nn) AS DOUBLE) AS pr
         |  FROM deg),
         |${iter("pr0", "pr1")},
         |${iter("pr1", "pr2")},
         |${iter("pr2", "pr3")}
         |SELECT u AS node, pr AS rank FROM pr3 ORDER BY node""".stripMargin
    },
    // weighted-TextRank twin: contributions pr·w/W(u), both w and the
    // out-weight sum W re-entering double math through the
    // decimal→VARCHAR→double bridge (weights are exact integer counts)
    "token_pagerank_weighted" -> {
      def iter(prev: String, out: String): String =
        s"""c$out AS (SELECT s.v AS u,
           |    CAST((p.pr * CAST(CAST(s.w AS VARCHAR) AS DOUBLE)) /
           |      CAST(CAST(d.wout AS VARCHAR) AS DOUBLE)
           |      AS DECIMAL(18,12)) AS c
           |  FROM sym s JOIN $prev p ON s.u = p.u
           |  JOIN wdeg d ON s.u = d.u),
           |$out AS (SELECT u,
           |    (1.0::DOUBLE - 0.85::DOUBLE) /
           |      CAST((SELECT n FROM nn) AS DOUBLE) +
           |      0.85::DOUBLE * CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE)
           |      AS pr
           |  FROM c$out GROUP BY u)""".stripMargin
      s"""WITH $coocPairsCte,
         |syme AS (SELECT tok_a AS u, tok_b AS v,
         |      CAST(n_ab AS DECIMAL(27,12)) AS w FROM pairs
         |    UNION ALL SELECT tok_b, tok_a,
         |      CAST(n_ab AS DECIMAL(27,12)) FROM pairs),
         |sym AS (SELECT u, v, SUM(w) AS w FROM syme GROUP BY u, v),
         |wdeg AS (SELECT u, SUM(w) AS wout FROM sym GROUP BY u),
         |nn AS (SELECT COUNT(*) AS n FROM wdeg),
         |pr0 AS (SELECT u,
         |    1.0::DOUBLE / CAST((SELECT n FROM nn) AS DOUBLE) AS pr
         |  FROM wdeg),
         |${iter("pr0", "pr1")},
         |${iter("pr1", "pr2")},
         |${iter("pr2", "pr3")}
         |SELECT u AS node, pr AS rank FROM pr3 ORDER BY node""".stripMargin
    },
    // directed twin: rank state spans ALL endpoints; each round adds
    // ONE dangling-mass scalar (exact-decimal sum of sink ranks) that
    // every node receives as d·D/N — mass conservation is the spec's
    // half of the check, this twin pins the values
    "pagerank_directed" -> {
      def iter(prev: String, out: String): String =
        s"""c$out AS (SELECT e.v AS u,
           |    CAST(p.pr / CAST(d.deg AS DOUBLE) AS DECIMAL(18,12)) AS c
           |  FROM e JOIN $prev p ON e.u = p.u
           |  JOIN outdeg d ON e.u = d.u),
           |s$out AS (SELECT u, SUM(c) AS s FROM c$out GROUP BY u),
           |d$out AS (SELECT COALESCE(SUM(CAST(p.pr AS DECIMAL(18,12))),
           |    CAST(0 AS DECIMAL(18,12))) AS dmass
           |  FROM $prev p WHERE p.u NOT IN (SELECT u FROM outdeg)),
           |$out AS (SELECT vv.u,
           |    (1.0::DOUBLE - 0.85::DOUBLE) /
           |      CAST((SELECT n FROM nn) AS DOUBLE) +
           |      0.85::DOUBLE *
           |        (CAST(CAST(COALESCE(s.s, CAST(0 AS DECIMAL(18,12)))
           |           AS VARCHAR) AS DOUBLE) +
           |         CAST(CAST((SELECT dmass FROM d$out) AS VARCHAR)
           |           AS DOUBLE) /
           |           CAST((SELECT n FROM nn) AS DOUBLE)) AS pr
           |  FROM verts vv LEFT JOIN s$out s ON vv.u = s.u)""".stripMargin
      s"""WITH $coocPairsCte,
         |e AS (SELECT DISTINCT tok_a AS u, tok_b AS v FROM pairs),
         |verts AS (SELECT u FROM e UNION SELECT v FROM e),
         |outdeg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e
         |  GROUP BY u),
         |nn AS (SELECT COUNT(*) AS n FROM verts),
         |pr0 AS (SELECT u,
         |    1.0::DOUBLE / CAST((SELECT n FROM nn) AS DOUBLE) AS pr
         |  FROM verts),
         |${iter("pr0", "pr1")},
         |${iter("pr1", "pr2")},
         |${iter("pr2", "pr3")}
         |SELECT u AS node, pr AS rank FROM pr3 ORDER BY node""".stripMargin
    },
    // PPR twin: directed rounds with the personalization vector p
    // (1/|S| on seeds, 0 elsewhere); teleport AND dangling mass land
    // on p — pr' = (1−d)·p + d·(Σ + D·p)
    "token_ppr" -> {
      def iter(prev: String, out: String): String =
        s"""c$out AS (SELECT e.v AS u,
           |    CAST(p.pr / CAST(d.deg AS DOUBLE) AS DECIMAL(18,12)) AS c
           |  FROM e JOIN $prev p ON e.u = p.u
           |  JOIN outdeg d ON e.u = d.u),
           |s$out AS (SELECT u, SUM(c) AS s FROM c$out GROUP BY u),
           |d$out AS (SELECT COALESCE(SUM(CAST(p.pr AS DECIMAL(18,12))),
           |    CAST(0 AS DECIMAL(18,12))) AS dmass
           |  FROM $prev p WHERE p.u NOT IN (SELECT u FROM outdeg)),
           |$out AS (SELECT vv.u, vv.p,
           |    (1.0::DOUBLE - 0.85::DOUBLE) * vv.p +
           |      0.85::DOUBLE *
           |        (CAST(CAST(COALESCE(s.s, CAST(0 AS DECIMAL(18,12)))
           |           AS VARCHAR) AS DOUBLE) +
           |         CAST(CAST((SELECT dmass FROM d$out) AS VARCHAR)
           |           AS DOUBLE) * vv.p) AS pr
           |  FROM pv vv LEFT JOIN s$out s ON vv.u = s.u)""".stripMargin
      s"""WITH $coocPairsCte,
         |e AS (SELECT DISTINCT tok_a AS u, tok_b AS v FROM pairs),
         |verts AS (SELECT u FROM e UNION SELECT v FROM e),
         |sds AS (SELECT u FROM verts ORDER BY u LIMIT 4),
         |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sds),
         |pv AS (SELECT v.u,
         |    CASE WHEN v.u IN (SELECT u FROM sds)
         |      THEN 1.0::DOUBLE / CAST((SELECT n FROM ns) AS DOUBLE)
         |      ELSE 0.0::DOUBLE END AS p
         |  FROM verts v),
         |outdeg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e
         |  GROUP BY u),
         |pr0 AS (SELECT u, p, p AS pr FROM pv),
         |${iter("pr0", "pr1")},
         |${iter("pr1", "pr2")},
         |${iter("pr2", "pr3")}
         |SELECT u AS node, pr AS rank FROM pr3 ORDER BY node""".stripMargin
    },
    // triangle twin: plain canonical a<b<c enumeration — the oriented
    // wedge algorithm must find exactly the same triangle set
    "token_triangles" ->
      s"""WITH $coocPairsCte,
         |ed AS (SELECT DISTINCT tok_a AS u, tok_b AS v FROM pairs),
         |sym AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
         |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM ed e1 JOIN ed e2 ON e2.u = e1.v
         |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
         |pern AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
         |  FROM (SELECT a AS node FROM tri
         |        UNION ALL SELECT b FROM tri
         |        UNION ALL SELECT c FROM tri)
         |  GROUP BY node)
         |SELECT d.u AS node,
         |  COALESCE(p.triangles, CAST(0 AS BIGINT)) AS triangles
         |FROM (SELECT DISTINCT u FROM sym) d
         |LEFT JOIN pern p ON d.u = p.node
         |ORDER BY node""".stripMargin,
    // BFS twin: 4 unrolled rounds of frontier join + MIN re-aggregate
    // over the full distance table — mirrors the engine rounds exactly
    "token_bfs" -> {
      def round(prev: String, out: String): String =
        s"""$out AS (SELECT u, MIN(d) AS d FROM (
           |  SELECT u, d FROM $prev
           |  UNION ALL
           |  SELECT s.v AS u, p.d + 1 AS d
           |  FROM sym s JOIN $prev p ON s.u = p.u) GROUP BY u)""".stripMargin
      s"""WITH $coocPairsCte,
         |ed AS (SELECT DISTINCT tok_a AS u, tok_b AS v FROM pairs),
         |sym AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
         |d0 AS (SELECT MIN(tok_a) AS u, CAST(0 AS BIGINT) AS d
         |  FROM pairs),
         |${round("d0", "d1")},
         |${round("d1", "d2")},
         |${round("d2", "d3")},
         |${round("d3", "d4")}
         |SELECT u AS node, CAST(d AS BIGINT) AS hops FROM d4
         |ORDER BY node""".stripMargin
    },
    // k-core twin: lift filter (one double division of exact ints —
    // bit-identical cross-engine, the reason cooc_lift hash-matches),
    // then 4 unrolled peel stages (degree >= 8 survivors, edges
    // endpoint-semi-joined down). The operator converges in 2 peels at
    // sf0.01; extra stages are idempotent, so 4 is depth margin, not a
    // semantic knob. All-integer after the filter — no decimal bridge.
    "token_kcore" -> {
      def peel(prevE: String, i: Int): String =
        s"""v$i AS (SELECT u FROM $prevE GROUP BY u
           |  HAVING COUNT(*) >= 8),
           |e$i AS (SELECT e.u, e.v FROM $prevE e
           |  JOIN v$i a ON e.u = a.u JOIN v$i b ON e.v = b.u)""".stripMargin
      s"""WITH $coocPairsCte,
         |le AS (SELECT tok_a, tok_b FROM pairs
         |  WHERE (CAST(n_ab AS DOUBLE) * CAST((SELECT n FROM n) AS DOUBLE)) /
         |        (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)) >= 1.05),
         |e0 AS (SELECT tok_a AS u, tok_b AS v FROM le
         |       UNION ALL SELECT tok_b, tok_a FROM le),
         |${(1 to tokenKcoreTwinRounds)
            .map(i => peel(s"e${i - 1}", i)).mkString(",\n")}
         |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
         |FROM e$tokenKcoreTwinRounds GROUP BY u ORDER BY node""".stripMargin
    },
    // k-truss twin: 7 unrolled peel rounds (id-ordered wedge close →
    // per-edge triangle support via the 3-edge explode → keep >= k-2);
    // extra rounds past the 5-round fixpoint are idempotent
    "token_ktruss" -> {
      // AS MATERIALIZED: each round references its predecessor four
      // times; DuckDB's default CTE inlining would expand 4^rounds
      // copies of the whole chain (observed as a file-handle blowup
      // on the documents scan)
      def round(prev: String, out: String): String =
        s"""t$out AS MATERIALIZED (
           |  SELECT w.a, w.b, w.c FROM (
           |    SELECT e1.u AS a, e1.v AS b, e2.v AS c
           |    FROM $prev e1 JOIN $prev e2
           |      ON e1.u = e2.u AND e1.v < e2.v) w
           |  JOIN $prev e ON e.u = w.b AND e.v = w.c),
           |s$out AS MATERIALIZED (
           |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support
           |  FROM (SELECT a AS u, b AS v FROM t$out
           |        UNION ALL SELECT a, c FROM t$out
           |        UNION ALL SELECT b, c FROM t$out)
           |  GROUP BY u, v),
           |$out AS MATERIALIZED (SELECT e.u, e.v,
           |    COALESCE(s.support, CAST(0 AS BIGINT)) AS support
           |  FROM $prev e LEFT JOIN s$out s ON s.u = e.u AND s.v = e.v
           |  WHERE COALESCE(s.support, 0) >= 5)""".stripMargin
      s"""WITH $coocPairsCte,
         |le AS (SELECT tok_a, tok_b FROM pairs
         |  WHERE (CAST(n_ab AS DOUBLE) * CAST((SELECT n FROM n) AS DOUBLE)) /
         |        (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)) >= 1.05),
         |e0 AS MATERIALIZED (SELECT tok_a AS u, tok_b AS v FROM le),
         |${(1 to tokenKtrussTwinRounds)
            .map(i => round(s"e${i - 1}", s"e$i")).mkString(",\n")}
         |SELECT u AS tok_a, v AS tok_b, support
         |FROM e$tokenKtrussTwinRounds ORDER BY tok_a, tok_b""".stripMargin
    },
    // coreness twin: 8 unrolled h-index rounds over the same
    // lift-filtered symmetric edges (degree seed; per round each
    // node's value becomes the h-index of its neighbors' values via a
    // rank window — MAX(rn where value >= rn)). The operator reaches
    // fixpoint in 6 rounds at sf0.01; the map is monotone decreasing,
    // so extra unrolled rounds are idempotent. All-integer.
    "token_coreness" -> {
      def round(prev: String, out: String): String =
        s"""$out AS (SELECT u,
           |  MAX(CASE WHEN cv >= rn THEN rn ELSE 0 END) AS c FROM (
           |    SELECT e.u, p.c AS cv, ROW_NUMBER() OVER (
           |      PARTITION BY e.u ORDER BY p.c DESC) AS rn
           |    FROM sym e JOIN $prev p ON e.v = p.u)
           |  GROUP BY u)""".stripMargin
      s"""WITH $coocPairsCte,
         |le AS (SELECT tok_a, tok_b FROM pairs
         |  WHERE (CAST(n_ab AS DOUBLE) * CAST((SELECT n FROM n) AS DOUBLE)) /
         |        (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)) >= 1.05),
         |sym AS (SELECT tok_a AS u, tok_b AS v FROM le
         |        UNION ALL SELECT tok_b, tok_a FROM le),
         |c0 AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS c FROM sym
         |  GROUP BY u),
         |${(1 to tokenCorenessTwinRounds)
            .map(i => round(s"c${i - 1}", s"c$i")).mkString(",\n")}
         |SELECT u AS node, CAST(c AS BIGINT) AS coreness
         |FROM c$tokenCorenessTwinRounds ORDER BY node""".stripMargin
    },
    // link-prediction twin: same lift-filtered symmetric edges,
    // wedge join through degree-capped middles, LEFT-JOIN-IS-NULL
    // non-edge filter, decimal-quantized Adamic-Adar terms
    "link_prediction" ->
      s"""WITH $coocPairsCte,
         |le AS (SELECT tok_a, tok_b FROM pairs
         |  WHERE (CAST(n_ab AS DOUBLE) * CAST((SELECT n FROM n) AS DOUBLE)) /
         |        (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)) >= 1.05),
         |sym AS (SELECT tok_a AS u, tok_b AS v FROM le
         |        UNION ALL SELECT tok_b, tok_a FROM le),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym
         |  GROUP BY u),
         |mid AS (SELECT u AS z, d AS dz FROM deg
         |  WHERE d >= 2 AND d <= 10000),
         |w AS (SELECT s1.v AS a, s2.v AS b, m.dz
         |  FROM sym s1 JOIN mid m ON m.z = s1.u
         |  JOIN sym s2 ON s2.u = s1.u WHERE s1.v < s2.v),
         |sc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
         |    SUM(CAST(1.0 / ln(CAST(dz AS DOUBLE)) AS DECIMAL(18,9)))
         |      AS aa
         |  FROM w GROUP BY a, b),
         |ne AS (SELECT sc.* FROM sc
         |  LEFT JOIN (SELECT u, v FROM sym WHERE u < v) e
         |    ON e.u = sc.a AND e.v = sc.b
         |  WHERE e.u IS NULL)
         |SELECT a AS tok_a, b AS tok_b, n_common,
         |  CAST(CAST(CAST(CAST(n_common AS DOUBLE) /
         |    CAST(da.d + db.d - n_common AS DOUBLE) AS DECIMAL(18,9))
         |    AS VARCHAR) AS DOUBLE) AS jaccard,
         |  CAST(CAST(CAST(CAST(aa AS DOUBLE) AS DECIMAL(18,9))
         |    AS VARCHAR) AS DOUBLE) AS adamic_adar
         |FROM ne JOIN deg da ON da.u = ne.a JOIN deg db ON db.u = ne.b
         |ORDER BY tok_a, tok_b""".stripMargin,
    // LPA twin: same edges, 2 unrolled rounds, argmax by
    // ROW_NUMBER over (cnt DESC, lbl ASC) — the min_by tie rule
    "label_prop" -> {
      def round(prev: String, out: String): String =
        s"""c$out AS (SELECT s.v, p.lbl, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM sym s JOIN $prev p ON s.u = p.u GROUP BY s.v, p.lbl),
           |$out AS (SELECT v AS u, lbl FROM (
           |  SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
           |    ORDER BY c DESC, lbl ASC) AS rn FROM c$out)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $coocPairsCte,
         |sym AS (SELECT tok_a AS u, tok_b AS v FROM pairs
         |        UNION SELECT tok_b, tok_a FROM pairs),
         |l0 AS (SELECT DISTINCT u, u AS lbl FROM sym),
         |${round("l0", "l1")},
         |${round("l1", "l2")}
         |SELECT u AS node, lbl AS label FROM l2 ORDER BY node""".stripMargin
    },
    // modularity twin: the label_prop CTE chain (same 2 rounds) plus
    // the Newman sums — exact BIGINTs, one fixed double expression
    // per community row (division → square, same op order as engine)
    "modularity_by_community" -> {
      def round(prev: String, out: String): String =
        s"""c$out AS (SELECT s.v, p.lbl, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM sym s JOIN $prev p ON s.u = p.u GROUP BY s.v, p.lbl),
           |$out AS (SELECT v AS u, lbl FROM (
           |  SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
           |    ORDER BY c DESC, lbl ASC) AS rn FROM c$out)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $coocPairsCte,
         |sym AS (SELECT tok_a AS u, tok_b AS v FROM pairs
         |        UNION SELECT tok_b, tok_a FROM pairs),
         |l0 AS (SELECT DISTINCT u, u AS lbl FROM sym),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |e AS (SELECT DISTINCT LEAST(tok_a, tok_b) AS u,
         |        GREATEST(tok_a, tok_b) AS v
         |      FROM pairs WHERE tok_a <> tok_b),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
         |deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
         |  SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
         |intr AS (SELECT lu.lbl AS label, CAST(COUNT(*) AS BIGINT) AS e_in
         |  FROM e JOIN l2 lu ON e.u = lu.u JOIN l2 lv ON e.v = lv.u
         |  WHERE lu.lbl = lv.lbl GROUP BY 1),
         |byc AS (SELECT l2.lbl AS label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |  CAST(SUM(COALESCE(deg.d, 0)) AS BIGINT) AS deg_sum
         |  FROM l2 LEFT JOIN deg ON l2.u = deg.n GROUP BY 1)
         |SELECT b.label, b.n_nodes,
         |  CAST(COALESCE(i.e_in, 0) AS BIGINT) AS e_in, b.deg_sum, m.m,
         |  CAST(COALESCE(i.e_in, 0) AS DOUBLE) / m.m
         |    - (CAST(b.deg_sum AS DOUBLE) / (2.0 * m.m))
         |      * (CAST(b.deg_sum AS DOUBLE) / (2.0 * m.m)) AS q_term
         |FROM byc b LEFT JOIN intr i ON b.label = i.label, m
         |ORDER BY b.label""".stripMargin
    },
    // Louvain move-round twin: the modularity twin's l2 label-prop
    // chain, then the synchronous move replay — neighbor-community
    // counts, community degree masses, the identical fixed-shape gain
    // expression, argmax by (gain DESC, label ASC), move iff gain > 0
    "louvain_move" -> {
      def round(prev: String, out: String): String =
        s"""c$out AS (SELECT s.v, p.lbl, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM sym s JOIN $prev p ON s.u = p.u GROUP BY s.v, p.lbl),
           |$out AS (SELECT v AS u, lbl FROM (
           |  SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v
           |    ORDER BY c DESC, lbl ASC) AS rn FROM c$out)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH $coocPairsCte,
         |sym AS (SELECT tok_a AS u, tok_b AS v FROM pairs
         |        UNION SELECT tok_b, tok_a FROM pairs),
         |l0 AS (SELECT DISTINCT u, u AS lbl FROM sym),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |e AS (SELECT DISTINCT LEAST(tok_a, tok_b) AS u,
         |        GREATEST(tok_a, tok_b) AS v
         |      FROM pairs WHERE tok_a <> tok_b),
         |symd AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
         |deg AS (SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS ki
         |        FROM symd GROUP BY u),
         |tot AS (SELECT l2.lbl, CAST(SUM(COALESCE(deg.ki, 0)) AS BIGINT)
         |          AS tot
         |        FROM l2 LEFT JOIN deg ON l2.u = deg.n GROUP BY l2.lbl),
         |nbrc AS (SELECT s.u AS n, lv.lbl AS c,
         |           CAST(COUNT(*) AS BIGINT) AS kic
         |         FROM symd s JOIN l2 lv ON s.v = lv.u GROUP BY 1, 2),
         |base AS (SELECT l2.u AS n, l2.lbl,
         |           CAST(COALESCE(deg.ki, 0) AS BIGINT) AS ki,
         |           ta.tot AS tota,
         |           CAST(COALESCE(ka.kic, 0) AS BIGINT) AS kia
         |         FROM l2
         |         LEFT JOIN deg ON l2.u = deg.n
         |         JOIN tot ta ON ta.lbl = l2.lbl
         |         LEFT JOIN nbrc ka ON ka.n = l2.u AND ka.c = l2.lbl),
         |cand AS (SELECT b.n, b.lbl, nc.c,
         |           CAST(nc.kic - b.kia AS DOUBLE) / m.m
         |             - (CAST(b.ki AS DOUBLE) / (2.0 * m.m))
         |               * (CAST(tc.tot - b.tota + b.ki AS DOUBLE) / m.m)
         |             AS gain
         |         FROM nbrc nc
         |         JOIN base b ON b.n = nc.n AND nc.c <> b.lbl
         |         JOIN tot tc ON tc.lbl = nc.c, m),
         |best AS (SELECT n, c, gain FROM (
         |           SELECT n, c, gain, ROW_NUMBER() OVER (PARTITION BY n
         |             ORDER BY gain DESC, c ASC) AS rn FROM cand)
         |         WHERE rn = 1)
         |SELECT b.n AS node, b.lbl AS old_label,
         |  CASE WHEN best.gain > 0 THEN best.c ELSE b.lbl END
         |    AS new_label,
         |  CASE WHEN best.gain > 0 THEN best.gain ELSE 0.0 END AS gain
         |FROM base b LEFT JOIN best ON best.n = b.n
         |ORDER BY node""".stripMargin
    },
    // full-Louvain twin: 2 levels × 2 weighted move rounds + the
    // community contraction, all replayed — every round block is
    // GENERATED from one template so the four rounds cannot drift
    // from each other (wRound emits the Graph.louvainMoveRoundWeighted
    // math: long sums, the identical fixed-shape gain, argmax by
    // (gain DESC, label ASC), move iff gain > 0)
    "louvain_communities" ->
      s"""$louvainTwinChain
         |SELECT node, community FROM lv ORDER BY node""".stripMargin,
    // weighted-modularity score of the final louvain assignment over
    // the unit-weight base graph — the replay of
    // Graph.modularityWeighted's exact longs + one fixed double
    "louvain_quality" ->
      s"""$louvainTwinChain,
         |mm AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS m FROM g1),
         |intr AS MATERIALIZED (SELECT lu.community AS label,
         |    CAST(SUM(g1.w) AS BIGINT) AS w_in
         |  FROM g1 JOIN lv lu ON g1.u = lu.node
         |  JOIN lv lw ON g1.v = lw.node
         |  WHERE lu.community = lw.community GROUP BY 1),
         |dg AS MATERIALIZED (SELECT n, CAST(SUM(kw) AS BIGINT) AS d FROM (
         |  SELECT u AS n, CASE WHEN u = v THEN 2 * w ELSE w END AS kw
         |  FROM g1
         |  UNION ALL SELECT v, w FROM g1 WHERE u <> v) GROUP BY n),
         |byc AS MATERIALIZED (SELECT lv.community AS label,
         |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(COALESCE(dg.d, 0)) AS BIGINT) AS deg_sum
         |  FROM lv LEFT JOIN dg ON lv.node = dg.n GROUP BY 1)
         |SELECT b.label, b.n_nodes,
         |  CAST(COALESCE(i.w_in, 0) AS BIGINT) AS w_in, b.deg_sum, mm.m,
         |  CAST(COALESCE(i.w_in, 0) AS DOUBLE) / mm.m
         |    - (CAST(b.deg_sum AS DOUBLE) / (2.0 * mm.m))
         |      * (CAST(b.deg_sum AS DOUBLE) / (2.0 * mm.m)) AS q_term
         |FROM byc b LEFT JOIN intr i ON b.label = i.label, mm
         |ORDER BY b.label""".stripMargin,
  )
}
