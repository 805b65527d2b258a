package graft
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Analytics slice of the [[SparkEntry]] registry — TPC-H-ish SQL, event/session/funnel/attribution analytics, drift, sketches, calibration.
  *
  * Split from the single 9.5k-line SparkEntry.scala (r16 verdict item
  * 6); every entry is VERBATIM from that file, and the shared frame /
  * SQL-snippet helpers stay on [[SparkEntry]] (imported wholesale
  * below) so registration text and oracle twins cannot drift during
  * the move. Composition happens in [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSqlRaw]]. */
private[graft] object RegistryAnalytics {
  import SparkEntry._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- builtin relational surface (harness TPC-H-ish coverage) ----
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(24,8)")).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
            .cast("decimal(24,8)")).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_join_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("order_cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_revenue"))
        .orderBy("n_name")
    }),
    // TPC-H Q17 shape: correlated scalar subqueries (per-part count
    // and quantity sum) that Catalyst decorrelates into aggregated
    // joins; the 0.2·avg threshold is the division-free exact form
    // qty·5·n < Σqty so both engines compare exact decimals
    "q17_correlated" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("g_li_q17")
      s.sql(
        """SELECT
          |  CAST(CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2)))
          |    AS STRING) AS DOUBLE) / 7.0 AS avg_yearly,
          |  CAST(COUNT(*) AS BIGINT) AS n_rows
          |FROM g_li_q17 l1
          |WHERE l1.l_partkey % 10 = 0
          |  AND CAST(l1.l_quantity AS DECIMAL(18,2)) * 5 *
          |    (SELECT COUNT(*) FROM g_li_q17 l2
          |     WHERE l2.l_partkey = l1.l_partkey)
          |  < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
          |     FROM g_li_q17 l3 WHERE l3.l_partkey = l1.l_partkey)"""
          .stripMargin)
    }),
    // ROLLUP report: (lang, source) → lang subtotals → grand total in
    // one pass, grouping_id disambiguating rolled-up nulls
    "rollup_report" -> ((s, dir) =>
      t(s, dir, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"),
          grouping_id().cast("long").as("gid"))
        .orderBy("gid", "lang", "source")),
    "q3_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),
    "q4_window" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),
    "q6_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),
    "q7_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
    "q8_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),
    "q5_events_json" -> ((s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"))
        .orderBy("event_type")),
    // global percentile-rank calibration of a quality signal (exact
    // (rank-1)/(n-1) integer ratio over the (value, id) total order,
    // two-phase scan — no single-task window)
    "pct_rank_scores" -> ((s, dir) =>
      graft.operators.Profile.percentileRank(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", materialize = false)
        .orderBy("doc_id")),
    // as-of temporal join: each event matched to the user's latest
    // preceding order (union + running-last window, no range join)
    "asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts")
      val ord = t(s, dir, "orders")
        .select(col("o_custkey").as("user_id"),
          // NTZ → TZ is identity wall-clock under the UTC session TZ
          (unix_micros(col("o_orderdate").cast("timestamp")) * 1000).as("ots"),
          col("o_orderkey"))
      graft.operators.AsOfJoin.asOf(ev, ord, Seq("user_id"), "ts", "ots",
        Seq("o_orderkey"), rightTieCol = "o_orderkey")
        .filter(col("o_orderkey").isNotNull)
        .select("event_id", "o_orderkey")
        .orderBy("event_id")
    }),
    // bucketed point-in-interval range join (equi-join on bins + exact
    // containment filter — no inequality cross product)
    "range_join" -> ((s, dir) => {
      val pts = events(s, dir).filter(col("event_id") < 500)
        .select("event_id", "value")
      val ivs = t(s, dir, "part")
        .select(col("p_partkey"), (col("p_size") * 2.0).as("lo"),
          (col("p_size") * 2.0 + 3.0).as("hi"))
      graft.operators.RangeJoin.pointInInterval(pts, ivs,
        "value", "lo", "hi", binWidth = 4.0)
        .select("event_id", "p_partkey")
        .orderBy("event_id", "p_partkey")
    }),
    // batch twin of the streaming tumbling-window agg (ts normalized
    // to epoch nanos by the events() loader, layout-adaptive)
    "events_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(expr("ts div 3600000000000").as("hour_bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy("hour_bucket", "event_type")),
    // sliding 2h/1h event-time windows (batch twin of streaming hopping
    // aggregation): map-side explode by the overlap factor, one
    // partial-aggregated shuffle on (window, key)
    "events_sliding" -> ((s, dir) =>
      graft.operators.TimeWindows.slidingAgg(events(s, dir), "ts",
        Seq("event_type"), Seq("value"),
        lengthNs = 2L * 3600L * 1000000000L,
        slideNs = 3600L * 1000000000L)
        .orderBy("win_bucket", "event_type")),

    // X223 score-calibration reliability table + ECE over a
    // deterministic synthetic (score, label) pair derived from
    // doc_id — miscalibrated by construction (label rate tracks
    // doc_id%97 only loosely), so the bins carry nonzero gaps; means
    // ride the decimal(18,12) exact-sum bridge
    "calibration_bins" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        ((col("doc_id") % 97).cast("double") / lit(97.0)).as("score"),
        when((col("doc_id") * 7919) % 97 < col("doc_id") % 97, 1L)
          .otherwise(0L).as("label"))
      graft.operators.Calibration.reliabilityBins(
        scored, "score", "label", bins = 10)
        .orderBy("bin")
    }),
    "calibration_ece" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(
        ((col("doc_id") % 97).cast("double") / lit(97.0)).as("score"),
        when((col("doc_id") * 7919) % 97 < col("doc_id") % 97, 1L)
          .otherwise(0L).as("label"))
      graft.operators.Calibration.ece(scored, "score", "label",
        bins = 10)
    }),
    "pr_curve" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("lang"),
        ((col("doc_id") % 97).cast("double") / lit(97.0)).as("score"),
        when((col("doc_id") * 7919) % 97 < col("doc_id") % 97, 1L)
          .otherwise(0L).as("label"))
      graft.operators.Calibration.prCurveByKey(scored, Seq("lang"),
        "score", "label")
        .orderBy("lang", "threshold")
    }),

    // X225 EXACT mergeable distinct via the built-in bitmap
    // aggregates — one 4-KiB bitmap per (key, occupied 32768-id
    // bucket) crosses the shuffle after map-side combine; exact like
    // COUNT(DISTINCT), shard-mergeable like HLL
    "bitmap_distinct" -> ((s, dir) =>
      graft.operators.Hll.exactDistinctBitmap(
        t(s, dir, "events"), Seq("event_type"), "user_id")
        .orderBy("event_type")),
    // edit-distance fuzzy join: q-gram + length-bucket banding, exact
    // levenshtein verify once per distinct value pair (no cartesian);
    // probes are part names with their 3rd char dropped
    "fuzzy_join" -> ((s, dir) => {
      val names = t(s, dir, "part").select("p_name").distinct()
      val probes = names.select(concat(substring(col("p_name"), 1, 2),
        substring(col("p_name"), 4, 10000)).as("probe")).distinct()
      graft.operators.FuzzyJoin.editJoin(probes, names, "probe", "p_name",
        maxDist = 1)
        .groupBy(col("left_val").as("probe"))
        .agg(count(lit(1)).as("n_matches"),
          min("right_val").as("first_match"),
          min("edit_dist").cast("long").as("min_dist"))
        .orderBy("probe")
    }),
    // bloom-routed anti join: bloom-negative rows settle without a
    // shuffle, candidates run the exact anti join — answer is exact
    "bloom_anti_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val hot = t(s, dir, "orders")
        .filter(col("o_totalprice") > 300000).select("o_orderkey")
      graft.operators.BloomJoin.prunedAntiJoin(li, hot,
        "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    // salted skew join equals the plain join it accelerates
    "salted_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      graft.operators.SkewJoin.saltedEquiJoin(orders, cust, "o_custkey",
        saltFactor = 4)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy("c_nationkey")
    }),
    // Pearson correlation (A6) via exact decimal sums + one fixed
    // double expression — order-independent, so cross-engine checkable
    // (plain corr() drifts with accumulation order)
    "pearson_corr" -> ((s, dir) => {
      val sums = t(s, dir, "lineitem").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sx"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sy"),
        sum((col("l_quantity") * col("l_quantity")).cast("decimal(28,4)"))
          .cast("double").as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice"))
          .cast("decimal(38,4)")).cast("double").as("syy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast("decimal(38,4)"))
          .cast("double").as("sxy"))
      // a zero denominator (one row, or a constant column) has no
      // correlation: NULL, as the twin's division gives it
      val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
        sqrt(col("n") * col("syy") - col("sy") * col("sy"))
      sums.select(
        ((col("n") * col("sxy") - col("sx") * col("sy")) / nullif(den, lit(0.0)))
          .cast("decimal(18,12)").cast("double").as("pearson"))
    }),
    // count-min sketch heavy hitters: depth 4 × width 1024 sketch over
    // all token occurrences (shuffle bounded d·w rows whatever the
    // corpus — the sketch path vocab_top's exact groupBy cannot take
    // at 100 TB), point estimates (min over rows) for the exact
    // top-20; md5-portable bucketing → sketch AND estimates
    // oracle-exact, upper-bound property machine-checked per token
    "cms_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("tok"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("c_exact"))
        .orderBy(col("c_exact").desc, col("tok").asc).limit(20)
      val sk = graft.operators.CountMin.sketch(toks, "tok",
        depth = 4, width = 1024, portableHash = true)
      graft.operators.CountMin.estimate(sk, top.select("tok"), "tok",
        depth = 4, width = 1024, portableHash = true)
        .join(top, Seq("tok"))
        .select("tok", "c_exact", "est")
        .orderBy("tok")
    }),
    // HyperLogLog registers over the corpus vocabulary (portable md5
    // mode, m=256): the bounded-shuffle alternative to COUNT DISTINCT
    // over billions of n-grams — the oracle replays register index and
    // leading-zero rank bit for bit from the same md5 hex
    "hll_registers" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("tok"))
      graft.operators.Hll.sketch(toks, "tok", m = 256, portableHash = true)
        .select(col("reg").cast("long").as("reg"),
          col("rho").cast("long").as("rho"))
        .orderBy("reg")
    }),
    // per-language distinct-token estimates from ONE grouped HLL pass
    // (m=64) next to the exact answer; z_scaled is the exact-integer
    // harmonic denominator so the only floating op is one division of
    // engine-exact inputs
    "hll_distinct" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(graft.functions.TextFunctions.tokens(col("text")))
            .as("tok"))
      val sk = graft.operators.Hll.sketchByKey(toks, Seq("lang"), "tok",
        m = 64, portableHash = true)
      val est = graft.operators.Hll.rawEstimateByKey(sk, Seq("lang"), m = 64)
      val exact = toks.groupBy("lang")
        .agg(countDistinct("tok").as("n_exact"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), col("n_exact"), col("zeros"), col("z_scaled"),
          col("raw_est"))
        .orderBy("lang")
    }),
    // sketch-over-window composition: distinct users per hour by the
    // grouped HLL (one m-bounded pass for EVERY hour at once) next to
    // the exact answer
    "hll_hourly" -> ((s, dir) => {
      val ev = events(s, dir).selectExpr(
        "cast(ts div 3600000000000 as bigint) as hour",
        "cast(user_id as string) as uid")
      val sk = graft.operators.Hll.sketchByKey(ev, Seq("hour"), "uid",
        m = 64, portableHash = true)
      val est = graft.operators.Hll.rawEstimateByKey(sk, Seq("hour"), m = 64)
      val exact = ev.groupBy("hour").agg(countDistinct("uid").as("n_exact"))
      est.join(exact, Seq("hour"))
        .select(col("hour"), col("n_exact"), col("zeros"), col("z_scaled"),
          col("raw_est"))
        .orderBy("hour")
    }),
    // key-skew diagnostic: log2 histogram of per-user event counts —
    // the pre-join "will this key explode my shuffle" check, exact
    // bit-length buckets (no float log2)
    "skew_histogram" -> ((s, dir) =>
      graft.operators.Profile.skewHistogram(
        events(s, dir).select("user_id"), Seq("user_id"))
        .orderBy("bucket")),
    // gap-based sessionization (1h gap over epoch-nanos event time)
    "sessionized_events" -> ((s, dir) =>
      graft.operators.Sessionize.sessionize(
        events(s, dir).select("event_id", "user_id", "ts"),
        Seq("user_id"), "ts", maxGap = 3600L * 1000000000L)
        .select("event_id", "session_idx", "session_id")
        .orderBy("event_id")),
    // per-user rolling z-score anomaly detection over a trailing 72h
    // event-time RANGE window — decimal-quantized sums, one fixed
    // double expression for mean/variance/z
    "rolling_zscore" -> ((s, dir) =>
      graft.operators.Anomaly.rollingZScore(
        events(s, dir).select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), "ts", "value",
        windowNanos = 72L * 3600 * 1000000000L, minCount = 5,
        threshold = 2.0)
        .select("event_id", "n_window", "z", "is_anomaly")
        .orderBy("event_id")),
    // ordered conversion funnel (view → click → purchase within 7
    // days of first view): per-step keyed min-aggregates, tiny output
    "funnel_steps" -> ((s, dir) =>
      graft.operators.Funnel.funnel(
        events(s, dir).select("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        horizonNanos = 7L * 86400 * 1000000000L)
        .orderBy("step")),
    // EXCLUSION funnel: view → purchase with NO click strictly in
    // between — the "did not" step product tools ship; user-keyed
    // aggregates only, one row out
    "funnel_exclusion" -> ((s, dir) =>
      graft.operators.Funnel.exclusionFunnel(
        events(s, dir).select("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts",
        startStep = "view", endStep = "purchase",
        excludeStep = "click",
        horizonNanos = 7L * 86400 * 1000000000L)),
    // CUSUM change-point curve over daily event counts: exact
    // integer-scaled deviations (n·S_t − t·T), |dev| argmax = the
    // rate-shift candidate; the bounded day summary rolls up via a
    // broadcast inequality self-join
    "changepoint_cusum" -> ((s, dir) =>
      graft.operators.Anomaly.cusumCurve(
        events(s, dir).where(col("ts").isNotNull)
          .select(expr("ts div 86400000000000").as("day")), "day")
        .orderBy("bucket")),
    // unordered funnel: did the user hit view AND click AND purchase
    // within 7 days, in ANY order — the engagement-checklist
    // complement of the ordered funnel; full hitters split by
    // within-horizon completion
    "unordered_funnel" -> ((s, dir) =>
      graft.operators.Funnel.unorderedFunnel(
        events(s, dir).select("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        horizonNanos = 7L * 86400 * 1000000000L)
        .orderBy("n_steps_hit", "completed")),
    // time-to-convert per funnel step (avg lag from step 1, decimal
    // sums — horizon·users overflows a long at corpus scale)
    "funnel_lag" -> ((s, dir) =>
      graft.operators.Funnel.conversionLag(
        events(s, dir).select("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        horizonNanos = 7L * 86400 * 1000000000L)
        .orderBy("step")),
    // RFM segmentation: per purchasing user, quartile scores for
    // recency (latest purchase), frequency (purchase count), monetary
    // (exact decimal spend) — the classic CRM cut. Quartiles come from
    // Profile.ntileExact (two-phase PrefixScan rank + broadcast count,
    // NEVER a global unpartitioned ntile window — that funnels every
    // purchasing user into one task); the arithmetic reproduces ntile
    // bit-for-bit under the same tie-broken order, so the DuckDB twin
    // keeps its plain ntile windows
    "rfm_segments" -> ((s, dir) => {
      import graft.operators.Profile
      val p = events(s, dir)
        .where(col("user_id").isNotNull &&
          col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(max("ts").as("last_ts"),
          count(lit(1)).as("frequency"),
          sum(col("value").cast("decimal(18,2)")).as("__m"))
        .withColumn("monetary",
          col("__m").cast("string").cast("double"))
        // materialize the per-user purchase aggregate ONCE: the three
        // ntileExact tiers each walk it twice (rank pass + join pass),
        // and lazily that re-ran the events scan+agg six times
        // (bench: ~3.8 s for a ~1 s query). The checkpointed frame is
        // the USER-level rollup — tiny relative to the event log at
        // any scale, so this is the right side to pin. Determinism
        // also stops depending on lineage replay being stable.
        .localCheckpoint()
      val withR = Profile.ntileExact(p,
        Seq(col("last_ts").asc, col("user_id").asc), 4, "r_score",
        materialize = false)
      val withF = Profile.ntileExact(withR,
        Seq(col("frequency").asc, col("user_id").asc), 4, "f_score",
        materialize = false)
      val withM = Profile.ntileExact(withF,
        Seq(col("__m").asc, col("user_id").asc), 4, "m_score",
        materialize = false)
      withM.select("user_id", "frequency", "monetary",
          "r_score", "f_score", "m_score")
        .orderBy("user_id")
    }),
    // time-to-convert distribution: whole days from a user's first
    // view to their first subsequent purchase, counted per offset —
    // the survival-curve complement of funnel_lag's single average
    "conversion_lag_curve" -> ((s, dir) => {
      val ev = events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
      val firstView = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val purch = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts")
      firstView.join(purch, Seq("user_id"))
        .where(col("ts") >= col("t1"))
        .groupBy("user_id").agg(min(col("ts") - col("t1")).as("__lag"))
        .select(expr("__lag div 86400000000000").as("offset_days"))
        .groupBy("offset_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("offset_days")
    }),
    // DAU/WAU stickiness: per active day, distinct daily actives,
    // distinct trailing-7-day actives, and their ratio — the classic
    // engagement metric. The trailing window is an EXPLODE of 7 day
    // offsets over the distinct (user, day) frame (each row fans out
    // 7×, partial-aggregated — never a per-day distinct window);
    // all-integer counts, one bridged division
    "dau_wau_stickiness" -> ((s, dir) => {
      val ud = events(s, dir)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(col("day"), col("dau").cast("long").as("dau"),
          col("wau").cast("long").as("wau"),
          (col("dau").cast("double") / col("wau").cast("double"))
            .cast("decimal(18,9)").cast("double").as("stickiness"))
        .orderBy("day")
    }),
    // semi-structured props: real JSON parsing (from_json) → typed
    // aggregation per event type
    "props_parse" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.IntegerType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).cast("long").as("sum_k"))
        .withColumn("avg_k", col("sum_k").cast("double") / col("n"))
        .orderBy("event_type")),
    // HLL set algebra: en-token vs de-token sketches, union by
    // register MAX, intersection by inclusion–exclusion — plus the
    // exact counts for context
    "hll_setops" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def toks(lang: String) = docs.where(col("lang") === lang)
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("tok"))
      val est = graft.operators.Hll.setOpEstimates(
        toks("en"), toks("de"), "tok", m = 64, portableHash = true)
      val exact = broadcast(
        toks("en").select(col("tok"), lit(1).as("__a"))
          .distinct()
          .join(toks("de").select(col("tok"), lit(1).as("__b")).distinct(),
            Seq("tok"), "full_outer")
          .agg(count(col("__a")).as("ex_a"), count(col("__b")).as("ex_b"),
            count(lit(1)).as("ex_union"),
            count(when(col("__a").isNotNull && col("__b").isNotNull, 1))
              .as("ex_inter")))
      est.crossJoin(exact)
    }),
    // weekly-cohort funnel: reach + conversion per (cohort, step),
    // cohort = the week of the user's step-1 event
    "funnel_cohorts" -> ((s, dir) =>
      graft.operators.Funnel.funnelByCohort(
        events(s, dir).select("user_id", "event_type", "ts"),
        "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        horizonNanos = 7L * 86400 * 1000000000L,
        cohortPeriodNanos = 7L * 86400 * 1000000000L)
        .orderBy("cohort", "step")),
    // last-touch attribution: each purchase attributed to the user's
    // latest preceding non-purchase event within 1h (as-of join
    // composition; no touch in the window → 'none')
    "attribution_last_touch" -> ((s, dir) => {
      // null user_id must drop on BOTH sides: asOf's window would
      // pool all null keys into one anonymous partition and
      // cross-attribute them (twin filters user_id IS NOT NULL)
      val ev = events(s, dir)
        .select("event_id", "user_id", "event_type", "ts")
        .where(col("user_id").isNotNull)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val touches = ev.where(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts").as("tts"),
          col("event_type").as("touch_type"),
          col("ts").as("touch_ts"), col("event_id").as("tid"))
      graft.operators.AsOfJoin.asOf(purchases, touches,
        Seq("user_id"), "ts", "tts", Seq("touch_type", "touch_ts"), "tid")
        .select(col("event_id"),
          when(col("touch_ts").isNotNull &&
            col("ts") - col("touch_ts") <= 3600L * 1000000000L,
            col("touch_type")).as("touch"))
        .groupBy(coalesce(col("touch"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"))
        .orderBy("touch_type")
    }),
    // multi-touch attribution, linear model: every touch in the 24h
    // window before a purchase shares its one unit of credit equally
    // (1/k each, decimal-rounded); untouched purchases report as
    // 'none' so total credit equals the conversion count
    "attribution_linear" -> ((s, dir) => {
      val ev = events(s, dir)
        .select("event_id", "user_id", "event_type", "ts")
        .where(col("user_id").isNotNull)
      graft.operators.Attribution.report(
        ev.where(col("event_type") === "purchase"),
        ev.where(col("event_type") =!= "purchase")
          .withColumnRenamed("event_type", "touch_type"),
        Seq("user_id"), "event_id", "ts", "ts", "touch_type",
        windowNanos = 24L * 3600L * 1000000000L,
        model = graft.operators.Attribution.Linear)
        .orderBy("touch_type")
    }),
    // time-decay attribution: a touch's weight halves per WHOLE hour
    // of lag (discrete half-life — integer powers of two keep every
    // weight, sum, and normalization engine-exact), normalized per
    // conversion
    "attribution_time_decay" -> ((s, dir) => {
      val ev = events(s, dir)
        .select("event_id", "user_id", "event_type", "ts")
        .where(col("user_id").isNotNull)
      graft.operators.Attribution.report(
        ev.where(col("event_type") === "purchase"),
        ev.where(col("event_type") =!= "purchase")
          .withColumnRenamed("event_type", "touch_type"),
        Seq("user_id"), "event_id", "ts", "ts", "touch_type",
        windowNanos = 24L * 3600L * 1000000000L,
        model = graft.operators.Attribution.TimeDecay,
        halfLifeNanos = 3600L * 1000000000L)
        .orderBy("touch_type")
    }),
    // position-based (U-shaped) attribution: first and last in-window
    // touch get 0.4, middles share 0.2 — literals plus one double
    // division, engine-exact
    "attribution_u_shaped" -> ((s, dir) => {
      val ev = events(s, dir)
        .select("event_id", "user_id", "event_type", "ts")
        .where(col("user_id").isNotNull)
      graft.operators.Attribution.report(
        ev.where(col("event_type") === "purchase"),
        ev.where(col("event_type") =!= "purchase")
          .withColumnRenamed("event_type", "touch_type"),
        Seq("user_id"), "event_id", "ts", "ts", "touch_type",
        windowNanos = 24L * 3600L * 1000000000L,
        model = graft.operators.Attribution.UShaped)
        .orderBy("touch_type")
    }),
    // cohort retention matrix over event days: distinct (user, day) →
    // first-day cohort → (cohort, offset) cells with exact rates
    "retention_cohorts" -> ((s, dir) =>
      graft.operators.Funnel.retention(
        events(s, dir).select("user_id", "ts"),
        "user_id", "ts", periodNanos = 86400L * 1000000000L)
        .orderBy("cohort", "offset")),
    // fixed-width histogram of event values (profiling complement)
    "value_histogram" -> ((s, dir) =>
      graft.operators.Profile.histogram(events(s, dir), "value",
        minVal = 0.0, maxVal = 100.0, buckets = 10)
        .orderBy("bucket")),
    // mergeable fixed-grid quantile sketch: B-bounded histogram +
    // exact-integer rank lookup + in-bucket interpolation — the
    // shard-friendly telemetry quantile (merge = bucket-wise sum)
    "sketch_quantiles" -> ((s, dir) => {
      val sk = graft.operators.HistSketch.sketch(events(s, dir), "value",
        minVal = 0.0, maxVal = 100.0, buckets = 50)
      graft.operators.HistSketch.quantiles(sk, Seq(0.1, 0.5, 0.9, 0.99))
        .orderBy("p")
    }),
    // time-weighted average value per user (last-value interpolation
    // between ticks): exact decimal duration-weighted sums, one
    // bridged division; (ts, value) totally orders each user's ticks
    "twap_value" -> ((s, dir) =>
      graft.operators.TimeWindows.twap(
        events(s, dir).select("user_id", "ts", "value")
          .where(col("user_id").isNotNull),
        Seq("user_id"), "ts", "value",
        orderBy = Seq(col("ts").asc, col("value").asc))
        .orderBy("user_id")),
    // PSI drift: population stability of n_chars between src1 (the
    // "current" feed) and the rest (the reference) — decile edges
    // from ntileExact over the reference, Laplace-smoothed per-bin
    // proportions, per-bin PSI terms (no cross-engine double sum)
    "psi_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Drift.psi(
        docs.where(col("source") =!= "src1")
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
        docs.where(col("source") === "src1")
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
        "n_chars", "doc_id", bins = 10)
        .orderBy("bin")
    }),
    // EXACT per-source length quartiles — grouped discrete quantiles
    // with NO window and NO approximation (the grouped two-phase scan
    // ranks; ceil(q·n) in all-long arithmetic)
    "quantiles_by_source" -> ((s, dir) =>
      graft.operators.Profile.quantilesByKey(
        t(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("n_chars")),
        Seq("source"), "n_chars", Seq(0.25, 0.5, 0.75),
        materialize = false)
        .orderBy("source", "q")),
    // categorical drift companion: chi-squared of src1's LANGUAGE mix
    // against the rest of the corpus — per-category observed/expected/
    // term, the discrete-column test psi/ks can't do (no ordering)
    "chi2_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Drift.chiSquared(
        docs.where(col("source") =!= "src1").select("lang"),
        docs.where(col("source") === "src1").select("lang"),
        "lang").orderBy("lang")
    }),
    // binning-free drift companion: two-sample KS statistic on the
    // same slices — largest CDF gap over every distinct value, exact
    // cumulative longs, bridged divisions, deterministic argmax
    "ks_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Drift.ksStat(
        docs.where(col("source") =!= "src1")
          .select(col("n_chars").cast("long").as("n_chars")),
        docs.where(col("source") === "src1")
          .select(col("n_chars").cast("long").as("n_chars")),
        "n_chars")
    }),
    // hour-of-day seasonality profile: events per UTC hour bucket +
    // corpus share — the "when is this feed alive" operational read;
    // all-integer buckets, one bridged division
    "hour_profile" -> ((s, dir) => {
      val e = events(s, dir).where(col("ts").isNotNull)
        .select(expr("(ts div 3600000000000) % 24").as("hour"))
      val counts = e.groupBy("hour").agg(count(lit(1)).as("n_events"))
      counts
        .crossJoin(broadcast(counts.agg(
          sum("n_events").cast("double").as("__t"))))
        .withColumn("share",
          (col("n_events").cast("double") / col("__t"))
            .cast("decimal(18,9)").cast("double"))
        .drop("__t")
        .orderBy("hour")
    }),
    // k-anonymity audit over the (lang, source) quasi-identifier:
    // per k threshold, equivalence classes smaller than k and the
    // row share they hold — the re-identification risk table read
    // before releasing a slice; all-integer + one bridged division
    "k_anonymity" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val classes = docs.groupBy("lang", "source")
        .agg(count(lit(1)).as("__n"))
      val total = docs.count()
      Seq(2L, 5L, 10L, 50L).toDF("k")
        .join(classes, col("__n") < col("k"), "left")
        .groupBy("k")
        .agg(count(col("__n")).cast("long").as("n_classes_below"),
          coalesce(sum("__n"), lit(0L)).cast("long").as("n_rows_below"))
        // an empty table has no row share: NULL, as the twin's division
        .withColumn("row_share_below",
          (col("n_rows_below").cast("double") /
            nullif(lit(total.toDouble), lit(0.0)))
            .cast("decimal(18,9)").cast("double"))
        .orderBy("k")
    }),
    // time-series densification: hourly per-type event counts with
    // gaps zero-filled across the observed span
    "dense_hourly" -> ((s, dir) =>
      graft.operators.TimeWindows.densify(
        events(s, dir).select("event_type", "ts"),
        "ts", Seq("event_type"), bucketNs = 3600L * 1000000000L)
        .orderBy("bucket", "event_type")),
    // period-over-period dashboard report: hourly deltas + pct change
    // over the zero-filled spine (null at the first bucket / prev 0)
    "period_over_period" -> ((s, dir) =>
      graft.operators.Funnel.periodOverPeriod(
        graft.operators.TimeWindows.densify(
          events(s, dir).select("event_type", "ts"),
          "ts", Seq("event_type"), bucketNs = 3600L * 1000000000L),
        "bucket", Seq("event_type"), "cnt")
        .orderBy("bucket", "event_type")),
    // per-group closed-form linear regression: value ~ hour-of-day
    // per event type, from exact decimal moments in ONE aggregate
    "linreg_value_hour" -> ((s, dir) =>
      graft.operators.Profile.linearFit(
        events(s, dir).select(col("event_type"),
          expr("cast((ts div 3600000000000) % 24 as int)").as("hod"),
          col("value")),
        Seq("event_type"), "hod", "value")
        .orderBy("event_type")),
    // per-session rollup KPIs over gap sessionization (1h gap)
    "session_stats" -> ((s, dir) =>
      graft.operators.Sessionize.sessionStats(
        events(s, dir).select("user_id", "ts"),
        Seq("user_id"), "ts", maxGap = 3600L * 1000000000L)
        .orderBy("user_id", "session_idx")),
    // top-20 three-step user journeys (path mining over the per-user
    // event-time total order)
    "event_journeys" -> ((s, dir) =>
      graft.operators.Funnel.journeys(
        events(s, dir).select("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type", "ts", "event_id", n = 3, topK = 20)),
    // session-scoped conversion funnel: view→click→purchase must ALL
    // happen inside one 30-minute-gap session — the "did they convert
    // in this visit" question, vs funnel_steps' 7-day cross-visit
    // horizon; Sessionize composed with funnel keyed by session_id
    "session_funnel" -> ((s, dir) =>
      graft.operators.Funnel.funnel(
        graft.operators.Sessionize.sessionize(
          events(s, dir)
            .select("user_id", "event_type", "ts", "event_id")
            .where(col("user_id").isNotNull &&
              col("event_type").isNotNull && col("ts").isNotNull),
          Seq("user_id"), "ts", maxGap = 1800L * 1000000000L),
        "session_id", "event_type", "ts",
        Seq("view", "click", "purchase"),
        horizonNanos = 7L * 86400L * 1000000000L)
        .orderBy("step")),
    // session-scoped journeys: the same top-20 path mining, but paths
    // may not cross a 30-minute inactivity gap — Sessionize composed
    // with journeys keyed by session_id (the composition the journeys
    // doc told users to write; now gate-checked)
    "session_journeys" -> ((s, dir) =>
      graft.operators.Funnel.journeys(
        graft.operators.Sessionize.sessionize(
          events(s, dir)
            .select("user_id", "event_type", "ts", "event_id")
            .where(col("user_id").isNotNull &&
              col("event_type").isNotNull && col("ts").isNotNull),
          Seq("user_id"), "ts", maxGap = 1800L * 1000000000L),
        "session_id", "event_type", "ts", "event_id", n = 3, topK = 20)),
    // next-event Markov transition matrix (event-time order, id
    // tiebreaks) with exact conditional probabilities
    "event_transitions" -> ((s, dir) =>
      graft.operators.Funnel.transitions(
        events(s, dir).select("user_id", "event_type", "ts", "event_id"),
        "user_id", "event_type", "ts", "event_id")
        .orderBy("from_type", "to_type")),
    // two-proportion A/B z-test: odd/even user split, conversion =
    // at least 14 purchase events (every synthetic user purchases, so
    // the any-purchase predicate would be degenerate — pool = 1);
    // fixed IEEE chain incl. correctly-rounded sqrt
    "ab_test" -> ((s, dir) => {
      val users = events(s, dir)
        .where(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("n_purch"))
        .select(pmod(col("user_id"), lit(2)).as("variant"),
          (col("n_purch") >= 14).as("converted"))
      graft.operators.Funnel.abTest(users, "variant", "converted")
    }),
    // exact distributed quantiles (rank window + bounds join — no
    // collect_list); interpolation is one fixed double expression so
    // both engines compute bit-identical values pre-rounding
    "value_quantiles" -> ((s, dir) =>
      graft.operators.Quantiles.exact(events(s, dir),
        Seq("event_type"), "value", Seq(0.25, 0.5, 0.9))
        .withColumn("quantile",
          col("quantile").cast("decimal(18,9)").cast("double"))
        .orderBy("event_type", "p")),
    // robust MAD outliers (Iglewicz–Hoaglin modified z): exact type-7
    // medians, z as one fixed double formula — oracle replicates both
    // quantile passes verbatim; threshold 1.2 because the synthetic
    // data is near-uniform (no 3.5-sigma tails to flag)
    "mad_outliers" -> ((s, dir) =>
      graft.operators.Outliers.madScore(t(s, dir, "documents"),
        Seq("lang"), "n_chars")
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("mad_z")) > 1.2, 1L).otherwise(0L))
            .as("n_out"))
        .orderBy("lang")),
    // winsorized outlier clamp at the exact per-type [p05, p95]
    // cutpoints (broadcast cuts join + codegen'd clamp; the decimal
    // rounding makes the winsorized sum order-free cross-engine)
    "winsorized_values" -> ((s, dir) =>
      graft.operators.Outliers.winsorize(events(s, dir),
        Seq("event_type"), "value", pLo = 0.05, pHi = 0.95)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("winsorized") > col("value"), 1L).otherwise(0L))
            .as("n_raised"),
          sum(when(col("winsorized") < col("value"), 1L).otherwise(0L))
            .as("n_lowered"),
          sum(col("winsorized").cast("decimal(18,9)")).cast("double")
            .as("sum_w"))
        .orderBy("event_type")),
  )

  def twins: Map[String, String] = Map(
    // Q17 twin: same division-free correlated-subquery text
    "q17_correlated" ->
      """SELECT
        |  CAST(CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2)))
        |    AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem l1
        |WHERE l1.l_partkey % 10 = 0
        |  AND CAST(l1.l_quantity AS DECIMAL(18,2)) * 5 *
        |    (SELECT COUNT(*) FROM lineitem l2
        |     WHERE l2.l_partkey = l1.l_partkey)
        |  < (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2)))
        |     FROM lineitem l3 WHERE l3.l_partkey = l1.l_partkey)"""
        .stripMargin,
    // rollup twin: GROUPING bitmask disambiguates rolled-up nulls
    "rollup_report" ->
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(GROUPING(lang, source) AS BIGINT) AS gid
        |FROM documents GROUP BY ROLLUP(lang, source)
        |ORDER BY gid, lang, source""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        |  COUNT(*) AS count_order,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name, COUNT(*) AS order_cnt,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q3_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q4_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q6_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q7_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q8_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q5_events_json" ->
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // stickiness twin: same distinct (user, day) frame, 7-offset
    // fan-out, integer counts, bridged ratio
    "dau_wau_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud
        |  GROUP BY day),
        |wx AS (SELECT DISTINCT user_id, day + o AS day
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) t),
        |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM wx
        |  GROUP BY day)
        |SELECT d.day, d.dau, w.wau,
        |  CAST(CAST(CAST(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS stickiness
        |FROM dau d JOIN wau w ON w.day = d.day ORDER BY d.day""".stripMargin,
    // percent_rank is exactly (rank-1)/(n-1) on the same total order
    "pct_rank_scores" ->
      """SELECT doc_id, n_chars,
        |  percent_rank() OVER (ORDER BY n_chars, doc_id) AS pct_rank
        |FROM documents WHERE n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    "asof_join" ->
      """SELECT event_id, o_orderkey FROM (
        |  SELECT e.event_id, o.o_orderkey,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND epoch_ns(o.o_orderdate) <= epoch_ns(e.ts))
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "range_join" ->
      """SELECT event_id, p_partkey FROM events e JOIN part p
        |  ON e.value >= p.p_size * 2.0 AND e.value <= p.p_size * 2.0 + 3.0
        |WHERE e.event_id < 500 ORDER BY event_id, p_partkey""".stripMargin,
    "events_hourly" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type""".stripMargin,
    "events_sliding" ->
      """SELECT win_bucket, event_type, COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM (SELECT e.event_type, e.value,
        |        unnest(generate_series(epoch_ns(ts) // 3600000000000 - 1,
        |                               epoch_ns(ts) // 3600000000000)) AS win_bucket
        |      FROM events e WHERE ts IS NOT NULL)
        |GROUP BY win_bucket, event_type ORDER BY win_bucket, event_type""".stripMargin,

    // calibration twins: identical synthetic (score, label), the same
    // equal-width binning with the 1.0 clamp, and means through the
    // decimal(18,12) exact-sum + decimal(18,9) bridge
    "calibration_bins" ->
      """WITH scored AS (SELECT
        |    CAST(doc_id % 97 AS DOUBLE) / 97.0 AS score,
        |    CASE WHEN (doc_id * 7919) % 97 < doc_id % 97
        |         THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (SELECT LEAST(CAST(FLOOR(score * 10) AS INT), 9) AS bin,
        |    CAST(score AS DECIMAL(18,12)) AS s,
        |    CAST(label AS BIGINT) AS l
        |  FROM scored),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, SUM(s) AS ss,
        |    CAST(SUM(l) AS BIGINT) AS sl FROM b GROUP BY bin),
        |r AS (SELECT bin, n,
        |    CAST(CAST(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(18,9)) AS DOUBLE) AS conf,
        |    CAST(CAST(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(18,9)) AS DOUBLE) AS acc
        |  FROM g)
        |SELECT bin, n, conf, acc, acc - conf AS gap
        |FROM r ORDER BY bin""".stripMargin,
    "calibration_ece" ->
      """WITH scored AS (SELECT
        |    CAST(doc_id % 97 AS DOUBLE) / 97.0 AS score,
        |    CASE WHEN (doc_id * 7919) % 97 < doc_id % 97
        |         THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |b AS (SELECT LEAST(CAST(FLOOR(score * 10) AS INT), 9) AS bin,
        |    CAST(score AS DECIMAL(18,12)) AS s,
        |    CAST(label AS BIGINT) AS l
        |  FROM scored),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, SUM(s) AS ss,
        |    CAST(SUM(l) AS BIGINT) AS sl FROM b GROUP BY bin),
        |r AS (SELECT bin, n,
        |    CAST(CAST(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(18,9)) AS DOUBLE) AS conf,
        |    CAST(CAST(CAST(sl AS DOUBLE) / CAST(n AS DOUBLE)
        |      AS DECIMAL(18,9)) AS DOUBLE) AS acc
        |  FROM g),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM r),
        |w AS (SELECT n,
        |    CAST(ABS(acc - conf) AS DECIMAL(18,12))
        |      * CAST(n AS DECIMAL(19,0)) AS wgap,
        |    ABS(acc - conf) AS agap FROM r)
        |SELECT t.nn AS n,
        |  CAST(CAST(CAST(SUM(w.wgap) AS DOUBLE) / CAST(t.nn AS DOUBLE)
        |    AS DECIMAL(18,9)) AS DOUBLE) AS ece,
        |  CAST(CAST(MAX(w.agap) AS DECIMAL(18,9)) AS DOUBLE) AS mce
        |FROM w, t GROUP BY t.nn""".stripMargin,

    "bitmap_distinct" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // PR-sweep twin: descending cumulative counts per threshold,
    // exact TP/FP/FN + single-division precision/recall
    "pr_curve" ->
      """WITH scored AS (SELECT lang,
        |    CAST(doc_id % 97 AS DOUBLE) / 97.0 AS s,
        |    CASE WHEN (doc_id * 7919) % 97 < doc_id % 97
        |         THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |g AS (SELECT lang, s, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(l) AS BIGINT) AS np FROM scored GROUP BY 1, 2),
        |c AS (SELECT lang, s, n, np,
        |    CAST(SUM(n) OVER (PARTITION BY lang ORDER BY s DESC)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(np) OVER (PARTITION BY lang ORDER BY s DESC)
        |      AS BIGINT) AS cump FROM g),
        |t AS (SELECT lang, CAST(SUM(np) AS BIGINT) AS tpos
        |      FROM g GROUP BY lang)
        |SELECT c.lang, c.s AS threshold,
        |  c.cump AS tp, c.cum - c.cump AS fp, t.tpos - c.cump AS fn,
        |  CAST(c.cump AS DOUBLE) / CAST(c.cum AS DOUBLE) AS precision,
        |  CASE WHEN t.tpos > 0 THEN
        |    CAST(c.cump AS DOUBLE) / CAST(t.tpos AS DOUBLE) END
        |    AS recall
        |FROM c JOIN t ON t.lang = c.lang
        |ORDER BY c.lang, threshold""".stripMargin,
    "fuzzy_join" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |probes AS (SELECT DISTINCT substr(p_name,1,2) || substr(p_name,4) AS probe FROM names)
        |SELECT probe, COUNT(*) AS n_matches, MIN(p_name) AS first_match,
        |  CAST(MIN(levenshtein(probe, p_name)) AS BIGINT) AS min_dist
        |FROM probes, names WHERE levenshtein(probe, p_name) <= 1
        |GROUP BY probe ORDER BY probe""".stripMargin,
    "bloom_anti_join" ->
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem ANTI JOIN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000) o
        |  ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "salted_join" ->
      """SELECT c_nationkey, COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // identical double expression over exact decimal sums on both
    // engines → bit-equal result (corr() itself is order-sensitive)
    "pearson_corr" ->
      """WITH s AS (SELECT
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |  CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS VARCHAR) AS DOUBLE) AS sxx,
        |  CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS syy,
        |  CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS sxy
        |  FROM lineitem)
        |SELECT CAST(CAST(CAST(
        |  (n * sxy - sx * sy) /
        |  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |  AS DECIMAL(18,12)) AS VARCHAR) AS DOUBLE) AS pearson
        |FROM s""".stripMargin,
    // CMS twin: same md5 3-hex bucket per (seed, token), same min-over-
    // rows estimate — all exact integers
    "cms_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest($toksSql) AS tok FROM documents),
         |top AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_exact FROM tk
         |        GROUP BY tok ORDER BY c_exact DESC, tok LIMIT 20),
         |skp AS (SELECT seed, ${cmsBucketSql("seed", "tok")} AS bucket FROM (
         |  SELECT tok, unnest(range(0, 4)) AS seed FROM tk)),
         |sk AS (SELECT seed, bucket, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM skp GROUP BY seed, bucket),
         |est AS (SELECT t.tok, MIN(COALESCE(sk.c, 0)) AS est FROM (
         |    SELECT tok, unnest(range(0, 4)) AS seed FROM top) t
         |  LEFT JOIN sk ON sk.seed = t.seed
         |    AND sk.bucket = ${cmsBucketSql("t.seed", "t.tok")}
         |  GROUP BY t.tok)
         |SELECT top.tok, top.c_exact, est.est
         |FROM top JOIN est USING (tok) ORDER BY tok""".stripMargin,
    "hll_registers" ->
      s"""WITH tk AS (SELECT unnest($toksSql) AS tok FROM documents),
         |hh AS (SELECT md5(tok) AS h FROM tk),
         |f AS (SELECT ${hllRegSql("h", 256)} AS reg,
         |  regexp_replace(substr(h, 4, 12), '^0+', '') AS sig FROM hh)
         |SELECT CAST(reg AS BIGINT) AS reg,
         |  CAST(MAX(${hllRhoSql("sig")}) AS BIGINT) AS rho
         |FROM f GROUP BY reg ORDER BY reg""".stripMargin,
    "hll_distinct" -> {
      val num = (graft.operators.Hll.alphaM2(64) *
        math.pow(2.0, graft.operators.Hll.PortableRhoMax)).toString
      val zs = s"(zused + (64 - used) * (CAST(1 AS BIGINT) << 49))"
      s"""WITH tk AS (SELECT lang, unnest($toksSql) AS tok FROM documents),
         |hh AS (SELECT lang, tok, md5(tok) AS h FROM tk),
         |f AS (SELECT lang, ${hllRegSql("h", 64)} AS reg,
         |  regexp_replace(substr(h, 4, 12), '^0+', '') AS sig FROM hh),
         |sk AS (SELECT lang, reg, MAX(${hllRhoSql("sig")}) AS rho
         |       FROM f GROUP BY lang, reg),
         |agg AS (SELECT lang, COUNT(*) AS used,
         |  CAST(SUM(CAST(1 AS BIGINT) << (49 - rho)) AS BIGINT) AS zused
         |  FROM sk GROUP BY lang),
         |ex AS (SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_exact
         |       FROM tk GROUP BY lang)
         |SELECT a.lang, ex.n_exact, CAST(64 - used AS BIGINT) AS zeros,
         |  CAST($zs AS BIGINT) AS z_scaled,
         |  CAST('$num' AS DOUBLE) / CAST($zs AS DOUBLE) AS raw_est
         |FROM agg a JOIN ex USING (lang) ORDER BY lang""".stripMargin
    },
    "hll_hourly" -> {
      val num = (graft.operators.Hll.alphaM2(64) *
        math.pow(2.0, graft.operators.Hll.PortableRhoMax)).toString
      val zs = s"(zused + (64 - used) * (CAST(1 AS BIGINT) << 49))"
      s"""WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS hour,
         |        CAST(user_id AS VARCHAR) AS uid FROM events),
         |hh AS (SELECT hour, uid, md5(uid) AS h FROM e),
         |f AS (SELECT hour, ${hllRegSql("h", 64)} AS reg,
         |  regexp_replace(substr(h, 4, 12), '^0+', '') AS sig FROM hh),
         |sk AS (SELECT hour, reg, MAX(${hllRhoSql("sig")}) AS rho
         |       FROM f GROUP BY hour, reg),
         |agg AS (SELECT hour, COUNT(*) AS used,
         |  CAST(SUM(CAST(1 AS BIGINT) << (49 - rho)) AS BIGINT) AS zused
         |  FROM sk GROUP BY hour),
         |ex AS (SELECT hour, CAST(COUNT(DISTINCT uid) AS BIGINT) AS n_exact
         |       FROM e GROUP BY hour)
         |SELECT CAST(a.hour AS BIGINT) AS hour, ex.n_exact,
         |  CAST(64 - used AS BIGINT) AS zeros,
         |  CAST($zs AS BIGINT) AS z_scaled,
         |  CAST('$num' AS DOUBLE) / CAST($zs AS DOUBLE) AS raw_est
         |FROM agg a JOIN ex USING (hour) ORDER BY hour""".stripMargin
    },
    "skew_histogram" ->
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |           FROM events GROUP BY user_id),
        |b AS (SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS bucket, c
        |      FROM c)
        |SELECT bucket, CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS lo,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(c) AS BIGINT) AS n_rows
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // exclusion-funnel twin: first view, first purchase strictly
    // after within 7d, exclusion = any click STRICTLY between; exact
    // counts, one division
    "funnel_exclusion" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |a AS (SELECT user_id, MIN(tn) AS ta FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MAX(a.ta) AS ta, MIN(e.tn) AS tc
        |  FROM ev e JOIN a ON a.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.tn > a.ta
        |    AND e.tn <= a.ta + 604800000000000
        |  GROUP BY e.user_id),
        |x AS (SELECT DISTINCT e.user_id FROM ev e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.tn > c.ta AND e.tn < c.tc),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_start FROM a),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_converted FROM c),
        |nx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded FROM x)
        |SELECT ns.n_start, nc.n_converted, nx.n_excluded,
        |  nc.n_converted - nx.n_excluded AS n_clean,
        |  CASE WHEN nc.n_converted > 0
        |    THEN CAST(nc.n_converted - nx.n_excluded AS DOUBLE) /
        |      CAST(nc.n_converted AS DOUBLE) END AS clean_pct
        |FROM ns, nc, nx""".stripMargin,
    // CUSUM twin: per-day counts, rank + cumsum windows over the
    // bounded day summary, identical integer dev arithmetic
    "changepoint_cusum" ->
      """WITH d AS (SELECT epoch_ns(ts) // 86400000000000 AS day
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT day AS bucket, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM d GROUP BY day)
        |SELECT bucket, n_events,
        |  CAST(ROW_NUMBER() OVER (ORDER BY bucket) AS BIGINT) AS t,
        |  CAST(SUM(n_events) OVER (ORDER BY bucket) AS BIGINT)
        |    AS cum_events,
        |  CAST((SELECT COUNT(*) FROM c) *
        |      SUM(n_events) OVER (ORDER BY bucket)
        |    - ROW_NUMBER() OVER (ORDER BY bucket) *
        |      (SELECT SUM(n_events) FROM c) AS BIGINT) AS dev
        |FROM c ORDER BY bucket""".stripMargin,
    // funnel twin: same strictly-after + 7d-from-step-1 semantics; the
    // per-step CTE chain mirrors Funnel.funnel's scanLeft exactly
    "funnel_steps" ->
      s"""WITH $funnelStepsCte,
        |n AS (
        |  SELECT 1 AS step, 'view' AS event_type,
        |    (SELECT COUNT(*) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
        |SELECT CAST(step AS INT) AS step, event_type,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  CASE WHEN (SELECT COUNT(*) FROM s1) > 0 THEN
        |    CAST(n_users AS DOUBLE) / (SELECT COUNT(*) FROM s1)
        |  END AS conv_pct
        |FROM n ORDER BY step""".stripMargin,
    // cohort-funnel twin: the shared step CTEs grouped by the week of
    // t1; per-cohort conversion joins the step-1 slice
    "funnel_cohorts" -> {
      def cte(s: String, out: String) =
        s"""$out AS (SELECT t1 // 604800000000000 AS cohort,
           |  CAST(COUNT(*) AS BIGINT) AS n FROM $s GROUP BY 1)"""
          .stripMargin
      s"""WITH $funnelStepsCte,
         |${cte("s1", "c1")}, ${cte("s2", "c2")}, ${cte("s3", "c3")},
         |u AS (SELECT cohort, 1 AS step, 'view' AS event_type, n FROM c1
         |  UNION ALL SELECT cohort, 2, 'click', n FROM c2
         |  UNION ALL SELECT cohort, 3, 'purchase', n FROM c3)
         |SELECT u.cohort, CAST(u.step AS INT) AS step, u.event_type,
         |  u.n AS n_users,
         |  CASE WHEN c1.n > 0 THEN CAST(u.n AS DOUBLE) / c1.n END
         |    AS conv_pct
         |FROM u JOIN c1 ON u.cohort = c1.cohort
         |ORDER BY u.cohort, u.step""".stripMargin
    },
    // attribution twin: latest preceding non-purchase touch per
    // purchase (ts DESC, id DESC — the asOf tie rule), 1h window,
    // unmatched → 'none'
    "attribution_last_touch" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS tn
        |  FROM events WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |t AS (SELECT user_id, epoch_ns(ts) AS tts,
        |    event_type AS touch_type, event_id AS tid
        |  FROM events WHERE event_type <> 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT p.event_id, p.tn, t.touch_type, t.tts,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY t.tts DESC, t.tid DESC) AS rn
        |  FROM p LEFT JOIN t
        |    ON p.user_id = t.user_id AND t.tts <= p.tn),
        |a AS (SELECT event_id,
        |    CASE WHEN tts IS NOT NULL AND tn - tts <= 3600000000000
        |      THEN touch_type END AS touch
        |  FROM m WHERE rn = 1)
        |SELECT COALESCE(touch, 'none') AS touch_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    // linear multi-touch twin: per-conversion 1/k credits (one double
    // division, decimal-rounded), 'none' carries full credit, channel
    // totals re-enter double via the VARCHAR bridge
    "attribution_linear" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS tn
        |  FROM events WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |t AS (SELECT user_id, epoch_ns(ts) AS tts,
        |    event_type AS touch_type
        |  FROM events WHERE event_type <> 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT p.event_id, p.tn, t.tts, t.touch_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.tts <= p.tn AND p.tn - t.tts <= 86400000000000),
        |k AS (SELECT event_id, CAST(COUNT(*) AS BIGINT) AS k
        |  FROM m GROUP BY event_id),
        |cred AS (SELECT m.event_id, m.touch_type,
        |    CAST(1.0::DOUBLE / CAST(k.k AS DOUBLE)
        |      AS DECIMAL(18,12)) AS credit
        |  FROM m JOIN k ON m.event_id = k.event_id),
        |non AS (SELECT event_id, 'none' AS touch_type,
        |    CAST(1 AS DECIMAL(18,12)) AS credit
        |  FROM p WHERE event_id NOT IN (SELECT event_id FROM m)),
        |u AS (SELECT * FROM cred UNION ALL SELECT * FROM non)
        |SELECT touch_type,
        |  CAST(CAST(SUM(credit) AS VARCHAR) AS DOUBLE) AS credit,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_conversions
        |FROM u GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    // time-decay twin: weights 0.5^floor(lag/1h) — integer powers of
    // two, so weights, per-conversion sums, and normalization are all
    // exact doubles both engines
    "attribution_time_decay" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS tn
        |  FROM events WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |t AS (SELECT user_id, epoch_ns(ts) AS tts,
        |    event_type AS touch_type
        |  FROM events WHERE event_type <> 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT p.event_id, p.tn, t.tts, t.touch_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.tts <= p.tn AND p.tn - t.tts <= 86400000000000),
        |w AS (SELECT event_id, touch_type,
        |    POWER(0.5::DOUBLE, FLOOR(CAST(tn - tts AS DOUBLE) /
        |      3600000000000.0::DOUBLE)) AS w
        |  FROM m),
        |z AS (SELECT event_id, SUM(w) AS z FROM w GROUP BY event_id),
        |cred AS (SELECT w.event_id, w.touch_type,
        |    CAST(w.w / z.z AS DECIMAL(18,12)) AS credit
        |  FROM w JOIN z ON w.event_id = z.event_id),
        |non AS (SELECT event_id, 'none' AS touch_type,
        |    CAST(1 AS DECIMAL(18,12)) AS credit
        |  FROM p WHERE event_id NOT IN (SELECT event_id FROM m)),
        |u AS (SELECT * FROM cred UNION ALL SELECT * FROM non)
        |SELECT touch_type,
        |  CAST(CAST(SUM(credit) AS VARCHAR) AS DOUBLE) AS credit,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_conversions
        |FROM u GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    // u-shaped twin: same join, ROW_NUMBER over (touch ts, type) for
    // first/last, the same literal/0.2-division credit CASE
    "attribution_u_shaped" ->
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS tn
        |  FROM events WHERE event_type = 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL),
        |t AS (SELECT user_id, epoch_ns(ts) AS tts,
        |    event_type AS touch_type
        |  FROM events WHERE event_type <> 'purchase'
        |    AND user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |m AS (SELECT p.event_id, p.tn, t.tts, t.touch_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.tts <= p.tn AND p.tn - t.tts <= 86400000000000),
        |r AS (SELECT event_id, touch_type,
        |    ROW_NUMBER() OVER (PARTITION BY event_id
        |      ORDER BY tts ASC, touch_type ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_id) AS k
        |  FROM m),
        |cred AS (SELECT event_id, touch_type,
        |    CAST(CASE WHEN k = 1 THEN 1.0::DOUBLE
        |      WHEN k = 2 THEN 0.5::DOUBLE
        |      WHEN rn = 1 OR rn = k THEN 0.4::DOUBLE
        |      ELSE 0.2::DOUBLE / CAST(k - 2 AS DOUBLE) END
        |      AS DECIMAL(18,12)) AS credit
        |  FROM r),
        |non AS (SELECT event_id, 'none' AS touch_type,
        |    CAST(1 AS DECIMAL(18,12)) AS credit
        |  FROM p WHERE event_id NOT IN (SELECT event_id FROM m)),
        |u AS (SELECT * FROM cred UNION ALL SELECT * FROM non)
        |SELECT touch_type,
        |  CAST(CAST(SUM(credit) AS VARCHAR) AS DOUBLE) AS credit,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_conversions
        |FROM u GROUP BY touch_type ORDER BY touch_type""".stripMargin,
    // unordered twin: conditional MIN per step, hit count, span test
    // only for full hitters (all three mins non-null)
    "unordered_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IN ('view', 'click', 'purchase')),
        |pu AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN tn END) AS tv,
        |    MIN(CASE WHEN event_type = 'click' THEN tn END) AS tc,
        |    MIN(CASE WHEN event_type = 'purchase' THEN tn END) AS tp
        |  FROM ev GROUP BY user_id),
        |b AS (SELECT
        |    (CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END +
        |     CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END +
        |     CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END) AS n_steps_hit,
        |    CASE WHEN tv IS NOT NULL AND tc IS NOT NULL
        |        AND tp IS NOT NULL
        |        AND GREATEST(tv, tc, tp) - LEAST(tv, tc, tp)
        |          <= 604800000000000 THEN 1 ELSE 0 END AS completed
        |  FROM pu)
        |SELECT CAST(n_steps_hit AS BIGINT) AS n_steps_hit,
        |  CAST(completed AS INT) AS completed,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // RFM twin: same purchase aggregates, same fully-tie-broken ntile
    // windows (r by last purchase time, f by count, m by exact decimal
    // spend), monetary through the VARCHAR bridge
    "rfm_segments" ->
      """WITH p AS (SELECT user_id, MAX(epoch_ns(ts)) AS last_ts,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS m
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY user_id)
        |SELECT user_id, frequency,
        |  CAST(CAST(m AS VARCHAR) AS DOUBLE) AS monetary,
        |  CAST(ntile(4) OVER (ORDER BY last_ts ASC, user_id ASC)
        |    AS BIGINT) AS r_score,
        |  CAST(ntile(4) OVER (ORDER BY frequency ASC, user_id ASC)
        |    AS BIGINT) AS f_score,
        |  CAST(ntile(4) OVER (ORDER BY m ASC, user_id ASC)
        |    AS BIGINT) AS m_score
        |FROM p ORDER BY user_id""".stripMargin,
    // lag-curve twin: first view, first subsequent purchase, whole-day
    // integer division, counts per offset
    "conversion_lag_curve" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ns(ts) AS tn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |fv AS (SELECT user_id, MIN(tn) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |lg AS (SELECT f.user_id, MIN(p.tn - f.t1) AS l
        |  FROM fv f JOIN ev p ON p.user_id = f.user_id
        |    AND p.event_type = 'purchase' AND p.tn >= f.t1
        |  GROUP BY f.user_id)
        |SELECT CAST(l // 86400000000000 AS BIGINT) AS offset_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM lg GROUP BY 1 ORDER BY 1""".stripMargin,
    // funnel-lag twin: same step CTEs; lag sums as DECIMAL(28,0),
    // avg via the VARCHAR bridge then one double division
    "funnel_lag" -> {
      def lag(s: String) =
        s"""(SELECT CAST(CAST(SUM(CAST(tk - t1 AS DECIMAL(28,0)))
           |  AS VARCHAR) AS DOUBLE) FROM $s)""".stripMargin
           .replace("\n", " ")
      s"""WITH $funnelStepsCte,
         |n AS (
         |  SELECT 1 AS step, 'view' AS event_type,
         |    (SELECT COUNT(*) FROM s1) AS n_users, ${lag("s1")} AS s
         |  UNION ALL SELECT 2, 'click',
         |    (SELECT COUNT(*) FROM s2), ${lag("s2")}
         |  UNION ALL SELECT 3, 'purchase',
         |    (SELECT COUNT(*) FROM s3), ${lag("s3")})
         |SELECT CAST(step AS INT) AS step, event_type,
         |  CAST(n_users AS BIGINT) AS n_users, s / n_users AS avg_lag_ns
         |FROM n ORDER BY step""".stripMargin
    },
    // JSON-props twin. Spark's from_json(struct<k:int>) nulls a k
    // that is not an integer LITERAL ({"k":"3"} and {"k":3.5} both →
    // null), while CAST(json_extract_string(...)) would coerce '3'
    // and CRASH on '3.5' — so the twin extracts only bare integer
    // literals, TRY_CAST'd, with the regexp ANCHORED to a leading
    // top-level "k" (whitespace-tolerant; a nested object's "k" must
    // not match). Contract: the twin covers flat {"k": N} payloads —
    // the testdata's shape — not arbitrary key orders (review
    // finding; Spark's real JSON parser needs no such contract)
    "props_parse" ->
      """SELECT event_type, CAST(COUNT(k) AS BIGINT) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) / COUNT(k) AS avg_k
        |FROM (SELECT event_type,
        |    TRY_CAST(regexp_extract(props,
        |      '^\{\s*"k"\s*:\s*(-?\d+)\s*[,}]', 1) AS INTEGER) AS k
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // HLL set-algebra twin: per-set register replay from the same md5
    // hex, union = register MAX over the two sketches, estimates via
    // the same single exact-int division; exacts replayed set-wise
    "hll_setops" -> {
      val num = (graft.operators.Hll.alphaM2(64) *
        math.pow(2.0, graft.operators.Hll.PortableRhoMax)).toString
      def src(lang: String) =
        s"(SELECT unnest($toksSql) AS tok FROM documents " +
          s"WHERE lang = '$lang')"
      def skCte(name: String, from: String) =
        s"""f_$name AS (SELECT ${hllRegSql("h", 64)} AS reg,
           |    regexp_replace(substr(h, 4, 12), '^0+', '') AS sig
           |  FROM (SELECT md5(tok) AS h FROM $from)),
           |sk_$name AS (SELECT reg, MAX(${hllRhoSql("sig")}) AS rho
           |  FROM f_$name GROUP BY reg)""".stripMargin
      def estCte(name: String, sk: String) =
        s"""e_$name AS (SELECT CAST('$num' AS DOUBLE) /
           |  CAST(SUM(CAST(1 AS BIGINT) << (49 - rho)) +
           |    (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 49) AS DOUBLE)
           |  AS est FROM $sk)""".stripMargin
      s"""WITH ${skCte("a", src("en"))},
         |${skCte("b", src("de"))},
         |sk_u AS (SELECT reg, MAX(rho) AS rho FROM
         |  (SELECT * FROM sk_a UNION ALL SELECT * FROM sk_b)
         |  GROUP BY reg),
         |${estCte("a", "sk_a")},
         |${estCte("b", "sk_b")},
         |${estCte("u", "sk_u")},
         |da AS (SELECT DISTINCT tok FROM ${src("en")} s),
         |db AS (SELECT DISTINCT tok FROM ${src("de")} s)
         |SELECT e_a.est AS est_a, e_b.est AS est_b, e_u.est AS est_union,
         |  (e_a.est + e_b.est - e_u.est) AS est_inter,
         |  ((e_a.est + e_b.est - e_u.est) / e_u.est) AS jaccard_est,
         |  CAST((SELECT COUNT(*) FROM da) AS BIGINT) AS ex_a,
         |  CAST((SELECT COUNT(*) FROM db) AS BIGINT) AS ex_b,
         |  CAST((SELECT COUNT(*) FROM
         |    (SELECT tok FROM da UNION SELECT tok FROM db)) AS BIGINT)
         |    AS ex_union,
         |  CAST((SELECT COUNT(*) FROM da
         |    WHERE tok IN (SELECT tok FROM db)) AS BIGINT) AS ex_inter
         |FROM e_a, e_b, e_u""".stripMargin
    },
    // linear-fit twin: same decimal moments, same double chain; the
    // cov/varx/vary subexpressions are spelled identically everywhere
    // they appear so both engines run the same op sequence
    "linreg_value_hour" -> {
      def d(c: String) = s"CAST(CAST($c AS VARCHAR) AS DOUBLE)"
      val nd = "CAST(n AS DOUBLE)"
      val cov = s"($nd * ${d("sxy")} - ${d("sx")} * ${d("sy")})"
      val varx = s"($nd * ${d("sxx")} - ${d("sx")} * ${d("sx")})"
      val vary = s"($nd * ${d("syy")} - ${d("sy")} * ${d("sy")})"
      s"""WITH e AS (SELECT event_type,
         |    CAST((epoch_ns(ts) // 3600000000000) % 24
         |      AS DECIMAL(18,6)) AS x,
         |    CAST(value AS DECIMAL(18,6)) AS y
         |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |    SUM(x) AS sx, SUM(y) AS sy,
         |    SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx,
         |    SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         |    SUM(CAST(y * y AS DECIMAL(38,12))) AS syy
         |  FROM e GROUP BY event_type)
         |SELECT event_type, n,
         |  CASE WHEN $varx > 0.0 THEN $cov / $varx END AS slope,
         |  CASE WHEN $varx > 0.0 THEN
         |    (${d("sy")} - ($cov / $varx) * ${d("sx")}) / $nd
         |  END AS intercept,
         |  CASE WHEN $varx > 0.0 AND $vary > 0.0 THEN
         |    ($cov * $cov) / ($varx * $vary) END AS r2
         |FROM a ORDER BY event_type""".stripMargin
    },
    // session-stats twin: the sessionized_events boundary CTE +
    // per-session rollup
    "session_stats" ->
      """WITH s AS (
        |  SELECT user_id, tsn,
        |    CAST(SUM(CASE WHEN prev IS NULL OR tsn - prev <= 3600000000000
        |                  THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY user_id ORDER BY tsn
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM (SELECT user_id, epoch_ns(ts) AS tsn,
        |          lag(epoch_ns(ts)) OVER (PARTITION BY user_id
        |            ORDER BY epoch_ns(ts)) AS prev
        |        FROM events))
        |SELECT user_id, session_idx,
        |  CAST(MIN(tsn) AS BIGINT) AS session_start,
        |  CAST(MAX(tsn) AS BIGINT) AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    // journey twin: two LEADs over the same total order, top-20 by
    // (cnt DESC, path ASC) — a deterministic cut
    "event_journeys" ->
      """WITH b AS (SELECT user_id AS u, event_type AS et,
        |    epoch_ns(ts) AS tn, event_id AS id
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |st AS (SELECT et AS s0,
        |    LEAD(et, 1) OVER (PARTITION BY u ORDER BY tn, id) AS s1,
        |    LEAD(et, 2) OVER (PARTITION BY u ORDER BY tn, id) AS s2
        |  FROM b)
        |SELECT s0 || ' > ' || s1 || ' > ' || s2 AS path,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM st WHERE s0 IS NOT NULL AND s1 IS NOT NULL
        |  AND s2 IS NOT NULL
        |GROUP BY 1 ORDER BY cnt DESC, path ASC LIMIT 20""".stripMargin,
    // session-funnel twin: the proven session-boundary CTE with the
    // funnel step chain keyed by (user, session) instead of user
    "session_funnel" ->
      """WITH b0 AS (SELECT user_id AS u, event_type AS et,
        |    epoch_ns(ts) AS tn
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |sess AS (SELECT u, et, tn,
        |    CAST(SUM(CASE WHEN prev IS NULL OR tn - prev <= 1800000000000
        |                  THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY u ORDER BY tn
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sidx
        |  FROM (SELECT u, et, tn,
        |          lag(tn) OVER (PARTITION BY u ORDER BY tn) AS prev
        |        FROM b0)),
        |s1 AS (SELECT u, sidx, MIN(tn) AS t1, MIN(tn) AS tk FROM sess
        |       WHERE et = 'view' GROUP BY u, sidx),
        |s2 AS (SELECT b.u, b.sidx, MIN(s1.t1) AS t1, MIN(b.tn) AS tk
        |       FROM sess b JOIN s1 ON b.u = s1.u AND b.sidx = s1.sidx
        |       WHERE b.et = 'click' AND b.tn > s1.tk
        |         AND b.tn <= s1.t1 + 604800000000000
        |       GROUP BY b.u, b.sidx),
        |s3 AS (SELECT b.u, b.sidx, MIN(s2.t1) AS t1, MIN(b.tn) AS tk
        |       FROM sess b JOIN s2 ON b.u = s2.u AND b.sidx = s2.sidx
        |       WHERE b.et = 'purchase' AND b.tn > s2.tk
        |         AND b.tn <= s2.t1 + 604800000000000
        |       GROUP BY b.u, b.sidx),
        |n AS (
        |  SELECT 1 AS step, 'view' AS event_type,
        |    (SELECT COUNT(*) FROM s1) AS n_users
        |  UNION ALL SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3))
        |SELECT CAST(step AS INT) AS step, event_type,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  CASE WHEN (SELECT COUNT(*) FROM s1) > 0 THEN
        |    CAST(n_users AS DOUBLE) / (SELECT COUNT(*) FROM s1)
        |  END AS conv_pct
        |FROM n ORDER BY step""".stripMargin,
    // session-journeys twin: the proven session-boundary CTE (30-min
    // gap) with the journey LEADs partitioned by (user, session)
    "session_journeys" ->
      """WITH b AS (SELECT user_id AS u, event_type AS et,
        |    epoch_ns(ts) AS tn, event_id AS id
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |s AS (SELECT u, et, tn, id,
        |    CAST(SUM(CASE WHEN prev IS NULL OR tn - prev <= 1800000000000
        |                  THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY u ORDER BY tn
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sidx
        |  FROM (SELECT u, et, tn, id,
        |          lag(tn) OVER (PARTITION BY u ORDER BY tn) AS prev
        |        FROM b)),
        |st AS (SELECT et AS s0,
        |    LEAD(et, 1) OVER (PARTITION BY u, sidx ORDER BY tn, id) AS s1,
        |    LEAD(et, 2) OVER (PARTITION BY u, sidx ORDER BY tn, id) AS s2
        |  FROM s)
        |SELECT s0 || ' > ' || s1 || ' > ' || s2 AS path,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM st WHERE s0 IS NOT NULL AND s1 IS NOT NULL
        |  AND s2 IS NOT NULL
        |GROUP BY 1 ORDER BY cnt DESC, path ASC LIMIT 20""".stripMargin,
    // transition-matrix twin: LEAD over (user, ts, id), exact p
    "event_transitions" ->
      """WITH b AS (SELECT user_id AS u, event_type AS et,
        |    epoch_ns(ts) AS tn, event_id AS id
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IS NOT NULL AND ts IS NOT NULL),
        |nx AS (SELECT et, LEAD(et, 1) OVER
        |    (PARTITION BY u ORDER BY tn, id) AS to_type FROM b),
        |pairs AS (SELECT et AS from_type, to_type,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM nx WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |        FROM pairs GROUP BY from_type)
        |SELECT p.from_type, p.to_type, p.n, t.n_from,
        |  CAST(p.n AS DOUBLE) / t.n_from AS p
        |FROM pairs p JOIN tot t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    // A/B twin: same conditional split, same IEEE chain (sqrt is
    // correctly rounded on both engines)
    "ab_test" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN SUM(CASE WHEN event_type = 'purchase'
        |      THEN 1 ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |v AS (SELECT user_id % 2 AS variant, conv FROM u),
        |a AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(conv) AS BIGINT) AS c
        |  FROM v GROUP BY variant),
        |vs AS (SELECT MIN(variant) AS va, MAX(variant) AS vb,
        |    CAST(COUNT(*) AS BIGINT) AS n_variants FROM a),
        |w AS (SELECT
        |    (SELECT va FROM vs) AS variant_a,
        |    (SELECT vb FROM vs) AS variant_b,
        |    (SELECT n_variants FROM vs) AS n_variants,
        |    (SELECT n FROM a WHERE variant = (SELECT va FROM vs)) AS n_a,
        |    (SELECT c FROM a WHERE variant = (SELECT va FROM vs)) AS c_a,
        |    (SELECT n FROM a WHERE variant = (SELECT vb FROM vs)) AS n_b,
        |    (SELECT c FROM a WHERE variant = (SELECT vb FROM vs)) AS c_b)
        |SELECT variant_a, variant_b, n_variants, n_a, c_a,
        |  CAST(c_a AS DOUBLE) / n_a AS p_a, n_b, c_b,
        |  CAST(c_b AS DOUBLE) / n_b AS p_b,
        |  CASE WHEN sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
        |      (1.0::DOUBLE - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
        |      (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)) > 0.0::DOUBLE
        |  THEN
        |    (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) /
        |    sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
        |      (1.0::DOUBLE - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b)) *
        |      (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b))
        |  END AS z
        |FROM w""".stripMargin,
    // retention twin: distinct (user, day) -> first-day cohort ->
    // (cohort, offset) cells; rates are single exact-long divisions
    "retention_cohorts" ->
      """WITH dup AS (SELECT DISTINCT user_id AS u,
        |    epoch_ns(ts) // 86400000000000 AS p
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, MIN(p) AS cohort FROM dup GROUP BY u),
        |cells AS (SELECT f.cohort, dup.p - f.cohort AS "offset",
        |    COUNT(*) AS n_users
        |  FROM dup JOIN f ON dup.u = f.u GROUP BY 1, 2),
        |s0 AS (SELECT cohort, n_users AS n_cohort FROM cells
        |       WHERE "offset" = 0)
        |SELECT CAST(cells.cohort AS BIGINT) AS cohort,
        |  CAST(cells."offset" AS BIGINT) AS "offset",
        |  CAST(cells.n_users AS BIGINT) AS n_users,
        |  CAST(s0.n_cohort AS BIGINT) AS n_cohort,
        |  CAST(cells.n_users AS DOUBLE) / s0.n_cohort AS retention_pct
        |FROM cells JOIN s0 USING (cohort)
        |ORDER BY cohort, "offset"""".stripMargin,
    "rolling_zscore" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) AS tsn,
        |    CAST(value AS DECIMAL(18,6)) AS v6
        |  FROM events WHERE value IS NOT NULL),
        |w AS (SELECT event_id, v6,
        |    CAST(COUNT(*) OVER win AS BIGINT) AS n,
        |    SUM(v6) OVER win AS s,
        |    SUM(CAST(v6 * v6 AS DECIMAL(30,12))) OVER win AS q
        |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY tsn
        |    RANGE BETWEEN 259200000000000 PRECEDING AND CURRENT ROW)),
        |c AS (SELECT event_id, n,
        |    CAST(CAST(v6 AS VARCHAR) AS DOUBLE) AS vd,
        |    CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sd,
        |    CAST(CAST(q AS VARCHAR) AS DOUBLE) AS qd
        |  FROM w),
        |z AS (SELECT event_id, n AS n_window,
        |    CASE WHEN n >= 5
        |           AND (qd / n - (sd / n) * (sd / n)) > 0.0
        |         THEN (vd - sd / n) / sqrt(qd / n - (sd / n) * (sd / n))
        |         END AS z
        |  FROM c)
        |SELECT event_id, n_window, z,
        |  (z IS NOT NULL AND abs(z) > 2.0) AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin,
    "sketch_quantiles" ->
      """WITH c AS (SELECT least(greatest(
        |        CAST(floor((CAST(value AS DOUBLE) - 0.0) / 2.0) AS BIGINT),
        |        0), 49) AS bucket, COUNT(*) AS n
        |      FROM events WHERE value IS NOT NULL GROUP BY 1),
        |b AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(50)),
        |h AS (SELECT b.bucket,
        |        0.0 + CAST(b.bucket AS DOUBLE) * 2.0 AS lo,
        |        0.0 + CAST(b.bucket + 1 AS DOUBLE) * 2.0 AS hi,
        |        CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |      FROM b LEFT JOIN c USING (bucket)),
        |cu AS (SELECT bucket, lo, hi, n,
        |        CAST(SUM(n) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum
        |       FROM h),
        |cu2 AS (SELECT *, cum - n AS cum_prev FROM cu),
        |t AS (SELECT MAX(cum) AS N FROM cu),
        |p AS (SELECT unnest([CAST('0.1' AS DOUBLE), CAST('0.5' AS DOUBLE),
        |        CAST('0.9' AS DOUBLE), CAST('0.99' AS DOUBLE)]) AS p),
        |r AS (SELECT p.p, GREATEST(CAST(ceil(p.p * t.N) AS BIGINT), 1)
        |        AS rank FROM p, t WHERE t.N > 0)
        |SELECT r.p, r.rank, cu2.lo + (cu2.hi - cu2.lo) *
        |  (CAST(r.rank - cu2.cum_prev AS DOUBLE) / CAST(cu2.n AS DOUBLE))
        |  AS est
        |FROM r JOIN cu2 ON cu2.cum >= r.rank AND cu2.cum_prev < r.rank
        |ORDER BY p""".stripMargin,
    "value_histogram" ->
      """WITH b AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(10)),
        |c AS (SELECT least(greatest(
        |        CAST(floor((CAST(value AS DOUBLE) - 0.0) / 10.0) AS BIGINT),
        |        0), 9) AS bucket, COUNT(*) AS n
        |      FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT b.bucket,
        |  0.0 + CAST(b.bucket AS DOUBLE) * 10.0 AS lo,
        |  0.0 + CAST(b.bucket + 1 AS DOUBLE) * 10.0 AS hi,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM b LEFT JOIN c USING (bucket) ORDER BY bucket""".stripMargin,
    // TWAP twin: same (ts, value)-ordered lead durations, exact
    // decimal duration-weighted sum, one bridged division
    "twap_value" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) AS tn,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |st AS (SELECT user_id, v,
        |    LEAD(tn) OVER (PARTITION BY user_id ORDER BY tn, v) - tn
        |      AS dt
        |  FROM ev)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |  CAST(SUM(dt) AS BIGINT) AS span_nanos,
        |  CASE WHEN SUM(dt) > 0 THEN
        |    CAST(CAST(CAST(CAST(SUM(v * dt) AS DOUBLE) /
        |      CAST(SUM(dt) AS DOUBLE) AS DECIMAL(18,9)) AS VARCHAR)
        |      AS DOUBLE) END AS twap
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,
    // k-anonymity twin: class sizes, threshold LEFT JOIN, bridged share
    "k_anonymity" ->
      """WITH cls AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang, source),
        |ks AS (SELECT unnest([2, 5, 10, 50]) AS k),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM documents)
        |SELECT CAST(ks.k AS BIGINT) AS k,
        |  CAST(COUNT(cls.n) AS BIGINT) AS n_classes_below,
        |  CAST(COALESCE(SUM(cls.n), 0) AS BIGINT) AS n_rows_below,
        |  CAST(CAST(CAST(CAST(COALESCE(SUM(cls.n), 0) AS DOUBLE) / tot.t
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS row_share_below
        |FROM ks LEFT JOIN cls ON cls.n < ks.k, tot
        |GROUP BY ks.k, tot.t ORDER BY k""".stripMargin,
    // densify twin: observed counts left-joined onto the
    // keys × generate_series spine, 0-filled
    "dense_hourly" ->
      s"""WITH $denseHourlyCte
        |SELECT bucket, event_type, cnt FROM dense
        |ORDER BY bucket, event_type""".stripMargin,
    // period-over-period twin: LAG over the shared dense spine
    "period_over_period" ->
      s"""WITH $denseHourlyCte,
        |l AS (SELECT bucket, event_type, cnt,
        |    LAG(cnt, 1) OVER (PARTITION BY event_type ORDER BY bucket)
        |      AS prev
        |  FROM dense)
        |SELECT bucket, event_type, cnt, CAST(prev AS BIGINT) AS prev,
        |  CAST(cnt - prev AS BIGINT) AS delta,
        |  CASE WHEN prev > 0
        |    THEN CAST(cnt - prev AS DOUBLE) / prev END AS pct_change
        |FROM l ORDER BY bucket, event_type""".stripMargin,
    // PSI twin: ntile deciles on the reference (≡ ntileExact), edge
    // table, clamped current-slice binning, same smoothing and
    // per-bin bridged terms
    // grouped-quantile twin: the same type-1 rank ceil(q·n) in
    // all-integer arithmetic, replayed as the window DuckDB can afford
    "quantiles_by_source" ->
      """WITH b AS (SELECT source, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT source, v,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rk,
        |    COUNT(*) OVER (PARTITION BY source) AS n FROM b),
        |qs(q, num) AS (VALUES (CAST(0.25 AS DOUBLE), 250000),
        |  (CAST(0.5 AS DOUBLE), 500000), (CAST(0.75 AS DOUBLE), 750000))
        |SELECT source, q, v AS quantile
        |FROM r, qs
        |WHERE rk = (n * num + 999999) // 1000000
        |ORDER BY source, q""".stripMargin,
    // chi² twin: per-category side counts, expected =
    // (n_cur_total·ref_k)/n_ref_total bridged, term re-bridged with
    // the same zero guards
    "chi2_drift" ->
      """WITH v AS (SELECT CAST(lang AS VARCHAR) AS k,
        |    CASE WHEN source <> 'src1' THEN 1 ELSE 0 END AS r,
        |    CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS c
        |  FROM documents),
        |g AS (SELECT k, CAST(SUM(r) AS BIGINT) AS n_ref,
        |    CAST(SUM(c) AS BIGINT) AS n_cur FROM v GROUP BY k),
        |t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
        |    CAST(SUM(n_cur) AS BIGINT) AS tc FROM g),
        |e AS (SELECT k, n_ref, n_cur,
        |    CASE WHEN n_ref > 0 THEN
        |      CAST(CAST(CAST((CAST(tc AS DOUBLE) * CAST(n_ref AS DOUBLE))
        |        / CAST(tr AS DOUBLE) AS DECIMAL(18,9)) AS VARCHAR)
        |        AS DOUBLE) END AS expected
        |  FROM g, t)
        |SELECT k AS lang, n_ref, n_cur, expected,
        |  CASE WHEN n_ref > 0 AND expected > 0 THEN
        |    CAST(CAST(CAST((CAST(n_cur AS DOUBLE) - expected) *
        |      (CAST(n_cur AS DOUBLE) - expected) / expected
        |      AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) END AS chi2_term,
        |  n_ref = 0 AS new_category
        |FROM e ORDER BY lang""".stripMargin,
    // KS twin: per-value side counts, windowed cumulative longs,
    // bridged CDF divisions, |Δ| re-bridged, (d DESC, x ASC) argmax —
    // the operator's exact arithmetic replayed
    "ks_drift" ->
      """WITH v AS (SELECT CAST(n_chars AS BIGINT) AS x,
        |    CASE WHEN source <> 'src1' THEN 1 ELSE 0 END AS r,
        |    CASE WHEN source = 'src1' THEN 1 ELSE 0 END AS c
        |  FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT x, CAST(SUM(r) AS BIGINT) AS nr,
        |    CAST(SUM(c) AS BIGINT) AS nc FROM v GROUP BY x),
        |t AS (SELECT CAST(SUM(nr) AS BIGINT) AS tr,
        |    CAST(SUM(nc) AS BIGINT) AS tc FROM g),
        |cum AS (SELECT x,
        |    SUM(nr) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cumr,
        |    SUM(nc) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cumc
        |  FROM g),
        |s AS (SELECT x,
        |    CAST(CAST(CAST(CAST(cumr AS DOUBLE) / CAST(tr AS DOUBLE)
        |      AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS fr,
        |    CAST(CAST(CAST(CAST(cumc AS DOUBLE) / CAST(tc AS DOUBLE)
        |      AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS fc
        |  FROM cum, t WHERE tr > 0 AND tc > 0)
        |SELECT t.tr AS n_ref, t.tc AS n_cur,
        |  CAST(CAST(CAST(abs(fr - fc) AS DECIMAL(18,9)) AS VARCHAR)
        |    AS DOUBLE) AS d_stat,
        |  x AS at_value
        |FROM s, t ORDER BY d_stat DESC, x LIMIT 1""".stripMargin,
    "psi_drift" ->
      """WITH r AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE source <> 'src1' AND n_chars IS NOT NULL),
        |c AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS v
        |  FROM documents WHERE source = 'src1' AND n_chars IS NOT NULL),
        |tiled AS (SELECT v,
        |    CAST(ntile(10) OVER (ORDER BY v, id) AS BIGINT) AS bin
        |  FROM r),
        |edges AS (SELECT bin, MAX(v) AS edge FROM tiled GROUP BY bin),
        |rc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref
        |  FROM tiled GROUP BY bin),
        |cb AS (SELECT id, COALESCE(MIN(e.bin), 10) AS bin
        |  FROM c LEFT JOIN edges e ON c.v <= e.edge GROUP BY id),
        |cc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_cur
        |  FROM cb GROUP BY bin),
        |nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nr FROM r),
        |nc2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nc FROM c),
        |j AS (SELECT COALESCE(rc.bin, cc.bin) AS bin,
        |    COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |  FROM rc FULL OUTER JOIN cc ON cc.bin = rc.bin),
        |p AS (SELECT j.bin, e.edge, n_ref, n_cur,
        |    CAST(CAST(CAST((CAST(n_ref AS DOUBLE) + 0.5) / (nr.nr + 5.0)
        |      AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS p_ref,
        |    CAST(CAST(CAST((CAST(n_cur AS DOUBLE) + 0.5) / (nc2.nc + 5.0)
        |      AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS p_cur
        |  FROM j LEFT JOIN edges e ON e.bin = j.bin, nr, nc2)
        |SELECT bin, edge, n_ref, n_cur, p_ref, p_cur,
        |  CAST(CAST(CAST((p_ref - p_cur) * ln(p_ref / p_cur)
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS psi_term
        |FROM p ORDER BY bin""".stripMargin,
    // hour-profile twin: identical floor-div bucket, bridged share
    "hour_profile" ->
      """WITH e AS (SELECT (epoch_ns(ts) // 3600000000000) % 24 AS hour
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY hour),
        |t AS (SELECT CAST(SUM(n_events) AS DOUBLE) AS t FROM c)
        |SELECT hour, n_events,
        |  CAST(CAST(CAST(CAST(n_events AS DOUBLE) / t.t
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS share
        |FROM c, t ORDER BY hour""".stripMargin,
    // type-7 interpolation with the same double expression order as
    // Quantiles.exact; p forced to DOUBLE up front (a DECIMAL literal
    // would switch the rank arithmetic to decimal math)
    "value_quantiles" ->
      """WITH ranked AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE)) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |counts AS (SELECT event_type, COUNT(*) AS n FROM events
        |           WHERE value IS NOT NULL GROUP BY event_type),
        |bounds AS (
        |  SELECT event_type, p,
        |    CAST(floor(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) + 1 AS lo,
        |    least(CAST(ceil(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) + 1, n) AS hi,
        |    CAST(n - 1 AS DOUBLE) * p - floor(CAST(n - 1 AS DOUBLE) * p) AS g
        |  FROM counts, (SELECT CAST(p AS DOUBLE) AS p
        |                FROM (VALUES (0.25), (0.5), (0.9)) t(p)) ps)
        |SELECT b.event_type, b.p,
        |  CAST(CAST(CAST((1.0 - b.g) * l.v + b.g * h.v AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS quantile
        |FROM bounds b
        |JOIN ranked l ON b.event_type = l.event_type AND l.rn = b.lo
        |JOIN ranked h ON b.event_type = h.event_type AND h.rn = b.hi
        |ORDER BY b.event_type, b.p""".stripMargin,
    "mad_outliers" ->
      """WITH ranked AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY lang ORDER BY CAST(n_chars AS DOUBLE)) AS rn
        |  FROM documents WHERE n_chars IS NOT NULL),
        |counts AS (SELECT lang, COUNT(*) AS n FROM documents
        |           WHERE n_chars IS NOT NULL GROUP BY lang),
        |mb AS (SELECT lang, n,
        |    CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1 AS lo,
        |    least(CAST(ceil(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1, n) AS hi,
        |    CAST(n - 1 AS DOUBLE) * 0.5 - floor(CAST(n - 1 AS DOUBLE) * 0.5) AS g
        |  FROM counts),
        |med AS (SELECT mb.lang, (1.0 - mb.g) * l.v + mb.g * h.v AS med
        |  FROM mb JOIN ranked l ON l.lang = mb.lang AND l.rn = mb.lo
        |          JOIN ranked h ON h.lang = mb.lang AND h.rn = mb.hi),
        |dev AS (SELECT d.lang, CAST(d.n_chars AS DOUBLE) AS v,
        |    abs(CAST(d.n_chars AS DOUBLE) - m.med) AS ad, m.med
        |  FROM documents d JOIN med m ON d.lang = m.lang
        |  WHERE d.n_chars IS NOT NULL),
        |ranked2 AS (SELECT lang, ad,
        |    row_number() OVER (PARTITION BY lang ORDER BY ad) AS rn FROM dev),
        |mad AS (SELECT mb.lang, (1.0 - mb.g) * l.ad + mb.g * h.ad AS mad
        |  FROM mb JOIN ranked2 l ON l.lang = mb.lang AND l.rn = mb.lo
        |          JOIN ranked2 h ON h.lang = mb.lang AND h.rn = mb.hi)
        |SELECT d.lang, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN ma.mad <> 0
        |    AND abs(0.6745 * (d.v - d.med) / ma.mad) > 1.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        |FROM dev d JOIN mad ma ON d.lang = ma.lang
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "winsorized_values" ->
      """WITH ranked AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY CAST(value AS DOUBLE)) AS rn
        |  FROM events WHERE value IS NOT NULL),
        |counts AS (SELECT event_type, COUNT(*) AS n FROM events
        |           WHERE value IS NOT NULL GROUP BY event_type),
        |bounds AS (
        |  SELECT event_type, p,
        |    CAST(floor(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) + 1 AS lo,
        |    least(CAST(ceil(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) + 1, n) AS hi,
        |    CAST(n - 1 AS DOUBLE) * p - floor(CAST(n - 1 AS DOUBLE) * p) AS g
        |  FROM counts, (SELECT CAST(p AS DOUBLE) AS p
        |                FROM (VALUES (0.05), (0.95)) t(p)) ps),
        |quants AS (
        |  SELECT b.event_type, b.p, (1.0 - b.g) * l.v + b.g * h.v AS q
        |  FROM bounds b
        |  JOIN ranked l ON b.event_type = l.event_type AND l.rn = b.lo
        |  JOIN ranked h ON b.event_type = h.event_type AND h.rn = b.hi),
        |cuts AS (SELECT event_type,
        |    MIN(CASE WHEN p = 0.05 THEN q END) AS qlo,
        |    MIN(CASE WHEN p = 0.95 THEN q END) AS qhi
        |  FROM quants GROUP BY event_type),
        |w AS (SELECT e.event_type, CAST(e.value AS DOUBLE) AS v,
        |    CASE WHEN e.value IS NULL THEN NULL
        |         ELSE greatest(least(CAST(e.value AS DOUBLE), c.qhi), c.qlo) END AS wv
        |  FROM events e LEFT JOIN cuts c ON e.event_type = c.event_type)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN wv > v THEN 1 ELSE 0 END) AS BIGINT) AS n_raised,
        |  CAST(SUM(CASE WHEN wv < v THEN 1 ELSE 0 END) AS BIGINT) AS n_lowered,
        |  CAST(CAST(SUM(CAST(wv AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS sum_w
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin,
    "sessionized_events" ->
      """SELECT event_id, session_idx,
        |  CAST(user_id AS VARCHAR) || '#' || CAST(session_idx AS VARCHAR) AS session_id
        |FROM (
        |  SELECT event_id, user_id,
        |    CAST(SUM(CASE WHEN prev IS NULL OR tsn - prev <= 3600000000000
        |                  THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY user_id ORDER BY tsn
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM (SELECT event_id, user_id, epoch_ns(ts) AS tsn,
        |          lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)) AS prev
        |        FROM events))
        |ORDER BY event_id""".stripMargin,
  )
}
