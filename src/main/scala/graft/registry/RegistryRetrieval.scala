package graft
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Retrieval slice of the [[SparkEntry]] registry — BM25 retrieval + eval, sampling/mixing/splits/sharding, DSIR, curation funnels.
  *
  * Split from the single 9.5k-line SparkEntry.scala (r16 verdict item
  * 6); every entry is VERBATIM from that file, and the shared frame /
  * SQL-snippet helpers stay on [[SparkEntry]] (imported wholesale
  * below) so registration text and oracle twins cannot drift during
  * the move. Composition happens in [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSqlRaw]]. */
private[graft] object RegistryRetrieval {
  import SparkEntry._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // token-budget selection: greedy best-quality-first fill of a
    // fixed token budget via the two-phase prefix scan (no global
    // window); running total is exact long addition in quality order
    "budget_select" -> ((s, dir) => {
      // input is the process-shared quality-score artifact (r13: the
      // qualityFeatures text scan no longer runs inside this query at
      // all — doc_quality and this line read the same slim stored
      // table, the dsir_weights precedent). With the input a cheap
      // stable parquet read, the two-phase scan's lazy re-evaluation
      // is two slim scans, so no materialization is needed.
      val q = SharedFrames.qualityScoredDocs(s, dir)
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("quality_score"))
      graft.operators.PrefixScan.takeByBudget(q, "n_tokens", budget = 8000L,
        orderBy = Seq(col("quality_score").desc, col("doc_id").asc),
        materialize = false)
        .orderBy("doc_id")
    }),
    // the modern filter stack composed end-to-end: Gopher rules +
    // char-bigram LM score + Lee-et-al dup-span ratio joined per doc,
    // one keep verdict. Absolute per-row thresholds (no global rank —
    // a corpus-relative cut would need a single-partition window; at
    // 100 TB the threshold comes from a sampled calibration job)
    "curation_scored" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = docs
        .select(col("doc_id"),
          graft.functions.TextFunctions.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words").as("n_words"),
          col("g.alpha_word_ratio").as("alpha_word_ratio"))
      // LM score from the process-shared scored-docs artifact — the
      // fit+score pass runs once, not once per LM-threshold consumer
      val lm = SharedFrames.lmScoredDocs(s, dir)
        .select("doc_id", "lm_score")
      val ds = graft.operators.Dedup
        .dupSpanStats(docs, "doc_id", "text", k = 20, hashGrams = false)
        .select("doc_id", "dup_ratio")
      g.join(lm, Seq("doc_id")).join(ds, Seq("doc_id"))
        .withColumn("keep",
          (col("n_words") >= 30 && col("alpha_word_ratio") >= 0.8 &&
            col("lm_score") >= -1.75 && col("dup_ratio") <= 0.25)
            .cast("int"))
        .orderBy("doc_id")
    }),
    // THE pipeline showcase: the modern pretraining curation funnel
    // end-to-end — Gopher rules → LM threshold → dup-span cap →
    // quality-aware near-dup canonicalization → eval-set
    // decontamination — as cumulative per-stage survivor counts (the
    // attrition report every data team publishes). Every stage is an
    // already-gate-checked kernel; the twin composes the SAME shared
    // SQL definitions, so the composition cannot drift from the parts.
    "curation_funnel" -> ((s, dir) => {
      val flags = curationFlags(s, dir, Nil)
      def through(fs: String*) =
        count(when(fs.map(col(_) === 1).reduce(_ && _), 1))
      flags.agg(
          count(lit(1)).as("n1"),
          count(col("f2")).as("n2"),
          through("f2", "f3").as("n3"),
          through("f2", "f3", "f4").as("n4"),
          through("f2", "f3", "f4", "f5").as("n5"),
          through("f2", "f3", "f4", "f5", "f6").as("n6"))
        .select(explode(array(
          struct(lit(1L).as("stage_idx"), lit("total").as("stage"),
            col("n1").as("n_surviving")),
          struct(lit(2L).as("stage_idx"), lit("gopher").as("stage"),
            col("n2").as("n_surviving")),
          struct(lit(3L).as("stage_idx"), lit("lm").as("stage"),
            col("n3").as("n_surviving")),
          struct(lit(4L).as("stage_idx"), lit("dupspan").as("stage"),
            col("n4").as("n_surviving")),
          struct(lit(5L).as("stage_idx"), lit("neardup").as("stage"),
            col("n5").as("n_surviving")),
          struct(lit(6L).as("stage_idx"), lit("decontam").as("stage"),
            col("n6").as("n_surviving")))).as("r"))
        .select(col("r.*"))
        .orderBy("stage_idx")
    }),
    // the same funnel flags grouped by SOURCE — "which crawl slice is
    // dying at which stage", the per-provider attrition dashboard
    "curation_funnel_by_source" -> ((s, dir) => {
      val flags = curationFlags(s, dir, Seq("source"))
      def through(fs: String*) =
        count(when(fs.map(col(_) === 1).reduce(_ && _), 1))
      flags.groupBy("source").agg(
          count(lit(1)).as("n_total"),
          count(col("f2")).as("n_gopher"),
          through("f2", "f3").as("n_lm"),
          through("f2", "f3", "f4").as("n_dupspan"),
          through("f2", "f3", "f4", "f5").as("n_neardup"),
          through("f2", "f3", "f4", "f5", "f6").as("n_decontam"))
        .orderBy("source")
    }),
    // corpus tf-idf (df over the FULL corpus, output sliced for size);
    // ln() differs by ulps across libms → decimal-rounded on both sides
    "tfidf_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.tfIdf(docs, "doc_id", "text")
        .filter(col("doc_id") < 20)
        .withColumn("tfidf",
          col("tfidf").cast("decimal(18,9)").cast("double"))
        .orderBy("doc_id", "token")
    }),

    // X221 rendezvous-hash shard plan + balance report: md5 HRW over
    // doc_id into 8 shards (argmax of per-shard hashes — one narrow
    // in-row array, no explode), then per-shard rows / n_chars weight
    // / skew-vs-uniform; the twin replays the full argmax in SQL
    "shard_plan" -> ((s, dir) => {
      val plan = graft.operators.Sharding.shardPlan(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", numShards = 8)
      graft.operators.Sharding.shardBalance(plan, Some("n_chars"))
        .orderBy("shard")
    }),
    // retrieval evaluation (TREC shapes): exact top-10 per query as the
    // system, same-label vectors as binary relevance; recall/MRR/AP/nDCG
    // with decimal-rounded log gains (order-free cross-engine sums)
    "retrieval_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("embedding"),
          col("label").as("qlabel"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("distance").asc, col("vec_id").asc)
      val sys = graft.operators.Similarity.topKJoin(
        emb.select("vec_id", "embedding"),
        queries.select("query_id", "embedding"), k = 10,
        "vec_id", "embedding", "query_id", "embedding")
        .withColumn("rank", row_number().over(w))
        .select("query_id", "vec_id", "rank")
      val truth = queries.select("query_id", "qlabel")
        .join(emb.select(col("vec_id"), col("label")),
          col("qlabel") === col("label"))
        .where(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id")
      graft.operators.RetrievalEval.perQuery(sys, truth, "query_id",
        "vec_id", "rank", k = 10)
        .orderBy("query_id")
    }),
    // corpus-drift monitor: per-source unigram KL from the corpus
    // distribution (add-one smoothed group side, ln terms
    // decimal-rounded before the order-free sum)
    "domain_kl" -> ((s, dir) =>
      graft.operators.Drift.unigramKl(
        t(s, dir, "documents").select("source", "text"), "source", "text")
        .orderBy("source")),
    // deterministic md5-threshold sample (engine-portable, repeatable)
    "hash_sample" -> ((s, dir) =>
      graft.operators.Sampling.hashSample(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "28")
        .orderBy("doc_id")),
    // END-TO-END curation pipeline — the composed "prepare a training
    // slice" flow: language gate → quality gate → exact first-wins
    // dedup → deterministic sample → token accounting. Every stage is
    // an already-oracle-checked operator; this query checks their
    // COMPOSITION end to end.
    "curation_pipeline" -> ((s, dir) => {
      val en = t(s, dir, "documents").filter(col("lang") === "en")
      val gated = en.withColumn("q", qualityFeatures(col("text")))
        .filter(col("q.quality_score") >= 0.55 && col("q.n_tokens") >= 20)
        .select("doc_id", "text")
      val deduped = Dedup.exactFirstWins(gated, Seq("text"), Seq("doc_id"))
      graft.operators.Sampling.hashSample(deduped, "doc_id", "c0")
        .select(col("doc_id"),
          token_count(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),
    // deterministic stratified sampling: per-language md5 thresholds
    // (rebalance the language mix — pure function of the data, unlike
    // sampleBy which moves with partitioning)
    "stratified_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        Map("en" -> 0.25, "de" -> 0.5, "fr" -> 1.0, "es" -> 0.125),
        defaultFraction = 0.5)
        .orderBy("doc_id")),
    // target-mix rebalance: largest achievable downsample total T =
    // min(n_k/p_k), per-key md5-threshold fractions f_k = p_k·T/n_k —
    // one count pass + the narrow deterministic stratified filter
    "domain_mix" -> ((s, dir) =>
      graft.operators.Sampling.rebalanceToMix(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        Map("en" -> 0.3, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2,
          "zh" -> 0.1))
        .orderBy("doc_id")),
    // deterministic epoch-shuffle order: md5-keyed global permutation
    // via the two-phase PrefixScan (no single-task window); parquet
    // input → deterministic lineage → materialize=false
    "shuffle_order" -> ((s, dir) =>
      graft.operators.Sampling.shuffleOrder(
        t(s, dir, "documents").select("doc_id"), "doc_id",
        materialize = false)
        .orderBy("doc_id")),
    // UniMax budget allocation (no-repetition water-filling): 300-doc
    // budget split uniformly across languages up to availability —
    // integer full-take test + fixed-order τ/n fractions, then the
    // deterministic md5-threshold stratified filter
    "unimax_mix" -> ((s, dir) =>
      graft.operators.Sampling.unimaxMix(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        budget = 300L)
        .orderBy("doc_id")),
    // temperature-scaled mixture sampling (mT5/XLM-R family): target
    // mix DERIVED from the data — keep fraction (n_min/n_k)^(1-α) per
    // language, α=0.5 — then the same deterministic md5-threshold
    // stratified filter as domain_mix
    "temperature_mix" -> ((s, dir) =>
      graft.operators.Sampling.temperatureMix(
        t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        alpha = 0.5)
        .orderBy("doc_id")),
    // EXACT per-stratum quota cut in md5 hash order — the "exactly N
    // eval docs per language" contract stratifiedHashSample's
    // fraction thresholds can't give; rank via the GROUPED two-phase
    // scan (no PARTITION BY window — a hot stratum stays parallel)
    "quota_sample" -> ((s, dir) =>
      graft.operators.Sampling.quotaSample(
        t(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang",
        quotas = Map("en" -> 50L, "de" -> 30L, "fr" -> 20L,
          "es" -> 10L, "zh" -> 5L),
        materialize = false)
        .orderBy("doc_id")),
    // data-constrained token-budget planner (epochs > 1, repetition
    // capped at 4 — the "how many epochs of each source fit the
    // budget" report; unimaxMix is the R=1 row-level SAMPLER, this is
    // the PLANNER): water-fill T = 3.5×corpus tokens across sources
    // under cap 4·n_s. Integer prefix-sum water level, one bridged
    // division — fully oracle-replayable
    "epoch_capped_alloc" -> ((s, dir) => {
      val src = t(s, dir, "documents")
        .select(col("source"),
          token_count(col("text")).cast("long").as("n_tok"))
        .groupBy("source").agg(sum("n_tok").as("n_tok"))
        .localCheckpoint() // one text scan serves total + allocation
      val total = src.agg(sum("n_tok")).head.getLong(0)
      graft.operators.Sampling.epochCappedAlloc(src, "source", "n_tok",
        budget = 7L * total / 2L, maxEpochs = 4L)
    }),
    // weighted sampling (Efraimidis-Spirakis with md5-derived
    // uniforms) in roundKeys mode: decimal(18,6) keys + id tiebreak
    // make the winner set engine-reproducible → full oracle (raw-key
    // mode's exact E-S ranking stays spec-asserted)
    "weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("double").as("w")),
        "doc_id", "w", n = 100, roundKeys = true)
        .select("doc_id").orderBy("doc_id")),
    // systematic every-7th sampling under the doc_id total order —
    // two-phase rank + modulo filter, no global ROW_NUMBER window
    "systematic_sample" -> ((s, dir) =>
      graft.operators.Sampling.systematicSample(
        t(s, dir, "documents").select("doc_id", "source"),
        Seq(col("doc_id").asc), every = 7, offset = 3,
        materialize = false)
        .orderBy("doc_id")),
    // DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169):
    // bucketed-ngram LM ratio of a target slice (src1/src2) vs the
    // full corpus, add-1 smoothing over 4096 buckets; md5-portable
    // bucketing + decimal(18,9)-rounded llr make the per-doc sum
    // order-free → the whole fit→score pipeline is oracle-checked
    // (xxhash64 bucketing is the codegen'd default for the scale path)
    "dsir_weights" -> ((s, dir) =>
      // the shared scored-weights artifact (fit + corpus scoring once
      // per process; the Gumbel selection below reads the same frame)
      SharedFrames.dsirLogw(s, dir)
        .withColumn("logw", col("logw").cast("decimal(18,9)").cast("double"))
        .orderBy("doc_id")),
    // DSIR Gumbel top-k resampling (without replacement ∝ exp(logw)):
    // md5-derived uniforms, decimal(18,6) keys + id tiebreak (the
    // weighted_sample determinism contract) → the selection itself is
    // oracle-checked end-to-end
    "dsir_select" -> ((s, dir) =>
      graft.operators.Dsir.gumbelTopK(
        SharedFrames.dsirLogw(s, dir), "doc_id", "logw", k = 100,
        roundKeys = true)
        .withColumn("logw", col("logw").cast("decimal(18,9)").cast("double"))
        .orderBy("doc_id")),
    // Okapi BM25 lexical top-k: postings fit + filtered-postings
    // search; per-term contributions decimal(20,8)-rounded before the
    // per-doc sum, so the score is order-independent despite ln idf
    "bm25_topk" -> ((s, dir) => {
      val idx = graft.operators.Bm25.fit(
        t(s, dir, "documents"), "doc_id", "text")
      graft.operators.Bm25.search(idx,
        Seq("spark", "hash", "window"), k = 20)
    }),
    // search over PERSISTED postings: the fit runs once per process
    // into a saved artifact (the *_saved_knn pattern for the lexical
    // side) — identical answers to bm25_topk, so the same oracle SQL
    // pins it, while the bench line measures load+search only
    "bm25_saved_topk" -> ((s, dir) =>
      graft.operators.Bm25.search(
        graft.operators.Bm25.load(s, bm25SavedRoot(s, dir)),
        Seq("spark", "hash", "window"), k = 20)),
    // measured artifact build (r17 verdict item 1): the BM25 index fit
    // (tokenize → tf postings → dl join → df → corpus stats) runs
    // FRESH on every call — the timed region IS the construction that
    // bm25_saved_topk/bm25_prf/bm25_batch/hybrid_rrf amortize through
    // the saved artifact. Output: one summary row of exact longs over
    // the fitted frames (forcing postings AND docFreq, so the whole
    // fit is inside the timed region).
    "bm25_index_build" -> ((s, dir) => {
      val idx = graft.operators.Bm25.fit(
        t(s, dir, "documents"), "doc_id", "text")
      idx.postings.agg(
          count(lit(1)).cast("long").as("n_postings"),
          countDistinct(col("token")).cast("long").as("n_terms"))
        .select(lit(idx.nDocs).as("n_docs"),
          lit(idx.totalDl).as("total_dl"),
          col("n_terms"), col("n_postings"))
    }),
    // RM3-lite pseudo-relevance feedback: seed search → top-5
    // expansion terms by summed tf·idf in the top-10 feedback docs →
    // expanded search (the recall lever when the seed query
    // undersamples the topic vocabulary)
    "bm25_prf" -> ((s, dir) => {
      // searches over the SAME persisted postings artifact as
      // bm25_saved_topk (load ≡ fit: proven by that query's shared
      // oracle SQL) — bm25_topk alone keeps the inline fit so the
      // fit cost stays measured; the three search variants read the
      // stored index like any production query would
      val idx = graft.operators.Bm25.load(s, bm25SavedRoot(s, dir))
      graft.operators.Bm25.prfSearch(idx,
        Seq("spark", "hash", "window"), k = 20, fbDocs = 10,
        fbTerms = 5)
    }),
    // batch BM25: a query TABLE against the postings in one plan —
    // broadcast (query, term, idf), one (query, doc) aggregation,
    // per-query WindowGroupLimit top-k; scores identical to `search`
    "bm25_batch" -> ((s, dir) => {
      import s.implicits._
      // stored-postings search, like bm25_prf above
      val idx = graft.operators.Bm25.load(s, bm25SavedRoot(s, dir))
      val queries = Seq(
        ("q1", Seq("spark", "hash", "window")),
        ("q2", Seq("data", "join", "fast"))).toDF("qid", "terms")
      graft.operators.Bm25.searchBatch(idx, queries, "qid", "terms",
        k = 10).orderBy("qid", "rank")
    }),
    // hybrid retrieval: BM25 top-20 ∪ vector top-20 fused by
    // reciprocal-rank contributions (decimal-exact, order-free) —
    // rank windows run over the two k-row lists, not the corpus
    "hybrid_rrf" -> ((s, dir) => {
      // stored-postings search, like bm25_prf above
      val idx = graft.operators.Bm25.load(s, bm25SavedRoot(s, dir))
      val lex = graft.operators.Bm25.search(idx,
          Seq("spark", "hash", "window"), k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "rank")
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val q = queryVec(emb)
      val vec = Similarity.topK(emb, "embedding", "vec_id", q, k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("distance").asc, col("vec_id"))))
        .select(col("vec_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, vec), "doc_id", "rank", topN = 10)
    }),
  )

  /** Root of the persisted BM25 index for `dir` — fit runs once per
    * process (SharedFrames.materializedArtifact) and every lexical
    * search variant reopens the same saved postings/docfreq/stats. */
  private def bm25SavedRoot(s: SparkSession, dir: String): String =
    SharedFrames.materializedArtifact(s, dir, "idx_bm25") { p =>
      graft.operators.Bm25.save(graft.operators.Bm25.fit(
        t(s, dir, "documents"), "doc_id", "text"), p)
    }

  def twins: Map[String, String] = Map(
    // summary of the BM25 fit — same toks/tf shapes as bm25Sql's
    // prefix, exact longs only
    "bm25_index_build" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS token FROM toks)
         |  GROUP BY doc_id, token)
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS n_docs,
         |  (SELECT CAST(COALESCE(SUM(len(toks)), 0) AS BIGINT) FROM toks)
         |    AS total_dl,
         |  (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) FROM tf) AS n_terms,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM tf) AS n_postings""".stripMargin,
    // greedy budget fill composed verbatim from the doc_quality twin;
    // the running sum is exact BIGINT addition in an explicit-ROWS
    // window ordered by the (engine-identical) quality score
    "budget_select" ->
      s"""SELECT doc_id, n_tokens, quality_score, budget_used FROM (
         |  SELECT doc_id, n_tokens, quality_score,
         |    CAST(SUM(n_tokens) OVER (
         |      ORDER BY quality_score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS budget_used
         |  FROM ($docQualitySql))
         |WHERE budget_used <= 8000 ORDER BY doc_id""".stripMargin,
    // funnel twin: the five stage predicates from the SAME shared SQL
    // definitions the standalone twins use, cumulative inner joins,
    // scalar-subquery counts
    "curation_funnel" ->
      s"""WITH g AS (SELECT doc_id FROM ($gopherQualitySql)
         |  WHERE n_words >= 30 AND alpha_word_ratio >= 0.8),
         |lmq AS (SELECT doc_id FROM ($lmScoreSql)
         |  WHERE lm_score >= -1.75),
         |dsq AS (SELECT doc_id FROM ($dupSpansSql)
         |  WHERE dup_ratio <= 0.25),
         |keepb AS (SELECT doc_id FROM ($keepBestSurvivorsSql)),
         |dec AS (SELECT doc_id FROM ($decontaminateSql)
         |  WHERE contamination_ratio < 0.05),
         |s3 AS (SELECT g.doc_id FROM g JOIN lmq USING (doc_id)),
         |s4 AS (SELECT s3.doc_id FROM s3 JOIN dsq USING (doc_id)),
         |s5 AS (SELECT s4.doc_id FROM s4 JOIN keepb USING (doc_id)),
         |s6 AS (SELECT s5.doc_id FROM s5 JOIN dec USING (doc_id))
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'total' AS stage,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_surviving
         |  UNION ALL SELECT 2, 'gopher', (SELECT COUNT(*) FROM g)
         |  UNION ALL SELECT 3, 'lm', (SELECT COUNT(*) FROM s3)
         |  UNION ALL SELECT 4, 'dupspan', (SELECT COUNT(*) FROM s4)
         |  UNION ALL SELECT 5, 'neardup', (SELECT COUNT(*) FROM s5)
         |  UNION ALL SELECT 6, 'decontam', (SELECT COUNT(*) FROM s6))
         |ORDER BY stage_idx""".stripMargin,
    // per-source funnel twin: same five shared stage predicates, the
    // cumulative AND counted per documents.source
    "curation_funnel_by_source" ->
      s"""WITH g AS (SELECT doc_id FROM ($gopherQualitySql)
         |  WHERE n_words >= 30 AND alpha_word_ratio >= 0.8),
         |lmq AS (SELECT doc_id FROM ($lmScoreSql)
         |  WHERE lm_score >= -1.75),
         |dsq AS (SELECT doc_id FROM ($dupSpansSql)
         |  WHERE dup_ratio <= 0.25),
         |keepb AS (SELECT doc_id FROM ($keepBestSurvivorsSql)),
         |dec AS (SELECT doc_id FROM ($decontaminateSql)
         |  WHERE contamination_ratio < 0.05)
         |SELECT d.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(COUNT(g.doc_id) AS BIGINT) AS n_gopher,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_lm,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL AND dsq.doc_id IS NOT NULL
         |    THEN 1 END) AS BIGINT) AS n_dupspan,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL AND dsq.doc_id IS NOT NULL
         |    AND keepb.doc_id IS NOT NULL THEN 1 END) AS BIGINT)
         |    AS n_neardup,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL AND dsq.doc_id IS NOT NULL
         |    AND keepb.doc_id IS NOT NULL AND dec.doc_id IS NOT NULL
         |    THEN 1 END) AS BIGINT) AS n_decontam
         |FROM documents d
         |LEFT JOIN g ON d.doc_id = g.doc_id
         |LEFT JOIN lmq ON d.doc_id = lmq.doc_id
         |LEFT JOIN dsq ON d.doc_id = dsq.doc_id
         |LEFT JOIN keepb ON d.doc_id = keepb.doc_id
         |LEFT JOIN dec ON d.doc_id = dec.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // composed from the three shared twins verbatim — same thresholds,
    // same decimal/round conventions as the standalone queries
    "curation_scored" ->
      s"""WITH gq AS (SELECT doc_id, n_words, alpha_word_ratio
         |  FROM ($gopherQualitySql)),
         |lmq AS (SELECT doc_id, lm_score FROM ($lmScoreSql)),
         |dsq AS (SELECT doc_id, dup_ratio FROM ($dupSpansSql))
         |SELECT gq.doc_id, n_words, alpha_word_ratio, lm_score, dup_ratio,
         |  CAST(n_words >= 30 AND alpha_word_ratio >= 0.8
         |    AND lm_score >= -1.75 AND dup_ratio <= 0.25 AS INT) AS keep
         |FROM gq JOIN lmq USING (doc_id) JOIN dsq USING (doc_id)
         |ORDER BY gq.doc_id""".stripMargin,
    "tfidf_sample" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         |dfreq AS (SELECT token, COUNT(*) AS df
         |          FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents)
         |SELECT doc_id, token, tf, df,
         |  CAST(CAST(CAST(tf * (ln((n.n + 1.0) / (df + 1.0)) + 1.0) AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS tfidf
         |FROM tf JOIN dfreq USING (token), n
         |WHERE doc_id < 20 ORDER BY doc_id, token""".stripMargin,

    // rendezvous-shard twin: full HRW argmax replay (md5 per (shard,
    // key), arg_max), then the balance aggregate; skew is the single
    // (weight × ns) / tw double both engines compute identically
    "shard_plan" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |    unnest(range(0, 8)) AS s FROM documents),
        |h2 AS (SELECT doc_id, n_chars, s,
        |    md5(CAST(s AS VARCHAR) || '::' || CAST(doc_id AS VARCHAR))
        |      AS hh FROM h),
        |a AS (SELECT doc_id, CAST(arg_max(s, hh) AS INT) AS shard,
        |    MIN(n_chars) AS n_chars FROM h2 GROUP BY doc_id),
        |per AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(n_chars) AS BIGINT) AS weight FROM a GROUP BY shard),
        |tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw,
        |    CAST(COUNT(*) AS BIGINT) AS ns FROM per)
        |SELECT shard, n_rows, weight,
        |  CAST(weight AS DOUBLE) * CAST(ns AS DOUBLE)
        |    / CAST(tw AS DOUBLE) AS skew
        |FROM per, tot ORDER BY shard""".stripMargin,
    "retrieval_eval" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding, label AS qlabel
         |           FROM embeddings WHERE vec_id < 20),
         |sys AS (
         |  SELECT query_id, vec_id, rank FROM (
         |    SELECT q.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY $sqDist, e.vec_id) AS rank
         |    FROM embeddings e, q)
         |  WHERE rank <= 10),
         |truth AS (SELECT DISTINCT q.query_id, e.vec_id FROM q
         |          JOIN embeddings e ON e.label = q.qlabel
         |          WHERE e.vec_id <> q.query_id),
         |nrel AS (SELECT query_id, COUNT(*) AS n_rel FROM truth GROUP BY query_id),
         |g AS (SELECT r, CAST(round(1.0/(ln(r+1.0)/ln(2.0)), 9) AS DECIMAL(18,9)) AS gain
         |      FROM generate_series(1, 10) t(r)),
         |hits AS (
         |  SELECT s.query_id, s.rank,
         |    row_number() OVER (PARTITION BY s.query_id ORDER BY s.rank) AS hit_idx
         |  FROM sys s JOIN truth t ON s.query_id = t.query_id AND s.vec_id = t.vec_id),
         |hs AS (SELECT h.query_id, COUNT(*) AS hits, MIN(h.rank) AS minrank,
         |    CAST(CAST(SUM(CAST(round(CAST(h.hit_idx AS DOUBLE)/h.rank, 9) AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS sum_prec,
         |    CAST(CAST(SUM(g.gain) AS VARCHAR) AS DOUBLE) AS dcg
         |  FROM hits h JOIN g ON g.r = h.rank GROUP BY h.query_id),
         |uq AS (SELECT DISTINCT query_id FROM sys)
         |SELECT u.query_id, COALESCE(n.n_rel, 0) AS n_rel,
         |  COALESCE(h.hits, 0) AS hits,
         |  CASE WHEN COALESCE(n.n_rel, 0) = 0 THEN 0.0
         |       ELSE CAST(COALESCE(h.hits, 0) AS DOUBLE) / n.n_rel END AS recall,
         |  COALESCE(1.0 / h.minrank, 0.0) AS mrr,
         |  CASE WHEN COALESCE(n.n_rel, 0) = 0 OR h.sum_prec IS NULL THEN 0.0
         |       ELSE h.sum_prec / least(n.n_rel, 10) END AS ap,
         |  CASE WHEN COALESCE(n.n_rel, 0) = 0 OR h.dcg IS NULL THEN 0.0
         |       ELSE h.dcg / (SELECT CAST(CAST(SUM(gain) AS VARCHAR) AS DOUBLE)
         |                     FROM g WHERE r <= least(n.n_rel, 10)) END AS ndcg
         |FROM uq u LEFT JOIN nrel n ON u.query_id = n.query_id
         |LEFT JOIN hs h ON u.query_id = h.query_id
         |ORDER BY u.query_id""".stripMargin,
    "domain_kl" -> {
      val p = "(CAST(c + 1 AS DOUBLE) / CAST(nk + v AS DOUBLE))"
      val q = "(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))"
      s"""WITH tk AS (SELECT source AS k, unnest($toksSql) AS t
         |            FROM documents),
         |cnt AS (SELECT k, t, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM tk GROUP BY k, t),
         |corpus AS (SELECT t, CAST(SUM(c) AS BIGINT) AS ct
         |           FROM cnt GROUP BY t),
         |kt AS (SELECT k, CAST(SUM(c) AS BIGINT) AS nk,
         |         CAST(COUNT(*) AS BIGINT) AS vk FROM cnt GROUP BY k),
         |sc AS (SELECT CAST(SUM(ct) AS BIGINT) AS n,
         |         CAST(COUNT(*) AS BIGINT) AS v FROM corpus),
         |grid AS (SELECT kt.k, kt.nk, kt.vk, corpus.ct, sc.n, sc.v,
         |           COALESCE(cnt.c, 0) AS c
         |         FROM corpus CROSS JOIN kt CROSS JOIN sc
         |         LEFT JOIN cnt ON cnt.k = kt.k AND cnt.t = corpus.t),
         |terms AS (SELECT k, nk, vk,
         |  CAST(round($p * ln($p / $q), 9) AS DECIMAL(18,9)) AS term
         |  FROM grid)
         |SELECT k AS source, MIN(nk) AS n_tokens, MIN(vk) AS vocab_used,
         |  CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE) AS kl
         |FROM terms GROUP BY k ORDER BY source""".stripMargin
    },
    "hash_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) < '28'
        |ORDER BY doc_id""".stripMargin,
    // systematic-sample twin: plain ROW_NUMBER under the same total
    // order, identical modulo cut
    "systematic_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM documents)
        |WHERE (rn - 1) % 7 = 3 ORDER BY doc_id""".stripMargin,
    // E-S twin: fold the 13-hex-char md5 prefix to the same 52-bit
    // uniform, identical -ln(u)/w keys decimal(18,6)-rounded, id
    // tiebreak — both engines rank identical decimals
    "weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS hx
        |  FROM documents WHERE n_chars > 0),
        |u AS (
        |  SELECT doc_id, w,
        |    (list_reduce(list_transform(regexp_extract_all(hx, '.'),
        |       c -> strpos('0123456789abcdef', c) - 1),
        |       (a, b) -> a * 16 + b) + 1.0) / power(16.0, 13) AS uu
        |  FROM h),
        |s AS (
        |  SELECT doc_id, CAST(-ln(uu) / w AS DECIMAL(18,6)) AS k
        |  FROM u ORDER BY k, doc_id LIMIT 100)
        |SELECT doc_id FROM s ORDER BY doc_id""".stripMargin,
    // DSIR twins: md5 3-hex bucket (identical hex both engines), add-1
    // smoothed llr decimal(18,9)-rounded before the order-free per-doc
    // decimal SUM, totals as plain COUNT(*) of the exploded gram sets
    "dsir_weights" ->
      s"""$dsirWeightsCte
         |SELECT doc_id, logw FROM w ORDER BY doc_id""".stripMargin,
    "dsir_select" ->
      s"""$dsirWeightsCte,
         |u AS (SELECT doc_id, logw,
         |    (list_reduce(list_transform(regexp_extract_all(
         |       substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), '.'),
         |       c -> strpos('0123456789abcdef', c) - 1),
         |       (a, b) -> a * 16 + b) + 0.5) / power(16.0, 13) AS uu
         |  FROM w),
         |sel AS (SELECT doc_id, logw,
         |    CAST(logw - ln(-ln(uu)) AS DECIMAL(18,6)) AS k
         |  FROM u ORDER BY k DESC, doc_id LIMIT 100)
         |SELECT doc_id, logw FROM sel ORDER BY doc_id""".stripMargin,
    // composition of the already-green doc_quality, exact_dedup and
    // hash_sample twins, in pipeline order
    "curation_pipeline" ->
      s"""WITH f AS (
         |  SELECT doc_id, text, $toksSql AS toks FROM documents
         |  WHERE lang = 'en'),
         |q AS (
         |  SELECT doc_id, text,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(text) = 0 THEN 0.0
         |      ELSE CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE) END AS alpha_ratio,
         |    CASE WHEN len(text) = 0 THEN 0.0
         |      ELSE CAST(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE) END AS punct_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST(len(list_distinct(list_intersect(toks, ['the','a','and','of','to','in','is','it','that','for']))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
         |  FROM f),
         |gated AS (
         |  SELECT doc_id, text, n_tokens FROM q
         |  WHERE least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.4 +
         |        alpha_ratio * 0.3 +
         |        least(stopword_ratio * 5.0, 1.0) * 0.2 +
         |        (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1 >= 0.55
         |    AND n_tokens >= 20),
         |deduped AS (
         |  SELECT doc_id, n_tokens FROM gated
         |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
         |SELECT doc_id, n_tokens FROM deduped
         |WHERE md5(CAST(doc_id AS VARCHAR)) < 'c0'
         |ORDER BY doc_id""".stripMargin,
    // per-language thresholds mirror stratifiedHashSample's 16-bit hex
    // encoding: 0.25→4000, 0.5→8000, 0.125→2000, 1.0→'g' (above hex)
    "stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE md5(CAST(doc_id AS VARCHAR)) <
        |  CASE lang WHEN 'en' THEN '4000' WHEN 'de' THEN '8000'
        |            WHEN 'fr' THEN 'g' WHEN 'es' THEN '2000'
        |            ELSE '8000' END
        |ORDER BY doc_id""".stripMargin,
    // rebalance twin: identical fixed-order double arithmetic for
    // T = min(n/p) and f = p*T/n, then the same round(f*65536)
    // threshold (half-up ≡ half-away for positives) with the ≥65536 →
    // 'g' keep-all sentinel, probed by the same md5-of-id filter
    "domain_mix" ->
      """WITH mix(k, p) AS (VALUES ('en', 0.3), ('de', 0.2), ('fr', 0.2),
        |    ('es', 0.2), ('zh', 0.1)),
        |cnt AS (
        |  SELECT lang AS k, COUNT(*) AS n FROM documents
        |  WHERE lang IN (SELECT k FROM mix) GROUP BY lang),
        |tt AS (
        |  SELECT min(CAST(n AS DOUBLE) / CAST(p AS DOUBLE)) AS t
        |  FROM cnt JOIN mix USING (k)),
        |thr AS (
        |  SELECT k,
        |    CASE WHEN CAST(round(
        |        CAST(p AS DOUBLE) * (SELECT t FROM tt) / CAST(n AS DOUBLE)
        |        * 65536) AS BIGINT) >= 65536 THEN 'g'
        |      ELSE printf('%04x', CAST(round(
        |        CAST(p AS DOUBLE) * (SELECT t FROM tt) / CAST(n AS DOUBLE)
        |        * 65536) AS BIGINT)) END AS t
        |  FROM cnt JOIN mix USING (k))
        |SELECT doc_id, lang FROM documents JOIN thr ON lang = thr.k
        |WHERE md5(CAST(doc_id AS VARCHAR)) < thr.t
        |ORDER BY doc_id""".stripMargin,
    // same md5 key, same (key, id) total order
    "shuffle_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |    AS BIGINT) AS shuffle_pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    // UniMax twin: water level via integer prefix sums over (n, k)
    // order — full take iff n·(remaining keys) ≤ remaining budget —
    // then τ/n fractions in the same fixed double order and the
    // domain_mix threshold arithmetic
    "unimax_mix" ->
      """WITH cnt AS (
        |  SELECT lang AS k, CAST(COUNT(*) AS BIGINT) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |ord AS (
        |  SELECT k, n, row_number() OVER (ORDER BY n, k) AS j,
        |    CAST(COALESCE(SUM(n) OVER (ORDER BY n, k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS pre,
        |    COUNT(*) OVER () AS m
        |  FROM cnt),
        |flg AS (SELECT *, (n * (m - j + 1) <= 300 - pre) AS takefull
        |        FROM ord),
        |cut AS (SELECT MIN(j) AS jc FROM flg WHERE NOT takefull),
        |tau AS (
        |  SELECT CAST(300 - f.pre AS DOUBLE) / (f.m - f.j + 1) AS tau
        |  FROM flg f WHERE f.j = (SELECT jc FROM cut)),
        |fr AS (
        |  SELECT k, n, CASE
        |      WHEN (SELECT jc FROM cut) IS NULL
        |        OR j < (SELECT jc FROM cut) THEN CAST(1.0 AS DOUBLE)
        |      ELSE (SELECT tau FROM tau) / CAST(n AS DOUBLE) END AS f
        |  FROM flg),
        |thr AS (
        |  SELECT k,
        |    CASE WHEN CAST(round(f * 65536) AS BIGINT) >= 65536 THEN 'g'
        |      ELSE printf('%04x', CAST(round(f * 65536) AS BIGINT)) END AS t
        |  FROM fr)
        |SELECT doc_id, lang FROM documents JOIN thr ON lang = thr.k
        |WHERE md5(CAST(doc_id AS VARCHAR)) < thr.t
        |ORDER BY doc_id""".stripMargin,
    // same threshold arithmetic as domain_mix, with the mix derived
    // in-query: f_k = power(nmin/n, 1-α), fixed operation order
    "temperature_mix" ->
      """WITH cnt AS (
        |  SELECT lang AS k, COUNT(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |nm AS (SELECT MIN(n) AS nmin FROM cnt),
        |thr AS (
        |  SELECT k,
        |    CASE WHEN CAST(round(power(
        |        CAST((SELECT nmin FROM nm) AS DOUBLE) / CAST(n AS DOUBLE),
        |        0.5) * 65536) AS BIGINT) >= 65536 THEN 'g'
        |      ELSE printf('%04x', CAST(round(power(
        |        CAST((SELECT nmin FROM nm) AS DOUBLE) / CAST(n AS DOUBLE),
        |        0.5) * 65536) AS BIGINT)) END AS t
        |  FROM cnt)
        |SELECT doc_id, lang FROM documents JOIN thr ON lang = thr.k
        |WHERE md5(CAST(doc_id AS VARCHAR)) < thr.t
        |ORDER BY doc_id""".stripMargin,
    // quota twin: the same md5-order rank, expressed as the window
    // DuckDB can afford (the Spark side uses the grouped two-phase
    // scan precisely to avoid this window's single-task-per-key plan)
    "quota_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30
        |  WHEN 'fr' THEN 20 WHEN 'es' THEN 10 WHEN 'zh' THEN 5
        |  ELSE 0 END
        |ORDER BY doc_id""".stripMargin,
    // epoch_capped_alloc twin: the water-filling closed form — keys
    // sorted by (cap, key), integer prefix sums, a key is capped iff
    // EVERY key up to it passes the integer full-take test
    // cap·(nk−j+1) ≤ T − (pref−cap) (the loop's one-way flag as a
    // bool_and running window), fractional keys share the post-cap
    // remainder in ONE double division; alloc and epochs bridged at
    // decimal(18,9) in the same operation order as the Scala.
    "epoch_capped_alloc" ->
      s"""WITH n AS (SELECT source,
         |    CAST(SUM(len($toksSql)) AS BIGINT) AS n_tok
         |  FROM documents WHERE source IS NOT NULL GROUP BY source),
         |t AS (SELECT (7 * SUM(n_tok)) // 2 AS tb,
         |    COUNT(*) AS nk FROM n),
         |s AS (SELECT source, n_tok, 4 * n_tok AS cap,
         |    ROW_NUMBER() OVER (ORDER BY 4 * n_tok, source) AS j,
         |    SUM(4 * n_tok) OVER (ORDER BY 4 * n_tok, source
         |      ROWS UNBOUNDED PRECEDING) AS pref
         |  FROM n),
         |f AS (SELECT s.*, t.tb, t.nk,
         |    bool_and(cap * (nk - j + 1) <= tb - (pref - cap))
         |      OVER (ORDER BY j ROWS UNBOUNDED PRECEDING) AS capped
         |  FROM s, t),
         |g AS (SELECT COALESCE(MAX(CASE WHEN capped THEN pref END), 0)
         |      AS cappedsum,
         |    COALESCE(SUM(CASE WHEN capped THEN 1 END), 0) AS ncap
         |  FROM f),
         |a AS (SELECT source, n_tok, cap, capped,
         |    CAST(CAST(CAST(CASE WHEN capped THEN CAST(cap AS DOUBLE)
         |      ELSE CAST(tb - g.cappedsum AS DOUBLE) /
         |           CAST(nk - g.ncap AS DOUBLE) END
         |      AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS alloc
         |  FROM f, g)
         |SELECT source, n_tok AS n_tokens, cap AS cap_tokens,
         |  alloc AS alloc_tokens,
         |  CASE WHEN n_tok = 0 THEN 0.0
         |    ELSE CAST(CAST(CAST(alloc / CAST(n_tok AS DOUBLE)
         |      AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) END AS epochs,
         |  capped
         |FROM a ORDER BY source""".stripMargin,
    // BM25 twin: same fit/score arithmetic in the same operation
    // order; inexact literals (k1=1.2, k1+1=2.2) enter via string→
    // double parse (correctly rounded on both engines), contributions
    // are decimal(20,8) before SUM (exact, order-free), and the final
    // score crosses the decimal→double bridge via VARCHAR
    "bm25_topk" -> bm25Sql,
    // the saved-postings search answers identically — same twin
    "bm25_saved_topk" -> bm25Sql,
    // PRF twin: the bm25 CTE arithmetic verbatim, run twice — seed
    // scoring picks the top-10 feedback docs (ordered by the BRIDGED
    // double score, like the engine), candidate terms rank by exact
    // tf-sum × idf rounded decimal(20,8) (ties by token asc), and the
    // union term set re-scores for the final top-20
    "bm25_prf" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS token FROM toks)
         |  GROUP BY doc_id, token),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |stats AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM dl),
         |post AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dl.dl
         |  FROM tf JOIN dl USING (doc_id)),
         |dfx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM post GROUP BY token),
         |seedt AS (SELECT unnest(['spark', 'hash', 'window']) AS token),
         |idf1 AS (
         |  SELECT d.token,
         |    ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - df + 0.5)
         |      / (df + 0.5)) AS idf
         |  FROM dfx d JOIN seedt USING (token)),
         |fb AS (SELECT doc_id FROM (
         |  SELECT p.doc_id,
         |    CAST(CAST(SUM(CAST(
         |      i.idf * (CAST(p.tf AS DOUBLE) * CAST('2.2' AS DOUBLE))
         |        / (CAST(p.tf AS DOUBLE) + CAST('1.2' AS DOUBLE) *
         |          (0.25 + 0.75 * CAST(p.dl AS DOUBLE)
         |            / (SELECT avgdl FROM stats)))
         |      AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS s
         |  FROM post p JOIN idf1 i USING (token)
         |  GROUP BY p.doc_id
         |  ORDER BY s DESC, p.doc_id LIMIT 10)),
         |cand AS (SELECT token FROM (
         |  SELECT p.token,
         |    CAST(CAST(CAST(SUM(p.tf) AS BIGINT) AS DOUBLE) *
         |      ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - d.df + 0.5)
         |        / (d.df + 0.5)) AS DECIMAL(20,8)) AS w
         |  FROM post p
         |  JOIN fb USING (doc_id)
         |  JOIN dfx d ON d.token = p.token
         |  WHERE p.token NOT IN (SELECT token FROM seedt)
         |  GROUP BY p.token, d.df
         |  ORDER BY w DESC, p.token ASC LIMIT 5)),
         |allt AS (SELECT token FROM seedt UNION SELECT token FROM cand),
         |idf2 AS (
         |  SELECT d.token,
         |    ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - df + 0.5)
         |      / (df + 0.5)) AS idf
         |  FROM dfx d JOIN allt USING (token))
         |SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
         |  CAST(CAST(SUM(CAST(
         |    i.idf * (CAST(p.tf AS DOUBLE) * CAST('2.2' AS DOUBLE))
         |      / (CAST(p.tf AS DOUBLE) + CAST('1.2' AS DOUBLE) *
         |        (0.25 + 0.75 * CAST(p.dl AS DOUBLE)
         |          / (SELECT avgdl FROM stats)))
         |    AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS score
         |FROM post p JOIN idf2 i USING (token)
         |GROUP BY p.doc_id
         |ORDER BY score DESC, p.doc_id LIMIT 20""".stripMargin,
    "bm25_batch" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS token FROM toks)
         |  GROUP BY doc_id, token),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
         |stats AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) /
         |      CAST(COUNT(*) AS DOUBLE) AS avgdl
         |  FROM dl),
         |post AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dl.dl
         |  FROM tf JOIN dl USING (doc_id)),
         |q AS (SELECT DISTINCT qid, lower(term) AS token FROM (
         |    SELECT 'q1' AS qid, unnest(['spark','hash','window']) AS term
         |    UNION ALL
         |    SELECT 'q2' AS qid, unnest(['data','join','fast']) AS term)),
         |dfreq AS (SELECT token, COUNT(*) AS df FROM post GROUP BY token),
         |qidf AS (
         |  SELECT q.qid, q.token,
         |    ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - df + 0.5)
         |      / (df + 0.5)) AS idf
         |  FROM q JOIN dfreq USING (token)),
         |scored AS (
         |  SELECT i.qid, p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
         |    CAST(CAST(SUM(CAST(
         |      i.idf * (CAST(p.tf AS DOUBLE) * CAST('2.2' AS DOUBLE))
         |        / (CAST(p.tf AS DOUBLE) + CAST('1.2' AS DOUBLE) *
         |          (0.25 + 0.75 * CAST(p.dl AS DOUBLE)
         |            / (SELECT avgdl FROM stats)))
         |      AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS score
         |  FROM post p JOIN qidf i USING (token)
         |  GROUP BY i.qid, p.doc_id)
         |SELECT qid, doc_id, n_matched, score, rank FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,
    // hybrid lexical+vector fusion: both ranked lists come from the
    // SHARED twins (bm25Sql + the squared-L2 top-k shape), fused by
    // reciprocal-rank contributions — 1/(60+rank) can never round to
    // an exact decimal half, so decimal(18,9) rounds identically on
    // both engines and the sum is order-free
    "hybrid_rrf" ->
      s"""WITH lex AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM ($bm25Sql)),
         |vec AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY dist, doc_id) AS rank
         |  FROM (
         |    SELECT e.vec_id AS doc_id, $sqDist AS dist
         |    FROM embeddings e,
         |      (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |    ORDER BY dist, e.vec_id LIMIT 20)),
         |u AS (
         |  SELECT doc_id, CAST(CAST(1 AS DOUBLE) /
         |    (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))
         |    AS DECIMAL(18,9)) AS c FROM lex
         |  UNION ALL
         |  SELECT doc_id, CAST(CAST(1 AS DOUBLE) /
         |    (CAST(60 AS DOUBLE) + CAST(rank AS DOUBLE))
         |    AS DECIMAL(18,9)) AS c FROM vec)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
         |  CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE) AS rrf_score
         |FROM u GROUP BY doc_id
         |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,
  )
}
