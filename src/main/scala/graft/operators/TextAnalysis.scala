package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-level text statistics (SURVEY §7.1 step 7: tokenize / tf-idf
  * via relational ops). Row-level text features live in
  * [[graft.functions.TextFunctions]]; these operators aggregate across
  * the corpus.
  */
object TextAnalysis {

  /** Per-(doc, term) TF-IDF with smooth idf:
    * `tfidf = tf × (ln((N+1)/(df+1)) + 1)` (sklearn's smoothed
    * convention). Returns (idCol, token, tf, df, tfidf).
    *
    * Scale shape: explode → two hash aggregations (tf by (doc, token),
    * df by token — both partial-aggregated) → equi-join on token with
    * NO forced broadcast: at 100 TB the distinct-token table is far
    * beyond broadcast range, so the join is left to AQE, which picks a
    * broadcast join at runtime exactly when the df side is actually
    * small. `docCount` is the only driver-side scalar. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = df.count()
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select(idCol, "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("token"))
      .withColumn("tfidf",
        col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0))
      .select(col(idCol), col("token"), col("tf"), col("df"), col("tfidf"))
  }

  /** Sliding-window document chunking — the pre-embedding / RAG
    * windowing step: split each document into token windows of
    * `windowTokens`, starting every `strideTokens` (overlap =
    * window − stride). Chunk starts are `0, s, 2s, …` while the start
    * is inside the document, so every token is covered (stride ≤
    * window is required for that guarantee) and the final chunks may
    * be shorter. Output: `(idCol, chunk_id, textCol, n_tokens)` with
    * `chunk_id` 0-based in document order; a document always yields at
    * least one chunk (possibly just itself, shorter than the window).
    *
    * Scale shape: a single narrow projection + generate — tokenize
    * once, compute the start list per row, explode, slice. No shuffle,
    * no window function, no join; stays inside whole-stage codegen and
    * scales embarrassingly at any corpus size. Token = whitespace word
    * here; callers with a real tokenizer chunk over its output ids the
    * same way. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, strideTokens: Int): DataFrame = {
    require(windowTokens >= 1, "windowTokens must be >= 1")
    require(strideTokens >= 1 && strideTokens <= windowTokens,
      "strideTokens must be in [1, windowTokens] (a stride past the " +
        "window would silently skip tokens)")
    val toks = split(col(textCol), " ")
    df.select(col(idCol), toks.as("__toks"))
      .select(col(idCol),
        posexplode(
          transform(
            sequence(lit(0L),
              floor((size(col("__toks")) - lit(1)) /
                lit(strideTokens.toDouble)).cast("long")),
            i => slice(col("__toks"),
              (i * strideTokens + 1).cast("int"), lit(windowTokens))))
          .as(Seq("__cid", "__chunk")))
      .select(col(idCol), col("__cid").cast("long").as("chunk_id"),
        array_join(col("__chunk"), " ").as(textCol),
        size(col("__chunk")).cast("long").as("n_tokens"))
  }

  /** Corpus vocabulary with document frequencies, most common first. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 1000): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), col("token")).limit(topN)

  /** Character-bigram language-model score — the offline stand-in for
    * the KenLM/CCNet perplexity quality filter: fit a character-bigram
    * MLE model ON THE CORPUS ITSELF and score each document by its
    * average log-probability `mean ln P(c_i | c_{i-1})`. Documents of
    * gibberish, wrong-alphabet, or base64-ish content sit far below
    * the corpus norm and get filtered; higher = more typical.
    *
    * Scale shape — fit/score split, like the IVF index:
    *   1. FIT: one explode → partial-aggregated bigram count. The
    *      model is bounded by DISTINCT bigrams (≤ charset², ~2k for
    *      latin text, ~10⁷ worst-case CJK), independent of corpus
    *      size, so it is collected and broadcast; prefix counts are
    *      derived driver-side (cf(c) = Σ cp(c·)) — no second pass,
    *      no join. The collect makes the operator EAGER at call time.
    *   2. SCORE: a pure per-row map — the codegen'd
    *      [[graft.functions.CharBigramLmScore]] kernel walks the
    *      document's bigrams IN POSITION ORDER against the embedded
    *      hash map (a reference object, like the centroid matrices)
    *      and folds the ln terms sequentially, so the floating-point
    *      result is partitioning-independent. Zero shuffles, zero
    *      joins, no UDF; at 100 TB the scoring pass is embarrassingly
    *      parallel and the only cluster traffic is the one slim count
    *      aggregation plus the model riding the task binary.
    * Scores are decimal(18,6)-rounded: ln differs by ulps across
    * libms. Documents shorter than 2 chars have no bigrams and drop
    * out. Returns (idCol, n_bigrams, lm_score). */
  def charBigramScore(df: DataFrame, idCol: String,
      textCol: String, minCount: Long = 1L,
      maxModelRows: Int = 2000000): DataFrame = {
    val model = charBigramModel(df, textCol, minCount, maxModelRows)
    scoreWithBigramModel(df, idCol, textCol, model)
  }

  /** FIT stage of [[charBigramScore]], exposed for streaming use: fit
    * once on a bootstrap corpus, apply to each micro-batch with
    * [[scoreWithBigramModel]] (a stream cannot re-fit per trigger —
    * and a drifting model would make scores incomparable anyway).
    *
    * The collect is model-bounded, not corpus-bounded — but "model"
    * is only as small as the charset²: latin text is ~2k distinct
    * bigrams, a multilingual CJK-heavy corpus reaches 10⁷–10⁸. The
    * same driver-bound guard as [[wordLmModel]] therefore applies:
    * `limit(maxModelRows+1)` keeps even the failing path bounded, the
    * `require` names the two dials (prune harder via `minCount` — and
    * move any oracle twin's HAVING threshold in LOCKSTEP — or raise
    * `maxModelRows` deliberately). Bigrams pruned by `minCount` score
    * as unseen (`ln(floorProb)`) downstream AND are excluded from the
    * prefix denominators, exactly as if they never occurred. */
  def charBigramModel(df: DataFrame,
      textCol: String, minCount: Long = 1L,
      maxModelRows: Int = 2000000): java.util.HashMap[String, java.lang.Double] = {
    require(minCount >= 1L, "minCount must be >= 1")
    require(maxModelRows >= 1, "maxModelRows must be >= 1")
    val counted = df
      .select(lower(col(textCol)).as("__lc"))
      .filter(length(col("__lc")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(__lc) - 1), i -> substring(__lc, i, 2))"))
        .as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cp"))
    val pairCounts: Array[(String, Long)] = counted
      .where(col("cp") >= minCount)
      .limit(maxModelRows + 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(pairCounts.length <= maxModelRows,
      s"distinct-bigram table exceeds maxModelRows=$maxModelRows — the " +
        "model no longer fits the driver at this corpus/charset size: " +
        "raise minCount (move any oracle twin's HAVING threshold in " +
        "LOCKSTEP) or raise maxModelRows deliberately")
    // prefix keyed by first CODEPOINT (not UTF-16 unit): two astral
    // chars sharing a high surrogate must not pool their counts
    val prefCounts = new java.util.HashMap[Integer, Long]()
    pairCounts.foreach { case (b, c) =>
      prefCounts.merge(b.codePointAt(0), c, (x, y) => x + y)
    }
    val lnp =
      new java.util.HashMap[String, java.lang.Double](pairCounts.length * 2)
    pairCounts.foreach { case (b, c) =>
      lnp.put(b, java.lang.Double.valueOf(
        math.log(c.toDouble / prefCounts.get(b.codePointAt(0)).toDouble)))
    }
    lnp
  }

  /** SCORE stage of [[charBigramScore]] against an already-fit model.
    * Bigrams absent from the model score `ln(floorProb)` (unseen —
    * streaming batches WILL contain bigrams the bootstrap corpus
    * lacked; the batch path never hits this because it fits on the
    * same corpus it scores). An empty model yields an empty result
    * frame (schema preserved), not an error. */
  def scoreWithBigramModel(df: DataFrame, idCol: String, textCol: String,
      model: java.util.HashMap[String, java.lang.Double],
      floorProb: Double = 1e-9): DataFrame = {
    val lc = df
      .select(col(idCol), lower(col(textCol)).as("__lc"))
      .filter(length(col("__lc")) >= 2)
    if (model.isEmpty)
      lc.select(col(idCol), lit(0L).as("n_bigrams"),
        lit(0.0).as("lm_score")).limit(0)
    else
      lc.withColumn("__sc", graft.functions.TextFunctions
          .char_bigram_lm(col("__lc"), model, math.log(floorProb)))
        .select(col(idCol), col("__sc.n_bigrams").as("n_bigrams"),
          col("__sc.mean_lnp")
            .cast("decimal(18,6)").cast("double").as("lm_score"))
  }

  /** Pruned word n-gram count tables for stupid-backoff scoring (see
    * [[wordLmScore]]): unigram occurrence counts (unpruned — bounded
    * by vocabulary), bigram/trigram counts kept only at
    * `minCountBi`/`minCountTri` occurrences (the standard n-gram-model
    * prune; at 100 TB the UNpruned trigram table is corpus-sized, the
    * pruned one is the model you can actually broadcast — real
    * stupid-backoff deployments shard even that, this single-map form
    * is the local-JVM stand-in, same contract as the char-bigram and
    * centroid models). `minCountBi <= minCountTri` is REQUIRED: it
    * guarantees every surviving trigram's context bigram survived too,
    * so the scoring kernel's context lookup cannot miss. Three
    * partial-aggregated explode passes; the collects are
    * model-bounded, not corpus-bounded. */
  final case class WordLmModel(
      uni: java.util.HashMap[String, java.lang.Long],
      bi: java.util.HashMap[String, java.lang.Long],
      tri: java.util.HashMap[String, java.lang.Long],
      total: Long)

  def wordLmModel(df: DataFrame, textCol: String,
      minCountBi: Long = 2L, minCountTri: Long = 2L,
      maxModelRows: Int = 2000000): WordLmModel = {
    require(minCountBi >= 1L && minCountTri >= 1L,
      "prune thresholds must be >= 1")
    require(minCountBi <= minCountTri,
      s"minCountBi ($minCountBi) must be <= minCountTri ($minCountTri):" +
        " a surviving trigram's context bigram must survive too, or" +
        " backoff scoring has no denominator")
    require(maxModelRows >= 1, "maxModelRows must be >= 1")
    def grams(width: Int, minCount: Long) = {
      val g =
        if (width == 1) df.select(explode(tokens(col(textCol))).as("g"))
        else df.select(explode(shingles(col(textCol), width)).as("g"))
      // driver-bound guard: the collect is pruned-table-bounded, not
      // corpus-bounded — but "pruned" is only as small as the
      // thresholds make it. limit(cap+1) keeps even the FAILING path
      // bounded (no cap-sized OOM while diagnosing), and one extra
      // row is enough to prove the violation.
      val rows = g.groupBy("g").agg(count(lit(1)).as("c"))
        .where(col("c") >= minCount)
        .limit(maxModelRows + 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      require(rows.length <= maxModelRows,
        s"pruned $width-gram table exceeds maxModelRows=$maxModelRows " +
          "— the model no longer fits the driver at this corpus size: " +
          "raise minCountBi/minCountTri (move the oracle twin's HAVING " +
          "thresholds in LOCKSTEP) or raise maxModelRows deliberately")
      rows
    }
    val uniRows = grams(1, 1L)
    val uni = new java.util.HashMap[String, java.lang.Long](
      uniRows.length * 2)
    var total = 0L
    uniRows.foreach { case (g, c) =>
      uni.put(g, java.lang.Long.valueOf(c)); total += c
    }
    val bi = new java.util.HashMap[String, java.lang.Long]()
    grams(2, minCountBi).foreach { case (g, c) =>
      bi.put(g, java.lang.Long.valueOf(c)) }
    val tri = new java.util.HashMap[String, java.lang.Long]()
    grams(3, minCountTri).foreach { case (g, c) =>
      tri.put(g, java.lang.Long.valueOf(c)) }
    WordLmModel(uni, bi, tri, total)
  }

  /** Word-level stupid-backoff LM score per document — the closer
    * analog of CCNet's 5-gram KenLM filter than [[charBigramScore]]
    * (whose char bigrams are a deliberately tiny stand-in): fit
    * pruned trigram/bigram/unigram MLE tables on the corpus itself
    * ([[wordLmModel]]), then score each document by its mean
    * ln-stupid-backoff probability (Brants et al. 2007: no
    * discounting, a fixed α per backoff step — built for exactly this
    * "count on the whole web, score everything" regime).
    *
    * Same fit/score scale shape as the char LM: the fit is three
    * partial-aggregated count passes whose pruned results broadcast;
    * the score is a zero-shuffle codegen'd per-row kernel
    * ([[graft.functions.WordLmScore]]) folding ln terms in position
    * order. Scores are decimal(18,6)-rounded (ln ulps across libms);
    * token-less documents drop out. Returns
    * (idCol, n_tokens, lm_score). */
  def wordLmScore(df: DataFrame, idCol: String, textCol: String,
      minCountBi: Long = 2L, minCountTri: Long = 2L,
      alpha: Double = 0.4): DataFrame =
    scoreWithWordLm(df, idCol, textCol,
      wordLmModel(df, textCol, minCountBi, minCountTri), alpha)

  /** SCORE stage of [[wordLmScore]] against an already-fit model
    * (streaming: fit on a bootstrap corpus, score micro-batches). */
  def scoreWithWordLm(df: DataFrame, idCol: String, textCol: String,
      model: WordLmModel, alpha: Double = 0.4,
      floorProb: Double = 1e-9): DataFrame = {
    val hasToks = df
      .select(col(idCol), col(textCol).as("__t"))
      .filter(size(tokens(col("__t"))) >= 1)
    if (model.uni.isEmpty)
      hasToks.select(col(idCol), lit(0L).as("n_tokens"),
        lit(0.0).as("lm_score")).limit(0)
    else
      hasToks.withColumn("__sc", graft.functions.TextFunctions
          .word_lm(col("__t"), model.uni, model.bi, model.tri,
            model.total, alpha, math.log(floorProb)))
        .select(col(idCol), col("__sc.n_tokens").as("n_tokens"),
          col("__sc.mean_lnp")
            .cast("decimal(18,6)").cast("double").as("lm_score"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document with the char-bigram LM and split the corpus into
    * `head` / `middle` / `tail` terciles by score — head (lowest
    * perplexity = highest mean log-prob) is the "cleanest third" that
    * CCNet feeds to training first. Returns (idCol, n_bigrams,
    * lm_score, bucket); documents too short to score drop out (as in
    * [[charBigramScore]]).
    *
    * Scale shape: the scoring pass is the zero-shuffle kernel map of
    * [[charBigramScore]]; the tercile cut-points are two driver-side
    * scalars. With `approx = false` they come from [[Quantiles.exact]]
    * (rank window — EXACT and oracle-comparable, but the constant-key
    * window sorts all scores in one task: fine to ~10⁸ rows, not at
    * 100 TB). With `approx = true` they come from a t-digest
    * `approx_percentile` — one partial-aggregated pass, the 100 TB
    * default; bucket edges then carry sketch error, which CCNet
    * itself tolerates (its buckets are heuristic thirds).
    * Contract: the end-to-end reference `SharedFramesSpec` checks the
    * registry's shared-frame path ([[perplexityBucketsFromScored]])
    * against; no program caller. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      approx: Boolean = false): DataFrame =
    perplexityBucketsFromScored(charBigramScore(df, idCol, textCol),
      approx)

  /** [[perplexityBuckets]] over an ALREADY-SCORED frame (any frame
    * with an `lm_score` column — typically a stored scored-docs table,
    * [[graft.SharedFrames.lmScoredDocs]]): fit + score once per
    * corpus, derive buckets and every other LM-threshold consumer from
    * the slim artifact. */
  def perplexityBucketsFromScored(scored: DataFrame,
      approx: Boolean = false): DataFrame = {
    // nothing scorable (every doc under 2 chars): no terciles exist —
    // empty frame with the right schema, not an index error
    if (scored.isEmpty)
      return scored.withColumn("bucket", lit("head")).limit(0)
    val ps = Seq(1.0 / 3, 2.0 / 3)
    val thr: Seq[Double] =
      if (approx) {
        val r = scored.agg(percentile_approx(col("lm_score"),
          array(ps.map(lit): _*), lit(10000))).head
        r.getSeq[Double](0).toSeq
      } else
        Quantiles.exact(scored.withColumn("__k", lit(1)), Seq("__k"),
          "lm_score", ps)
          .orderBy("p").select("quantile").collect().map(_.getDouble(0)).toSeq
    val (tLo, tHi) = (thr(0), thr(1))
    scored.withColumn("bucket",
      when(col("lm_score") >= tHi, lit("head"))
        .when(col("lm_score") >= tLo, lit("middle"))
        .otherwise(lit("tail")))
  }

  /** Gopher-style repetition signal: per document, the share of
    * bigrams taken by the single most repeated bigram — boilerplate,
    * keyword-stuffed, and loop-generated pages score high and get
    * filtered before training. Returns (idCol, n_bigrams,
    * top_bigram_n, top_bigram_ratio); documents with < 2 tokens have
    * no bigrams and drop out (nothing to measure).
    *
    * Scale shape: explode + two partial-aggregated hash aggregations
    * keyed by (doc, bigram) then doc — the ratio is one double
    * division, so the oracle matches bit-for-bit. */
  def repetition(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), explode(shingles(col(textCol), 2)).as("bigram"))
      .groupBy(idCol, "bigram").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(
        sum("c").cast("long").as("n_bigrams"),
        max("c").as("top_bigram_n"))
      .withColumn("top_bigram_ratio",
        col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))

  /** Train a byte-pair-encoding merge list on the corpus (Sennrich,
    * Haddow, Birch, ACL 2016 — the subword-tokenizer trainer): start
    * from codepoint symbols and repeatedly merge the most frequent
    * adjacent pair, weighted by word frequency.
    *
    * Scale shape — the standard tokenizer-training factorization (what
    * keeps BPE trainable on a 100 TB corpus): the corpus is touched by
    * exactly ONE explode + partial-aggregated word-count pass; the
    * iterative merge loop then runs driver-side on the |vocab|-sized
    * WEIGHTED dictionary (capped at `maxVocabWords` by frequency —
    * the tail it drops barely moves pair counts), never on rows.
    * Deterministic: ties break by (count desc, pair lexicographic).
    *
    * Returns the ordered merge list; feed [[bpeRanks]] +
    * [[graft.functions.BpeSegment]] to tokenize with it. */
  def trainBpeMerges(df: DataFrame, textCol: String, numMerges: Int,
      maxVocabWords: Int = 100000): Seq[(String, String)] = {
    require(numMerges >= 1 && maxVocabWords >= 1,
      "need positive numMerges and maxVocabWords")
    var vocab: Array[(Array[String], Long)] = df
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(maxVocabWords)
      .collect().map { r =>
        val cps = r.getString(0).codePoints().toArray
          .map(cp => new String(Character.toChars(cp)))
        (cps, r.getLong(1))
      }
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = vocab.isEmpty
    while (merges.length < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, c) => (mergePair(syms, best), c) }
      }
    }
    // Replay-equivalence guard: the bpe_trained_tokens oracle twin
    // applies merges in RANK ORDER (one replace() per merge), which
    // matches the kernel's greedy lowest-rank-first segmentation only
    // when no symbol string is derivable by two DISTINCT trained
    // merges (e.g. (a,bc) and (ab,c) both yielding "abc" would let a
    // lower-rank pair become newly applicable after a higher-rank
    // merge — greedy applies it, rank-order replay does not). Assert
    // it here so a violating corpus fails with a pointed message
    // instead of an opaque twin hash mismatch.
    val dupProducts = merges.groupBy { case (a, b) => a + b }
      .filter(_._2.length > 1)
    require(dupProducts.isEmpty,
      s"trained merge list violates the rank-order-replay assumption: " +
        s"symbol string(s) ${dupProducts.keys.mkString(", ")} are each " +
        "derivable by two distinct merges; the bpe_trained_tokens " +
        "DuckDB twin's rank-order replay would diverge from greedy " +
        "segmentation — retrain with different numMerges or drop the " +
        "twin to rows-only for this corpus")
    merges.toSeq
  }

  private def mergePair(syms: Array[String],
      pair: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == pair._1 &&
          syms(j + 1) == pair._2) {
        out += pair._1 + pair._2; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** Merge list → rank table for [[graft.functions.BpeSegment]]. */
  def bpeRanks(
      merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + " " + b, Integer.valueOf(i))
    }
    m
  }

  /** Bigram pointwise mutual information — collocation scoring
    * (`pmi = ln(p(w1 w2) / (p(w1)·p(w2)))`), the standard signal for
    * phrase mining / tokenizer-merge candidates over a crawl corpus.
    * Returns (w1, w2, pair_count, pmi) for bigrams seen ≥ `minCount`
    * times.
    *
    * Scale shape: ONE lazy plan — two explode + hash-aggregate passes
    * (unigrams, bigrams — both partial-aggregated, their exchanges
    * reused for the totals), then two equi-joins of the bigram table
    * against the unigram counts (no forced broadcast there — AQE
    * decides) and a broadcast cross-join of the 1-row corpus totals.
    * Nothing runs at construction time and no `.head` sits in the hot
    * path: the totals that were previously two eager driver jobs (and
    * forced the explodes to run twice more in the final join) now ride
    * the same job. */
  def bigramPmi(df: DataFrame, textCol: String,
      minCount: Long = 2L): DataFrame = {
    val uni = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val biAll = df.select(explode(shingles(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("pair_count"))
    // corpus totals via ONE extra no-explode pass: the exploded-row
    // totals equal the sums of the per-row array sizes (sum skips
    // null arrays exactly as explode drops them), so a single narrow
    // aggregate replaces re-running both explode+aggregate subtrees.
    // Broadcast-crossJoined into every surviving bigram row; an
    // empty/untokenizable corpus yields zero bigram rows, so the null
    // totals never reach the division.
    val totals = broadcast(df.agg(
      sum(size(shingles(col(textCol), 2))).cast("double").as("__nbi"),
      sum(size(tokens(col(textCol)))).cast("double").as("__nuni")))
    biAll.filter(col("pair_count") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("tok").as("w1"), col("c").as("__c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("__c2")), Seq("w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("pair_count"),
        log((col("pair_count").cast("double") / col("__nbi")) /
          ((col("__c1").cast("double") / col("__nuni")) *
            (col("__c2").cast("double") / col("__nuni")))).as("pmi"))
  }

  /** Distinct-n diversity report per key (Li et al. 2016's
    * "distinct-n", the text-diversity staple): total word n-gram
    * OCCURRENCES, DISTINCT n-grams, and their ratio, per key — a low
    * distinct-n flags template spam / boilerplate floods inside a
    * source or a generation batch the way no per-document filter can
    * (each copy looks fine; the SLICE is degenerate). Returns
    * (keyCol, n_grams, n_distinct, distinct_ratio), dropping keys
    * with zero n-grams (ratio undefined); null keys count as a group.
    *
    * Scale shape: one explode → partial-aggregated (key, gram) count
    * → per-key rollup; ratio is one bridged decimal(18,9) division —
    * engine-exact. */
  def distinctNgrams(df: DataFrame, keyCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val grams =
      if (n == 1) tokens(col(textCol)) else shingles(col(textCol), n)
    df.select(col(keyCol), explode(grams).as("__g"))
      .groupBy(keyCol, "__g").agg(count(lit(1)).as("__c"))
      .groupBy(keyCol).agg(
        sum("__c").cast("long").as("n_grams"),
        count(lit(1)).cast("long").as("n_distinct"))
      .withColumn("distinct_ratio",
        (col("n_distinct").cast("double") / col("n_grams").cast("double"))
          .cast("decimal(18,9)").cast("string").cast("double"))
  }

  /** Per-document CODEPOINT entropy: Shannon entropy (nats) of each
    * document's character distribution — the cheap gibberish /
    * base64-blob / repeated-filler detector (natural language sits
    * ~3–4 nats; a single repeated char is 0; random base64 pushes
    * toward ln 64). Returns (idCol, n_chars, n_distinct, entropy);
    * empty/null texts drop out.
    *
    * Determinism: each (doc, char) term −(c/n)·ln(c/n) quantizes to
    * decimal(18,9) before the per-doc sum, so the sum is an exact
    * decimal and order-free (the BM25/nDCG convention). Characters
    * are regex `[^\n]` matches — CODEPOINTS, the class written
    * EXPLICITLY because Java regex `.` excludes all line terminators
    * (\r, U+0085, U+2028, U+2029) while RE2's `.` excludes only \n:
    * with `[^\n]` both engines drop exactly \n and count \r (CRLF
    * crawl text) and the unicode separators identically.
    * One explode + two partial-aggregated hash aggregations keyed by
    * (doc, char) then doc. */
  def charEntropy(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val chars = df
      .select(col(idCol),
        explode(expr(s"regexp_extract_all($textCol, '[^\\\\n]', 0)"))
          .as("__ch"))
      .groupBy(idCol, "__ch").agg(count(lit(1)).as("__c"))
    val totals = chars.groupBy(idCol)
      .agg(sum("__c").cast("long").as("n_chars"),
        count(lit(1)).cast("long").as("n_distinct"))
    val p = col("__c").cast("double") / col("n_chars").cast("double")
    chars.join(totals, Seq(idCol))
      .withColumn("__term", (-p * log(p)).cast("decimal(18,9)"))
      .groupBy(col(idCol), col("n_chars"), col("n_distinct"))
      .agg(sum("__term").cast("string").cast("double").as("entropy"))
  }

  /** Vocabulary-growth (Heaps-law) curve: slice the corpus into
    * `buckets` equal doc-count slices in `idCol` order and report, at
    * each slice boundary, the cumulative document count and the
    * cumulative DISTINCT token count (tokens whose first occurrence
    * lies at or before the slice). The "is the vocabulary still
    * growing" diagnostic run before sizing a tokenizer or judging
    * crawl saturation — a flattening curve means new data is mostly
    * old words. Returns (bucket, n_docs_cum, vocab_cum), only for
    * non-empty buckets.
    *
    * Scale shape: bucket assignment is [[Profile.ntileExact]] (the
    * two-phase rank — NEVER a global ntile window); each token's
    * first bucket is one explode + min-aggregate; the cumulative
    * rollup runs on the ≤ `buckets`-row summary via a broadcast
    * inequality self-join (bounded by construction). All-integer —
    * engine-exact. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val bucketed = Profile.ntileExact(
      df.select(col(idCol), col(textCol)),
      Seq(col(idCol).asc), buckets, "__b", materialize = false)
    val nd = bucketed.groupBy("__b").agg(count(lit(1)).as("__nd"))
    val nt = bucketed
      .select(col("__b"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(min("__b").as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__nt"))
    def summary = nd.join(nt, Seq("__b"), "left")
      .select(col("__b"), col("__nd"),
        coalesce(col("__nt"), lit(0L)).as("__nt"))
    summary.as("x")
      .join(broadcast(summary.as("y")), col("y.__b") <= col("x.__b"))
      .groupBy(col("x.__b").as("bucket"))
      .agg(sum(col("y.__nd")).cast("long").as("n_docs_cum"),
        sum(col("y.__nt")).cast("long").as("vocab_cum"))
  }

  /** Windowed skip-gram PMI — the word2vec/GloVe co-occurrence
    * statistic: every UNORDERED token pair within `window` positions
    * of each other (1 ≤ offset ≤ window), PMI'd against the unigram
    * distribution. Sits between [[bigramPmi]] (adjacent only) and
    * [[coocLift]] (anywhere in the document): the statistic embedding
    * trainers and collocation miners actually consume. Returns
    * (w1, w2, pair_count, pmi) for pairs seen ≥ `minCount` times,
    * w1 ≤ w2 (canonical order).
    *
    * Scale shape: NO self-join, ONE corpus scan — each document emits
    * pairs AND unigrams into a single exploded stream (per offset d,
    * the token array zipped with itself shifted by d, keys
    * canonicalized "a b"; bare tokens ride the same stream — a
    * whitespace token can never contain a space, so the two key
    * kinds cannot collide) and ONE partial-aggregated count keyed by
    * that stream serves pair counts, unigram counts, and both
    * normalizing totals (Σ pair counts ≡ Σ_d (n−d) pair slots,
    * Σ unigram counts ≡ Σ n). The counted frame MATERIALIZES once
    * (localCheckpoint — it is distinct-key-sized, i.e. bounded by
    * the pair vocabulary, which is the statistic's own output
    * cardinality) because its four consumers carry different pushed
    * filters, so plan-level exchange reuse cannot deduplicate them
    * and lazily the corpus would rescan 4×. Divisions mirror
    * [[bigramPmi]]'s IEEE parenthesization. */
  def skipgramPmi(df: DataFrame, textCol: String, window: Int,
      minCount: Long = 2L): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val toks = tokens(col(textCol))
    def shifted(d: Int): org.apache.spark.sql.Column = {
      val n = greatest(size(toks) - d, lit(0))
      zip_with(slice(toks, lit(1), n), slice(toks, lit(d + 1), n),
        (a, b) => concat_ws(" ", least(a, b), greatest(a, b)))
    }
    val keyed = df
      .select(explode(concat(
        flatten(array((1 to window).map(shifted): _*)), toks)).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val isPair = col("k").contains(" ")
    val uni = keyed.where(!isPair)
      .select(col("k").as("tok"), col("c"))
    val pairAll = keyed.where(isPair)
      .select(col("k").as("pg"), col("c").as("pair_count"))
    val totals = broadcast(keyed.agg(
      sum(when(isPair, col("c"))).cast("double").as("__npair"),
      sum(when(!isPair, col("c"))).cast("double").as("__nuni")))
    pairAll.filter(col("pair_count") >= minCount)
      .withColumn("w1", split(col("pg"), " ").getItem(0))
      .withColumn("w2", split(col("pg"), " ").getItem(1))
      .join(uni.select(col("tok").as("w1"), col("c").as("__c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("c").as("__c2")), Seq("w2"))
      .crossJoin(totals)
      .select(col("w1"), col("w2"), col("pair_count"),
        log((col("pair_count").cast("double") / col("__npair")) /
          ((col("__c1").cast("double") / col("__nuni")) *
            (col("__c2").cast("double") / col("__nuni")))).as("pmi"))
  }

  /** Document-level co-occurrence association rules over a BOUNDED
    * vocabulary: for the `topV` tokens by document frequency
    * (ties by token, so the cut is deterministic), every unordered
    * pair co-occurring in at least `minSupport` documents, with
    * lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (df_a·df_b).
    *
    * Market-basket analysis done the distributed way: the vocabulary
    * cap is what makes it scale — the per-doc self-join runs AFTER a
    * broadcast semi-filter to the top-V tokens, so a doc contributes
    * at most V·(V−1)/2 pair rows no matter how long it is, and the
    * pair-count shuffle key space is ≤ V². (bigramPmi is the ADJACENT
    * pair statistic; this is the anywhere-in-doc one.)
    *
    * Lift is `(n_ab·N)/(df_a·df_b)` computed as two double products
    * and one division — three IEEE-754 ops on exact-long inputs,
    * bit-identical in any engine that mirrors the parenthesization
    * (long·long would overflow once N passes ~3·10⁹ docs; doubles
    * never do). N (docs with ≥1 token) and the top-V table both
    * re-enter via broadcast.
    */
  def coocLift(df: DataFrame, idCol: String, textCol: String,
      topV: Int, minSupport: Long = 2L): DataFrame = {
    require(topV >= 2, "need at least two vocabulary tokens")
    require(minSupport >= 1, "minSupport must be >= 1")
    // distinct (__id, tok): array_distinct only dedupes WITHIN a row,
    // so duplicate doc ids (appended ingest batches not yet deduped)
    // would inflate df linearly and n_ab quadratically (the __id
    // self-join cross-multiplies copies) while N below stays deduped —
    // skewing lifts inconsistently. One slim two-column exchange makes
    // every count agree with N's distinct-id convention.
    val dt = df.where(col(idCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(array_distinct(tokens(col(textCol)))).as("tok"))
      .distinct()
    // N = DISTINCT docs with >= 1 token — distinct over the slim id
    // projection (never the exploded token frame, which was the
    // original 4x-rebuild finding): duplicate doc ids (e.g. appended
    // ingest batches not yet deduped) must not inflate every lift
    val nDocs = broadcast(
      df.where(col(idCol).isNotNull &&
          size(tokens(col(textCol))) > 0)
        .select(col(idCol)).distinct()
        .agg(count(lit(1)).as("__n")))
    val top = broadcast(
      dt.groupBy("tok").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("tok").asc)
        .limit(topV))
    val dtop = dt.join(top, Seq("tok"))
    val pairs = dtop.select(col("__id"), col("tok").as("tok_a"),
        col("df").as("__dfa"))
      .join(dtop.select(col("__id"), col("tok").as("tok_b"),
        col("df").as("__dfb")), Seq("__id"))
      .where(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_ab"),
        min("__dfa").as("df_a"), min("__dfb").as("df_b"))
      .where(col("n_ab") >= minSupport)
    pairs.crossJoin(nDocs)
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        col("df_a"), col("df_b"),
        ((col("n_ab").cast("double") * col("__n").cast("double")) /
          (col("df_a").cast("double") * col("df_b").cast("double")))
          .as("lift"))
  }
  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney ICASSP'95;
    * Chen & Goodman CSL'99 eq. 20's interpolated form, one absolute
    * discount): per document the mean ln of
    *   P(w|v) = (c(vw) − D)/c(v·)
    *          + (D·N1+(v·)/c(v·)) · (N1+(·w)/B)
    * over its bigram positions, with c(v·) = Σ_w c(vw) (v as
    * context), N1+(v·)/N1+(·w) the distinct right/left continuation
    * type counts, and B the distinct bigram types. The continuation
    * distribution is KN's signature — a word seen in MANY contexts
    * backs off high even when rare ("Francisco" backs off low). Model
    * and scores share the corpus, so c(vw) ≥ 1 at every scored
    * position and no zero-probability branch exists.
    *
    * Cross-engine exactness: D = 0.75 = 3/4 is dyadic (exact binary
    * double); each per-position probability is the SAME double
    * expression in the same operation order as the DuckDB twin; ln is
    * libm on both engines; each ln is quantized to decimal(18,12) and
    * the per-doc mean crosses the exact decimal sum + decimal(18,9)
    * bridge — order-free, so no ordered fold and no window is needed.
    *
    * Returns (idCol, n_bigrams, kn_score); documents with fewer than
    * two tokens are absent (no bigram position — count upstream).
    *
    * Scale shape: bigram pairs explode narrowly from the token array
    * (no self-join, no per-doc window); three count aggregates
    * (map-side combine; outputs are bigram-type / vocab sized);
    * scoring equi-joins hit those count tables on their own keys with
    * NO forced broadcast — unlike [[wordLmScore]]'s driver-bounded
    * broadcast model, the KN model STAYS distributed, the right shape
    * when the bigram-type table outgrows executor memory at corpus
    * scale. B rides a broadcast one-row cross. */
  def kneserNeyScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = df.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .where(size(col("__ts")) >= 2)
    val big = toks.select(col(idCol), explode(expr(
      "transform(sequence(2, size(__ts)), i -> " +
        "named_struct('w1', __ts[i - 2], 'w', __ts[i - 1]))")).as("__b"))
      .select(col(idCol), col("__b.w1").as("__w1"), col("__b.w").as("__w"))
    val cvw = big.groupBy("__w1", "__w")
      .agg(count(lit(1)).cast("long").as("__cvw"))
    val ctx = cvw.groupBy("__w1")
      .agg(sum("__cvw").cast("long").as("__cv"),
        count(lit(1)).cast("long").as("__n1pv"))
    val cont = cvw.groupBy("__w")
      .agg(count(lit(1)).cast("long").as("__n1cw"))
    val btypes = cvw.agg(count(lit(1)).cast("long").as("__btypes"))
    val scored = big
      .join(cvw, Seq("__w1", "__w"))
      .join(ctx, Seq("__w1"))
      .join(cont, Seq("__w"))
      .crossJoin(broadcast(btypes))
      .select(col(idCol),
        log((col("__cvw").cast("double") - lit(0.75)) /
            col("__cv").cast("double") +
          (lit(0.75) * col("__n1pv").cast("double") /
            col("__cv").cast("double")) *
          (col("__n1cw").cast("double") / col("__btypes").cast("double")))
          .cast("decimal(18,12)").as("__lnp"))
    scored.groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum("__lnp").as("__s"))
      .select(col(idCol), col("n_bigrams"),
        (col("__s").cast("double") / col("n_bigrams").cast("double"))
          .cast("decimal(18,9)").cast("double").as("kn_score"))
  }
  /** C4-style blocklist audit (Raffel et al. JMLR'20 §2.2: drop any
    * document containing a listed word; the RefinedWeb word-filter
    * analog): per document the number of DISTINCT blocklisted words
    * present, the matched words themselves (sorted ascending and
    * joined to ONE scalar string, so the report stays
    * oracle-comparable), and the keep flag. Matching is on lowercased
    * whitespace TOKENS — the C4 contract — so a listed "ass" does not
    * hit "assassin" (substring matching is the documented
    * false-positive trap of naive blocklists).
    *
    * Scale shape: the deduplicated, lowercased pattern list travels
    * as ONE array literal inside the projection (the
    * broadcast-variable analog — no join, no shuffle); the whole
    * audit is a single codegen'd narrow pass over the text column,
    * so at 100 TB it rides the same scan as any other per-doc
    * feature. Blocklists are human-curated and small (the C4 list is
    * ~400 entries); for a list too large to inline, broadcast-join a
    * pattern table against exploded tokens instead. */
  def blocklistAudit(df: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must be non-empty")
    val lits = typedLit(blocklist.map(_.toLowerCase).distinct.sorted)
    val hits = array_sort(array_intersect(
      array_distinct(tokens(col(textCol))), lits))
    df.select(col(idCol), size(hits).as("n_hits"),
      array_join(hits, " ").as("hit_terms"),
      (size(hits) === 0).as("keep"))
  }
}
