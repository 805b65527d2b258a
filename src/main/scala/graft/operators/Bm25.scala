package graft.operators

import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Okapi BM25 lexical retrieval (Robertson et al., TREC-3; the Lucene
  * `k1`/`b` convention) — the keyword-search complement to the
  * embedding k-NN operators: the reference's corpus search is purely
  * vector-based (`/root/reference/vsu/base/VectorSearchBase.py:193-202`),
  * and a training-data pipeline needs the lexical side too (benchmark
  * sweeps, targeted corpus probes, hybrid retrieval).
  *
  * Scale shape — classic search-engine split:
  *   - FIT (offline, once): explode → one partial-aggregated hash
  *     aggregation by (doc, token) for tf; document length computed in
  *     a NARROW second scan (`size(tokens(text))` — no shuffle) and
  *     denormalized onto the postings by an AQE-planned equi-join, so
  *     the search path never touches the corpus again. df per token is
  *     one more partial aggregation of the (already slim) postings.
  *   - SEARCH (per query): filter postings to the query's terms (an
  *     `isin` that pushes into the postings scan), broadcast-join the
  *     |query|-row idf frame, per-posting contribution, one slim hash
  *     aggregation by doc over ONLY matching postings, top-k via
  *     `TakeOrderedAndProject`. The corpus-sized frames are never
  *     shuffled at search time.
  *
  * Determinism (oracle contract): idf uses `ln` (ulp-unstable across
  * libms), so each per-term contribution is rounded to decimal(20,8)
  * BEFORE the per-doc sum — decimal addition is exact and
  * order-independent, which makes the score independent of partition
  * layout and identical in the DuckDB twin. The final score surfaces
  * via the VARCHAR bridge (decimal→double casts differ by 1 ulp
  * between engines otherwise).
  */
object Bm25 {

  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Postings + corpus statistics. `postings` = (id, token, tf, dl);
    * `docFreq` = (token, df); `nDocs`/`totalDl` are the two driver-side
    * scalars — both exact longs, so a [[save]]d-then-[[load]]ed index
    * and a fresh fit derive the SAME `avgdl` double. */
  final case class Bm25Index(postings: DataFrame, docFreq: DataFrame,
      nDocs: Long, totalDl: Long) {
    def avgdl: Double =
      if (nDocs == 0L) 0.0 else totalDl.toDouble / nDocs.toDouble
  }

  /** Build the index frames. Nothing is cached or collected beyond the
    * two scalars; persist `postings`/`docFreq` (ideally bucketed by
    * token) for repeated querying at scale. */
  def fit(docs: DataFrame, idCol: String, textCol: String): Bm25Index = {
    require(docs.columns.contains(idCol) && docs.columns.contains(textCol),
      s"need $idCol and $textCol")
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    // null text → no tokens: dl 0, not null/-1 (size() of a null array
    // is dialect-dependent), so avgdl stays a clean exact division
    val dl = docs.select(col(idCol),
      greatest(lit(0L),
        coalesce(size(tokens(col(textCol))).cast("long"), lit(0L)))
        .as("dl"))
    val postings = tf.join(dl, Seq(idCol))
    val docFreq = postings.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)), sum("dl")).head
    val n = stats.getLong(0)
    Bm25Index(postings, docFreq, n,
      if (n == 0L) 0L else stats.getLong(1))
  }

  /** Top-k BM25 search. Returns (idCol, n_matched, score) ordered by
    * (score desc, id) — `score` is the decimal-exact sum of per-term
    * contributions surfaced as double, `n_matched` the number of
    * distinct query terms present. Empty-corpus or no-term queries
    * return an empty frame of the right schema. */
  def search(index: Bm25Index, terms: Seq[String], k: Int,
      idCol: String = "doc_id", k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    require(k > 0, "k must be positive")
    val qTerms = terms.map(_.toLowerCase).distinct
    val empty = index.postings
      .select(col(idCol), lit(0L).as("n_matched"),
        lit(0.0).as("score")).limit(0)
    if (qTerms.isEmpty || index.nDocs == 0L) return empty
    // Lucene's non-negative BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))
    val idf = index.docFreq.filter(col("token").isin(qTerms: _*))
      .withColumn("idf", log(lit(1.0) +
        (lit(index.nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
    val normLen = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") / lit(index.avgdl))
    val contrib = (col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + normLen)).cast("decimal(20,8)")
    index.postings.filter(col("token").isin(qTerms: _*))
      .join(broadcast(idf), Seq("token"))
      .groupBy(idCol).agg(
        count(lit(1)).as("n_matched"),
        sum(contrib).as("__s"))
      .select(col(idCol), col("n_matched"),
        col("__s").cast("string").cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Pseudo-relevance-feedback search (the RM3-lite expansion loop —
    * Lavrenko & Croft relevance models, as Anserini/Terrier ship it,
    * minus the interpolation weights): run the seed query, rank
    * candidate expansion terms by their summed tf·idf inside the top
    * `fbDocs` feedback documents (seed terms excluded, ties by term
    * asc), append the best `fbTerms`, search again with the expanded
    * term set. The recall lever when the seed query undersamples the
    * topic's vocabulary.
    *
    * Scale shape: the feedback set is `fbDocs` ids (a broadcast
    * semi-join against the postings), candidate ranking is one slim
    * aggregation over feedback postings + a `TakeOrderedAndProject`,
    * and the expansion term collect is `fbTerms`-bounded driver state
    * (the centroid-table convention). Both searches are the proven
    * [[search]] path. Candidate weights round to decimal(20,8) before
    * ranking — the same ln-ulp containment as the score sums. */
  def prfSearch(index: Bm25Index, terms: Seq[String], k: Int,
      fbDocs: Int = 10, fbTerms: Int = 5, idCol: String = "doc_id",
      k1: Double = DefaultK1, b: Double = DefaultB): DataFrame = {
    require(fbDocs > 0, "fbDocs must be positive")
    require(fbTerms >= 0, "fbTerms must be non-negative")
    val qTerms = terms.map(_.toLowerCase).distinct
    val seed = search(index, terms, fbDocs, idCol, k1, b)
      .select(col(idCol))
    val cand = index.postings
      .join(broadcast(seed), Seq(idCol), "left_semi")
      .filter(!col("token").isin(qTerms: _*))
      .groupBy("token").agg(sum("tf").as("__tfsum"))
      .join(index.docFreq, Seq("token"))
      .withColumn("__w",
        (col("__tfsum").cast("double") * log(lit(1.0) +
          (lit(index.nDocs.toDouble) - col("df") + 0.5) /
            (col("df") + 0.5))).cast("decimal(20,8)"))
      .orderBy(col("__w").desc, col("token").asc)
      .limit(fbTerms)
    val expansion = cand.select("token").collect().map(_.getString(0))
    search(index, qTerms ++ expansion, k, idCol, k1, b)
  }

  /** Persist the index under one root (`<path>/postings`,
    * `<path>/docfreq`, `<path>/stats`) — the fit-offline/search-online
    * split: postings land as parquet (bucket by token at scale),
    * reopening never rescans the corpus. */
  def save(index: Bm25Index, path: String): Unit = {
    index.postings.write.mode("overwrite").parquet(s"$path/postings")
    index.docFreq.write.mode("overwrite").parquet(s"$path/docfreq")
    val spark = index.postings.sparkSession
    import spark.implicits._
    Seq((index.nDocs, index.totalDl)).toDF("n_docs", "total_dl")
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Reopen a [[save]]d index: one parquet scan per frame. */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25Index = {
    val s = spark.read.parquet(s"$path/stats").head
    Bm25Index(spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/docfreq"), s.getLong(0), s.getLong(1))
  }

  /** Batch top-k search for a QUERY TABLE (queryIdCol, termsCol:
    * array<string>) — the many-queries shape [[search]] cannot serve
    * (per-query jobs would be a driver loop). One broadcast of the
    * (query, term, idf) frame — |queries|×|terms| rows, small by
    * assumption — against the term-filtered postings, one hash
    * aggregation by (query, doc), per-query top-k via a rank window
    * Spark plans as `WindowGroupLimit` (per-partition heaps, no global
    * sort). Scores are bit-identical to [[search]] on the same terms
    * (same decimal-rounded contributions). Terms are lowercased and
    * deduped per query; a query with no indexed terms yields no rows.
    * For a query table too big to broadcast, pass
    * `broadcastQueries = false`: the qidf join hash-partitions both
    * sides by token (AQE may still choose broadcast if the frame turns
    * out small; bucket postings AND queries by token to pre-pay that
    * shuffle) — results are identical either way.
    * Output: (queryIdCol, idCol, n_matched, score, rank), rank 1-based
    * by (score desc, id asc). */
  def searchBatch(index: Bm25Index, queries: DataFrame,
      queryIdCol: String, termsCol: String, k: Int,
      idCol: String = "doc_id", k1: Double = DefaultK1,
      b: Double = DefaultB, broadcastQueries: Boolean = true): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val empty = queries.select(col(queryIdCol))
      .withColumn(idCol,
        lit(null).cast(index.postings.schema(idCol).dataType))
      .withColumn("n_matched", lit(0L))
      .withColumn("score", lit(0.0))
      .withColumn("rank", lit(0L)).limit(0)
    if (index.nDocs == 0L) return empty
    val qterms = queries
      .select(col(queryIdCol), explode(col(termsCol)).as("token"))
      .withColumn("token", lower(col("token")))
      .where(col("token").isNotNull)
      .distinct()
    val idf = index.docFreq
      .join(qterms.select("token").distinct(), Seq("token"))
      .withColumn("idf", log(lit(1.0) +
        (lit(index.nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
    val qidf = qterms.join(idf, Seq("token"))
    val normLen = lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") / lit(index.avgdl))
    val contrib = (col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + normLen)).cast("decimal(20,8)")
    val w = Window.partitionBy(queryIdCol)
      .orderBy(col("score").desc, col(idCol).asc)
    val probe = if (broadcastQueries) broadcast(qidf) else qidf
    index.postings
      .join(probe, Seq("token"))
      .groupBy(queryIdCol, idCol).agg(
        count(lit(1)).as("n_matched"),
        sum(contrib).as("__s"))
      .select(col(queryIdCol), col(idCol), col("n_matched"),
        col("__s").cast("string").cast("double").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Boolean retrieval over the same postings model BM25 scores:
    * documents containing ALL of `allOf` and NONE of `noneOf` (the
    * AND/NOT inverted-index query — the unranked complement to
    * [[search]]). Set semantics via the distinct token set per doc.
    *
    * Shape: the token explode is filtered to the query terms BEFORE
    * any shuffle (a few-literals `isin` the optimizer keeps next to
    * the scan), so the only grouped data is (doc, matched-term) rows
    * for the handful of query terms — corpus-sized input, query-sized
    * shuffle. AND = having count(distinct matched) == |allOf|; NOT =
    * left-anti join on the exclusion postings. Returns (id, n_matched)
    * with n_matched == |allOf|.
    */
  def booleanQuery(docs: DataFrame, idCol: String, textCol: String,
      allOf: Seq[String], noneOf: Seq[String] = Nil): DataFrame = {
    // postings tokens are lowercased (TextFunctions.tokens), so query
    // terms normalize the same way [[search]]'s do — a capitalized
    // NOT term must still exclude
    val all = allOf.map(_.toLowerCase)
    val none = noneOf.map(_.toLowerCase)
    require(all.nonEmpty, "at least one required term")
    require(all.distinct.size == all.size, s"duplicate term in $all")
    require(none.intersect(all).isEmpty,
      s"terms both required and excluded: ${none.intersect(all)}")
    val toks = docs
      .select(col(idCol), explode(array_distinct(tokens(col(textCol))))
        .as("token"))
    val hits = toks.where(col("token").isin(all: _*))
      .groupBy(idCol).agg(count(lit(1)).as("n_matched"))
      .where(col("n_matched") === all.size)
    if (none.isEmpty) hits
    else {
      val excl = toks.where(col("token").isin(none: _*))
        .select(col(idCol)).distinct()
      hits.join(excl, Seq(idCol), "left_anti")
    }
  }

  /** Exact consecutive-phrase retrieval over POSITIONAL postings — the
    * `"big data"`-as-one-unit query [[booleanQuery]]'s bag-of-tokens
    * postings cannot answer. Returns (idCol, n_occurrences) for every
    * document containing the phrase's tokens consecutively, with the
    * number of distinct start positions (overlapping matches count —
    * "ha ha ha" contains "ha ha" twice).
    *
    * Scale shape: one posexplode projecting (id, pos, token), filtered
    * to the phrase's terms BEFORE any shuffle (the phrase acts as its
    * own postings filter — at 100 TB only the matching terms' postings
    * move), then m−1 equi-joins keyed (id, pos − i): term i must sit
    * exactly i after the start. All ints, no windows, no arrays of
    * positions; a stored positional postings table (tokenize-once)
    * slots in by replacing the explode. Terms normalize like
    * [[search]]'s (lowercase). */
  def phraseQuery(docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    val terms = phrase.map(_.toLowerCase)
    require(terms.nonEmpty, "phrase must have at least one term")
    val pos = docs
      .select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
      .where(col("token").isin(terms.distinct: _*))
    var m = pos.where(col("token") === terms.head)
      .select(col(idCol), col("pos"))
    for (i <- 1 until terms.length)
      m = m.join(
        pos.where(col("token") === terms(i))
          .select(col(idCol), (col("pos") - i).as("pos")),
        Seq(idCol, "pos"))
    m.groupBy(idCol).agg(count(lit(1)).as("n_occurrences"))
  }
}
