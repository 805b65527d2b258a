package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Similarity scoring metrics for k-NN search and similarity joins.
  *
  * Reference parity: the core k-NN distance is SQUARED L2 ascending
  * (faiss IndexFlatL2 convention via sqlite-vss,
  * `/root/reference/vsu/base/VectorSearchBase.py:193-201`); zero-shot
  * scoring is cosine on normalized vectors
  * (`/root/reference/vsu/text/_classes.py:33-36`).
  */
sealed trait Metric {
  def score(a: Column, b: Column): Column

  /** true = smaller is closer (distance); false = larger is closer. */
  def ascending: Boolean
}

object Metric {
  case object SquaredL2 extends Metric {
    override def score(a: Column, b: Column): Column = squared_l2(a, b)
    override val ascending = true
  }
  case object Cosine extends Metric {
    override def score(a: Column, b: Column): Column = cosine_sim(a, b)
    override val ascending = false
  }
  case object Dot extends Metric {
    override def score(a: Column, b: Column): Column = vec_dot(a, b)
    override val ascending = false
  }
}

/** Exact brute-force similarity search — the engine's flagship operator
  * (J1/W1 in SURVEY §2): score every corpus vector, keep top-k.
  *
  * Scale design (100 TB): the single-query form plans as
  * `TakeOrderedAndProject` — per-partition top-k heaps, only
  * k×partitions rows reach the driver, no shuffle of the corpus. The
  * batch form broadcasts the (small) query side, scores in a narrow
  * map, and relies on Spark's `WindowGroupLimit` pushdown to reduce
  * each partition to ≤ k rows per query BEFORE the rank shuffle, so
  * shuffle volume is O(queries × k × partitions), not O(corpus).
  */
object Similarity {

  /** Single-query k-NN: top-k rows of `corpus` closest to `query`.
    * A row with a null vector never takes a slot: its score would be
    * null, and plain ascending order is NULLS FIRST.
    * Ties broken by `idCol` ascending for deterministic results
    * (SURVEY §7.4). Mirrors `query()` —
    * `/root/reference/vsu/base/VectorSearchBase.py:193-202`. */
  def topK(corpus: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int, metric: Metric = Metric.SquaredL2,
      scoreCol: String = "distance"): DataFrame = {
    require(k > 0, "k must be positive")
    require(!corpus.columns.contains(scoreCol),
      s"scoreCol '$scoreCol' collides with a corpus column — rename one")
    // the vector, not the score, is filtered: the filter stays below the
    // top-k, so a collect still merges the per-partition heaps on the
    // driver (a filter above the limit makes it a one-partition shuffle)
    val scored = corpus.where(col(vecCol).isNotNull).withColumn(scoreCol,
      metric.score(col(vecCol), typedLit(query)))
    val ord = if (metric.ascending) col(scoreCol).asc else col(scoreCol).desc
    scored.orderBy(ord, col(idCol).asc).limit(k)
  }

  /** Radius search (FAISS `range_search`): EVERY corpus row whose
    * score against `query` is within `radius` — inclusive, in the
    * metric's own direction (distance ≤ radius for ascending metrics,
    * similarity ≥ radius for descending ones like cosine/dot). The
    * unbounded-cardinality complement of [[topK]]: duplicate sweeps,
    * "everything near this centroid" audits, recall studies where a
    * fixed k silently truncates.
    *
    * Scale shape: the match itself is one scan + codegen'd score +
    * filter — no heap, no window (the top-k TakeOrdered is replaced
    * by a pushable predicate). With `ordered = true` (default) the
    * result sorts (score, id) for deterministic consumption — that
    * final sort is a range-partition exchange over the MATCHING rows
    * only; for an unbounded 100 TB sweep feeding a downstream join,
    * pass `ordered = false` and the operator is shuffle-free. */
  def radiusSearch(corpus: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], radius: Double,
      metric: Metric = Metric.SquaredL2,
      scoreCol: String = "distance", ordered: Boolean = true): DataFrame = {
    require(!corpus.columns.contains(scoreCol),
      s"scoreCol '$scoreCol' collides with a corpus column — rename one")
    val scored = corpus.withColumn(scoreCol,
      metric.score(col(vecCol), typedLit(query)))
    val keep =
      if (metric.ascending) col(scoreCol) <= radius
      else col(scoreCol) >= radius
    val ord = if (metric.ascending) col(scoreCol).asc else col(scoreCol).desc
    val matched = scored.where(keep)
    if (ordered) matched.orderBy(ord, col(idCol).asc) else matched
  }

  /** Batch similarity join: per query row, the top-k nearest corpus
    * rows. Output = corpus columns + `queryIdCol` + `scoreCol`.
    *
    * The query side must be broadcast-small (queries × corpus is
    * scored); for corpus-×-corpus scale use the LSH/IVF path instead.
    * `queryIdCol` must not collide with a corpus column. */
  def topKJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      corpusIdCol: String, corpusVecCol: String,
      queryIdCol: String, queryVecCol: String,
      metric: Metric = Metric.SquaredL2,
      scoreCol: String = "distance"): DataFrame = {
    require(k > 0, "k must be positive")
    require(!corpus.columns.contains(queryIdCol),
      s"queryIdCol '$queryIdCol' collides with a corpus column — alias it")
    require(!corpus.columns.contains(scoreCol),
      s"scoreCol '$scoreCol' collides with a corpus column — rename one")
    val qvec = "__graft_qvec"
    val rn = "__graft_rn"
    val q = queries.select(col(queryIdCol), col(queryVecCol).as(qvec))
    val scored = corpus.crossJoin(broadcast(q))
      .withColumn(scoreCol, metric.score(col(corpusVecCol), col(qvec)))
    val ord = if (metric.ascending) col(scoreCol).asc else col(scoreCol).desc
    val w = Window.partitionBy(col(queryIdCol)).orderBy(ord, col(corpusIdCol).asc)
    scored.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= k)
      .drop(rn, qvec)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR 2009) of
    * ranked retrieval lists — the standard hybrid-search combiner for
    * "BM25 top-k ∪ vector top-k" without score calibration: each list
    * contributes `1/(kRrf + rank)` per document and the fused order is
    * the contribution sum. Inputs are ALREADY top-k lists (driver-
    * small by contract — this fuses results, it does not scan
    * corpora), each carrying (idCol, rankCol) with rank 1 = best.
    *
    * Determinism: contributions are decimal(18,9)-rounded before the
    * sum (exact, order-independent — `1/(k+r)` can never round to an
    * exact decimal half, so both engines round identically) and the
    * final score crosses the VARCHAR bridge. Returns (idCol, n_lists,
    * rrf_score) for the fused top `topN`, best first. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      topN: Int, kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list")
    require(topN > 0 && kRrf >= 0, "need topN > 0 and kRrf >= 0")
    val contribs = lists.map(_.select(col(idCol),
      (lit(1.0).cast("double") /
        (lit(kRrf).cast("double") + col(rankCol).cast("double")))
        .cast("decimal(18,9)").as("__c")))
    contribs.reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_lists"),
        sum(col("__c")).as("__s"))
      .select(col(idCol), col("n_lists"),
        col("__s").cast("string").cast("double").as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(topN)
  }
}
