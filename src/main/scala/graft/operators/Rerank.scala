package graft.operators

import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftglue.SqlGlue.{column, expression}
import org.apache.spark.sql.DataFrame

/** The refine contract of every compressed or two-stage index
  * ([[PqIndex]], [[RotatedPqIndex]], [[SqIndex]], [[BinaryQuantIndex]],
  * [[IvfPqIndex]], [[IvfSqIndex]], [[IvfBinaryIndex]],
  * [[Matryoshka.topK]], [[ReducedSqIndex]]): an approximate score picks
  * `k · refineFactor` candidates by (score, id) ascending, planned as
  * `TakeOrderedAndProject` over the scored codes (no shuffle, no vector
  * reads). At `refineFactor == 1` the candidates are the answer, with
  * the approximate score cast to double as `distance`; otherwise they
  * are re-ranked by exact squared-L2 against the original corpus (the
  * standard PQ re-rank) — a k·refine-row join, negligible beside the
  * scan. A row whose scored column is null (a null vector, or its
  * code) never takes a candidate slot: it is filtered out before
  * scoring, as in [[Similarity.topK]], where plain ascending order
  * (NULLS FIRST) would return it first with a null distance. Returns
  * (idCol, distance) ascending, ties by id.
  */
private[graft] object Rerank {

  /** Top-k under the refine contract above: `score` turns the non-null
    * `readCol` rows of `rows` into idCol plus the approximate
    * `scoreCol`. Builders encode only [[nonNullVectors]], so their code
    * columns are non-nullable and need no filter here. */
  def topK(rows: DataFrame, readCol: String, scoreCol: String, k: Int,
      refineFactor: Int, corpus: DataFrame, vecCol: String, idCol: String,
      q: Array[Float])(score: DataFrame => DataFrame): DataFrame = {
    // the filter sits below the top-k, so a collect still merges the
    // per-partition heaps on the driver; a column Spark knows is
    // non-null gets none, which matters where it is a lazy encode: Spark
    // would push the filter through the projection and evaluate the
    // encode twice per row
    val nonNull =
      if (rows.schema(readCol).nullable) rows.where(col(readCol).isNotNull)
      else rows
    val cand = score(nonNull)
      .orderBy(col(scoreCol), col(idCol))
      .limit(poolSize(k, refineFactor))
    if (refineFactor == 1)
      cand.select(col(idCol), col(scoreCol).cast("double").as("distance"))
    else exact(cand.select(col(idCol)), corpus, vecCol, idCol, q, k)
  }

  /** The rows of `df` whose `vecCol` is non-null, with `vecCol` marked
    * non-nullable: a code a builder encodes from it is then
    * non-nullable too, so [[topK]] adds no null filter over it. */
  def nonNullVectors(df: DataFrame, vecCol: String): DataFrame =
    df.where(col(vecCol).isNotNull)
      .withColumn(vecCol, column(KnownNotNull(expression(col(vecCol)))))

  /** The candidate pool `k · refineFactor`, after checking both. */
  def poolSize(k: Int, refineFactor: Int): Int = {
    require(k > 0, "k must be positive")
    require(refineFactor >= 1, "refineFactor must be >= 1")
    k * refineFactor
  }

  /** Exact re-rank of the `candidates` ids: joined back to the corpus
    * vectors, top-k by [[Similarity.topK]] (squared-L2, ties by id). */
  def exact(candidates: DataFrame, corpus: DataFrame, vecCol: String,
      idCol: String, q: Array[Float], k: Int): DataFrame =
    Similarity.topK(
      candidates.join(corpus.select(col(idCol), col(vecCol)), Seq(idCol)),
      vecCol, idCol, q, k)
      .select(col(idCol), col("distance"))
}
