package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CORPUS-LEVEL set overlap: which sources/domains/shards overlap,
  * and by how much — the "is Common Crawl dump N mostly a refetch of
  * dump N-1" / "does this vendor corpus duplicate what we already
  * have" read that runs BEFORE any pairwise document dedup is paid
  * for. Document-level near-dup (X2-X5) answers "which pairs of docs
  * collide"; this answers "which pairs of CORPORA collide".
  *
  * Beyond-reference pipeline operator (builder brief): the reference
  * has no corpus-similarity surface at all. The estimated form (a
  * per-source MinHash sketch, mergeable because the sketch of a union
  * is the elementwise min of the sketches — Broder 1997) is the
  * `source_sketch_jaccard` registry line.
  *
  * [[exactOverlapPairs]] is the exact form (raw shingle set
  * intersection): one shuffle on the shingle key, cost
  * Θ(distinct shingles × pairs-per-shingle). Exactness means no
  * hot-shingle pruning is possible — a shingle shared by all K keys
  * contributes K²/2 join rows — so it is priced for group-level keys
  * (sources, domains, snapshots; K in the hundreds), NOT per-doc
  * keys.
  */
object CorpusSketch {

  /** EXACT pairwise overlap between per-key shingle SETS: every key
    * pair sharing at least one shingle, with the exact intersection
    * size, Jaccard, and BOTH containments (containment is what the
    * symmetric Jaccard hides: a small corpus fully swallowed by a big
    * one has tiny Jaccard but containment 1.0 — the "is this vendor
    * data already inside our crawl" number). Returns
    * (keyA, keyB, n_inter, n_a, n_b, jaccard, cont_a_in_b,
    * cont_b_in_a) with keyA &lt; keyB; ratios are single divisions of
    * exact longs (bit-stable cross-engine).
    *
    * Cost contract: see object doc — group-level keys only; the
    * shingle self-join meets K rows per universal shingle. */
  def exactOverlapPairs(df: DataFrame, keyCol: String, textCol: String,
      shingleWidth: Int = 3): DataFrame = {
    val reserved = Seq("__sh", "__s", "__n")
    require(!reserved.contains(keyCol) && !reserved.contains(textCol),
      s"column names $reserved are reserved")
    val keySh = df.select(col(keyCol),
        explode(shingles(col(textCol), shingleWidth)).as("__s"))
      .distinct()
    val sizes = keySh.groupBy(keyCol)
      .agg(count(lit(1)).cast("long").as("__n"))
    val inter = keySh.select(col(keyCol).as("keyA"), col("__s"))
      .join(keySh.select(col(keyCol).as("keyB"), col("__s")), Seq("__s"))
      .where(col("keyA") < col("keyB"))
      .groupBy("keyA", "keyB")
      .agg(count(lit(1)).cast("long").as("n_inter"))
    inter
      .join(broadcast(sizes.select(col(keyCol).as("keyA"),
        col("__n").as("n_a"))), Seq("keyA"))
      .join(broadcast(sizes.select(col(keyCol).as("keyB"),
        col("__n").as("n_b"))), Seq("keyB"))
      .select(col("keyA"), col("keyB"), col("n_inter"), col("n_a"),
        col("n_b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"),
        (col("n_inter").cast("double") / col("n_a")).as("cont_a_in_b"),
        (col("n_inter").cast("double") / col("n_b")).as("cont_b_in_a"))
  }
}
