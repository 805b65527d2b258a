package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Salted equi-join for skewed keys (builder brief: "salting for
  * skew"). AQE's skew-join split handles most cases at runtime
  * (on by default in Spark 4); explicit salting remains the
  * tool when one key dominates so hard that even split partitions
  * can't parallelize the build side — e.g. joining 100 TB of events
  * against a dimension where 30% of rows share one key.
  *
  * Mechanics: the skewed (large) side gets a random salt in
  * [0, saltFactor); the small side is replicated saltFactor times with
  * an exploded salt column; the join key becomes (key, salt), spreading
  * each hot key over saltFactor reducers. Cost: small side × saltFactor
  * rows — keep the replicated side broadcast-small or saltFactor
  * modest.
  */
object SkewJoin {

  private val SupportedJoinTypes = Set("inner", "cross", "left", "left_outer",
    "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti")

  def saltedEquiJoin(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int = 8, joinType: String = "inner"): DataFrame = {
    require(saltFactor >= 1, "saltFactor must be >= 1")
    // right/full outer would emit saltFactor null-padded copies of
    // every unmatched (replicated) small-side row — reject up front
    require(SupportedJoinTypes.contains(joinType.toLowerCase.replace(" ", "_")),
      s"unsupported joinType '$joinType' for a salted join (small side is " +
        "replicated; only inner/left/semi/anti variants are sound)")
    val salt = "__graft_salt"
    val salted = large.withColumn(salt,
      (rand(seed = 42) * saltFactor).cast("int"))
    val replicated = small.withColumn(salt,
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, salt), joinType).drop(salt)
  }

  /** Top-N heavy-hitter keys with counts — decide whether salting is
    * warranted (one narrow scan + partial-aggregated count). */
  def keySkewProfile(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    df.groupBy(key).count().orderBy(desc("count"), col(key)).limit(topN)
}
