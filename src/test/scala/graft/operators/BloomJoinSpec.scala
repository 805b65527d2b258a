package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomJoinSpec extends SparkSpec {

  private def tables = {
    import spark.implicits._
    val left = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "payload")
    // right holds every multiple of 3, plus duplicates of a few keys
    val right = ((3L to 999L by 3).map(i => (i, "r")) ++
      Seq((3L, "dup"), (6L, "dup"))).toDF("rk", "tag")
    (left, right)
  }

  test("prunedAntiJoin equals plain left_anti (long keys)") {
    val (left, right) = tables
    val got = BloomJoin.prunedAntiJoin(left, right, "k", "rk")
      .select("k").collect().map(_.getLong(0)).sorted
    val want = left.join(right, col("k") === col("rk"), "left_anti")
      .select("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == want.toSeq && got.length == 667)
  }

  test("string keys probe the same bytes putString inserted") {
    import spark.implicits._
    val left = Seq("a", "b", "çé", "δ", "x").toDF("k")
    val right = Seq("b", "çé", "δ").toDF("rk")
    val anti = BloomJoin.prunedAntiJoin(left, right, "k", "rk")
      .collect().map(_.getString(0)).sorted
    assert(anti.toSeq == Seq("a", "x"))
  }

  test("NULL left keys are kept by anti (SQL join semantics)") {
    import spark.implicits._
    val left = Seq[(java.lang.Long, String)]((1L, "a"), (null, "n"), (2L, "b"))
      .toDF("k", "payload")
    val right = Seq(1L).toDF("rk")
    val anti = BloomJoin.prunedAntiJoin(left, right, "k", "rk")
      .select("payload").collect().map(_.getString(0)).sorted
    assert(anti.toSeq == Seq("b", "n"))
  }

  test("NULL right keys are ignored when building the filter") {
    import spark.implicits._
    val left = Seq(1L, 2L).toDF("k")
    val right = Seq[java.lang.Long](1L, null).toDF("rk")
    val anti = BloomJoin.prunedAntiJoin(left, right, "k", "rk")
      .collect().map(_.getLong(0))
    assert(anti.toSeq == Seq(2L))
  }

  test("result is exact even at an absurd fpp (routing never changes the answer)") {
    val (left, right) = tables
    val got = BloomJoin.prunedAntiJoin(left, right, "k", "rk", fpp = 0.5)
      .select("k").collect().map(_.getLong(0)).sorted
    assert(got.length == 667 && got.forall(_ % 3 != 0))
  }

  test("mixed-family keys are rejected (probe would diverge from join coercion)") {
    import spark.implicits._
    // 123 vs '0123' match under Spark's numeric coercion but the bloom
    // probe would insert '0123' and test '123' — a silent wrong answer
    // without the guard
    val left = Seq(123L).toDF("k")
    val right = Seq("0123").toDF("rk")
    intercept[IllegalArgumentException] {
      BloomJoin.prunedAntiJoin(left, right, "k", "rk")
    }
  }

  test("integral widening is allowed: int left vs long right keys") {
    import spark.implicits._
    val left = Seq(1, 2, 3).toDF("k") // IntegerType
    val right = Seq(2L, 3L, 4L).toDF("rk") // LongType
    val anti = BloomJoin.prunedAntiJoin(left, right, "k", "rk")
      .collect().map(_.getInt(0)).sorted
    assert(anti.toSeq == Seq(1))
  }

  test("plan: exact join input is bloom-filtered; settled branch is join-free") {
    // spark.range inputs: ConvertToLocalRelation folds filters over
    // local Seq-backed frames at plan time, hiding the predicate
    val left = spark.range(1000).withColumnRenamed("id", "k")
    val right = spark.range(333).select((col("id") * 3).as("rk"))
    val plan = BloomJoin.prunedAntiJoin(left, right, "k", "rk")
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"))
    assert(plan.contains("LeftAnti"))
    // exactly one join in the whole tree: the candidate branch's
    val joins = "(?i)sortmergejoin|broadcasthashjoin|shuffledhashjoin".r
      .findAllIn(plan.toLowerCase).length
    assert(joins == 1, s"expected 1 join, got $joins:\n$plan")
  }
}
