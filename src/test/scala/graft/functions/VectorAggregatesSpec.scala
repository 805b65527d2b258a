package graft.functions

import graft.SparkSpec
import graft.functions.VectorFunctions._

class VectorAggregatesSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("vec_sum sums element-wise per group with partial aggregation") {
    import spark.implicits._
    val df = Seq(
      ("a", Array(1f, 2f)), ("a", Array(3f, 4f)), ("a", Array(5f, 6f)),
      ("b", Array(10f, 20f))
    ).toDF("g", "v").repartition(4) // force multi-partition partials
    val out = df.groupBy("g")
      .agg(vec_sum(col("v")).as("s"), count(lit(1)).as("n"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Double](1) == Seq(9.0, 12.0))
    assert(out(1).getSeq[Double](1) == Seq(10.0, 20.0))
  }

  test("null vectors are skipped; all-null group yields null") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(Array(1f, 1f))), ("a", None), ("b", None)
    ).toDF("g", "v")
    val out = df.groupBy("g").agg(vec_sum(col("v")).as("s"))
      .orderBy("g").collect()
    assert(out(0).getSeq[Double](1) == Seq(1.0, 1.0))
    assert(out(1).isNullAt(1))
  }

  test("length mismatch inside a group raises") {
    import spark.implicits._
    val df = Seq(("a", Array(1f)), ("a", Array(1f, 2f))).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy("g").agg(vec_sum(col("v"))).collect()
    }
    assert(e.getMessage.contains("length mismatch") ||
      e.getCause != null)
  }
}
