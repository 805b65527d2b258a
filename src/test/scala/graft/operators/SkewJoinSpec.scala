package graft.operators

import graft.SparkSpec

class SkewJoinSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("salted join matches plain join results on skewed data") {
    import spark.implicits._
    // 90% of the large side shares one key — classic hot key
    val large = ((1 to 900).map(i => ("hot", i)) ++
      (1 to 100).map(i => (s"k$i", i))).toDF("key", "v")
    val small = (Seq(("hot", "H")) ++
      (1 to 100).map(i => (s"k$i", s"D$i"))).toDF("key", "payload")
    val salted = SkewJoin.saltedEquiJoin(large, small, "key", saltFactor = 4)
    val plain = large.join(small, Seq("key"))
    assert(salted.count() == plain.count())
    val a = salted.groupBy("key").count().orderBy("key").collect().toSeq
    val b = plain.groupBy("key").count().orderBy("key").collect().toSeq
    assert(a.map(r => (r.getString(0), r.getLong(1))) ==
      b.map(r => (r.getString(0), r.getLong(1))))
  }

  test("left join preserves unmatched large-side rows") {
    import spark.implicits._
    val large = Seq(("a", 1), ("b", 2), ("nomatch", 3)).toDF("key", "v")
    val small = Seq(("a", "A"), ("b", "B")).toDF("key", "p")
    val out = SkewJoin.saltedEquiJoin(large, small, "key",
      saltFactor = 3, joinType = "left")
    assert(out.count() == 3)
    assert(out.filter(col("p").isNull).count() == 1)
  }
}
