package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LocalFitSpec extends SparkSpec {

  private lazy val emb = spark.read
    .parquet(s"${sf()}/embeddings.parquet")
    .select("vec_id", "embedding")
    .cache()

  private def vecs: Array[Array[Float]] =
    emb.select("embedding").collect().map(_.getSeq[Float](0).toArray)

  test("hashOrdered is Spark's orderBy(hash(v, seed), v), subvectors too") {
    for (seed <- Seq(42L, 7L)) {
      val want = emb.orderBy(hash(col("embedding"), lit(seed.toInt)),
        col("embedding")).select("embedding")
        .collect().map(_.getSeq[Float](0))
      assert(LocalFit.hashOrdered(vecs, seed).map(_.toSeq).toSeq == want.toSeq)
    }
    val subs = emb.select(slice(col("embedding"), 3, 4).as("s"))
    val want = subs.orderBy(hash(col("s"), lit(42)), col("s"))
      .collect().map(_.getSeq[Float](0))
    val got = LocalFit.hashOrdered(
      subs.collect().map(_.getSeq[Float](0).toArray), 42L)
    assert(got.map(_.toSeq).toSeq == want.toSeq)
  }

  test("an empty sample of a one-row frame names sampleFraction and the " +
      "seed; an empty frame is still named as empty") {
    import spark.implicits._
    val one = Seq((1L, Array(1f, 2f))).toDF("id", "v")
    def err(df: org.apache.spark.sql.DataFrame, fraction: Double): String =
      intercept[IllegalArgumentException] {
        LocalFit.trainingSample(df, "v", "id", 42L, fraction, 2, "test")
      }.getMessage
    assert(one.sample(0.001, 42L).isEmpty, "fixture: the sample must be empty")
    val m = err(one, 0.001)
    assert(m.contains("sampleFraction = 0.001") && m.contains("seed 42") &&
      !m.contains("on an empty frame"), m)
    for (fraction <- Seq(0.001, 1.0))
      assert(err(one.limit(0), fraction).contains("on an empty frame"))
  }

  test("below the cap the sample is the whole frame in hash order") {
    val full = LocalFit.hashOrdered(vecs, 42L).map(_.toSeq)
    assert(LocalFit.trainingSample(emb, "embedding", "vec_id", 42L, 1.0, 100,
      "test").map(_.toSeq).toSeq == full.toSeq)
  }

  test("at the cap the sample is the hash(vec, id, seed) prefix, in " +
      "hash(vec, seed) order") {
    val n = emb.count()
    assert(n > 256, s"fixture has only $n rows")
    val prefix = emb.orderBy(hash(col("embedding"), col("vec_id"), lit(42)),
      col("embedding")).limit(256).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val got = LocalFit.trainingSample(emb, "embedding", "vec_id", 42L, 1.0,
      1, "test")
    assert(got.map(_.toSeq).toSeq ==
      LocalFit.hashOrdered(prefix, 42L).map(_.toSeq).toSeq)
  }

  test("the sample stops at the driver byte budget, derived from the dim") {
    import spark.implicits._
    val df = (0 until 6000).map(i => (i.toLong, Array(i.toFloat, 1f, 2f, 3f)))
      .toDF("id", "v")
    def rows(budget: Long) = LocalFit.trainingSample(df, "v", "id", 42L, 1.0,
      100, "test", budgetBytes = budget).length
    // 4 floats a row: 5000 rows fit 80 000 bytes; the cap is 25 600 rows
    assert(rows(5000L * 16) == 5000)
    // the budget never cuts below the first collect's rows
    assert(rows(0L) == LocalFit.ProbeRows)
    assert(rows(Long.MaxValue) == 6000)
  }

  test("a vector repeated past the cap does not crowd out the others") {
    import spark.implicits._
    val rows = Seq.tabulate(1000)(i => (i.toLong, Array(1f, 0f))) ++
      Seq((1000L, Array(0f, 1f)), (1001L, Array(5f, 5f)))
    for (seed <- 0L until 8L) {
      val s = LocalFit.trainingSample(rows.toDF("id", "v"), "v", "id", seed,
        1.0, 2, "test")
      assert(s.length >= 512)
      assert(LocalFit.firstDistinct(s, 3).length >= 2, s"seed $seed")
    }
    // copies that share their id too (whole rows repeated) crowd the key
    // order; the distinct fallback still brings the first distinct vectors
    val sameId = Seq.fill(1000)((1L, Array(1f, 0f))) ++
      Seq((2L, Array(0f, 1f)), (3L, Array(5f, 5f)))
    val lengths = for (seed <- 0L until 8L) yield {
      val s = LocalFit.trainingSample(sameId.toDF("id", "v"), "v", "id", seed,
        1.0, 2, "test")
      assert(LocalFit.firstDistinct(s, 3).length >= 2, s"seed $seed")
      s.length
    }
    // some seed put the repeated row first, so the fallback appended to
    // the 512-row cut
    assert(lengths.exists(_ > 512), lengths)
  }

  test("one in-process Lloyd step matches lloydStepMeans, the oracle twin") {
    val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val want = IvfIndex.lloydStepMeans(emb, "embedding", cents)
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        r.getDouble(2)).toMap
    val next = IvfIndex.lloydRounds(vecs, cents, maxIter = 1, tol = 0.0)
    for (((cell, i), value) <- want) {
      // lloydStepMeans rounds each mean to decimal(18,9); the fit keeps
      // it as float32
      assert(math.abs(next(cell)(i) - value) <=
        math.ulp(value.toFloat) + 1e-9, s"cell $cell dim $i")
    }
    // a cell no point chose keeps its centroid
    for (c <- cents.indices if !want.contains((c, 0)))
      assert(next(c).toSeq == cents(c).toSeq)
  }
}
