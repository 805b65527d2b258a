package graft.operators

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)), (3L, Array(1f, 1f)),
      (4L, Array(2f, 0f)), (5L, Array(-1f, 0f))
    ).toDF("id", "vec")
  }

  test("topK squared-L2 ascending with id tiebreak") {
    val res = Similarity.topK(corpus, "vec", "id", Array(1f, 0f), k = 3)
      .collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    // ids 3 and 4 tie at distance 1 → lower id first
    assert(res(1).getLong(0) == 3L && res(2).getLong(0) == 4L)
    assert(res.map(_.getDouble(2)).toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("radiusSearch: inclusive bound in the metric's direction, " +
      "every qualifying row, (score, id) ordered") {
    // distances to (1,0): id1=0, id3=1, id4=1, id2=2, id5=4
    val r1 = Similarity.radiusSearch(corpus, "vec", "id",
      Array(1f, 0f), radius = 1.0).collect()
    assert(r1.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L),
      "inclusive: the two distance-1.0 rows are IN, tie → id order")
    val r2 = Similarity.radiusSearch(corpus, "vec", "id",
      Array(1f, 0f), radius = 0.5).collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(1L))
    // descending metric (cosine): similarity >= radius
    val rc = Similarity.radiusSearch(corpus, "vec", "id",
      Array(1f, 0f), radius = 0.9, metric = Metric.Cosine,
      scoreCol = "sim").collect()
    assert(rc.map(_.getLong(0)).toSeq == Seq(1L, 4L),
      "same-direction vectors qualify whatever the magnitude")
    // nothing within radius → empty, not an error
    assert(Similarity.radiusSearch(corpus, "vec", "id",
      Array(100f, 100f), radius = 0.1).isEmpty)
  }

  test("topK cosine descending ranks direction not magnitude") {
    val res = Similarity.topK(corpus, "vec", "id", Array(1f, 0f), k = 2,
      metric = Metric.Cosine, scoreCol = "sim").collect()
    // ids 1 and 4 point the same way (cos=1, tie → lower id first)
    assert(res.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    assert(res.map(_.getDouble(2)).forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("topK dot descending rewards magnitude") {
    val res = Similarity.topK(corpus, "vec", "id", Array(1f, 0f), k = 1,
      metric = Metric.Dot, scoreCol = "score").collect()
    assert(res.head.getLong(0) == 4L) // (2,0)·(1,0) = 2 beats (1,0)·(1,0)
  }

  test("topKJoin: per-query top-k matches per-query brute force") {
    import spark.implicits._
    val queries = Seq((100L, Array(1f, 0f)), (200L, Array(0f, 1f)))
      .toDF("qid", "qvec")
    val res = Similarity.topKJoin(corpus, queries, k = 2,
      corpusIdCol = "id", corpusVecCol = "vec",
      queryIdCol = "qid", queryVecCol = "qvec")
    assert(res.groupBy("qid").count().collect()
      .forall(_.getLong(1) == 2))
    val perQuery = res.collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    val brute1 = Similarity.topK(corpus, "vec", "id", Array(1f, 0f), 2)
      .collect().map(_.getLong(0)).toSet
    val brute2 = Similarity.topK(corpus, "vec", "id", Array(0f, 1f), 2)
      .collect().map(_.getLong(0)).toSet
    assert(perQuery(100L) == brute1 && perQuery(200L) == brute2)
  }

  test("topKJoin cosine variant orders descending per query") {
    import spark.implicits._
    val queries = Seq((9L, Array(1f, 0f))).toDF("qid", "qvec")
    val res = Similarity.topKJoin(corpus, queries, k = 3,
      corpusIdCol = "id", corpusVecCol = "vec",
      queryIdCol = "qid", queryVecCol = "qvec",
      metric = Metric.Cosine, scoreCol = "sim")
      .orderBy(desc("sim"), col("id")).collect()
    val sims = res.map(_.getAs[Double]("sim"))
    assert(sims.sameElements(sims.sorted.reverse))
    assert(res.head.getAs[Long]("id") == 1L)
  }

  test("topKJoin rejects query-id collision with corpus columns") {
    import spark.implicits._
    val queries = Seq((1L, Array(1f, 0f))).toDF("id", "qvec")
    intercept[IllegalArgumentException] {
      Similarity.topKJoin(corpus, queries, k = 1,
        corpusIdCol = "id", corpusVecCol = "vec",
        queryIdCol = "id", queryVecCol = "qvec")
    }
  }

  test("topK: a null vector never takes a slot, in either direction") {
    import spark.implicits._
    val withNull = corpus.union(Seq((0L, null: Array[Float])).toDF("id", "vec"))
    for (m <- Seq(Metric.SquaredL2, Metric.Cosine, Metric.Dot)) {
      val res = Similarity.topK(withNull, "vec", "id", Array(1f, 0f), k = 6,
        metric = m).collect()
      assert(res.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L),
        s"$m: ${res.mkString(", ")}")
      assert(!res.exists(_.isNullAt(2)), s"$m returned a null score")
    }
  }

  test("k larger than corpus returns whole corpus, k<=0 rejected") {
    assert(Similarity.topK(corpus, "vec", "id", Array(0f, 0f), 100)
      .count() == 5)
    intercept[IllegalArgumentException] {
      Similarity.topK(corpus, "vec", "id", Array(0f, 0f), 0)
    }
  }

  test("rrfFuse: docs on both lists outrank single-list docs; " +
      "hand-checked contributions") {
    import spark.implicits._
    // list A ranks 1,2,3 → docs 10,20,30; list B ranks 1,2,3 → 20,40,10
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (40L, 2), (10L, 3)).toDF("id", "rank")
    val fused = Similarity.rrfFuse(Seq(a, b), "id", "rank", topN = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc 20: 1/62 + 1/61; doc 10: 1/61 + 1/63; doc 30: 1/63; 40: 1/62
    def c(r: Int) = BigDecimal(1.0 / (60.0 + r))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(fused.map(_._1).toSeq == Seq(20L, 10L, 40L, 30L))
    assert(fused(0)._2 == 2L && fused(2)._2 == 1L)
    assert(math.abs(fused(0)._3 - (c(2) + c(1))) < 1e-12)
    assert(math.abs(fused(3)._3 - c(3)) < 1e-12)
  }
}
