package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DsirSpec extends SparkSpec {
  import spark.implicits._

  // target corpus: legal-ish boilerplate; raw: 2 target-like docs
  // among chatter
  private def target = Seq(
    (100L, "the party of the first part agrees to the terms"),
    (101L, "the party of the second part accepts the terms"),
    (102L, "terms and conditions apply to the first party")
  ).toDF("doc_id", "text")

  private def raw = Seq(
    (1L, "the party of the first part agrees to the terms herein"),
    (2L, "lol random chatter about cats and memes"),
    (3L, "terms and conditions apply to the second party"),
    (4L, "buy cheap pills now click here"),
    (5L, "weather today is sunny with a chance of rain")
  ).toDF("doc_id", "text")

  private def weightsOf(portable: Boolean): Map[Long, Double] = {
    val llr = Dsir.logRatioTable(target, raw, "text", buckets = 512,
      portableHash = portable)
    Dsir.importanceWeights(raw, "doc_id", "text", llr, buckets = 512,
      portableHash = portable)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("target-like documents outscore chatter under both hash modes") {
    for (portable <- Seq(false, true)) {
      val w = weightsOf(portable)
      assert(w.keySet === Set(1L, 2L, 3L, 4L, 5L))
      val targetLike = Seq(w(1L), w(3L)).min
      val chatter = Seq(w(2L), w(4L), w(5L)).max
      assert(targetLike > chatter,
        s"portable=$portable: target-like $targetLike !> chatter $chatter ($w)")
    }
  }

  test("documents with no grams keep a neutral 0 weight, not a drop") {
    val rawPlus = raw.union(Seq((9L, "")).toDF("doc_id", "text"))
    val llr = Dsir.logRatioTable(target, rawPlus, "text", buckets = 256)
    val w = Dsir.importanceWeights(rawPlus, "doc_id", "text", llr, 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(9L) === 0.0)
    assert(w.size === 6)
  }

  test("gumbelTopK is deterministic, honors k, and keeps high weights " +
      "likelier") {
    val w = Seq((1L, 5.0), (2L, 5.0), (3L, -5.0), (4L, 0.0))
      .toDF("doc_id", "logw")
    val a = Dsir.gumbelTopK(w, "doc_id", "logw", k = 2)
      .select("doc_id").as[Long].collect().toSeq
    val b = Dsir.gumbelTopK(w, "doc_id", "logw", k = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(a === b, "same data, same draw")
    assert(a.size === 2)
    val all = Dsir.gumbelTopK(w, "doc_id", "logw", k = 10)
      .select("doc_id").as[Long].collect().toSeq
    assert(all.toSet === Set(1L, 2L, 3L, 4L), "k > rows keeps everything")
  }

  test("oracleRounding mode yields decimal weights equal to the double " +
      "path within 1e-6") {
    val llrD = Dsir.logRatioTable(target, raw, "text", 512,
      portableHash = true, oracleRounding = true)
    val wD = Dsir.importanceWeights(raw, "doc_id", "text", llrD, 512,
      portableHash = true)
      .select(col("doc_id"), col("logw").cast("double"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = weightsOf(portable = true)
    for ((id, v) <- w)
      assert(math.abs(wD(id) - v) < 1e-6, s"doc $id: $v vs ${wD(id)}")
  }
}
