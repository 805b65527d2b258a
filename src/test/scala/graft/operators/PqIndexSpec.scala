package graft.operators

import graft.SparkSpec
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random floats (no Random: reproducible)
  private def noise(i: Int, j: Int): Float = {
    var h = i * 0x9E3779B9 + j * 0x85EBCA6B
    h = (h ^ (h >>> 16)) * 0xC2B2AE35
    ((h & 0xFFFF).toFloat / 0xFFFF.toFloat - 0.5f) * 0.02f
  }

  // 4 well-separated cluster anchors in 8 dims; 20 rows per cluster
  // with tiny deterministic jitter
  private def clustered(): Seq[(Long, Array[Float])] = {
    val anchors = Seq(
      Array.fill(8)(0f), Array.fill(8)(3f),
      Array.tabulate(8)(i => if (i < 4) 6f else 0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 0f else 6f))
    for (c <- 0 until 4; r <- 0 until 20) yield {
      val id = (c * 20 + r).toLong
      (id, Array.tabulate(8)(j => anchors(c)(j) + noise(id.toInt, j)))
    }
  }

  test("codes are m bytes and ADC equals exact distance when vectors " +
      "sit on their centroids") {
    // every subvector is exactly one of 3 values per subspace → with
    // codesPerBook >= 3 the quantization is lossless and ADC must
    // reproduce exact squared-L2
    val vals = Seq(0f, 2f, 5f)
    val rows = (for (a <- vals; b <- vals; c <- vals) yield
      Array(a, a, b, b, c, c)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = rows.toDF("vid", "vec")
    val idx = PqIndex.train(df, "vec", "vid", m = 3, codesPerBook = 4,
      maxIter = 6)
    val codeLens = idx.codes.select(length(col(PqIndex.CodeCol)))
      .distinct().as[Int].collect().toSeq
    assert(codeLens == Seq(3))
    val q = Array(2f, 2f, 0f, 0f, 5f, 5f)
    val adc = idx.query(q, k = rows.length, refineFactor = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for ((vid, vec) <- rows) {
      val exact = vec.zip(q)
        .map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
      assert(math.abs(adc(vid) - exact) < 1e-9,
        s"row $vid: adc ${adc(vid)} vs exact $exact")
    }
  }

  test("refined PQ top-k matches brute force on clustered data") {
    val df = clustered().toDF("vid", "vec")
    val idx = PqIndex.train(df, "vec", "vid", m = 4, codesPerBook = 8)
    val q = Array.tabulate(8)(j => 3f + noise(999, j))
    val pq = idx.query(q, k = 5, refineFactor = 8)
      .collect().map(_.getLong(0)).toSeq
    val exact = Similarity.topK(df, "vec", "vid", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(pq == exact, s"pq $pq vs exact $exact")
  }

  test("full-corpus refine is exact by construction") {
    val df = clustered().toDF("vid", "vec")
    val idx = PqIndex.train(df, "vec", "vid", m = 2, codesPerBook = 4,
      maxIter = 3)
    val q = Array.tabulate(8)(j => 1f + noise(5, j))
    // refine covering the whole corpus degrades to exact search no
    // matter how coarse the codebooks are
    val pq = idx.query(q, k = 3, refineFactor = 80)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = Similarity.topK(df, "vec", "vid", q, 3)
      .select("vid", "distance")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pq == exact)
  }

  test("codes round-trip through parquet and ADC scan reads only the " +
      "codes table") {
    val df = clustered().toDF("vid", "vec")
    val idx = PqIndex.train(df, "vec", "vid", m = 4, codesPerBook = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq").toString
    idx.writeCodes(s"$tmp/codes")
    val loaded = PqIndex.load(spark, s"$tmp/codes", idx.codebooks, df,
      "vec", "vid")
    val q = Array.tabulate(8)(j => noise(7, j))
    val a = idx.query(q, 5).collect().map(_.getLong(0)).toSeq
    val b = loaded.query(q, 5).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    // the ADC candidate stage is a top-k over the codes table alone:
    // TakeOrderedAndProject, no Exchange, no vector column in the scan
    val plan = loaded.query(q, 5, refineFactor = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k plan:\n$plan")
    assert(!plan.contains("Exchange"), s"ADC scan shuffles:\n$plan")
    assert(!plan.contains("vec#"), s"ADC scan reads vectors:\n$plan")
  }

  test("rejects bad shapes") {
    val df = Seq((1L, Array(1f, 2f, 3f))).toDF("vid", "vec")
    intercept[IllegalArgumentException] {
      PqIndex.train(df, "vec", "vid", m = 2, codesPerBook = 4)
    }
    intercept[IllegalArgumentException] {
      PqIndex.train(df, "vec", "vid", m = 3, codesPerBook = 300)
    }
  }

  test("rotated codes round-trip: loadRotated against the ORIGINAL " +
      "corpus answers exactly like the live index") {
    val df = clustered().toDF("vid", "vec")
    val idx = PqIndex.trainRotated(df, "vec", "vid", m = 4,
      codesPerBook = 8)
    val tmp = java.nio.file.Files.createTempDirectory("graft-rpq").toString
    idx.writeCodes(s"$tmp/codes")
    val loaded = PqIndex.loadRotated(spark, s"$tmp/codes", idx.rotation,
      idx.inner.codebooks, df, "vec", "vid")
    for (seedQ <- Seq(3, 41)) {
      val q = Array.tabulate(8)(j => 3f + noise(seedQ, j))
      val a = idx.query(q, 5, refineFactor = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = loaded.query(q, 5, refineFactor = 8)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == b, s"reloaded rotated index diverged: $a vs $b")
    }
  }

  test("randomRotation is orthonormal and mat_vec preserves distances") {
    val dim = 8
    val r = PqIndex.randomRotation(dim, seed = 7L)
    // R · Rᵀ ≈ I (float32 rows → 1e-5 tolerance)
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = (0 until dim).map(k => r(i)(k).toDouble * r(j)(k)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d - expect) < 1e-5, s"RRt($i,$j) = $d")
    }
    // the codegen'd kernel agrees with the driver-side rotate and
    // rotation preserves pairwise squared-L2
    val rows = clustered().take(10)
    val df = rows.toDF("vid", "vec")
    val rot = new RotatedPqIndex(r, null)
    val kernel = df
      .select(col("vid"), mat_vec(col("vec"), r).as("rv"))
      .orderBy("vid")
      .collect().map(_.getSeq[Float](1).toArray)
    for (((_, v), idx) <- rows.zipWithIndex) {
      val expect = rot.rotate(v)
      assert(kernel(idx).zip(expect).forall { case (a, b) =>
        math.abs(a - b) <= 2 * math.ulp(b) })
    }
    for (i <- rows.indices; j <- i + 1 until rows.length) {
      val d0 = graft.functions.VectorOps.squaredL2Floats(
        rows(i)._2, rows(j)._2)
      val d1 = graft.functions.VectorOps.squaredL2Floats(
        kernel(i), kernel(j))
      assert(math.abs(d0 - d1) < 1e-3 * (1.0 + d0), s"dist $d0 vs $d1")
    }
  }

  test("rotated PQ: refined query matches brute force in the ORIGINAL " +
      "space; pure-ADC recall on anisotropic data improves on plain PQ") {
    // energy concentrated in dims 0-1: plain PQ gives subspace 0 all
    // the variance (2 bits for the whole signal); a rotation spreads
    // it across all four subspaces
    val rows = (0 until 96).map { i =>
      val a = (i % 12).toFloat + noise(i, 0)
      val b = (i / 12).toFloat + noise(i, 1)
      (i.toLong, Array(a, b, noise(i, 2), noise(i, 3), noise(i, 4),
        noise(i, 5), noise(i, 6), noise(i, 7)))
    }
    val df = rows.toDF("vid", "vec")
    val plain = PqIndex.train(df, "vec", "vid", m = 4, codesPerBook = 4)
    val rotated = PqIndex.trainRotated(df, "vec", "vid", m = 4,
      codesPerBook = 4)
    val queries = rows.grouped(10).map(_.head).toSeq
    def recall(top: Seq[Long], exact: Seq[Long]): Double =
      top.toSet.intersect(exact.toSet).size.toDouble / exact.size
    var plainR = 0.0
    var rotR = 0.0
    for ((_, q) <- queries) {
      val exact = Similarity.topK(df, "vec", "vid", q, 10)
        .collect().map(_.getLong(0)).toSeq
      // rotation-invariance: the refined rotated query must match the
      // ORIGINAL-space brute force
      val refined = rotated.query(q, 10, refineFactor = 10)
        .collect().map(_.getLong(0)).toSeq
      assert(refined == exact, s"refined $refined vs exact $exact")
      plainR += recall(plain.query(q, 10, refineFactor = 1)
        .collect().map(_.getLong(0)).toSeq, exact)
      rotR += recall(rotated.query(q, 10, refineFactor = 1)
        .collect().map(_.getLong(0)).toSeq, exact)
    }
    assert(rotR >= plainR,
      s"rotated ADC recall $rotR < plain $plainR over ${queries.size} queries")
  }

  test("OPQ alternation lowers quantization error vs the random " +
      "rotation; refined queries stay exact in the original space") {
    // same anisotropic shape: alternating Procrustes/Lloyd's should
    // adapt the rotation to the data instead of hoping a random one
    // spreads the energy well
    val rows = (0 until 120).map { i =>
      val a = (i % 12).toFloat * 2f + noise(i, 0)
      val b = (i / 12).toFloat * 3f + noise(i, 1)
      (i.toLong, Array(a, b, noise(i, 2), noise(i, 3), noise(i, 4),
        noise(i, 5), noise(i, 6), noise(i, 7)))
    }
    val df = rows.toDF("vid", "vec")
    val rand = PqIndex.trainRotated(df, "vec", "vid", m = 4,
      codesPerBook = 4)
    val opq = PqIndex.trainOpq(df, "vec", "vid", m = 4, codesPerBook = 4,
      opqIters = 4)
    def qErr(rot: Array[Array[Float]],
        books: Array[Array[Array[Float]]]): Double =
      rows.map { case (_, v) =>
        val rx = PqIndex.matVecFloats(rot, v)
        val y = PqIndex.quantizeFloats(books, rx)
        graft.functions.VectorOps.squaredL2Floats(rx, y)
      }.sum
    val eRand = qErr(rand.rotation, rand.inner.codebooks)
    val eOpq = qErr(opq.rotation, opq.inner.codebooks)
    assert(eOpq <= eRand * 1.001,
      s"OPQ error $eOpq worse than random-rotation $eRand")
    // the rotation stays orthonormal through the SVD updates
    val r = opq.rotation
    val dim = r.length
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = (0 until dim).map(k => r(i)(k).toDouble * r(j)(k)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-4,
        s"RRt($i,$j) = $d")
    }
    // rotation-invariance of the refined path, as with trainRotated
    for ((_, q) <- rows.grouped(30).map(_.head).toSeq) {
      val exact = Similarity.topK(df, "vec", "vid", q, 8)
        .collect().map(_.getLong(0)).toSeq
      val refined = opq.query(q, 8, refineFactor = 12)
        .collect().map(_.getLong(0)).toSeq
      assert(refined == exact, s"refined $refined vs exact $exact")
    }
  }

  test("codebooks (PQ and OPQ) are bit-identical for 1 and 7 input " +
      "partitions") {
    val df = clustered().toDF("vid", "vec")
    def books(b: Array[Array[Array[Float]]]) = b.map(_.map(_.toSeq).toSeq).toSeq
    def pq(parts: Int) = books(PqIndex.train(df.repartition(parts), "vec",
      "vid", m = 4, codesPerBook = 8).codebooks)
    def opq(parts: Int) = {
      val idx = PqIndex.trainOpq(df.repartition(parts), "vec", "vid", m = 4,
        codesPerBook = 4, opqIters = 3)
      (idx.rotation.map(_.toSeq).toSeq, books(idx.inner.codebooks))
    }
    assert(pq(1) == pq(7))
    assert(opq(1) == opq(7))
  }

  test("bad training input raises a named error in train and trainOpq") {
    val good = clustered()
    val cases = Seq(
      "empty" -> good.toDF("vid", "vec").filter("vid < 0"),
      "null vectors" ->
        (good :+ ((999L, null.asInstanceOf[Array[Float]]))).toDF("vid", "vec"),
      "mixed vector dims" ->
        (good :+ ((999L, Array.fill(4)(1f)))).toDF("vid", "vec"),
      "distinct vectors" ->
        good.map { case (id, _) => (id, Array.fill(8)(1f)) }.toDF("vid", "vec"))
    for ((what, df) <- cases) {
      val a = intercept[IllegalArgumentException] {
        PqIndex.train(df, "vec", "vid", m = 4, codesPerBook = 4)
      }
      assert(a.getMessage.contains(what), a.getMessage)
      val b = intercept[IllegalArgumentException] {
        PqIndex.trainOpq(df, "vec", "vid", m = 4, codesPerBook = 4)
      }
      assert(b.getMessage.contains(what), b.getMessage)
    }
  }

  test("a vector with more copies than the sample cap does not fail the fit") {
    // 256 × 2 = 512 rows cap; one vector fills it many times over
    val rows = Seq.fill(1000)((1L, Array(1f, 0f, 1f, 0f))) ++
      Seq((2L, Array(0f, 1f, 0f, 1f)), (3L, Array(5f, 5f, 5f, 5f)))
    for (seed <- 0L until 6L) {
      val idx = PqIndex.train(rows.toDF("vid", "vec"), "vec", "vid", m = 2,
        codesPerBook = 2, seed = seed)
      assert(idx.codes.count() == 1002, s"seed $seed")
    }
  }
}
