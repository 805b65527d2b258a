package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

import graft.SparkSpec

/** The refine contract ([[Rerank]]) over every single-query entry point
  * of the compressed and two-stage indexes. */
class RerankSpec extends SparkSpec {
  import spark.implicits._

  // 80 seeded 8-dim vectors: small enough to fit every index in-process
  private lazy val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(17)
    (0L until 80L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
  }
  private lazy val df = vecs.toDF("id", "v")
  private lazy val q = vecs(3)._2.toArray

  private lazy val withNull = df.unionByName(
    Seq((999L, null: Seq[Float])).toDF("id", "v"))

  // training rejects a sampled null vector by design, so fit on the
  // first seeds whose half sample leaves the null row out: the null
  // row still reaches the codes, which encode the whole frame
  private lazy val nullFreeSeeds = Iterator.from(1).map(_.toLong).filter(s =>
    withNull.sample(0.5, s).where(col("v").isNull).isEmpty).take(3).toSeq

  private def checkNoNull(what: String, out: DataFrame): Unit = {
    val got = out.collect().map(r => (r.getLong(0), r.get(1))).toSeq
    assert(got.length === 5, s"$what: $got")
    assert(!got.exists { case (id, d) => id == 999L || d == null },
      s"$what: $got")
  }

  test("a null vector never takes a top-k slot (PQ, OPQ, Matryoshka)") {
    for (seed <- nullFreeSeeds) {
      val pq = PqIndex.train(withNull, "v", "id", m = 4, codesPerBook = 4,
        sampleFraction = 0.5, seed = seed)
      for (rf <- Seq(1, 4))
        checkNoNull(s"pq seed $seed rf $rf", pq.query(q, 5, rf))
    }
    val opq = PqIndex.trainOpq(withNull, "v", "id", m = 4, codesPerBook = 4,
      sampleFraction = 0.5, seed = nullFreeSeeds.head)
    checkNoNull("opq rf 4", opq.query(q, 5, 4))
    for (rf <- Seq(1, 4))
      checkNoNull(s"mrl rf $rf", Matryoshka.topK(withNull, "v", "id", q,
        dims = 4, k = 5, refineFactor = rf))
  }

  test("a null vector never takes a top-k slot (every other entry point)") {
    for (seed <- nullFreeSeeds; e <- entriesOver(withNull, seed, 0.5)
         if !Set("PqIndex", "Matryoshka.topK")(e.name); rf <- Seq(1, 4))
      checkNoNull(s"${e.name} seed $seed rf $rf", e.run(5, rf, 2))
  }

  /** One query entry point: `run(k, refineFactor, nprobe)`; `nCells`
    * is set for the IVF indexes, whose nprobe is range-checked. */
  private case class Entry(name: String, nCells: Option[Int],
      run: (Int, Int, Int) => DataFrame)

  private lazy val entries: Seq[Entry] = entriesOver(df, 42L, 1.0)

  /** Every entry point over `frame`, the trained ones fit on a
    * `sampleFraction` sample drawn with `seed`. */
  private def entriesOver(frame: DataFrame, seed: Long,
      sampleFraction: Double): Seq[Entry] = {
    val pq = PqIndex.train(frame, "v", "id", m = 4, codesPerBook = 4,
      seed = seed, sampleFraction = sampleFraction)
    val rpq = PqIndex.trainRotated(frame, "v", "id", m = 4, codesPerBook = 4,
      seed = seed, sampleFraction = sampleFraction)
    val sq = SqIndex.fit(frame, "v", "id")
    val bq = BinaryQuant.build(frame, "v", "id")
    val ivfPq = IvfPqIndex.build(frame, "v", "id", nClusters = 4, m = 4,
      codesPerBook = 4, seed = seed, sampleFraction = sampleFraction)
    val ivfSq = IvfSqIndex.build(frame, "v", "id", nClusters = 4,
      seed = seed, sampleFraction = sampleFraction)
    val ivfBq = IvfBinary.buildWithCentroids(frame, "v", "id",
      IvfIndex.build(frame, "v", "id", nClusters = 4, seed = seed,
        sampleFraction = sampleFraction).centroids)
    val rsq = PcaReduce.fitSq(frame, "v", "id", k = 4)
    Seq(
      Entry("PqIndex", None, (k, rf, _) => pq.query(q, k, rf)),
      Entry("RotatedPqIndex", None, (k, rf, _) => rpq.query(q, k, rf)),
      Entry("SqIndex", None, (k, rf, _) => sq.query(q, k, rf)),
      Entry("BinaryQuantIndex", None, (k, rf, _) => bq.query(q, k, rf)),
      Entry("IvfPqIndex", Some(ivfPq.cells.length),
        (k, rf, np) => ivfPq.query(q, k, np, rf)),
      Entry("IvfSqIndex", Some(ivfSq.cells.length),
        (k, rf, np) => ivfSq.query(q, k, np, rf)),
      Entry("IvfBinaryIndex", Some(ivfBq.cells.length),
        (k, rf, np) => ivfBq.query(q, k, np, rf)),
      Entry("Matryoshka.topK", None, (k, rf, _) =>
        Matryoshka.topK(frame, "v", "id", q, dims = 4, k = k,
          refineFactor = rf)),
      Entry("ReducedSqIndex", None, (k, rf, _) => rsq.query(q, k, rf)))
  }

  private def failsWith(e: Entry, msg: String)(call: => DataFrame): Unit = {
    val ex = intercept[IllegalArgumentException](call)
    assert(ex.getMessage === s"requirement failed: $msg", e.name)
  }

  test("every entry point rejects k = 0, refineFactor = 0 and an " +
      "out-of-range nprobe with the contract's messages") {
    for (e <- entries) {
      failsWith(e, "k must be positive")(e.run(0, 2, 1))
      failsWith(e, "refineFactor must be >= 1")(e.run(5, 0, 1))
      e.nCells.foreach { n =>
        failsWith(e, s"nprobe must be in [1, $n]")(e.run(5, 2, 0))
        failsWith(e, s"nprobe must be in [1, $n]")(e.run(5, 2, n + 1))
      }
    }
  }

  test("refineFactor = 1 returns at most k rows of (id, double distance) " +
      "ordered by (distance, id)") {
    for (e <- entries) {
      val out = e.run(5, 1, 2)
      assert(out.columns.toSeq === Seq("id", "distance"), e.name)
      assert(out.schema("distance").dataType === DoubleType, e.name)
      val got = out.collect().map(r => (r.getDouble(1), r.getLong(0))).toSeq
      assert(got.nonEmpty && got.length <= 5, s"${e.name}: $got")
      assert(got.zip(got.drop(1)).forall { case ((d0, i0), (d1, i1)) =>
        d0 < d1 || (d0 == d1 && i0 < i1) }, s"${e.name}: $got")
    }
  }
}
