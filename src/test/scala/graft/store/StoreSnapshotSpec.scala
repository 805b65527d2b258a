package graft.store

import graft.SparkSpec
import graft.functions.HashEmbedder
import org.apache.spark.sql.{DataFrame, Row}

/** Parity of the two query paths of [[VectorStore]]: the in-process
  * snapshot (budget forced to the maximum) and the Spark top-k scan
  * (budget forced to 0) return the same rows, bit-identical distances
  * and equal schemas, in memory, path and bucketed modes; and every
  * write invalidates the snapshot. */
class StoreSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 4

  // 12 rows: targets t00..t11, ids 1..12 in target order; t03 and t07
  // share t01's vector (distance ties broken by id), t05 has a null
  // vector, option2 is null everywhere (queryVectorWithInfo drops it)
  private def rows: Seq[(String, String, String, Array[Float])] =
    (0 until 12).map { i =>
      val v =
        if (i == 5) null
        else if (i == 3 || i == 7) vec(1)
        else vec(i)
      (f"t$i%02d", s"o$i", null: String, v)
    }

  private def vec(i: Int): Array[Float] =
    Array.tabulate(Dim)(j => ((i * 7 + j * 3) % 11).toFloat / 3f)

  private def frame(rs: Seq[(String, String, String, Array[Float])]) =
    rs.toDF("target", "option1", "option2", "vector")

  private val queries: Seq[Array[Float]] =
    Seq(vec(1), vec(5), Array(0.5f, -1f, 2f, 0.25f))

  /** A fresh store per durable mode, cleaned up after `body`. */
  private def eachMode(body: (String, VectorStore) => Unit): Unit = {
    val tbl = "graft_store_snapshot_spec"
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    try {
      body("memory", new VectorStore(spark, HashEmbedder(dim = Dim)))
      body("path", new VectorStore(spark, HashEmbedder(dim = Dim),
        path = Some(s"$dir/db")))
      body("bucketed", new VectorStore(spark, HashEmbedder(dim = Dim),
        bucketedTable = Some(tbl), numBuckets = 3))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** `run` on the Spark path and on the in-process path. */
  private def bothPaths(store: VectorStore)(
      run: VectorStore => DataFrame): (DataFrame, DataFrame) = {
    store.setSnapshotBudget(0L)
    val viaSpark = run(store)
    store.setSnapshotBudget(Long.MaxValue)
    (viaSpark, run(store))
  }

  private def jobsOf[T](f: => T): (T, Int) = {
    val group = s"snapshot-spec-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val out = f
      (out, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    } finally spark.sparkContext.clearJobGroup()
  }

  private def key(r: Row): (Long, Long) =
    (r.getAs[Long]("id"), java.lang.Double.doubleToLongBits(
      r.getAs[Double]("distance")))

  private def assertSame(what: String, viaSpark: DataFrame,
      local: DataFrame): Seq[Row] = {
    assert(local.schema == viaSpark.schema,
      s"$what: schema ${local.schema} vs ${viaSpark.schema}")
    val (s, l) = (viaSpark.collect().toSeq, local.collect().toSeq)
    assert(l.map(key) == s.map(key), s"$what: $l vs $s")
    assert(l == s, s"$what: payload differs: $l vs $s")
    l
  }

  test("both paths return the same rows, distances and schema in " +
      "memory, path and bucketed modes") {
    eachMode { (mode, store) =>
      store.setData(frame(rows))
      for ((q, qi) <- queries.zipWithIndex; k <- Seq(1, 3, 11, 12, 50)) {
        val (s, l) = bothPaths(store)(_.queryVector(q, k))
        val got = assertSame(s"$mode q$qi k=$k", s, l)
        // k beyond the 11 non-null rows returns those 11, never t05
        assert(got.length == math.min(k, 11), s"$mode q$qi k=$k")
        assert(!got.exists(_.getAs[String]("target") == "t05"))
        val (si, li) = bothPaths(store)(_.queryVectorWithInfo(q, k))
        assertSame(s"$mode info q$qi k=$k", si, li)
        assert(!li.columns.contains("option2"), s"$mode: ${li.columns.toSeq}")
      }
      // the tie: t01, t03 and t07 (ids 2, 4, 8) share q0's vector
      val top = store.queryVector(queries.head, 3).collect()
      assert(top.map(_.getAs[Long]("id")).toSeq == Seq(2L, 4L, 8L))
      assert(top.forall(_.getAs[Double]("distance") == 0.0))
      store.reset()
    }
  }

  test("a warm in-process query runs no Spark job; text queries and " +
      "queryWithInfo take the same path") {
    val store = new VectorStore(spark, HashEmbedder(dim = Dim))
    store.setData(frame(rows))
    store.setSnapshotBudget(Long.MaxValue)
    val (_, cold) = jobsOf(store.queryVector(vec(2), 3).collect())
    assert(cold >= 1, "the first query collects the snapshot")
    val (_, warm) = jobsOf {
      store.queryVector(vec(2), 3).collect()
      store.query("t02", 3).collect()
      store.queryWithInfo("t02", 3).collect()
      store.queryVectorWithInfo(vec(2), 3).collect()
    }
    assert(warm == 0, s"warm queries ran $warm jobs")
    val (s, l) = bothPaths(store)(_.queryWithInfo("t04", 5))
    assertSame("text info", s, l)
  }

  test("over the budget every query is a Spark scan with the same rows") {
    eachMode { (mode, store) =>
      store.setData(frame(rows))
      store.setSnapshotBudget(Long.MaxValue)
      val local = store.queryVector(vec(4), 5)
      store.setSnapshotBudget(1000L) // 12 rows cost more than this
      store.queryVector(vec(4), 5).collect()
      val (res, jobs) = jobsOf(store.queryVector(vec(4), 5).collect())
      assert(jobs >= 1, s"$mode: over-budget query served in-process")
      assert(res.toSeq == local.collect().toSeq, mode)
      store.reset()
    }
  }

  test("a store over the budget keeps that verdict across appends; " +
      "updateData and reset size it again") {
    val store = new VectorStore(spark, HashEmbedder(dim = Dim))
    store.setData(frame(rows))
    // an append makes the in-memory store a checkpoint, which the
    // optimizer cannot size: its first query runs a sizing job
    store.setData(frame(Seq(("t12", "o12", null, vec(12)))), append = true)
    store.setSnapshotBudget(1000L) // 13 rows cost more than this
    val (_, gated) = jobsOf(store.queryVector(vec(4), 5).collect())
    val (_, scan) = jobsOf(store.queryVector(vec(4), 5).collect())
    assert(gated > scan, s"first query $gated jobs, next $scan")
    val far = Array(9f, 9f, 9f, 9f)
    store.setData(frame(Seq(("t13", "o13", null, far))), append = true)
    val (top, afterAppend) = jobsOf(store.queryVector(far, 1).collect())
    assert(afterAppend == scan, s"the append re-sized the store: " +
      s"$afterAppend jobs vs $scan")
    assert(top.map(_.getAs[String]("target")).toSeq == Seq("t13"))
    store.updateData(frame(Seq(("t13", "moved", null, far))))
    val (_, afterUpdate) = jobsOf(store.queryVector(vec(4), 5).collect())
    assert(afterUpdate == gated, s"$afterUpdate jobs after updateData")
    store.reset()
    store.queryVector(vec(4), 1).collect()
    val (_, empty) = jobsOf(store.queryVector(vec(4), 1).collect())
    assert(empty == 0, s"an empty store is under any budget: $empty jobs")
  }

  test("empty store: both paths return no rows with equal schemas") {
    eachMode { (mode, store) =>
      store.reset()
      val (s, l) = bothPaths(store)(_.queryVector(vec(0), 3))
      assert(assertSame(mode, s, l).isEmpty)
      assert(store.isEmpty)
    }
  }

  test("a mismatched query dim raises a named error at call time") {
    val store = new VectorStore(spark, HashEmbedder(dim = Dim))
    store.setData(frame(rows))
    store.setSnapshotBudget(Long.MaxValue)
    val e = intercept[IllegalArgumentException] {
      store.queryVector(Array(1f, 2f), 3)
    }
    assert(e.getMessage.contains("vector length mismatch: 4 vs 2"),
      e.getMessage)
  }

  test("an append is visible to the next query, and takes isEmpty and " +
      "the max id from a valid snapshot (two fewer jobs)") {
    def store(budget: Long) = {
      val st = new VectorStore(spark, HashEmbedder(dim = Dim))
      st.setData(frame(rows))
      st.setSnapshotBudget(budget)
      st.queryVector(vec(0), 1).collect()
      st
    }
    val (viaSpark, local) = (store(0L), store(Long.MaxValue))
    val batch = frame(Seq(("t99", "new", null, Array(9f, 9f, 9f, 9f))))
    val (_, sparkJobs) = jobsOf(viaSpark.setData(batch, append = true))
    val (_, localJobs) = jobsOf(local.setData(batch, append = true))
    // isEmpty is a take(1), which may run a second job over more
    // partitions; max id is one aggregation job
    assert(localJobs <= sparkJobs - 2, s"$localJobs vs $sparkJobs")
    for (st <- Seq(viaSpark, local)) {
      val top = st.queryVector(Array(9f, 9f, 9f, 9f), 1).collect()
      assert(top.map(r => (r.getAs[Long]("id"), r.getAs[String]("target")))
        .toSeq == Seq((13L, "t99")))
    }
    // the appended store (a checkpointed frame in memory mode) is
    // served in-process again from its second query on
    val (_, warm) = jobsOf(local.queryVector(vec(3), 2).collect())
    assert(warm == 0, s"warm query after an append ran $warm jobs")
    local.setSnapshotBudget(0L)
    assertSame("after append", local.queryVector(vec(3), 20),
      { local.setSnapshotBudget(Long.MaxValue); local.queryVector(vec(3), 20) })
  }

  test("updateData, reset and compactBuckets invalidate the snapshot") {
    eachMode { (mode, store) =>
      store.setData(frame(rows))
      store.setSnapshotBudget(Long.MaxValue)
      val far = Array(50f, 50f, 50f, 50f)
      assert(store.queryVector(far, 1).collect().head
        .getAs[String]("target") != "t02")
      // move t02 next to `far`, keeping its id
      store.updateData(frame(Seq(("t02", "moved", null, far))))
      val top = store.queryVector(far, 1).collect().head
      assert((top.getAs[Long]("id"), top.getAs[String]("option1")) ==
        (3L, "moved"), mode)
      val (s, l) = bothPaths(store)(_.queryVector(far, 12))
      val updated = assertSame(s"$mode after update", s, l)
      if (mode == "bucketed") {
        store.compactBuckets()
        val (_, jobs) = jobsOf(store.queryVector(far, 1).collect())
        assert(jobs >= 1, "compaction kept a stale snapshot")
        assert(store.queryVector(far, 12).collect().toSeq == updated)
      }
      store.reset()
      assert(store.queryVector(far, 3).collect().isEmpty, mode)
      assert(store.isEmpty)
    }
  }
}
