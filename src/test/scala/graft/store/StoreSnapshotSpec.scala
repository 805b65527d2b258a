package graft.store

import graft.{Schemas, SparkSpec}
import graft.functions.HashEmbedder
import graft.operators.LocalFit
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

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

  /** `f`'s result and the bytes its tasks sent the driver, counted once
    * the listener has seen each of its jobs end. */
  private def shippedBy[T](f: => T): (T, Long) = {
    val shipped = new java.util.concurrent.atomic.AtomicLong
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        shipped.addAndGet(e.taskMetrics.resultSize)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val group = s"snapshot-spec-shipped-${System.nanoTime()}"
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val out = try f finally spark.sparkContext.clearJobGroup()
      eventually(timeout(30.seconds)) {
        assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group)
          .forall(ended.contains(_)))
      }
      (out, shipped.get)
    } finally spark.sparkContext.removeSparkListener(listener)
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
    // an append makes the in-memory store a checkpoint: its first
    // query runs a sizing job
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

  test("an append whose embedded batch is over the remaining budget " +
      "takes the Spark path without collecting the batch") {
    val embedder = HashEmbedder(dim = 64)
    val texts = (0 until 12).map(i => (f"t$i%02d", s"o$i"))
    // 2000 targets in a parquet file: the optimizer sizes the embedded
    // batch by the file and a 4-byte vector, far under its heap cost
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-batch")
    (0 until 2000).map(i => (f"b$i%04d", s"p$i")).toDF("target", "option1")
      .coalesce(1).write.parquet(s"$dir/batch")
    val batch = spark.read.parquet(s"$dir/batch")
    val budget = 200000L
    val embedded = graft.functions.Embed.embedColumn(
      Ingest.normalizeToSchema(batch), "target", "vector", embedder, 256,
      prefix = "query: ")
    val sized = embedded.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sized < budget / 2, s"the optimizer sizes the batch at $sized")
    // the batch is rejected by the collect's tasks, which send the
    // driver a fraction of what an unbounded collect of it sends
    val (rejected, shipped) = shippedBy(
      LocalFit.collect(embedded, Schemas.saveCols, budget / 2, Some("vector")))
    assert(rejected.isEmpty)
    val (all, shippedAll) = shippedBy(
      LocalFit.collect(embedded, Schemas.saveCols, Long.MaxValue,
        Some("vector")))
    assert(all.map(_._1.length).contains(2000))
    assert(shipped * 4 < shippedAll, s"$shipped of $shippedAll bytes shipped")
    def stored(st: VectorStore) = st.data.orderBy("id").collect().toSeq
      .map(r => r.toSeq.init :+ r.getSeq[Float](7).toList)
    val (viaSpark, local) = (new VectorStore(spark, embedder),
      new VectorStore(spark, embedder))
    viaSpark.setSnapshotBudget(budget) // 12 rows fit, 2012 do not
    local.setSnapshotBudget(Long.MaxValue)
    for (st <- Seq(viaSpark, local)) {
      st.setData(texts.toDF("target", "option1"))
      st.queryVector(embedder.embedOne("query: t00"), 1).collect()
      st.setData(batch, append = true)
    }
    val q = embedder.embedOne("query: b0007")
    // the snapshot did not grow: the next query sizes the store again
    val (top, jobs) = jobsOf(viaSpark.queryVector(q, 1).collect())
    assert(jobs >= 1, "the over-budget batch was decided on the driver")
    assert(top.map(_.getAs[String]("target")).toSeq == Seq("b0007"))
    assert(stored(viaSpark) == stored(local))
    assert(stored(viaSpark).map(_.head) == (1L to 2012L))
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
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
    // the append grows the snapshot by its rows: in every mode the
    // first query after it is served in-process
    eachMode { (mode, st) =>
      st.setData(frame(rows))
      st.setSnapshotBudget(Long.MaxValue)
      st.queryVector(vec(0), 1).collect()
      for (i <- 0 until 3) {
        val t = s"t9$i"
        st.setData(frame(Seq((t, "new", null, Array(9f, 9f, 9f, i.toFloat)))),
          append = true)
        val (top, jobs) = jobsOf(
          st.queryVector(Array(9f, 9f, 9f, i.toFloat), 1).collect())
        assert(jobs == 0, s"$mode: the query after append $i ran $jobs jobs")
        assert(top.map(r => (r.getAs[Long]("id"), r.getAs[String]("target")))
          .toSeq == Seq((13L + i, t)), mode)
      }
      st.reset()
    }
  }

  test("after every append the Spark and in-process paths store the " +
      "same rows and ids and return bit-identical top-k, in memory, " +
      "path and bucketed modes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val tables = Seq("graft_snap_spec_spark", "graft_snap_spec_local")
    def store(mode: String, i: Int) = mode match {
      case "memory" => new VectorStore(spark, HashEmbedder(dim = Dim))
      case "path" => new VectorStore(spark, HashEmbedder(dim = Dim),
        path = Some(s"$dir/db$i"))
      case _ => new VectorStore(spark, HashEmbedder(dim = Dim),
        bucketedTable = Some(tables(i)), numBuckets = 3)
    }
    val far = Array(9f, 9f, 9f, 9f)
    // (rows, sortCols): a stored target (t03) is dropped, a null target
    // never matches a stored one, t30 appears twice in one batch (the
    // smaller option1 wins), a batch of stored targets adds nothing,
    // and t41 ties t01's vector
    val appends = Seq(
      (Seq(("t03", "again", null, vec(3)), ("t20", "o20", null, far),
        ("t21", "o21", "x", null), (null, "nt", null, vec(2))),
        Seq("target")),
      (Seq(("t31", "b", null, vec(8)), ("t30", "z", null, vec(9)),
        ("t30", "a", null, vec(4)), (null, "nt2", null, vec(6))),
        Seq("target", "option1")),
      (Seq(("t00", "no", null, vec(0)), ("t20", "no", null, vec(1))),
        Seq("target")),
      (Seq(("t41", "tie", null, vec(1)), ("t40", "o40", null, far)),
        Seq("target")))
    def stored(st: VectorStore) = st.data.orderBy("id").collect().toSeq
      .map(r => r.toSeq.init :+ Option(r.getSeq[Float](7)).map(_.toList))
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try for (mode <- Seq("memory", "path", "bucketed")) {
      val (viaSpark, local) = (store(mode, 0), store(mode, 1))
      viaSpark.setSnapshotBudget(0L)
      local.setSnapshotBudget(Long.MaxValue)
      for (st <- Seq(viaSpark, local)) st.setData(frame(rows))
      for (((batch, sortCols), n) <- appends.zipWithIndex) {
        for (st <- Seq(viaSpark, local))
          st.setData(frame(batch), append = true, sortCols = sortCols)
        // decided on the driver: the snapshot grew, no query job
        val (_, jobs) = jobsOf(local.queryVector(far, 1).collect())
        assert(jobs == 0, s"$mode append $n: $jobs jobs")
        assert(stored(local) == stored(viaSpark), s"$mode append $n")
        for ((q, qi) <- (far +: queries).zipWithIndex; k <- Seq(1, 4, 50)) {
          assertSame(s"$mode append $n q$qi k=$k",
            viaSpark.queryVector(q, k), local.queryVector(q, k))
          assertSame(s"$mode append $n info q$qi k=$k",
            viaSpark.queryVectorWithInfo(q, k),
            local.queryVectorWithInfo(q, k))
        }
      }
      assert(stored(local).map(_.take(2)) == (1 to 12).map(i =>
        Seq(i.toLong, f"t${i - 1}%02d")) ++ Seq(
        Seq(13L, null), Seq(14L, "t20"), Seq(15L, "t21"),
        Seq(16L, null), Seq(17L, "t30"), Seq(18L, "t31"),
        Seq(19L, "t40"), Seq(20L, "t41")), mode)
      viaSpark.reset()
      local.reset()
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("updateData and reset invalidate the snapshot") {
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
      assertSame(s"$mode after update", s, l)
      store.reset()
      assert(store.queryVector(far, 3).collect().isEmpty, mode)
      assert(store.isEmpty)
    }
  }
}
