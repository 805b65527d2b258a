package graft.store

import graft.SparkSpec
import graft.functions.HashEmbedder

/** Semantics parity with the reference's sample scenarios
  * (`/root/reference/vsu/sample/main.py:31-54`): replace vs append with
  * overlap dedup, sequential ids, null-column drop, empty-store guard.
  */
class VectorStoreSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def freshStore() =
    new VectorStore(spark, HashEmbedder(dim = 16), batchSize = 7)

  private def frame(names: (String, String)*) = {
    import spark.implicits._
    names.toSeq.toDF("target", "option1")
  }

  test("replace ingest: schema coercion, sequential ids, embed-if-missing") {
    val store = freshStore()
    store.setData(frame("banana" -> "b", "apple" -> "a", "cherry" -> "c"))
    val rows = store.data.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // default sortCols = target → alphabetical insertion order
    assert(rows.map(_.getString(1)).toSeq == Seq("apple", "banana", "cherry"))
    assert(rows.forall(_.getSeq[Float](7).length == 16))
    // option2..5 padded with null
    assert(rows.forall(r => (3 to 6).forall(r.isNullAt)))
  }

  test("heavy-model dry run: a columnar model behind setData sees only " +
      "full-width batches, never a per-row call") {
    import spark.implicits._
    // the real-weights drop-in point: if this probe model (standing in
    // for an ONNX/torch session) receives packed batches through the
    // whole store ingest path, then weight availability is the only
    // thing between the engine and real E5/CLIP inference
    graft.functions.EmbedderSpec.batchSizes.clear()
    val model = graft.functions.ColumnarEmbedder.AsEmbedder(
      graft.functions.EmbedderSpec.ProbeColumnar(8))
    val store = new VectorStore(spark, model, batchSize = 64)
    val docs = (1 to 150).map(i => (s"doc $i text", s"o$i"))
      .toDF("target", "option1").repartition(1)
    store.setData(docs)
    assert(store.data.count() == 150)
    val sizes = {
      val it = graft.functions.EmbedderSpec.batchSizes.iterator()
      val b = scala.collection.mutable.ArrayBuffer[Int]()
      while (it.hasNext) b += it.next()
      b.toSeq
    }
    assert(sizes.nonEmpty, "model was never called")
    assert(!sizes.contains(1) || docs.count() % 64 == 1,
      s"per-row inference leaked through the store path: $sizes")
    // one partition of 150 rows at batchSize 64 → batches 64, 64, 22
    // (setData may re-evaluate the embed plan for id assignment /
    // write, so the multiset may repeat — the WIDTHS are the contract)
    assert(sizes.toSet.subsetOf(Set(64, 22)),
      s"unexpected batch widths: $sizes")
    // embeddings are the model's, end-to-end (vector(0) = utf8 length)
    val v = store.data.where(col("target") === "doc 7 text")
      .select("vector").as[Seq[Float]].head()
    assert(v(0) == "query: doc 7 text".getBytes("UTF-8").length.toFloat)
  }

  test("append dedup is first-wins on target (main.py:39-51 overlap)") {
    val store = freshStore()
    store.setData(frame("a" -> "first", "b" -> "first", "c" -> "first"))
    store.setData(frame("b" -> "second", "c" -> "second", "d" -> "second"),
      append = true)
    val byTarget = store.data.collect()
      .map(r => r.getString(1) -> (r.getLong(0), r.getString(2))).toMap
    assert(byTarget.keySet == Set("a", "b", "c", "d"))
    // existing rows won; only 'd' was appended, with the next id
    assert(byTarget("b")._2 == "first" && byTarget("c")._2 == "first")
    assert(byTarget("d") == (4L, "second"))
  }

  test("in-batch duplicate targets keep the first by sort order") {
    val store = freshStore()
    store.setData(frame("x" -> "keep", "x" -> "keep", "y" -> "only"),
      sortCols = Seq("target", "option1"))
    assert(store.data.count() == 2)
  }

  test("replace drops prior contents (S8/U2)") {
    val store = freshStore()
    store.setData(frame("a" -> "1", "b" -> "1"))
    store.setData(frame("z" -> "2"))
    val rows = store.data.collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("z"))
    assert(rows.head.getLong(0) == 1L) // ids restart at 1
  }

  test("ingest without target raises (quirk Q3 hardened)") {
    import spark.implicits._
    val store = freshStore()
    intercept[IllegalArgumentException] {
      store.setData(Seq("x").toDF("nottarget"))
    }
  }

  test("query returns ascending squared-L2 with id tiebreak") {
    val store = freshStore()
    store.setData(frame("alpha beta" -> "1", "beta gamma" -> "2",
      "alpha beta" -> "dup", "delta" -> "3"))
    val res = store.query("alpha beta", k = 2).collect()
    assert(res.length == 2)
    assert(res.head.getString(1) == "alpha beta") // exact text is nearest
    val dists = res.map(_.getDouble(7))
    assert(dists.sameElements(dists.sorted))
  }

  test("queryWithInfo drops all-null option columns (P4)") {
    val store = freshStore()
    store.setData(frame("one" -> "x", "two" -> "y"))
    val res = store.queryWithInfo("one", k = 2)
    assert(res.columns.toSeq == Seq("id", "target", "option1", "distance"))
  }

  test("empty store: isEmpty guard and empty query result (P5)") {
    val store = freshStore()
    assert(store.isEmpty)
    assert(store.queryVector(Array.fill(16)(0f), k = 3).isEmpty)
  }

  test("reset drops everything (reset_db parity)") {
    val store = freshStore()
    store.setData(frame("a" -> "1"))
    store.reset()
    assert(store.isEmpty)
  }

  test("pre-supplied vectors skip the embedder (VectorSearchBase.py:115)") {
    import spark.implicits._
    val df = Seq(
      ("p", Array(1f, 0f)), ("q", Array(0f, 1f)), ("r", Array(1f, 1f))
    ).toDF("target", "vector")
    val store = new VectorStore(spark, HashEmbedder(dim = 2))
    store.setData(df)
    val res = store.queryVector(Array(1f, 0f), k = 1).collect()
    assert(res.head.getString(1) == "p")
    assert(res.head.getDouble(7) == 0.0)
  }

  test("typed view exposes Dataset[VectorRecord]") {
    val store = freshStore()
    store.setData(frame("hello world" -> "x"))
    val recs = store.typed.collect()
    assert(recs.length == 1)
    assert(recs.head.id == 1L && recs.head.target == "hello world")
    assert(recs.head.option1.contains("x") && recs.head.option2.isEmpty)
    assert(recs.head.vector.length == 16)
  }

  test("mlpClassifier trains on stored vectors against an option column") {
    import spark.implicits._
    val rows = (0 until 40).map(i => (s"apple pie number $i", "fruit")) ++
      (0 until 40).map(i => (s"car engine number $i", "vehicle"))
    val store = new VectorStore(spark, HashEmbedder(dim = 16), batchSize = 32)
    store.setData(rows.toDF("target", "option1"))
    val res = store.mlpClassifier("option1", hidden = Seq(8), maxIter = 80)
    assert(res.holdoutMetric >= 0.8, s"holdout ${res.holdoutMetric}")
    assert(res.predictions.count() == 80)
  }

  test("mlp on empty store raises") {
    val store = freshStore()
    intercept[IllegalArgumentException] { store.mlpClassifier("option1") }
  }

  test("durable store round-trips through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new VectorStore(spark, HashEmbedder(dim = 8),
      path = Some(s"$dir/db"))
    store.setData(frame("a" -> "1", "b" -> "2"))
    store.setData(frame("c" -> "3"), append = true)
    // a second store over the same path sees the data
    val reopened = new VectorStore(spark, HashEmbedder(dim = 8),
      path = Some(s"$dir/db"))
    assert(reopened.data.count() == 3)
    assert(reopened.data.agg(max("id")).head.getLong(0) == 3L)
  }

  test("a torn newest generation still reads the last committed one") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val p = s"$dir/db"
    val store = new VectorStore(spark, HashEmbedder(dim = 8), path = Some(p))
    store.setData(frame("a" -> "1", "b" -> "2"))
    store.setData(frame("c" -> "3"), append = true)
    // the replace is base gen=0, the append only its fresh row, as delta
    // gen=1
    val gens = new java.io.File(p).list().filter(_.startsWith("gen=")).toSeq
    assert(gens.sorted == Seq("gen=0", "gen=1"), s"base + one delta: $gens")
    assert(!new java.io.File(s"$p/gen=0/_DELTA").exists() &&
      new java.io.File(s"$p/gen=1/_DELTA").exists())
    // a writer killed mid-write: rows in gen=2, no _SUCCESS marker
    store.data.limit(1).write.parquet(s"$p/gen=2")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$p/gen=2/_SUCCESS"))
    val reopened = new VectorStore(spark, HashEmbedder(dim = 8),
      path = Some(p))
    assert(reopened.data.count() == 3)
    // the next write numbers past the torn generation and drops it
    reopened.setData(frame("z" -> "9"))
    assert(reopened.data.count() == 1)
    assert(new java.io.File(p).list().filter(_.startsWith("gen=")).toSeq ==
      Seq("gen=3"))
  }

  test("reset removes every generation, torn ones included, so " +
      "deleted data cannot resurrect") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val p = s"$dir/db"
    val store = new VectorStore(spark, HashEmbedder(dim = 8), path = Some(p))
    store.setData(frame("a" -> "1"))
    store.data.write.parquet(s"$p/gen=1")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$p/gen=1/_SUCCESS"))
    store.reset()
    assert(!new java.io.File(p).exists())
    val reopened = new VectorStore(spark, HashEmbedder(dim = 8),
      path = Some(p))
    assert(reopened.data.count() == 0, "reset store resurrected")
  }

  test("a flat-layout store (parquet files, no gen= directory) is " +
      "rejected on reopen, not read as empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val p = s"$dir/db"
    val mem = freshStore()
    mem.setData(frame("a" -> "1"))
    mem.data.write.parquet(p)
    val e = intercept[IllegalStateException] {
      new VectorStore(spark, HashEmbedder(dim = 8), path = Some(p)).data
    }
    assert(e.getMessage.contains("flat-layout"), e.getMessage)
  }

  // ---- path mode: one base generation plus delta generations ----

  private def pathStore(p: String) =
    new VectorStore(spark, HashEmbedder(dim = 8), path = Some(p))

  /** `gen=N` -> is a delta (holds `_DELTA`), for every generation under
    * `p`, committed or not. */
  private def layoutOf(p: String): Seq[(Long, Boolean)] =
    new java.io.File(p).list().filter(_.startsWith("gen=")).toSeq
      .map(g => (g.stripPrefix("gen=").toLong,
        new java.io.File(s"$p/$g/_DELTA").exists())).sortBy(_._1)

  private def rowsOf(store: VectorStore): Seq[(Long, String, String)] =
    store.data.orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  test("path mode: a replace and three appends read back as one base " +
      "plus three deltas, with the rows and ids of a full rewrite") {
    val p = s"${java.nio.file.Files.createTempDirectory("graft-store")}/db"
    val store = pathStore(p)
    val whole = new VectorStore(spark, HashEmbedder(dim = 8))
    whole.setSnapshotBudget(0L) // the Spark path: union of old and fresh
    // a base of 300 rows outweighs three small deltas (no fold)
    val batches = Seq(
      frame(Seq("m", "c", "x").map(_ -> "1") ++
        (100 until 397).map(i => s"k$i" -> "1"): _*),
      frame("c" -> "2", "a" -> "2", "z" -> "2"),  // c is stored: dropped
      frame("b" -> "3", "b" -> "3", "y" -> "3"),  // in-batch duplicate
      frame("d" -> "4", "m" -> "4"))
    store.setData(batches.head)
    whole.setData(batches.head)
    batches.tail.foreach { b =>
      store.setData(b, append = true)
      whole.setData(b, append = true)
    }
    assert(layoutOf(p) == Seq(0L -> false, 1L -> true, 2L -> true, 3L -> true))
    // each delta holds only what its append added
    assert((1 to 3).map(g => spark.read.parquet(s"$p/gen=$g").count()) ==
      Seq(2L, 2L, 1L))
    val reopened = pathStore(p)
    assert(rowsOf(reopened) == rowsOf(whole))
    assert(rowsOf(reopened).map(_._1) == (1L to 305L))
    assert(reopened.data.collect().map(r => r.getLong(0) -> r.getSeq[Float](7))
      .toMap == whole.data.collect().map(r => r.getLong(0) -> r.getSeq[Float](7))
      .toMap)
  }

  test("path mode: a torn delta is invisible and the next append " +
      "numbers past it") {
    val p = s"${java.nio.file.Files.createTempDirectory("graft-store")}/db"
    val store = pathStore(p)
    store.setData(frame("a" -> "1", "b" -> "1"))
    store.setData(frame("c" -> "2"), append = true)
    // a writer killed mid-write: a delta gen=2 with rows, no _SUCCESS
    val torn = new java.io.File(s"$p/gen=2")
    store.data.limit(1).write.parquet(torn.toString)
    new java.io.File(torn, "_SUCCESS").delete()
    new java.io.File(torn, "_DELTA").createNewFile()
    val reopened = pathStore(p)
    assert(rowsOf(reopened).map(_._2) == Seq("a", "b", "c"))
    reopened.setData(frame("d" -> "3", "a" -> "3"), append = true)
    assert(layoutOf(p) == Seq(0L -> false, 1L -> true, 2L -> true, 3L -> true))
    assert(rowsOf(pathStore(p)) ==
      Seq((1L, "a", "1"), (2L, "b", "1"), (3L, "c", "2"), (4L, "d", "3")))
  }

  test("path mode: a replace or updateData leaves exactly one base") {
    val p = s"${java.nio.file.Files.createTempDirectory("graft-store")}/db"
    val store = pathStore(p)
    store.setData(frame("a" -> "1"))
    store.setData(frame("b" -> "2"), append = true)
    store.setData(frame("c" -> "3"), append = true)
    store.updateData(frame("a" -> "9", "d" -> "9"))
    assert(layoutOf(p) == Seq(3L -> false))
    assert(rowsOf(pathStore(p)) == Seq((1L, "a", "9"), (2L, "b", "2"),
      (3L, "c", "3"), (4L, "d", "9")))
    store.setData(frame("e" -> "5"), append = true)
    store.setData(frame("z" -> "0", "y" -> "0"))
    assert(layoutOf(p) == Seq(5L -> false))
    assert(rowsOf(pathStore(p)) == Seq((1L, "y", "0"), (2L, "z", "0")))
  }

  test("path mode: once the deltas' bytes reach the base's, the next " +
      "append folds base, deltas and fresh rows into a new base") {
    val p = s"${java.nio.file.Files.createTempDirectory("graft-store")}/db"
    val store = pathStore(p)
    val whole = new VectorStore(spark, HashEmbedder(dim = 8))
    whole.setSnapshotBudget(0L)
    store.setData(frame("base" -> "0"))
    whole.setData(frame("base" -> "0"))
    def dataBytes(g: Long) = new java.io.File(s"$p/gen=$g").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    var folds = 0
    for (i <- 1 to 6) {
      val before = layoutOf(p)
      val (base, deltas) = (before.head._1, before.tail.map(_._1))
      val due = deltas.map(dataBytes).sum >= dataBytes(base)
      val b = frame(s"t$i" -> s"$i", s"u$i" -> s"$i")
      store.setData(b, append = true)
      whole.setData(b, append = true)
      val next = before.last._1 + 1
      if (due) {
        folds += 1
        assert(layoutOf(p) == Seq(next -> false), s"append $i")
      } else assert(layoutOf(p) == before :+ (next -> true), s"append $i")
      assert(rowsOf(store) == rowsOf(whole), s"append $i")
    }
    assert(folds >= 1, "no fold in six appends")
    assert(rowsOf(pathStore(p)) == rowsOf(whole))
  }

  test("path mode over the snapshot budget: each delta, the next one " +
      "included, also costs a file open, and a fold writes one even " +
      "file per core") {
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.get(key)
    val p = s"${java.nio.file.Files.createTempDirectory("graft-store")}/db"
    val store = pathStore(p)
    store.setSnapshotBudget(0L) // every query scans the files
    val whole = new VectorStore(spark, HashEmbedder(dim = 8))
    whole.setSnapshotBudget(0L)
    val rows = frame((0 until 300).map(i => s"k$i" -> "0"): _*)
    store.setData(rows)
    whole.setData(rows)
    def dataFiles(g: Long) = new java.io.File(s"$p/gen=$g").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    def dataBytes(g: Long) = dataFiles(g).map(_.length).sum
    // a file open priced at a third of the base: the third append folds,
    // where the deltas' bytes alone would not reach the base's
    val open = dataBytes(0) / 3
    try {
      spark.conf.set(key, open)
      var folds = 0
      for (i <- 1 to 6) {
        val before = layoutOf(p)
        val (base, deltas) = (before.head._1, before.tail.map(_._1))
        val due =
          deltas.map(dataBytes(_) + open).sum + open >= dataBytes(base)
        val b = frame(s"t$i" -> s"$i", s"u$i" -> s"$i")
        store.setData(b, append = true)
        whole.setData(b, append = true)
        val next = before.last._1 + 1
        if (due) {
          folds += 1
          assert(layoutOf(p) == Seq(next -> false), s"append $i")
          val sizes = dataFiles(next).map(_.length)
          assert(sizes.length == spark.sparkContext.defaultParallelism)
          assert(sizes.max < 2 * sizes.min, s"uneven fold: ${sizes.toSeq}")
        } else assert(layoutOf(p) == before :+ (next -> true), s"append $i")
        assert(rowsOf(store) == rowsOf(whole), s"append $i")
      }
      assert(folds >= 1 && folds < 6, s"$folds folds in six appends")
    } finally spark.conf.set(key, prev)
    assert(rowsOf(pathStore(p)) == rowsOf(whole))
  }

  test("path mode: an append by a store that read an older generation " +
      "raises, and leaves the other writer's rows") {
    val p = s"${java.nio.file.Files.createTempDirectory("graft-store")}/db"
    val first = pathStore(p)
    first.setData(frame("a" -> "1"))
    val second = pathStore(p)
    assert(second.data.count() == 1)
    first.setData(frame("b" -> "2"), append = true)
    val e = intercept[IllegalStateException] {
      second.setData(frame("c" -> "3"), append = true)
    }
    assert(e.getMessage.contains("concurrent write"), e.getMessage)
    assert(e.getMessage.contains("gen=1"), e.getMessage)
    assert(rowsOf(pathStore(p)) == Seq((1L, "a", "1"), (2L, "b", "2")))
  }

  test("path mode: generations without a _DELTA marker (as earlier " +
      "stores wrote every one) read as bases") {
    val p = s"${java.nio.file.Files.createTempDirectory("graft-store")}/db"
    val src = freshStore()
    src.setData(frame("a" -> "1", "b" -> "1"))
    // full rewrites, each committed whole; the older one kept, as a
    // writer dying before deleting it would leave it
    graft.operators.Lake.commitGeneration(spark, p, src.data.limit(1))
    graft.operators.Lake.commitGeneration(spark, p, src.data)
    val store = pathStore(p)
    assert(rowsOf(store).map(_._2) == Seq("a", "b"))
    store.setData(frame("c" -> "2"), append = true)
    assert(layoutOf(p) == Seq(0L -> false, 1L -> false, 2L -> true))
    assert(rowsOf(pathStore(p)).map(r => (r._1, r._2)) ==
      Seq(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("non-string target is coerced to string (schema stays uniform)") {
    import spark.implicits._
    val store = freshStore()
    store.setData(Seq((101, "x"), (7, "y")).toDF("target", "option1"))
    store.setData(Seq((102, "z")).toDF("target", "option1"), append = true)
    val targets = store.data.orderBy("id").collect().map(_.getString(1))
    assert(store.data.schema("target").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(targets.toSet == Set("101", "7", "102"))
  }

  test("bucketed store: replace + append semantics match the in-memory " +
      "store and survive reopen") {
    import spark.implicits._
    val tbl = "graft_store_spec_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val store = new VectorStore(spark, HashEmbedder(dim = 8),
      bucketedTable = Some(tbl), numBuckets = 4)
    try {
      store.setData(Seq(("a", "b1"), ("b", "b1")).toDF("target", "option1"))
      assert(store.data.count() == 2)
      // append: existing targets win, fresh rows get continuing ids
      store.setData(Seq(("b", "b2"), ("c", "b2")).toDF("target", "option1"),
        append = true)
      val byTarget = store.data.collect()
        .map(r => r.getString(1) -> (r.getLong(0), r.getString(2))).toMap
      assert(byTarget == Map(
        "a" -> (1L, "b1"), "b" -> (2L, "b1"), "c" -> (3L, "b2")))
      // a NEW handle on the same table sees the same rows (durable)
      val reopened = new VectorStore(spark, HashEmbedder(dim = 8),
        bucketedTable = Some(tbl), numBuckets = 4)
      assert(reopened.data.count() == 3)
      // the table really is bucketed: catalog reports the spec
      val ddl = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
        .map(r => s"${r.getString(0)}=${r.getString(1)}").mkString(";")
      assert(ddl.contains("Num Buckets=4") && ddl.contains("target"))
      // queries run over the bucketed layout
      val top = store.query("a", k = 1).collect()
      assert(top.length == 1)
      store.reset()
      assert(!spark.catalog.tableExists(tbl) && store.isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("updateData: last-wins upsert keeps ids for matched targets, " +
      "appends new ones (memory and bucketed modes)") {
    import spark.implicits._
    val tbl = "graft_store_spec_upsert"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val stores = Seq(
      new VectorStore(spark, HashEmbedder(dim = 8)),
      new VectorStore(spark, HashEmbedder(dim = 8),
        bucketedTable = Some(tbl), numBuckets = 4))
    try {
      for (store <- stores) {
        store.setData(Seq(("a", "x"), ("b", "y")).toDF("target", "option1"))
        store.updateData(Seq(("b", "z"), ("c", "w")).toDF("target", "option1"))
        val rows = store.data.collect()
          .map(r => r.getString(1) -> (r.getLong(0), r.getString(2))).toMap
        assert(rows == Map(
          "a" -> (1L, "x"),  // untouched
          "b" -> (2L, "z"),  // value replaced, id kept
          "c" -> (3L, "w"))) // appended with the next id
        // upsert into an empty store degrades to a plain ingest
        store.reset()
        store.updateData(Seq(("q", "v")).toDF("target", "option1"))
        assert(store.data.count() == 1)
        store.reset()
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("bucketed replace whose input derives from the store itself " +
      "does not destroy the table") {
    import spark.implicits._
    val tbl = "graft_store_spec_selfreplace"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val store = new VectorStore(spark, HashEmbedder(dim = 8),
      bucketedTable = Some(tbl), numBuckets = 2)
    try {
      store.setData(Seq(("a", "1"), ("b", "2")).toDF("target", "option1"))
      // replace with a frame READ FROM the store: the rewrite drops the
      // table before writing, so without materialization the plan would
      // scan deleted files
      store.setData(store.data
        .withColumn("option1", concat(col("option1"), lit("x")))
        .drop("id"))
      val rows = store.data.collect()
        .map(r => r.getString(1) -> r.getString(2)).toMap
      assert(rows == Map("a" -> "1x", "b" -> "2x"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("bucketed and path modes are mutually exclusive") {
    intercept[IllegalArgumentException] {
      new VectorStore(spark, HashEmbedder(dim = 8), path = Some("/tmp/x"),
        bucketedTable = Some("y"))
    }
  }

  test("skipBuild reuses the trained model across calls (skip_build parity)") {
    import spark.implicits._
    val rows =
      (0 until 30).map(i => (s"apple pie number $i", "fruit", s"${i % 7}")) ++
        (0 until 30).map(i => (s"car engine number $i", "vehicle", s"${i % 5}"))
    val store = new VectorStore(spark, HashEmbedder(dim = 16), batchSize = 32)
    store.setData(rows.toDF("target", "option1", "option2"))
    val first = store.mlpClassifier("option1", hidden = Seq(8), maxIter = 40)
    // skipBuild=true returns the SAME cached result object — no refit
    val second = store.mlpClassifier("option1", hidden = Seq(8), maxIter = 40,
      skipBuild = true)
    assert(second eq first)
    // default (skipBuild=false) retrains: a fresh result instance
    val third = store.mlpClassifier("option1", hidden = Seq(8), maxIter = 40)
    assert(!(third eq first))
    // regressor cache is independent and follows the same contract
    val regFirst = store.mlpRegressor("option2", maxIter = 5)
    assert(store.mlpRegressor("option2", maxIter = 5,
      skipBuild = true) eq regFirst)
    // skipBuild with DIFFERENT arguments must retrain, never hand back
    // a model trained on another label column
    val otherLabel = store.mlpClassifier("option2", hidden = Seq(8),
      maxIter = 40, skipBuild = true)
    assert(!(otherLabel eq third))
  }
}
