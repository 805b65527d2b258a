package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Versioned snapshot table: commits, the generation registry, and
  * as-of reconstruction (latest-write-wins, tombstone persistence,
  * partition-pruned reads). */
class LakeSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft-snap-").toAbsolutePath.toString

  // commits per writer in the two-process race
  private val Commits = 20

  private def state(root: String, g: Long): Map[Long, (String, Long)] =
    Lake.readAsOf(spark, root, Seq("id"), g).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("as-of reads reconstruct every historical generation: insert, " +
      "update, delete, re-insert after delete") {
    val root = tmp()
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n")
    assert(Lake.commitSnapshot(spark, root, base, Seq("id")) == 0L)
    assert(Lake.commitSnapshot(spark, root,
      Seq((2L, "b2", 21L), (4L, "d", 40L)).toDF("id", "v", "n"),
      Seq("id")) == 1L)
    assert(Lake.commitSnapshot(spark, root,
      base.limit(0), Seq("id"),
      deletes = Some(Seq(Tuple1(1L)).toDF("id"))) == 2L)
    // re-insert a deleted key: the later write must win the tombstone
    assert(Lake.commitSnapshot(spark, root,
      Seq((1L, "a3", 11L)).toDF("id", "v", "n"), Seq("id")) == 3L)
    assert(Lake.snapshotGenerations(spark, root).get == Seq(0L, 1L, 2L, 3L))
    assert(state(root, 0L) ==
      Map(1L -> ("a", 10L), 2L -> ("b", 20L), 3L -> ("c", 30L)))
    assert(state(root, 1L) ==
      Map(1L -> ("a", 10L), 2L -> ("b2", 21L), 3L -> ("c", 30L),
        4L -> ("d", 40L)))
    assert(state(root, 2L) ==
      Map(2L -> ("b2", 21L), 3L -> ("c", 30L), 4L -> ("d", 40L)),
      "gen-2 read must hide the tombstoned key")
    assert(state(root, 3L) ==
      Map(1L -> ("a3", 11L), 2L -> ("b2", 21L), 3L -> ("c", 30L),
        4L -> ("d", 40L)),
      "re-insert after delete must resurrect the key")
    // reading PAST state after later commits exist is the whole point
    assert(state(root, 0L)(2L) == ("b", 20L))
    // beyond-newest reads the current state
    assert(state(root, 99L) == state(root, 3L))
  }

  test("readAsOf prunes generation directories (PartitionFilters) and " +
      "a commit never rewrites prior generations") {
    val root = tmp()
    Lake.commitSnapshot(spark, root,
      Seq((1L, "a", 1L)).toDF("id", "v", "n"), Seq("id"))
    // gen=0's data files (hidden and `_` metadata files excluded) with
    // their sizes
    def gen0: Set[(String, Long)] = {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val it = Files.walk(Paths.get(s"$root/gen=0"))
      try it.iterator().asScala.filter { f =>
        val name = f.getFileName.toString
        Files.isRegularFile(f) && !name.startsWith("_") &&
          !name.startsWith(".")
      }.map(f => (f.toString, Files.size(f))).toSet
      finally it.close()
    }
    val gen0Files = gen0
    Lake.commitSnapshot(spark, root,
      Seq((2L, "b", 2L)).toDF("id", "v", "n"), Seq("id"))
    assert(gen0 == gen0Files, "a commit must not touch prior generations")
    val plan = Lake.readAsOf(spark, root, Seq("id"), 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(!plan.contains("gen=1"),
      s"as-of-0 scan must prune the gen=1 directory:\n$plan")
  }

  test("guards: missing keys fail loudly; empty registry is None; " +
      "delete-only commits carry the schema") {
    val root = tmp()
    assert(Lake.snapshotGenerations(spark, root)
      .forall(_.isEmpty), "no commits yet")
    intercept[IllegalArgumentException] {
      Lake.commitSnapshot(spark, root,
        Seq((1L, "a")).toDF("id", "v"), Seq("missing"))
    }
    val base = Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "v", "n")
    Lake.commitSnapshot(spark, root, base, Seq("id"))
    // delete-only commit: upserts frame supplies only the schema
    Lake.commitSnapshot(spark, root, base.limit(0), Seq("id"),
      deletes = Some(Seq(Tuple1(2L)).toDF("id")))
    assert(state(root, 1L) == Map(1L -> ("a", 1L)))
  }

  test("streaming ingest into a snapshot table: one commit per " +
      "micro-batch, and as-of reads reconstruct every batch boundary") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp() + "/t"
    val source = MemoryStream[(Long, String, Long)]
    val q = source.toDF().toDF("id", "v", "n").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Lake.commitSnapshot(spark, root, batch, Seq("id"))
        ()
      }.start()
    try {
      source.addData((1L, "a", 1L), (2L, "b", 2L))
      q.processAllAvailable()
      source.addData((2L, "b2", 22L), (3L, "c", 3L)) // upsert + insert
      q.processAllAvailable()
      assert(Lake.snapshotGenerations(spark, root).get == Seq(0L, 1L))
      assert(state(root, 0L) == Map(1L -> ("a", 1L), 2L -> ("b", 2L)),
        "the pre-upsert state must stay readable after the next trigger")
      assert(state(root, 1L) ==
        Map(1L -> ("a", 1L), 2L -> ("b2", 22L), 3L -> ("c", 3L)))
    } finally q.stop()
  }

  test("a TORN commit (no _SUCCESS marker) is invisible to readers " +
      "and the next commit numbers past it") {
    val root = tmp()
    Lake.commitSnapshot(spark, root,
      Seq((1L, "a", 1L)).toDF("id", "v", "n"), Seq("id"))
    // simulate a writer dying mid-commit on gen=1: data file present,
    // no _SUCCESS marker
    Seq((9L, "torn", 9L)).toDF("id", "v", "n")
      .withColumn("__deleted", lit(false))
      .write.parquet(s"$root/gen=1")
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$root/gen=1/_SUCCESS"))
    // and another killed right after its claim: an empty gen=2
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$root/gen=2"))
    assert(Lake.snapshotGenerations(spark, root).get == Seq(0L),
      "torn generations must not register as commits")
    assert(state(root, 99L) == Map(1L -> ("a", 1L)),
      "torn rows must stay invisible to as-of reads")
    // the next commit must NOT collide with either torn directory
    val g = Lake.commitSnapshot(spark, root,
      Seq((2L, "b", 2L)).toDF("id", "v", "n"), Seq("id"))
    assert(g == 3L, s"next commit must number past the torn dirs, got $g")
    assert(Lake.snapshotGenerations(spark, root).get == Seq(0L, 3L))
    assert(state(root, 99L) == Map(1L -> ("a", 1L), 2L -> ("b", 2L)))
  }

  test("two concurrent writer threads both commit, each in its own " +
      "generation") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmp()
    Lake.commitSnapshot(spark, root,
      Seq((1L, "base", 0L)).toDF("id", "v", "n"), Seq("id"))
    val gate = new java.util.concurrent.CountDownLatch(1)
    def writer(id: Long, tag: String) = Future {
      gate.await()
      Lake.commitSnapshot(spark, root,
        Seq((id, tag, 1L)).toDF("id", "v", "n"), Seq("id"))
    }
    val (fa, fb) = (writer(100L, "a"), writer(200L, "b"))
    gate.countDown()
    val won = Seq(fa, fb).map(Await.result(_, 120.seconds))
    assert(won.sorted == Seq(1L, 2L), s"both writers must commit: $won")
    assert(Lake.snapshotGenerations(spark, root).get == Seq(0L, 1L, 2L))
    // each generation holds its own writer's row only
    for ((g, tag) <- won.zip(Seq("a", "b")))
      assert(spark.read.parquet(s"$root/gen=$g").select("v").as[String]
        .collect().toSeq == Seq(tag), s"gen=$g")
    assert(state(root, 99L) == Map(1L -> ("base", 0L),
      100L -> ("a", 1L), 200L -> ("b", 1L)))
  }

  test("two writer processes commit 20 times each to one root: 40 " +
      "distinct committed generations, none mixing writers") {
    val root = tmp()
    val dir = java.nio.file.Files.createTempDirectory("graft-race-")
    val (ready, go) = (dir.resolve("ready"), dir.resolve("go"))
    val log = dir.resolve("writer.log").toFile
    val child = LakeCommitWriter.launch(root, "child", Commits,
      ready.toString, go.toString, log)
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!java.nio.file.Files.exists(ready) && child.isAlive &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(java.nio.file.Files.exists(ready), "writer process never " +
        s"got ready:\n${scala.io.Source.fromFile(log).mkString.takeRight(4000)}")
      java.nio.file.Files.createFile(go)
      LakeCommitWriter.commitAll(spark, root, "parent", Commits)
      assert(child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS) &&
        child.exitValue == 0, "writer process failed:\n" +
        scala.io.Source.fromFile(log).mkString.takeRight(4000))
    } finally child.destroyForcibly()
    val gens = Lake.snapshotGenerations(spark, root).get
    assert(gens == (0L until 2L * Commits), s"committed: $gens")
    val writes = gens.map { g =>
      val rows = spark.read.parquet(s"$root/gen=$g")
        .select("writer", "seq").distinct().as[(String, Long)].collect()
      assert(rows.length == 1, s"gen=$g mixes commits: ${rows.toSeq}")
      rows.head
    }
    assert(writes.toSet == (for {
      w <- Set("parent", "child"); i <- 0L until Commits } yield (w, i)))
  }

  test("on a non-file: scheme a commit claims with a _CLAIMED marker " +
      "that readers ignore") {
    spark.sparkContext.hadoopConfiguration.set("fs.claimtest.impl",
      classOf[ClaimTestFileSystem].getName)
    val root = "claimtest:" + tmp()
    Lake.commitSnapshot(spark, root,
      Seq((1L, "a", 1L)).toDF("id", "v", "n"), Seq("id"))
    // another writer's claim on gen=1: the next commit numbers past it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$root/gen=1/_CLAIMED"), false)
      .close()
    assert(Lake.commitSnapshot(spark, root,
      Seq((2L, "b", 2L)).toDF("id", "v", "n"), Seq("id")) == 2L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen=2/_CLAIMED")))
    assert(Lake.snapshotGenerations(spark, root).get == Seq(0L, 2L))
    assert(state(root, 99L) == Map(1L -> ("a", 1L), 2L -> ("b", 2L)))
  }

  test("a mid-write failure of this writer's OWN attempt is not a " +
      "lost race: rethrown immediately, never retried at later " +
      "generations, registry untouched") {
    val root = tmp()
    Lake.commitSnapshot(spark, root,
      Seq((1L, "a", 1L)).toDF("id", "v", "n"), Seq("id"))
    // poison one row so the write job fails after the claim
    val bad = Seq((2L, "b", 2L), (3L, "c", 3L)).toDF("id", "v", "n")
      .withColumn("v",
        when(col("id") === 3L, expr("raise_error('boom')"))
          .otherwise(col("v")))
    val e = intercept[Exception] {
      Lake.commitSnapshot(spark, root, bad, Seq("id"))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("boom")),
      s"the write's own error must surface: $e")
    // the failed writer deleted its claim: no gen= directory but gen=0
    val dirs = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("gen=")).map(_.getName).toSeq
    assert(dirs == Seq("gen=0"), dirs.mkString(","))
    assert(Lake.commitSnapshot(spark, root,
      Seq((2L, "b", 2L)).toDF("id", "v", "n"), Seq("id")) == 1L)
  }
}

/** The local filesystem under the `claimtest:` scheme, so a spec can
  * drive the commit path that other schemes (HDFS, object stores) take. */
class ClaimTestFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("claimtest:///")
  override def getScheme: String = "claimtest"
}
