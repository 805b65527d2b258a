package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.TextAnalysis

/** The process-shared materialized artifacts must be indistinguishable
  * from a direct recompute — they back registered oracle queries. */
class SharedFramesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sfspec-").toAbsolutePath.toString
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "src1"),
      (2L, "the quick brown fox jumps over a sleeping cat", "src2"),
      (3L, "completely different text with no overlap at all", "src3"),
      (4L, "zz", "src3"),
      (5L, "the quick brown fox jumps over the lazy dog", "src1"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("lmScoredDocs equals a direct charBigramScore run, and repeated " +
      "calls serve the same materialized artifact") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val direct = TextAnalysis.charBigramScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val shared = SharedFrames.lmScoredDocs(spark, fixtureDir)
      .orderBy("doc_id").collect()
    assert(shared.toSeq === direct.toSeq)
    // memoized: the second call reads the same files (same input paths)
    val first = SharedFrames.lmScoredDocs(spark, fixtureDir)
      .inputFiles.toSet
    val second = SharedFrames.lmScoredDocs(spark, fixtureDir)
      .inputFiles.toSet
    assert(first === second && first.nonEmpty)
    assert(!first.exists(_.contains(fixtureDir)),
      "artifact must be a materialized copy, not the raw corpus")
  }

  test("docShingles equals the inline distinct (doc, shingle) frame — " +
      "the stored index feeds the exact-Jaccard oracle queries") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val direct = docs.select(col("doc_id"),
        explode(TextFunctions.shingles(col("text"), 3)).as("tok"))
      .distinct().orderBy("doc_id", "tok").collect()
    val shared = SharedFrames.docShingles(spark, fixtureDir, width = 3)
      .orderBy("doc_id", "tok").collect()
    assert(shared.toSeq === direct.toSeq)
  }

  test("FromTokens over the stored shingle frame equals the inline " +
      "re-shingling form for both the self-join and the probe") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val toks = SharedFrames.docShingles(spark, fixtureDir, width = 3)
    val inlinePairs = operators.Dedup.jaccardPairsExact(
      docs, "doc_id", "text", shingleWidth = 3, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    val storedPairs = operators.Dedup.jaccardPairsExactFromTokens(
      toks, "doc_id", "tok", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    assert(storedPairs.toSeq === inlinePairs.toSeq)
    assert(storedPairs.nonEmpty, "fixture must produce qualifying pairs")
    val inlineProbe = operators.Dedup.jaccardProbeExact(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", shingleWidth = 3, threshold = 0.4)
      .orderBy("doc_id").collect()
    val storedProbe = operators.Dedup.jaccardProbeExactFromTokens(
      toks.filter(col("doc_id") % 2 === 1),
      toks.filter(col("doc_id") % 2 === 0),
      "doc_id", "tok", threshold = 0.4)
      .orderBy("doc_id").collect()
    assert(storedProbe.toSeq === inlineProbe.toSeq)
  }

  test("coocPairs equals a direct coocLift run at the registry's " +
      "fixed parameters") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val direct = TextAnalysis.coocLift(docs, "doc_id", "text",
      topV = 40, minSupport = 10L).orderBy("tok_a", "tok_b").collect()
    val shared = SharedFrames.coocPairs(spark, fixtureDir)
      .orderBy("tok_a", "tok_b").collect()
    assert(shared.toSeq === direct.toSeq)
  }

  test("dsirLogw equals a direct logRatioTable + importanceWeights " +
      "recompute at the registry's fixed parameters — the shared " +
      "scored-weights artifact is indistinguishable from the live fit") {
    import graft.operators.Dsir
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val tgt = docs.filter(col("source").isin("src1", "src2"))
    val llr = Dsir.logRatioTable(tgt, docs, "text",
      buckets = 4096, portableHash = true, oracleRounding = true)
    val direct = Dsir.importanceWeights(docs, "doc_id", "text", llr,
      buckets = 4096, portableHash = true)
      .orderBy("doc_id").collect()
    val shared = SharedFrames.dsirLogw(spark, fixtureDir)
      .orderBy("doc_id").collect()
    assert(shared.toSeq === direct.toSeq)
  }

  test("regenerating the input parquet in-process invalidates the " +
      "memo — the fingerprint serves fresh values, not a stale artifact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sfspec-regen-").toAbsolutePath.toString
    Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val before = SharedFrames.lmScoredDocs(spark, dir)
      .select("doc_id").as[Long].collect().sorted
    assert(before === Array(1L))
    // regenerate immediately, with different rows — no sleep: the
    // overwrite recreates the part files, so the inode fileKey in the
    // fingerprint changes even inside one mtime-granularity tick
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val after = SharedFrames.lmScoredDocs(spark, dir)
      .select("doc_id").as[Long].collect().sorted
    assert(after === Array(1L, 2L),
      "memo must key on input fingerprint, not bare directory path")
  }

  test("SparkEntry.t memoizes the relation per file identity and " +
      "serves a fresh read after the file is regenerated") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tmemo-").toAbsolutePath.toString
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = SparkEntry.t(spark, dir, "documents")
    assert(SparkEntry.t(spark, dir, "documents") eq first,
      "same file identity must return the SAME analyzed relation")
    assert(first.count() == 2L)
    // regenerate: new part files, new inodes/mtimes → new identity.
    // A stale memo here would silently serve the old two rows.
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = SparkEntry.t(spark, dir, "documents")
    assert(!(second eq first))
    assert(second.count() == 3L,
      "memo must key on file identity, not bare path")
  }

  test("artifacts root resolves from spark.graft.artifacts.dir (else " +
      "the warehouse dir) — no java.io.tmpdir dependence in query paths") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-artroot-").toAbsolutePath.toString
    spark.conf.set(SharedFrames.ArtifactsDirKey, root)
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sfspec-root-").toAbsolutePath.toString
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val files = SharedFrames.lmScoredDocs(spark, dir).inputFiles
      assert(files.nonEmpty && files.forall(_.contains(root)),
        s"artifact must live under the conf root $root, got: " +
          files.mkString(", "))
    } finally spark.conf.unset(SharedFrames.ArtifactsDirKey)
    // default: under the session warehouse (per-process, self-cleaning),
    // NEVER java.io.tmpdir — a driver-local temp dir is unreadable by
    // remote executors on a real cluster
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-sfspec-root2-").toAbsolutePath.toString
    Seq((1L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val wh = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath match {
      case null => spark.conf.get("spark.sql.warehouse.dir")
      case p => p
    }
    val files2 = SharedFrames.lmScoredDocs(spark, dir2).inputFiles
    assert(files2.nonEmpty && files2.forall(_.contains(wh)),
      s"default artifact root must be the warehouse dir $wh, got: " +
        files2.mkString(", "))
  }

  test("an opaque relative file: artifacts root resolves against the " +
      "working directory") {
    val rel = "target/graft-file-root"
    spark.conf.set(SharedFrames.ArtifactsDirKey, s"file:$rel")
    try {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sfspec-fileroot-").toAbsolutePath.toString
      Seq((1L, "lambda mu nu xi omicron")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val root = java.nio.file.Paths.get(rel).toAbsolutePath.toString
      val files = SharedFrames.lmScoredDocs(spark, dir).inputFiles
      assert(files.nonEmpty && files.forall(_.contains(root)),
        s"artifact must live under $root, got: " + files.mkString(", "))
    } finally spark.conf.unset(SharedFrames.ArtifactsDirKey)
  }

  test("perplexityBucketsFromScored over the shared frame equals " +
      "perplexityBuckets run end-to-end") {
    val docs = spark.read.parquet(s"$fixtureDir/documents.parquet")
    val direct = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val shared = TextAnalysis.perplexityBucketsFromScored(
      SharedFrames.lmScoredDocs(spark, fixtureDir))
      .orderBy("doc_id").collect()
    assert(shared.toSeq === direct.toSeq)
  }
}
