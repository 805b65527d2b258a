package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One writer of LakeSnapshotSpec's two-process commit race, run in its
  * own JVM on the test classpath:
  * `graft.operators.LakeCommitWriter <root> <writer> <n> <ready> <go>`
  * starts a session, creates the `ready` file, waits for the `go` file,
  * then makes `n` snapshot commits to `root`. */
object LakeCommitWriter {

  /** `n` commits, each three rows tagged (writer, seq) keyed by `row`. */
  def commitAll(spark: SparkSession, root: String, writer: String,
      n: Int): Unit = {
    import spark.implicits._
    for (seq <- 0L until n)
      Lake.commitSnapshot(spark, root,
        (0 until 3).map(r => (s"$writer-$seq-$r", writer, seq))
          .toDF("row", "writer", "seq"), Seq("row"))
  }

  /** This main in a child JVM with this JVM's classpath and module
    * flags, a small heap, and its output in `log`. */
  def launch(root: String, writer: String, n: Int, ready: String,
      go: String, log: java.io.File): Process = {
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a =>
        a.startsWith("-Xmx") || a.startsWith("-Xms") ||
          a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString) ++ flags ++ Seq("-Xmx640m", "-cp",
      System.getProperty("java.class.path"), getClass.getName.stripSuffix("$"),
      root, writer, n.toString, ready, go)
    new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
  }

  def main(args: Array[String]): Unit = {
    val Array(root, writer, n, ready, go) = args
    val spark = graft.GraftSession.local(2)
    Files.createFile(Paths.get(ready))
    while (!Files.exists(Paths.get(go))) Thread.sleep(5)
    commitAll(spark, root, writer, n.toInt)
    spark.stop()
  }
}
