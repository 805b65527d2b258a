package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one query harness over [[SparkEntry.queries]]. The contract
  * mains [[Bench]] and [[Verify]] and the dev modes below
  * share its subset selection, warm-up and JSON escaper, and get their
  * session from [[GraftSession.local]].
  *
  * `SPARK_GRAFT_ONLY=q1,q2` restricts every mode to those queries;
  * unset, every registered query runs.
  *
  * Dev modes, `runMain graft.Harness <mode> ...`:
  *  - `plan <sfDir> <outDir> <tag>`: `.explain("formatted")` of each
  *    selected query into `<outDir>/<name>_<tag>.txt`, the before/after
  *    plan evidence of an optimization round.
  *  - `profile <sfDir> <reps>`: runs each selected query `reps` times
  *    and prints, per rep, the wall time, the Spark jobs it launched
  *    with their durations, and the driver gap (wall − Σ job time). An
  *    executor-bound query wants a better plan; a planning- or
  *    orchestration-bound one wants fewer jobs and stages. */
object Harness {

  private val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** The selected registered queries, in name order. */
  def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selected(q._1))

  /** JVM/codegen warm-up that touches no benchmark data, so the first
    * query does not absorb ~4 s of classloading. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)", "count(distinct id % 100)")
      .collect()
    ()
  }

  /** JSON string literal: quote, backslash and ALL control chars
    * (< 0x20) escaped — a tab or CR in a registered oracle SQL string
    * would otherwise make oracle_sql.json unparseable and silently
    * empty the correctness gate. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args match {
      case Array("plan", sfDir, outDir, tag) => plan(_, sfDir, outDir, tag)
      case Array("profile", sfDir, reps) => profile(_, sfDir, reps.toInt)
      case _ => throw new IllegalArgumentException(
        "usage: Harness plan <sfDir> <outDir> <tag> | profile <sfDir> <reps>")
    }
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      tag: String): Unit = {
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (n, fn) =>
      val txt = fn(spark, sfDir).queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
      println(s"dumped plan $n -> $outDir/${n}_$tag.txt")
    }
  }

  private def profile(spark: SparkSession, sfDir: String, reps: Int): Unit = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = starts.getOrDefault(je.jobId, je.time)
        done.add((je.jobId, je.time - t0)); ()
      }
    })
    warmUp(spark)
    queries.foreach { case (n, fn) =>
      (1 to reps).foreach { r =>
        Thread.sleep(300) // let stragglers from the previous rep land
        done.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // listener bus drain
        val jobs = done.toArray(Array.empty[(Int, Long)]).sortBy(_._1)
        val jobSum = jobs.map(_._2).sum / 1e3
        println(f"[profile] $n rep=$r wall=$wall%.3f njobs=${jobs.length} " +
          f"jobsum=$jobSum%.3f drivergap=${wall - jobSum}%.3f " +
          jobs.map { case (id, ms) => s"j$id=${ms}ms" }.mkString(" "))
      }
    }
  }
}
