package graft

import graft.functions.HashEmbedder
import graft.store.VectorStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Times an append-then-query loop on a [[VectorStore]] built large
  * enough to be over the in-process snapshot budget (a 32nd of the
  * driver heap), where every query is a Spark scan.
  *
  * {{{
  * SPARK_DRIVER_MEM=1g sbt "Test/runMain graft.StoreAppendProbe 40000 256 30"
  * SPARK_DRIVER_MEM=1g sbt "Test/runMain graft.StoreAppendProbe 40000 256 30 path"
  * }}}
  *
  * Arguments: rows, dim, rounds, and the store mode: `memory` (the
  * default) or `path` (a parquet store in a temporary directory). The
  * store is ingested, then appended to once, so an in-memory store is a
  * checkpointed frame as in any session that appends. Each round
  * appends one fresh row and then runs one top-10 `queryVector`; two
  * untimed rounds warm up first. Prints one JSON line: the store's
  * estimated heap size against the budget, the median append and query
  * wall times, the Spark jobs each ran per round, and the bytes of the
  * parquet files each append added (0 in memory mode). Vectors are hash noise seeded by id,
  * so a run is reproducible. Uses only the public store API.
  */
object StoreAppendProbe {
  def main(args: Array[String]): Unit = {
    val Array(rows, dim, rounds) = args.take(3).map(_.toInt)
    val mode = args.lift(3).getOrElse("memory")
    require(Set("memory", "path")(mode), s"mode must be memory or path: $mode")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def batch(from: Long, until: Long, prefix: String) =
      spark.range(from, until, 1, 4).select(
        concat(lit(prefix), col("id").cast("string")).as("target"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (pmod(hash(col("id"), i), lit(1000)) / 1000.0).cast("float"))
          .as("vector"))
    val dir = java.nio.file.Files.createTempDirectory("store-probe")
    val store = new VectorStore(spark, HashEmbedder(dim = dim),
      path = Some(s"$dir/db").filter(_ => mode == "path"))
    store.setData(batch(0, rows, "t"))
    store.setData(batch(rows, rows + 1L, "t"), append = true)
    val q = Array.tabulate(dim)(i => ((i * 37) % 1000) / 1000f)
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    })
    // the store's parquet files and their sizes (none in memory mode)
    def files(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally walk.close()
    }
    // wall ms, jobs, and bytes of the parquet files `f` added
    def timed(f: => Unit): (Double, Int, Long) = {
      val (j0, before) = (jobs, files())
      val t0 = System.nanoTime()
      f
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, jobs - j0, (files() -- before.keys).values.sum)
    }
    val results = (0 until rounds + 2).map { r =>
      val id = rows + 1L + r
      val append = timed(store.setData(batch(id, id + 1, "a"), append = true))
      val query = timed(store.queryVector(q, 10).collect())
      (append, query)
    }.drop(2)
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    val estMb = rows * (4.0 * dim + 96 + 2.0 * (1 + rows.toString.length)) / (1 << 20)
    val budgetMb = Runtime.getRuntime.maxMemory / 32.0 / (1 << 20)
    println(f"""{"mode": "$mode", "rows": $rows, "dim": $dim, "rounds": $rounds, """ +
      f""""est_mb": $estMb%.1f, "budget_mb": $budgetMb%.1f, """ +
      f""""append_ms_p50": ${median(results.map(_._1._1))}%.1f, """ +
      f""""query_ms_p50": ${median(results.map(_._2._1))}%.1f, """ +
      f""""append_jobs": ${results.map(_._1._2).sum.toDouble / rounds}%.2f, """ +
      f""""query_jobs": ${results.map(_._2._2).sum.toDouble / rounds}%.2f, """ +
      f""""append_bytes_written": ${results.map(_._1._3).sum / rounds}}""")
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
