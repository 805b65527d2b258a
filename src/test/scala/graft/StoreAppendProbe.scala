package graft

import graft.functions.HashEmbedder
import graft.store.VectorStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Times an append-then-query loop on an in-memory [[VectorStore]]
  * built large enough to be over the in-process snapshot budget (a
  * 32nd of the driver heap), where every query is a Spark scan.
  *
  * {{{
  * SPARK_DRIVER_MEM=1g sbt "Test/runMain graft.StoreAppendProbe 40000 256 30"
  * }}}
  *
  * Arguments: rows, dim and rounds. The store is ingested, then
  * appended to once, so it is a checkpointed frame as in any session
  * that appends. Each round appends one fresh row and then runs one
  * top-10 `queryVector`; two untimed rounds warm up first. Prints one
  * JSON line: the store's estimated heap size against the budget, the
  * median append and query wall times, and the Spark jobs each ran per
  * round. Vectors are hash noise seeded by id, so a run is
  * reproducible. Uses only the public store API.
  */
object StoreAppendProbe {
  def main(args: Array[String]): Unit = {
    val Array(rows, dim, rounds) = args.take(3).map(_.toInt)
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
    val store = new VectorStore(spark, HashEmbedder(dim = dim))
    store.setData(batch(0, rows, "t"))
    store.setData(batch(rows, rows + 1L, "t"), append = true)
    val q = Array.tabulate(dim)(i => ((i * 37) % 1000) / 1000f)
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    })
    def timed(f: => Unit): (Double, Int) = {
      val j0 = jobs
      val t0 = System.nanoTime()
      f
      ((System.nanoTime() - t0) / 1e6, jobs - j0)
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
    println(f"""{"rows": $rows, "dim": $dim, "rounds": $rounds, """ +
      f""""est_mb": $estMb%.1f, "budget_mb": $budgetMb%.1f, """ +
      f""""append_ms_p50": ${median(results.map(_._1._1))}%.1f, """ +
      f""""query_ms_p50": ${median(results.map(_._2._1))}%.1f, """ +
      f""""append_jobs": ${results.map(_._1._2).sum.toDouble / rounds}%.2f, """ +
      f""""query_jobs": ${results.map(_._2._2).sum.toDouble / rounds}%.2f}""")
    spark.stop()
  }
}
