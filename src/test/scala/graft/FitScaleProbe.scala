package graft

import java.lang.management.{ManagementFactory, MemoryType}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Times one index fit on a generated frame large enough to reach the
  * training-sample cap, and reports the driver heap it needed.
  *
  * {{{
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.FitScaleProbe ivf 520000 64 2000 3"
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.FitScaleProbe pq 80000 128 256 8"
  * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.FitScaleProbe pq 80000 128 256 2 500"
  * }}}
  *
  * Arguments: `ivf` (`IvfIndex.build`, `k` = nClusters) or `pq`
  * (`PqIndex.train`, m = 8, `k` = codesPerBook), then rows, dim, k,
  * maxIter and optionally a full-GC period in ms. The frame is built,
  * cached and counted before the clock starts; the fit is timed up to
  * `build`/`train` returning (the final assign/encode is lazy). Prints
  * one JSON line: fit seconds, Spark jobs the fit ran and the peak use
  * of every heap pool (garbage included, so it mostly shows when the
  * collector chose to run). With a GC period, a thread forces a full GC
  * that often and `live_mb` is the largest heap use it saw right after
  * one, the driver's live set; those GCs slow the fit, so time and
  * memory come from separate runs. The vectors are 64 seeded clusters
  * with hash noise, so a run is reproducible.
  */
object FitScaleProbe {
  def main(args: Array[String]): Unit = {
    val Array(kind, rowsArg, dimArg, kArg, iterArg) = args.take(5)
    val gcEveryMs = args.drop(5).headOption.map(_.toLong).getOrElse(0L)
    val (rows, dim, k, maxIter) =
      (rowsArg.toLong, dimArg.toInt, kArg.toInt, iterArg.toInt)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.range(0, rows, 1, 8).select(col("id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (sin((col("id") % 64) * 7 + i) +
          pmod(hash(col("id"), i), lit(1000)) / 5000.0).cast("float"))
        .as("vec")).cache()
    df.count()
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    })
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    System.gc()
    pools.foreach(_.resetPeakUsage())
    @volatile var liveMax = 0L
    @volatile var fitting = true
    val sampler = new Thread(() =>
      while (fitting) {
        System.gc()
        liveMax = math.max(liveMax, pools.map(_.getUsage.getUsed).sum)
        Thread.sleep(gcEveryMs)
      })
    sampler.setDaemon(true)
    if (gcEveryMs > 0) sampler.start()
    val t0 = System.nanoTime()
    kind match {
      case "ivf" =>
        graft.operators.IvfIndex.build(df, "vec", "id", nClusters = k,
          maxIter = maxIter)
      case "pq" =>
        graft.operators.PqIndex.train(df, "vec", "id", m = 8,
          codesPerBook = k, maxIter = maxIter)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    fitting = false
    val peaks = pools.map(p =>
      s""""${p.getName}": ${p.getPeakUsage.getUsed >> 20}""").mkString(", ")
    println(f"""{"kind": "$kind", "rows": $rows, "dim": $dim, "k": $k, """ +
      f""""max_iter": $maxIter, "fit_s": $secs%.2f, "jobs": $jobs, """ +
      s""""max_heap_mb": ${Runtime.getRuntime.maxMemory >> 20}, """ +
      s""""live_mb": ${liveMax >> 20}, """ +
      s""""peak_mb": {$peaks}}""")
    spark.stop()
  }
}
