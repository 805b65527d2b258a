package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: start a session at `local[cores]`,
  * run one workload, and write everything it measured to `--out` as
  * JSON. run.py builds this, launches it and prints the result.
  *
  * Usage: Main --workload pipeline|session|registry --seed N
  *   --seconds S --trace 0|1 --data DIR --out FILE [--size tiny]
  *   [--tables DIR --tables-setup-s a,b,c] [--sabotage 1] */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", Paths.get(dataDir, "warehouse").toString)
      .config("spark.local.dir", Paths.get(dataDir, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val createdS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    // a small JVM/codegen warm-up that touches no inputs (graft.Bench's
    // 1M-row one costs ~4 s per process; first-use costs beyond this
    // land in the cold op, where they are reported)
    spark.range(1000).selectExpr("sum(id)", "count(distinct id % 100)")
      .collect()
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = Ctx(spark, tracer, opt("seed").toLong, opt("seconds").toDouble,
      opt.get("size").contains("tiny"), dataDir, cores,
      opt.get("sabotage").contains("1"),
      opt.get("tables-setup-s").toSeq.flatMap(_.split(",")).map(_.toDouble))
    val cpu0 = tracer.totalTaskCpuNs.get
    val w0 = System.nanoTime()
    val out = workload match {
      case "pipeline" => Pipeline.run(ctx)
      case "session" => Session.run(ctx)
      case "registry" => Registry.run(ctx, opt("tables"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val workS = (System.nanoTime() - w0) / 1e9
    // task-end events arrive asynchronously: count the run's last tasks
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val taskCpuS = (tracer.totalTaskCpuNs.get - cpu0) / 1e9
    val spans = if (trace) tracer.finish() else Nil

    // live heap after full GCs, outside every timed region; the pauses
    // let Spark's ContextCleaner drop blocks of unreferenced RDDs the
    // first GC collected, so what remains is what the process retains
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)

    val setupSamples = out.setupS ++ ctx.externalSetupS
    val setupS = sessionS + Stats.median(setupSamples)
    val e2e = Seq(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(out.opMs),
      "cold_op_ms" -> out.coldOpMs,
      "heap_live_mb" -> heapMb)
    val result = Json.obj(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace,
      "cores" -> cores,
      "correct" -> out.checks.failures.isEmpty,
      "attempted" -> out.attempted,
      "failed" -> out.checks.failedOps.size,
      "failures" -> out.checks.failures.toSeq,
      "checks" -> out.checks.count,
      "session_start_s" -> sessionS,
      "session_create_s" -> createdS,
      "setup_samples_s" -> setupSamples,
      "ops" -> out.opMs.length,
      "op_ms" -> out.opMs,
      "end_to_end" -> Json.Obj(e2e),
      "named" -> out.named.map(n =>
        Json.obj("name" -> n.name, "value" -> n.value, "unit" -> n.unit)),
      "work_s" -> workS,
      "task_cpu_s" -> taskCpuS,
      "task_cpu_per_wall" -> taskCpuS / workS,
      "per_layer" -> (if (trace) Json.Obj(uniformLayers(spans, out)) else None),
      "layers" -> (if (trace) Json.Obj(moduleLayers(spans, out)) else None),
      "spans" -> (if (trace) spans.map(spanJson) else None),
      "codegen_metric_delta" -> (if (trace) Some(tracer.codegenMetricDelta) else None),
      "unattributed" -> (if (trace) Some(countsJson(tracer.unattributedCounts)) else None))
    Files.write(Paths.get(opt("out")), Json.render(result).getBytes(UTF_8))
    spark.stop()
  }

  /** The contract's per-layer metrics: the engine-layer split of the
    * timed ops (top-level spans of the loop), plus the cold op's
    * codegen. Every workload has all of them. */
  private def uniformLayers(spans: Seq[Span], out: Outcome): Seq[(String, Double)] = {
    val ops = spans.filter(s => s.parent < 0 && s.id >= out.loopSpanFrom)
    val cold = spans.filter(s => s.parent < 0 && s.id >= out.coldSpanFrom &&
      s.id < out.loopSpanFrom)
    val c = new Counts
    ops.foreach(s => c.add(s.inclusive))
    val wallS = ops.map(_.wallS).sum
    val n = math.max(1, ops.length).toDouble
    Seq(
      "spark.jobs_per_op" -> c.jobs / n,
      "spark.task_cpu_ms_per_op" -> c.taskCpuNs / 1e6 / n,
      "spark.driver_gap_ms_per_op" -> (wallS * 1e3 - c.busyMs) / n,
      "spark.driver_share" -> share(c, wallS),
      "spark.parallelism" -> c.taskRunMs / 1e3 / wallS,
      "spark.shuffle_write_kb_per_op" -> c.shuffleWriteBytes / 1024.0 / n,
      "spark.codegen_ms_cold" -> cold.map(_.inclusive.codegenMs).sum)
  }

  /** Share of the wall time with no Spark job running: planning,
    * orchestration and driver-side work between jobs. */
  private def share(c: Counts, wallS: Double): Double =
    1.0 - c.busyMs / 1e3 / wallS

  /** `<layer>.<call>.<metric>` per span name: timed-loop calls under
    * their own name, the cold op's under `cold.`; per-call means, with
    * parallelism and driver share from the group's totals. */
  private def moduleLayers(spans: Seq[Span], out: Outcome): Seq[(String, Double)] = {
    def group(prefix: String, ss: Seq[Span]): Seq[(String, Double)] =
      ss.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (name, g) =>
        val c = new Counts
        g.foreach(s => c.add(s.inclusive))
        val n = g.length.toDouble
        val wallS = g.map(_.wallS).sum
        Seq("calls" -> n, "s" -> wallS / n, "self_s" -> g.map(_.selfS).sum / n,
          "jobs" -> c.jobs / n, "tasks" -> c.tasks / n,
          "task_cpu_s" -> c.taskCpuNs / 1e9 / n, "gc_s" -> c.gcMs / 1e3 / n,
          "shuffle_write_bytes" -> c.shuffleWriteBytes / n,
          "spill_bytes" -> c.spillBytes / n,
          "bytes_written" -> c.bytesWritten / n,
          "codegen_classes" -> c.codegenClasses / n,
          "codegen_ms" -> c.codegenMs / n,
          "parallelism" -> c.taskRunMs / 1e3 / wallS,
          "driver_share" -> share(c, wallS))
          .map { case (m, v) => s"$prefix$name.$m" -> v }
      }
    group("", spans.filter(_.id >= out.loopSpanFrom)) ++
      group("cold.", spans.filter(s => s.id >= out.coldSpanFrom &&
        s.id < out.loopSpanFrom)) ++
      out.layerExtra ++ out.layerFromSpans(spans)
  }

  private def countsJson(c: Counts) = Json.obj("jobs" -> c.jobs,
    "tasks" -> c.tasks, "job_wall_ms" -> c.jobWallMs,
    "task_run_ms" -> c.taskRunMs, "task_cpu_ms" -> c.taskCpuNs / 1e6,
    "gc_ms" -> c.gcMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
    "spill_bytes" -> c.spillBytes, "bytes_written" -> c.bytesWritten,
    "codegen_classes" -> c.codegenClasses, "codegen_ms" -> c.codegenMs)

  private def spanJson(s: Span) = Json.obj("id" -> s.id, "name" -> s.name,
    "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
    "s" -> s.wallS, "self_s" -> s.selfS, "own" -> countsJson(s.own),
    "inclusive" -> countsJson(s.inclusive))
}
