package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import graft.SparkEntry

/** `registry`: one cold pass, then warm passes, over a fixed subset of
  * `SparkEntry.queries`, each line forced with `.count()` as
  * `graft.Bench` does. The tables are single parquet files generated by
  * the repository's own scale-data tool (see run.py). The cold pass
  * carries every per-process memo and shared-artifact build. */
object Registry {

  /** Fixed by rule, not by outcome — see README.md for the rule. */
  val Subset: Seq[String] = Seq("pq_knn",
    "md5_index_build", "bm25_index_build", "knn_graph_build",
    "store_ingest_build")

  val Builds: Set[String] = SparkEntry.artifactBuilds

  /** Timed warm passes per run at least, whatever `--seconds` allows. */
  private val MinWarmPasses = 3

  def run(ctx: Ctx, tablesDir: String): Outcome = {
    import ctx.tracer.span
    val checks = new Checks
    val lines = SparkEntry.queries
    val failedLines = ArrayBuffer.empty[String]
    var attempted = 0L

    /** One pass: per-line (seconds, row count); a line that throws is
      * reported and counts as a failed op. */
    def pass(label: String): Seq[(String, Double, Option[Long])] =
      span(s"registry.$label") {
        Subset.map { name =>
          attempted += 1
          val t0 = System.nanoTime()
          val rows = span(s"registry.$name") {
            Try(lines(name)(ctx.spark, tablesDir).count()).toOption
          }
          val s = (System.nanoTime() - t0) / 1e9
          if (rows.isEmpty) failedLines += s"$label.$name"
          (name, s, rows)
        }
      }

    val coldFrom = ctx.tracer.nextSpanId
    val t0 = System.nanoTime()
    val cold = pass("cold_pass")
    val coldMs = Stats.ms(t0)
    val loopFrom = ctx.tracer.nextSpanId
    val warm = ArrayBuffer.empty[(Double, Seq[(String, Double, Option[Long])])]
    ctx.loop(MinWarmPasses, warm.length) {
      val w0 = System.nanoTime()
      val p = pass("warm_pass")
      warm += Stats.ms(w0) -> p
    }
    failedLines.foreach(l => checks.expect(l, "runs", ok = false, "line threw"))
    val want = cold.map { case (n, _, r) => n -> r }.toMap
    warm.zipWithIndex.foreach { case ((_, p), i) =>
      p.foreach { case (n, _, r) =>
        val got = if (ctx.sabotage && i == 0) r.map(_ + 1) else r
        checks.expect(s"warm_pass[$i].$n", "row_count", got == want(n),
          s"row count $got differs from the cold pass's ${want(n)}")
      }
    }
    val warmSums = warm.map(_._2.map(_._2).sum).toSeq
    val warmS = Stats.median(warmSums)
    val perLine = Subset.map { n =>
      n -> Stats.median(warm.map(_._2.find(_._1 == n).get._2).toSeq)
    }
    Outcome(Nil, coldMs, warm.map(_._1).toSeq, attempted, checks,
      Seq(Named("registry_warm_s", warmS, "s"),
        Named("registry_cold_s", cold.map(_._2).sum, "s"),
        Named("warm_passes", warm.length, "count"),
        Named("subset_lines", Subset.length, "count")) ++
        perLine.map { case (n, s) => Named(s"line.$n.warm_s", s, "s") },
      Nil, coldFrom, loopFrom,
      spans => Seq("shared_frames.build_s" -> spans.filter(s =>
        s.id >= coldFrom && s.id < loopFrom &&
          Builds.exists(b => s.name == s"registry.$b")).map(_.wallS).sum))
  }
}
