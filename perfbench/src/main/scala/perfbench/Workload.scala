package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Everything a workload gets: the session, the tracer, its seed and
  * time budget, and a scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, tiny: Boolean, dataDir: String, cores: Int,
    sabotage: Boolean, externalSetupS: Seq[Double]) {
  /** Runs `op` until `--seconds` have passed since the loop started and
    * at least `minOps` ops have completed; returns the loop's wall in s. */
  def loop(minOps: Int, done: => Int)(op: => Unit): Double = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || done < minOps) op
    (System.nanoTime() - start) / 1e9
  }
}

/** One named metric the workload reports next to the contract's
  * uniform ones (the issue-level names, e.g. `query_p90_ms`). */
final case class Named(name: String, value: Double, unit: String)

/** What a workload measured. `opMs` are the timed ops of the loop that
  * runs for `--seconds` and at least a workload's floor of ops;
  * `coldOpMs` is the first op, which pays the process's first-use
  * costs; `setupS` are repeated set-up units whose
  * median is added to the session start. Spans with id ≥ `loopSpanFrom`
  * at top level are the timed ops; those in [`coldSpanFrom`,
  * `loopSpanFrom`) are the cold op. `layerExtra` and `layerFromSpans`
  * give per-layer ratios measured outside the spans they describe. */
final case class Outcome(setupS: Seq[Double], coldOpMs: Double,
    opMs: Seq[Double], attempted: Long,
    checks: Checks, named: Seq[Named], layerExtra: Seq[(String, Double)],
    coldSpanFrom: Int, loopSpanFrom: Int,
    layerFromSpans: Seq[Span] => Seq[(String, Double)] = _ => Nil)

/** Output checks. A failed check names the op it caught; an op with
  * any failed check counts once as a failed op. */
final class Checks {
  val failures = ArrayBuffer.empty[String]
  val failedOps = scala.collection.mutable.LinkedHashSet.empty[String]
  var count = 0L
  def expect(op: String, check: String, ok: Boolean, detail: => String): Unit = {
    count += 1
    if (!ok) { failures += s"$op $check: $detail"; failedOps += op }
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def ms(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e6
}
