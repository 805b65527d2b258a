package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import graft.functions.{HashEmbedder, VectorOps}
import graft.store.VectorStore
import org.apache.spark.sql.DataFrame

/** `session`: one client in a closed loop against one `VectorStore`
  * loaded in set-up — the reference's notebook usage. A scripted mix of
  * top-k calls (`queryVector` and text `query`, k = 10) with a small
  * `setData(append = true)` batch every `AppendEvery`th op; the op after
  * an append looks up one appended row, so appends must be visible to
  * the next read. Each op is timed from call to collected result. */
object Session {
  private val K = 10
  private val AppendEvery = 20
  private val AppendRows = 20
  /** Timed queries per run at least, so p90 rests on >= 100 samples. */
  private val MinQueries = 100
  private val embedder = HashEmbedder(dim = 64, normalized = true)
  private val Topics = PipelineInput.Labels

  private def text(rng: scala.util.Random, n: Int): String = {
    val topic = Topics(rng.nextInt(Topics.length))
    Seq.fill(n)(
      if (rng.nextDouble() < 0.3) s"$topic${rng.nextInt(120)}"
      else s"w${(math.pow(rng.nextDouble(), 2) * 400).toInt}").mkString(" ")
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.tracer.span
    val spark = ctx.spark
    import spark.implicits._
    val rows = if (ctx.tiny) 500 else 2500
    val rng = new scala.util.Random(ctx.seed)
    val checks = new Checks
    var serial = 0L
    def batch(n: Int): Seq[(String, String)] = Seq.fill(n) {
      serial += 1
      (s"doc-$serial ${text(rng, 12 + rng.nextInt(12))}",
        Topics(rng.nextInt(Topics.length)))
    }
    def frame(b: Seq[(String, String)]): DataFrame = b.toDF("target", "option1")

    // set-up: three independent loads of a fresh store; the last is used
    val setupS = ArrayBuffer.empty[Double]
    val initial = batch(rows)
    var store: VectorStore = null
    (0 until 3).foreach { i =>
      val t = System.nanoTime()
      store = new VectorStore(spark, embedder,
        path = Some(Paths.get(ctx.dataDir, s"store-$i").toString))
      store.setData(frame(initial))
      store.data.count()
      setupS += (System.nanoTime() - t) / 1e9
    }

    // brute force over a driver-side snapshot of the store
    var snapshot: Array[(Long, String, Array[Float])] = null
    def refresh(): Unit = snapshot = store.data.select("id", "target", "vector")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray))
    def bruteForce(q: Array[Float]): Seq[(Long, Double)] =
      snapshot.map { case (id, _, v) => (id, VectorOps.squaredL2Floats(q, v)) }
        .sortBy { case (id, d) => (d, id) }.take(K).toSeq
    refresh()

    val queryMs = ArrayBuffer.empty[Double]
    val appendMs = ArrayBuffer.empty[Double]
    var userBytes = 0L
    var lastAppended: Option[String] = None
    var stale = false
    var opNo = 0

    def query(timed: Boolean): Double = {
      val op = s"session.op[$opNo]"
      val byText = lastAppended.isDefined || rng.nextBoolean()
      val q = lastAppended.getOrElse(text(rng, 8))
      val vec = if (byText) null else embedder.embedOne(text(rng, 16))
      val t0 = System.nanoTime()
      val res = span("store.query") {
        (if (byText) store.query(q, K) else store.queryVector(vec, K)).collect()
      }
      val ms = Stats.ms(t0)
      if (timed) queryMs += ms
      val got = res.map(r => (r.getAs[Long]("id"), r.getAs[String]("target"),
        r.getAs[Double]("distance"))).toSeq
      lastAppended.foreach { target =>
        checks.expect(op, "append_visible", got.exists(_._2 == target),
          s"appended row '$target' missing from the next query's top-$K")
      }
      lastAppended = None
      if (opNo % 5 == 0) {
        if (stale) { refresh(); stale = false }
        val qv = if (byText) embedder.embedOne(store.queryPrefix + q) else vec
        val want = bruteForce(qv)
        val have = if (ctx.sabotage) got.drop(1) else got
        val same = have.length == want.length &&
          have.zip(want).forall { case ((id, _, d), (wid, wd)) =>
            id == wid || math.abs(d - wd) <= 1e-9 * math.max(1.0, wd)
          }
        checks.expect(op, "topk", same,
          s"top-$K ${have.map(_._1)} differs from brute force ${want.map(_._1)}")
      }
      ms
    }

    def append(timed: Boolean): Double = {
      val b = batch(AppendRows)
      val df = frame(b)
      userBytes += b.map { case (t, o) => t.getBytes("UTF-8").length + o.length }.sum
      val t0 = System.nanoTime()
      span("store.append") { store.setData(df, append = true) }
      val ms = Stats.ms(t0)
      if (timed) appendMs += ms
      lastAppended = Some(b(rng.nextInt(b.length))._1)
      stale = true
      ms
    }

    // the cold op is the session's first write-then-read round: an
    // append and the query that must see it, both paying first-use costs
    val coldFrom = ctx.tracer.nextSpanId
    val coldMs = append(timed = false) + query(timed = false)
    opNo += 1
    val loopFrom = ctx.tracer.nextSpanId
    val loopS = ctx.loop(MinQueries, queryMs.length) {
      if (opNo % AppendEvery == 0) append(timed = true) else query(timed = true)
      opNo += 1
    }
    val ops = queryMs.length + appendMs.length
    Outcome(setupS.toSeq, coldMs, queryMs.toSeq,
      attempted = ops + 2L, checks,
      Seq(Named("ops_per_s", ops / loopS, "1/s"),
        Named("query_p50_ms", Stats.median(queryMs.toSeq), "ms"),
        Named("query_p90_ms", Stats.quantile(queryMs.toSeq, 0.9), "ms"),
        Named("queries", queryMs.length, "count"),
        Named("append_p50_ms", Stats.median(appendMs.toSeq), "ms"),
        Named("appends", appendMs.length, "count"),
        Named("store_rows", rows + appendMs.length * AppendRows, "rows")),
      Nil, coldFrom, loopFrom,
      spans => Seq("store.append.bytes_written_per_user_byte" ->
        spans.filter(_.name == "store.append")
          .map(_.inclusive.bytesWritten).sum.toDouble / math.max(1L, userBytes)))
  }
}
