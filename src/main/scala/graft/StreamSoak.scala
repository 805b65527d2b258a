package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming soak harness (r14 verdict item #3): drive the two
  * stateful streaming operators that carry the 100 TB ingest story
  * from a `rate` source for N seconds each and write a committed
  * JSON artifact with per-trigger input rows, processing rate, and
  * state size — throughput evidence, where the gate's memoized
  * `streaming_curation_funnel` line is only parity coverage.
  *
  * Phase A — [[streaming.StreamIngest.nearDupIngest]]: synthetic
  * documents derived from the rate counter entirely in codegen'd
  * expressions (no UDF in the feeder): every run of 10 consecutive
  * ids shares a 40-word base text drawn from the 31-word fixture
  * vocabulary; the 9 non-leaders mutate one hash-chosen position, so
  * each group is an in-horizon near-dup cluster the SimHash banding
  * must collapse (expected survivor ratio ~1/10 plus hash collisions
  * across groups).
  *
  * Phase B — [[streaming.StreamIngest.streamingSessions]]
  * (flatMapGroupsWithState + event-time timeout): rate rows hashed
  * onto `users` keys with real-time timestamps; sessions gap-close at
  * `gapMs` as the watermark advances, so state rows rise and fall
  * instead of growing monotonically. Progress rows expose the state
  * store's numRowsTotal / memory bytes.
  *
  * Usage (sbt): runMain graft.StreamSoak <outJson> [soakSecA=300]
  *   [soakSecB=180] [docsPerSec=2000] [eventsPerSec=20000]
  */
object StreamSoak {
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private final case class Trigger(batchId: Long, inputRows: Long,
      procRowsPerSec: Double, durationMs: Long, stateRows: Long,
      stateBytes: Long, watermark: String)

  /** Collects every progress event for one named query (recentProgress
    * only keeps the last 100; a soak can produce more).
    *
    * `memoStateRows`: pipelines whose dedup state lives in a
    * foreachBatch-compacted table (nearDupIngest's accepted-signature
    * segments) have NO state-store operator, so `p.stateOperators` is
    * empty and the state line would read a misleading 0 forever. For
    * those, the caller passes a cumulative-row sampler (the survivor
    * counter — one signature row per survivor) and a payload width;
    * the collector reports that as the state line instead. */
  private final class Collector(queryName: String,
      memoStateRows: Option[() => Long] = None,
      memoBytesPerRow: Long = 16L)
      extends StreamingQueryListener {
    val triggers = new ArrayBuffer[Trigger]
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name == queryName) {
        val (srows, sbytes) = Option(p.stateOperators)
          .filter(_.nonEmpty)
          .map(ops => (ops.map(_.numRowsTotal).sum,
            ops.map(_.memoryUsedBytes).sum))
          .orElse(memoStateRows.map { f =>
            val r = f(); (r, r * memoBytesPerRow) })
          .getOrElse((0L, 0L))
        triggers.synchronized {
          triggers += Trigger(p.batchId, p.numInputRows,
            Option(p.processedRowsPerSecond).getOrElse(0.0),
            Option(p.durationMs.get("triggerExecution"))
              .map(_.longValue).getOrElse(0L),
            srows, sbytes,
            Option(p.eventTime).flatMap(m =>
              Option(m.get("watermark"))).getOrElse(""))
        }
      }
    }
  }

  private def summarize(name: String, triggers: Seq[Trigger],
      wallSec: Double, extra: Map[String, String]): String = {
    // ignore empty warm-up triggers in the rate math
    val busy = triggers.filter(_.inputRows > 0)
    val rows = busy.map(_.inputRows).sum
    val procMs = busy.map(_.durationMs).sum
    def f(d: Double) = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(d))
    val perTrigger = triggers.map(t =>
      s"""{"batch":${t.batchId},"rows":${t.inputRows},""" +
      s""""proc_rows_per_sec":${f(t.procRowsPerSec)},""" +
      s""""trigger_ms":${t.durationMs},"state_rows":${t.stateRows},""" +
      s""""state_bytes":${t.stateBytes}}""").mkString("[", ",", "]")
    val extras = extra.map { case (k, v) => s""""$k":$v""" }
      .mkString(",", ",", "")
    s""""$name":{"wall_sec":${f(wallSec)},"triggers":${triggers.size},""" +
    s""""input_rows":$rows,"rows_per_sec_wall":${f(rows / wallSec)},""" +
    s""""rows_per_sec_busy":${f(if (procMs == 0) 0.0
      else rows * 1000.0 / procMs)},""" +
    s""""max_trigger_ms":${(0L +: triggers.map(_.durationMs)).max},""" +
    s""""final_state_rows":${(0L +: triggers.map(_.stateRows)).max}""" +
    s"""$extras,"per_trigger":$perTrigger}"""
  }

  /** Args: outJson, soakSecA, soakSecB, docsPerSec, eventsPerSec.
    * The rate args accept comma-separated STEPPED rates
    * ("5000,10000,20000") — each rate soaks for its phase's full
    * duration in its own query, producing one section per (pipeline,
    * rate) named `neardup_ingest_<rate>` / `sessionization_<rate>`
    * (single rates keep the historical unsuffixed names). A pipeline
    * saturates where rows_per_sec_wall stops tracking the offered
    * rate and max_trigger_ms escapes the trigger interval — the knee
    * the r16 verdict asked to locate. */
  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("STREAM_SOAK.json")
    val soakA = args.lift(1).map(_.toInt).getOrElse(300)
    val soakB = args.lift(2).map(_.toInt).getOrElse(180)
    def rates(i: Int, dflt: Int): Seq[Int] = args.lift(i)
      .map(_.split(",").toSeq.map(_.trim.toInt)).getOrElse(Seq(dflt))
    val docRates = rates(3, 2000)
    val eventRates = rates(4, 20000)
    val cpus = GraftSession.envCores
    val spark = GraftSession.local(cpus)
    val sections = new ArrayBuffer[String]

    // ---- Phase A: near-dup ingest (one run per offered rate) ----
    for (docsPerSec <- docRates) {
      val label = if (docRates.size == 1) "neardup_ingest"
        else s"neardup_ingest_$docsPerSec"
      val qname = s"graft-soak-neardup-$docsPerSec"
      val vocabCol = array(Vocab.map(lit): _*)
      val grp = col("value") - pmod(col("value"), lit(10L))
      val mutPos = pmod(hash(col("value")), lit(40))
      val words = transform(sequence(lit(0), lit(39)), i =>
        element_at(vocabCol, (lit(1) + pmod(
          when(i.cast("long") === mutPos &&
               pmod(col("value"), lit(10L)) =!= 0L,
            hash(col("value"), i)).otherwise(hash(grp, i)),
          lit(Vocab.size))).cast("int")))
      val docs = spark.readStream.format("rate")
        .option("rowsPerSecond", docsPerSec.toLong)
        .option("rampUpTime", "0s").load()
        .select(col("value").as("doc_id"),
          array_join(words, " ").as("text"))
      val survivors = new AtomicLong(0)
      // memo-state pipeline: the accepted-signature state lives in a
      // foreachBatch-compacted table (no state-store operator), so the
      // collector samples the cumulative survivor count — one 16-byte
      // (id long, sig long) row per survivor — as the state line
      val collector = new Collector(qname,
        memoStateRows = Some(() => survivors.get))
      spark.streams.addListener(collector)
      val t0 = System.nanoTime()
      val filter = streaming.StreamIngest.nearDupIngest(
        docs, "doc_id", "text",
        onSurvivors = b => survivors.addAndGet(b.count()),
        queryName = qname)
      Thread.sleep(soakA * 1000L)
      filter.query.stop()
      filter.query.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val stateRows = filter.acceptedSignatures.count()
      spark.streams.removeListener(collector)
      sections += summarize(label, collector.triggers.toSeq,
        wall, Map(
          "rows_per_sec_offered" -> docsPerSec.toString,
          "survivors" -> survivors.get.toString,
          "accepted_signature_rows" -> stateRows.toString))
      println(s"[soak] $label: ${survivors.get} survivors, " +
        s"$stateRows accepted sigs, ${collector.triggers.size} triggers")
    }

    // ---- Phase B: sessionization (flatMapGroupsWithState) ----
    for (eventsPerSec <- eventRates) {
      val label = if (eventRates.size == 1) "sessionization"
        else s"sessionization_$eventsPerSec"
      val qname = s"graft-soak-sessions-$eventsPerSec"
      val users = 15000
      val events = spark.readStream.format("rate")
        .option("rowsPerSecond", eventsPerSec.toLong)
        .option("rampUpTime", "0s").load()
        .select(pmod(hash(col("value")), lit(users)).cast("string")
          .as("user_id"), col("timestamp").as("ts"))
      val sessions = streaming.StreamIngest.streamingSessions(
        events, "user_id", "ts", maxGapMs = 2000,
        watermark = "5 seconds")
      val closed = new AtomicLong(0)
      val collector = new Collector(qname)
      spark.streams.addListener(collector)
      val t0 = System.nanoTime()
      val q = sessions.writeStream
        .queryName(qname)
        .outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          closed.addAndGet(b.count()); () }
        .start()
      Thread.sleep(soakB * 1000L)
      q.stop(); q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.streams.removeListener(collector)
      sections += summarize(label, collector.triggers.toSeq,
        wall, Map(
          "rows_per_sec_offered" -> eventsPerSec.toString,
          "closed_sessions" -> closed.get.toString,
          "distinct_users" -> users.toString))
      println(s"[soak] $label: ${closed.get} closed, " +
        s"${collector.triggers.size} triggers")
    }

    val json = s"""{"soak_sec":[$soakA,$soakB],"cpus":$cpus,""" +
      sections.mkString("", ",", "}")
    Files.writeString(Paths.get(outJson), json)
    println(s"[soak] wrote $outJson")
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }
}
