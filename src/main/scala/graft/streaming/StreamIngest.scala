package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders}

/** Structured Streaming surface. The reference has NO streaming
  * (SURVEY §2.9) — this is the beyond-reference extension, kept to the
  * operators the program runs: [[nearDupIngest]] and
  * [[streamingSessions]] (the two `graft.StreamSoak` phases) and
  * [[streamingCurationFunnel]] (the `streaming_curation_funnel`
  * registry line).
  */
object StreamIngest {

  /** Incremental streaming near-duplicate filter — the crawl-dedup
    * contract over an unbounded stream: each micro-batch is
    * deduplicated WITHIN itself (SimHash pairs + independent-set drop)
    * and against every previously accepted document, survivors are
    * appended to the accepted-signature state and handed to
    * `onSurvivors`. State is one (id, sig64) row per accepted doc —
    * ~16 bytes/doc, so 1 B accepted docs ≈ 16 GB across the cluster.
    *
    * State is SEGMENTED so a trigger writes O(batch), not O(accepted):
    * a base segment (the bootstrap) plus one checkpointed delta per
    * micro-batch; the probe scans their lazy union. Every
    * `compactEvery` batches (counted as deltas appended since the last
    * compaction, so the cadence is exact even at `compactEvery = 2`)
    * the non-base tail merges into one segment (the base is never
    * rewritten), so segment count stays bounded and the amortized
    * per-batch write is O(accepted-since-bootstrap / compactEvery) —
    * an LSM-style leveling would tighten that further if ever needed.
    * The previous implementation re-materialized the FULL accepted set
    * every trigger (a 16 GB write per batch at the 1 B-doc design
    * point).
    *
    * Returns the query plus an accessor for the accepted-signature
    * frame (for checkpointing/bootstrap: pass a prior run's signatures
    * as `bootstrap` to resume). */
  final class NearDupFilter private[streaming] (
      val query: StreamingQuery, state: () => Vector[DataFrame]) {
    def acceptedSignatures: DataFrame = state().reduce(_ unionByName _)
    /** State segments, base first — exposed for tests asserting that a
      * trigger appends one O(batch) delta without rewriting the rest. */
    private[graft] def segments: Vector[DataFrame] = state()
  }

  def nearDupIngest(stream: DataFrame, idCol: String, textCol: String,
      onSurvivors: DataFrame => Unit, maxHamming: Int = 3,
      bands: Int = 4, bootstrap: Option[DataFrame] = None,
      compactEvery: Int = 16,
      queryName: String = "graft-neardup-ingest"): NearDupFilter = {
    require(compactEvery >= 2, "compactEvery must be >= 2")
    // AtomicReference (not a captured var) so checkpointing readers on
    // other threads see the latest published segment list — local vars
    // cannot be @volatile and closure capture is not a safe publication
    val segments = new java.util.concurrent.atomic.AtomicReference(
      Vector(bootstrap
        .getOrElse(graft.operators.Dedup.simhashSignatures(
          stream.sparkSession.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            stream.schema), idCol, textCol))
        .localCheckpoint(true)))
    // touched only by the single micro-batch thread
    var deltasSinceCompact = 0
    val q = stream.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // in-batch near-dup drop (chain-safe independent set)
          val pairs = graft.operators.Dedup.nearDupPairsSimHash(
            batch, idCol, textCol, maxHamming, bands = bands)
          val inBatch = graft.operators.Dedup.dedupByPairs(
            batch, idCol, pairs)
          // drop anything near an already-accepted doc
          val sigs = graft.operators.Dedup.simhashSignatures(
            inBatch, idCol, textCol)
          val seen = segments.get().reduce(_ unionByName _)
          val dupIds = graft.operators.Dedup.nearDupProbeSimHash(
            sigs, seen, idCol, maxHamming = maxHamming, bands = bands)
          val survivors = inBatch.join(dupIds, Seq(idCol), "left_anti")
            .localCheckpoint(true)
          // the only eager state write this trigger: one O(batch) delta
          val survivorSigs = sigs.join(dupIds, Seq(idCol), "left_anti")
            .localCheckpoint(true)
          deltasSinceCompact += 1
          if (deltasSinceCompact >= compactEvery) {
            val merged = (segments.get().tail :+ survivorSigs)
              .reduce(_ unionByName _).localCheckpoint(true)
            // dropped delta references are reclaimed by the
            // ContextCleaner once unreachable
            segments.set(Vector(segments.get().head, merged))
            deltasSinceCompact = 0
          } else segments.set(segments.get() :+ survivorSigs)
          onSurvivors(survivors)
        }
      }
      .start()
    new NearDupFilter(q, () => segments.get())
  }

  /** Accumulated per-stage survivor counts of
    * [[streamingCurationFunnel]] — the streaming twin of the batch
    * `curation_funnel` attrition report's six numbers. */
  final case class CurationStageCounts(total: Long, gopher: Long,
      lm: Long, dupspan: Long, neardup: Long, decontam: Long) {
    def +(o: CurationStageCounts): CurationStageCounts =
      CurationStageCounts(total + o.total, gopher + o.gopher, lm + o.lm,
        dupspan + o.dupspan, neardup + o.neardup, decontam + o.decontam)
  }

  /** Handle on a running streaming curation funnel. */
  final class CurationFunnelStream(val query: StreamingQuery,
      state: () => CurationStageCounts) {
    /** Stage counts over everything processed so far. */
    def counts: CurationStageCounts = state()
  }

  /** Streaming twin of the batch curation funnel (the registered
    * `curation_funnel` attrition report): per micro-batch, the SAME
    * five stage flags are computed INDEPENDENTLY and counted
    * cumulatively (total → gopher → +LM → +dup-span → +near-dup →
    * +decontamination), mirroring the batch one-flags-frame /
    * one-conditional-aggregate shape rather than a sequential gate
    * pipeline (batch flags are corpus-independent per stage; gating
    * sequentially would change what the later stages see).
    *
    * Per-stage batch-parity contract (spec-pinned):
    *  - gopher, LM (pre-fit model), decontamination (fixed benchmark
    *    frame): pure per-row flags — streaming totals equal the batch
    *    report on the same data under ANY batch split.
    *  - dup-span: gram counts are per MICRO-BATCH (+ within-doc
    *    self-repetition) — a one-trigger horizon: cross-batch
    *    duplicated spans are
    *    caught by the near-dup stage or a downstream batch pass.
    *    Totals equal batch when cross-doc span duplication lands
    *    within one trigger.
    *  - near-dup: first-seen-wins against the accumulated signature
    *    state (vs batch quality-keep-best) — SURVIVOR COUNTS agree
    *    when duplicate clusters are cliques (exact/near-identical
    *    copies, the overwhelming near-dup case); which member
    *    survives legitimately differs (first vs best).
    *
    * State: one simhash-signature segment list over all SEEN docs
    * (compacted like [[nearDupIngest]]) plus six counters. Every
    * per-batch job is O(batch) except the signature probe, which is
    * banded — never all-pairs. */
  def streamingCurationFunnel(stream: DataFrame, idCol: String,
      textCol: String,
      lmModel: java.util.HashMap[String, java.lang.Double],
      benchmark: DataFrame,
      minLmScore: Double = -1.75, minWords: Long = 30L,
      minAlphaRatio: Double = 0.8, maxDupRatio: Double = 0.25,
      dupK: Int = 20, maxContamination: Double = 0.05,
      maxHamming: Int = 3, bands: Int = 4, compactEvery: Int = 16,
      onSurvivors: DataFrame => Unit = _ => (),
      queryName: String = "graft-curation-stream"): CurationFunnelStream = {
    import graft.functions.TextFunctions.gopherRules
    require(!lmModel.isEmpty,
      "empty LM model — fit charBigramModel on a bootstrap corpus")
    require(compactEvery >= 2, "compactEvery must be >= 2")
    val benchFixed = benchmark.localCheckpoint(true)
    val counts = new java.util.concurrent.atomic.AtomicReference(
      CurationStageCounts(0L, 0L, 0L, 0L, 0L, 0L))
    val segments = new java.util.concurrent.atomic.AtomicReference(
      Vector(graft.operators.Dedup.simhashSignatures(
        stream.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          stream.schema), idCol, textCol).localCheckpoint(true)))
    var deltasSinceCompact = 0
    val q = stream.writeStream
      .queryName(queryName)
      .foreachBatch { (batch0: DataFrame, _: Long) =>
        if (!batch0.isEmpty) {
          val batch = batch0.localCheckpoint(true)
          val ids = batch.select(col(idCol))
          val g = batch
            .withColumn("__g", gopherRules(col(textCol)))
            .where(col("__g.n_words") >= minWords &&
              col("__g.alpha_word_ratio") >= minAlphaRatio)
            .select(col(idCol))
          val lm = graft.operators.TextAnalysis.scoreWithBigramModel(
              batch, idCol, textCol, lmModel)
            .where(col("lm_score") >= minLmScore).select(col(idCol))
          val ds = graft.operators.Dedup.dupSpanStats(
              batch, idCol, textCol, k = dupK, hashGrams = false)
            .where(col("dup_ratio") <= maxDupRatio).select(col(idCol))
          // near-dup: in-batch independent set, then anti vs all SEEN
          val pairs = graft.operators.Dedup.nearDupPairsSimHash(
            batch, idCol, textCol, maxHamming, bands = bands)
          val inBatch = graft.operators.Dedup.dedupByPairs(
            batch, idCol, pairs).select(col(idCol))
          val sigs = graft.operators.Dedup.simhashSignatures(
            batch, idCol, textCol).localCheckpoint(true)
          val seen = segments.get().reduce(_ unionByName _)
          val dupIds = graft.operators.Dedup.nearDupProbeSimHash(
            sigs, seen, idCol, maxHamming = maxHamming, bands = bands)
          val nd = inBatch.join(dupIds, Seq(idCol), "left_anti")
          val dec = graft.operators.Dedup.benchmarkOverlap(
              batch, benchFixed, idCol, textCol, k = dupK,
              hashGrams = false)
            .where(col("contamination_ratio") < maxContamination)
            .select(col(idCol))
          val s3 = g.join(lm, Seq(idCol), "left_semi")
          val s4 = s3.join(ds, Seq(idCol), "left_semi")
          val s5 = s4.join(nd, Seq(idCol), "left_semi")
            .localCheckpoint(true)
          val s6 = s5.join(dec, Seq(idCol), "left_semi")
          val delta = CurationStageCounts(ids.count(), g.count(),
            s3.count(), s4.count(), s5.count(), s6.count())
          counts.set(counts.get() + delta)
          // the signature state accumulates ALL seen docs (the batch
          // flag is corpus-wide, so later copies of ANY seen doc must
          // lose, whether or not the first copy survived other stages)
          deltasSinceCompact += 1
          if (deltasSinceCompact >= compactEvery) {
            val merged = (segments.get().tail :+ sigs)
              .reduce(_ unionByName _).localCheckpoint(true)
            segments.set(Vector(segments.get().head, merged))
            deltasSinceCompact = 0
          } else segments.set(segments.get() :+ sigs)
          onSurvivors(batch.join(s6, Seq(idCol), "left_semi"))
        }
      }
      .start()
    new CurationFunnelStream(q, () => counts.get())
  }

  /** Multi-span sessionization state: the key's not-yet-sealed
    * sub-spans as (start, end, n_events) epoch millis. */
  private[streaming] final case class SessionSpans(
      spans: List[(Long, Long, Long)])

  /** Streaming gap-based sessionization — the unbounded twin of
    * [[graft.operators.Sessionize]]: per key, events within `maxGapMs`
    * of a span's end extend it. A session is EMITTED only once the
    * event-time watermark passes `end + maxGapMs` — no event still
    * admissible under the watermark can extend it — so append-mode
    * output never contains two overlapping rows for one key. Output
    * rows: (key, session_start, session_end, n_events) as epoch
    * millis; state per key is the list of unsealed sub-spans (three
    * longs each), each dropped when the watermark seals it.
    *
    * Events of one key arriving in one trigger are sorted and SPLIT at
    * >maxGapMs boundaries before merging with the stored spans, so a
    * trigger spanning several gaps yields each sub-span as its own
    * session (including late sub-spans entirely before the open one)
    * rather than one stretched span. Per-key memory for that sort is
    * bounded by `maxSortRows`: a hot key exceeding it in one trigger
    * degrades to a single min/max/count span for that trigger (the
    * skew fallback — internal gaps within that one batch go unsplit,
    * which is the pre-split semantics).
    *
    * NOTE: the state schema changed from a single (start, end, count)
    * tuple to the multi-span list form — a checkpoint written by the
    * earlier single-span operator cannot be resumed; start the query
    * from a fresh checkpoint location.
    *
    * @param tsCol TimestampType event-time column; the caller's
    *              watermark delay bounds late data as usual
    */
  def streamingSessions(stream: DataFrame, keyCol: String, tsCol: String,
      maxGapMs: Long, watermark: String = "10 minutes",
      maxSortRows: Int = 1 << 21): DataFrame = {
    require(maxGapMs > 0, "maxGapMs must be positive")
    require(maxSortRows > 0, "maxSortRows must be positive")
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    // the event-time column must survive to the grouped Dataset as a
    // TIMESTAMP for EventTimeTimeout to see the watermark — millis
    // conversion happens inside the state function instead
    implicit val inEnc: Encoder[(String, java.sql.Timestamp)] =
      Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP)
    implicit val stEnc: Encoder[SessionSpans] = Encoders.product[SessionSpans]
    implicit val outEnc: Encoder[(String, Long, Long, Long)] = Encoders.tuple(
      Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong)
    val prepared = stream
      .withWatermark(tsCol, watermark)
      .select(col(keyCol).cast("string"), col(tsCol))
      .as[(String, java.sql.Timestamp)]
    val sessions = prepared.groupByKey(_._1)
      .flatMapGroupsWithState[SessionSpans, (String, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[(String, java.sql.Timestamp)],
            state: GroupState[SessionSpans]) =>
          val wm = state.getCurrentWatermarkMs()
          val spans = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          state.getOption.foreach(spans ++= _.spans)
          if (!state.hasTimedOut) {
            // collect this trigger's event times, bounded by maxSortRows
            val buf = new scala.collection.mutable.ArrayBuffer[Long]
            var mn = Long.MaxValue; var mx = Long.MinValue; var n = 0L
            var overflow = false
            while (rows.hasNext) {
              val t = rows.next()._2.getTime
              if (!overflow) {
                buf += t
                if (buf.length >= maxSortRows) overflow = true
              }
              if (t < mn) mn = t
              if (t > mx) mx = t
              n += 1L
            }
            if (overflow) spans += ((mn, mx, n))
            else if (n > 0) {
              // sort and split at >maxGapMs boundaries
              val ts = buf.toArray
              java.util.Arrays.sort(ts)
              var s0 = ts(0); var e0 = ts(0); var c0 = 1L
              for (i <- 1 until ts.length) {
                if (ts(i) - e0 > maxGapMs) {
                  spans += ((s0, e0, c0)); s0 = ts(i); e0 = ts(i); c0 = 1L
                } else { e0 = ts(i); c0 += 1L }
              }
              spans += ((s0, e0, c0))
            }
          }
          // chain-merge: spans within a gap of each other join
          val sorted = spans.sortBy(sp => (sp._1, sp._2))
          val merged = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
          for (sp <- sorted) {
            if (merged.nonEmpty && sp._1 <= merged.last._2 + maxGapMs) {
              val l = merged.last
              merged(merged.length - 1) =
                (l._1, math.max(l._2, sp._2), l._3 + sp._3)
            } else merged += sp
          }
          // a span is sealed once no in-watermark event can extend it:
          // STRICTLY below the watermark — an event at exactly
          // t == end + maxGapMs == wm is still admissible and extends
          // the span (the split condition is strictly > maxGapMs)
          val (closed, open) = merged.partition(_._2 + maxGapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionSpans(open.toList))
            // fires when the watermark passes the earliest unsealed close
            state.setTimeoutTimestamp(open.map(_._2).min + maxGapMs)
          }
          closed.iterator.map { case (s, e, n) => (key, s, e, n) }
      }
    sessions.toDF(keyCol, "session_start", "session_end", "n_events")
  }
}
