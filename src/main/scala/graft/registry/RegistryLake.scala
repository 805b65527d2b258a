package graft
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lake slice of the [[SparkEntry]] registry — source round-trips (CSV/JSONL/ORC/WET), lake maintenance, snapshots, multimodal and streaming pipelines.
  *
  * Split from the single 9.5k-line SparkEntry.scala (r16 verdict item
  * 6); every entry is VERBATIM from that file, and the shared frame /
  * SQL-snippet helpers stay on [[SparkEntry]] (imported wholesale
  * below) so registration text and oracle twins cannot drift during
  * the move. Composition happens in [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSqlRaw]]. */
private[graft] object RegistryLake {
  import SparkEntry._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // STREAMING curation funnel on the gate surface (rows-only: the
    // output is the six ACCUMULATED stage counters of a real
    // Structured Streaming run — a stream has no SQL twin; the batch
    // `curation_funnel` report is its documented twin under the
    // per-stage horizon contracts spec-pinned in
    // CurationFunnelStreamSpec: gopher/LM/decontam are split-invariant
    // per-row flags, dup-span parity needs span duplication inside one
    // trigger, near-dup survivor counts agree on clique-shaped
    // duplicate clusters). The documents table streams through three
    // DETERMINISTIC micro-batches (doc_id mod 3) with the same
    // thresholds and benchmark split (doc_id % 20) the batch funnel
    // uses. The driver-side collect is the MemoryStream harness for
    // the gate, not the operator's shape — production feeds the same
    // funnel from a real readStream source. The run is memoized per
    // (process, corpus) via SharedFrames — the saved_knn precedent:
    // the STREAM runs once per process (so the gate and the bench's
    // first run genuinely drive the streaming path end-to-end) and
    // repeat bench runs read the materialized counts; this line's
    // bench number is therefore gate-coverage plumbing, not a
    // streaming-throughput claim (CurationFunnelStreamSpec and the
    // per-trigger parity specs own that surface).
    "streaming_curation_funnel" -> ((s, dir) =>
      SharedFrames.materialized(s, dir, "streaming_curation_funnel") {
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        import s.implicits._
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val lmModel =
          graft.operators.TextAnalysis.charBigramModel(docs, "text")
        val benchmark = docs.where(col("doc_id") % 20 === 0)
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val source = MemoryStream[(Long, String)]
        val funnel = graft.streaming.StreamIngest.streamingCurationFunnel(
          source.toDF().toDF("doc_id", "text"), "doc_id", "text",
          lmModel, benchmark,
          queryName =
            s"graft-curation-gate-${java.util.UUID.randomUUID()}")
        try {
          // NOT an ingestion path: this feeder exists only to drive
          // the MemoryStream gate harness. Each %3 slice is fed as
          // ONE addData block: a MemoryStream block is consumed
          // atomically, so the funnel sees exactly three
          // deterministic micro-batches at ANY sf where a slice fits
          // the bound — the r14 chunked form could split a >50k-row
          // slice across micro-batches, silently moving the funnel's
          // dupspan/neardup batch horizons at larger corpora
          // (CurationFunnelStreamSpec pins which stages are
          // boundary-invariant; dupspan/neardup are NOT in general).
          // The driver-memory bound: a slice above 200k rows falls
          // back to 200k-row blocks with a loud note — that sf
          // (~12 for this corpus) exceeds every gate scale, and the
          // fallback trades exact micro-batch parity for a bounded
          // driver. Production feeds the same funnel from readStream
          // and never routes data through the driver.
          import scala.jdk.CollectionConverters._
          val sliceBound = 200000
          (0L to 2L).foreach { b =>
            val it = docs.where(col("doc_id") % 3 === b)
              .toLocalIterator().asScala
              .map(r => (r.getLong(0), r.getString(1)))
            it.grouped(sliceBound).zipWithIndex.foreach {
              case (block, i) =>
                if (i > 0) System.err.println(
                  s"[streaming_curation_funnel] slice $b exceeds " +
                    s"$sliceBound rows — fed as multiple blocks; " +
                    "micro-batch boundaries differ from the " +
                    "single-block feed (dupspan/neardup horizons)")
                source.addData(block)
            }
            funnel.query.processAllAvailable()
          }
        } finally funnel.query.stop()
        val c = funnel.counts
        Seq((1L, "total", c.total), (2L, "gopher", c.gopher),
          (3L, "lm", c.lm), (4L, "dupspan", c.dupspan),
          (5L, "neardup", c.neardup), (6L, "decontam", c.decontam))
          .toDF("stage_idx", "stage", "n_surviving")
          .orderBy("stage_idx")
      }.orderBy("stage_idx")),
    // JSONL ingest round-trip: parquet → JSON-lines on disk →
    // schema-declared read → typed projection. The oracle checks the
    // whole write/read loop against the original table (strings with
    // newlines survive via JSON escaping — unlike CSV)
    "jsonl_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      val src = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source")
      graft.sources.JsonlSource.write(src.coalesce(4), tmp)
      graft.sources.JsonlSource.read(s, tmp, Some(src.schema))
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("lang"), col("source"))
        .orderBy("doc_id")
    }),
    // ORC round-trip (the Hive-side columnar lake format): parquet →
    // partitioned ORC on disk (lang=... layout) → schema-pinned read →
    // typed projection. Partition values come back from directory
    // names, so types and nulls crossing the hive-layout boundary are
    // what the oracle checks.
    "orc_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
      val src = t(s, dir, "documents")
        .select("doc_id", "text", "n_chars", "lang")
      graft.sources.OrcSource.writePartitioned(src.coalesce(4), tmp,
        Seq("lang"))
      graft.sources.OrcSource.read(s, tmp)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("n_chars").cast("long").as("n_chars"),
          col("lang").cast("string").as("lang"))
        .orderBy("doc_id")
    }),

    // X227 raw-crawl WET/WARC record ingest — the missing FIRST stage
    // of the curation funnel: a deterministic multi-member-gzip WET
    // fixture is synthesized FROM documents (doc_id % 10 stratum so
    // the fixture scales with sf; 16 shard files written DISTRIBUTED
    // via mapGroups — no driver collect), read back through
    // WetSource's framing parser, and the twin derives every field
    // ANALYTICALLY from documents (the url_canonical_dedup recipe) —
    // so header framing, multi-member resync, Content-Length
    // accounting, and UTF-8 decode are all independently checked.
    "wet_ingest" -> ((s, dir) => {
      import s.implicits._
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-wet-fix").toString
      val docs = t(s, dir, "documents")
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          concat(lit("http://"), col("source"),
            lit(".example.com/"), col("lang"), lit("/"),
            col("doc_id").cast("string")).as("url"),
          format_string("2024-01-01T%02d:%02d:%02dZ",
            ((col("doc_id") % 86400) / 3600).cast("int"),
            ((col("doc_id") % 3600) / 60).cast("int"),
            (col("doc_id") % 60).cast("int")).as("warc_date"),
          col("text"))
      docs.select(pmod(col("doc_id"), lit(16L)).as("shard"),
          col("doc_id"), col("url"), col("warc_date"), col("text"))
        .as[(Long, Long, String, String, String)]
        .groupByKey(_._1)
        .mapGroups { (shard, it) =>
          val recs = it.toSeq.sortBy(_._2)
            .map(r => (r._3, r._4, r._5))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(tmp, f"shard$shard%02d.warc.wet.gz"),
            graft.sources.WetSource.writeMembers(recs))
          shard
        }.collect() // 16 shard ids — the write barrier, driver-small
      graft.sources.WetSource.read(s, tmp + "/*.warc.wet.gz")
        .select(col("url"), col("warcDate").as("warc_date"),
          col("nBytes").as("n_bytes"), col("text"))
        .orderBy("url")
    }),

    "zorder_keys" -> ((s, dir) =>
      graft.operators.Lake.zorderLayout(
        t(s, dir, "lineitem").select("l_orderkey", "l_linenumber",
          "l_partkey", "l_suppkey"),
        Seq("l_partkey", "l_suppkey"), bits = 8, numFiles = 8)
        .select(col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("__z").as("z"))
        .orderBy("l_orderkey", "l_linenumber")),
    // snapshot diff (CDC): documents vs a simulated next version
    // (drop %97 keys, bump n_chars on %31, re-key %113 as inserts) —
    // one full-outer key join emitting only the change set
    "snapshot_diff" -> ((s, dir) => {
      val before = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val kept = before.filter(col("doc_id") % 97 =!= 0)
        .withColumn("n_chars", when(col("doc_id") % 31 === 0,
          col("n_chars") + 1000).otherwise(col("n_chars")))
      val inserted = before.filter(col("doc_id") % 113 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("n_chars"))
      graft.operators.Lake.snapshotDiff(before, kept.unionByName(inserted),
        Seq("doc_id"), Seq("lang", "n_chars"))
        .select(col("doc_id"), col("lang_before"), col("lang_after"),
          col("n_chars_before"), col("n_chars_after"), col("op"))
        .orderBy("doc_id")
    }),
    // data-contract gate: three rules over a feed with deterministic
    // injected corruption; violations ride as a comma-joined reason
    // string (null = clean), one codegen'd projection
    "data_contract" -> ((s, dir) => {
      val feed = t(s, dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
        .withColumn("lang", when(col("doc_id") % 37 === 0, lit("zz"))
          .otherwise(col("lang")))
        .withColumn("n_chars", when(col("doc_id") % 53 === 0, lit(-5L))
          .otherwise(col("n_chars")))
        .withColumn("text", when(col("doc_id") % 71 === 0,
          lit(null).cast("string")).otherwise(col("text")))
      graft.operators.Lake.validate(feed, Seq(
        "lang_known" -> col("lang").isin("en", "de", "fr", "es"),
        "n_chars_pos" -> (col("n_chars") > 0),
        "text_present" -> (col("text").isNotNull &&
          length(col("text")) > 0)))
        .select("doc_id", "violations")
        .orderBy("doc_id")
    }),
    // incremental materialized-view maintenance: refresh a per-lang
    // (count, sum) rollup from the CDC change set alone — deletes
    // retract, group-moving updates retract+contribute; the ORACLE is
    // the full recompute of the after table, so the gate checks
    // incremental == full
    "incr_rollup" -> ((s, dir) => {
      val before = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val kept = before.filter(col("doc_id") % 97 =!= 0)
        .withColumn("n_chars", when(col("doc_id") % 31 === 0,
          col("n_chars") + 1000).otherwise(col("n_chars")))
        .withColumn("lang", when(col("doc_id") % 41 === 0, lit("xx"))
          .otherwise(col("lang")))
      val inserted = before.filter(col("doc_id") % 113 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          col("n_chars"))
      val base = graft.operators.Lake.groupRollup(before, "lang", "n_chars")
      val changes = graft.operators.Lake.snapshotDiff(before,
        kept.unionByName(inserted), Seq("doc_id"), Seq("lang", "n_chars"))
      graft.operators.Lake.maintainRollup(base, changes, "lang", "n_chars")
        .orderBy("lang")
    }),
    // compaction planner: a per-(lang, doc_id%50) "file" inventory
    // bin-packed to 10 kB targets by running size in file order — the
    // two-phase PrefixScan, never a single-task window
    "compaction_plan" -> ((s, dir) => {
      val files = t(s, dir, "documents")
        .groupBy(col("lang"), pmod(col("doc_id"), lit(50)).as("part"))
        .agg(sum("n_chars").cast("long").as("bytes"))
        .select(concat(col("lang"), lit("/"), col("part")).as("file"),
          col("bytes"))
      graft.operators.Lake.compactionPlan(files, "bytes",
        targetBytes = 10000L, orderBy = Seq(col("file")),
        materialize = false)
        .select(col("file"), col("bytes"), col("running_bytes"), col("bin"))
        .orderBy("file")
    }),
    // CSV ingest round-trip (S1/S2): parquet → header CSV on disk →
    // CsvSource.read + renamed → typed projection. Driver-checks the
    // CSV path end-to-end against the original parquet table.
    "csv_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
      t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        .coalesce(4).write.mode("overwrite")
        .option("header", "true").csv(tmp)
      val back = graft.sources.CsvSource.read(s, tmp)
      val renamed = graft.sources.CsvSource.renamed(back, Map(
        "doc_id" -> "doc_id", "lang" -> "language", "n_chars" -> "n_chars"))
        .select(col("doc_id").cast("long").as("doc_id"), col("language"),
          col("n_chars").cast("long").as("n_chars"))
      // S3: relative paths resolve against a base dir, absolute pass
      graft.sources.CsvSource.resolvePaths(
        renamed.withColumn("file",
          when(col("doc_id") % 2 === 0, concat(col("doc_id"), lit(".txt")))
            .otherwise(concat(lit("/abs/"), col("doc_id"), lit(".txt")))),
        "file", "/base")
        .orderBy("doc_id")
    }),
    // bucketed layout: both sides written bucketBy(custkey) once, then
    // joined WITHOUT a shuffle (the scale play: pay the exchange at
    // layout time, amortize over every later join)
    "bucketed_join" -> ((s, dir) => {
      graft.operators.Bucketing.writeBucketed(
        t(s, dir, "orders").select(col("o_custkey").as("custkey"),
          col("o_totalprice")), "g_orders_b", "custkey", numBuckets = 8)
      graft.operators.Bucketing.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey").as("custkey"),
          col("c_nationkey")), "g_customer_b", "custkey", numBuckets = 8)
      graft.operators.Bucketing.coLocatedJoin(s, "g_orders_b",
        "g_customer_b", "custkey")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy("c_nationkey")
    }),
    // snapshot time travel: a three-commit versioned table (base →
    // %7 n_chars updates → zh deletes) built ONCE per process into a
    // generation-partitioned layout; the query is the READ side —
    // as-of gen 1 (updates visible, later deletes NOT) union as-of
    // gen 2, each one pruned scan + one keyed max_by(row, gen)
    "snapshot_asof" -> ((s, dir) => {
      val root = SharedFrames.materializedArtifact(s, dir, "snap_table") { p =>
        val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        graft.operators.Lake.commitSnapshot(s, p, base, Seq("doc_id"))
        graft.operators.Lake.commitSnapshot(s, p,
          base.where(col("doc_id") % 7 === 0)
            .withColumn("n_chars", col("n_chars") + 1000L), Seq("doc_id"))
        graft.operators.Lake.commitSnapshot(s, p,
          base.limit(0), Seq("doc_id"),
          deletes = Some(base.where(col("lang") === "zh")
            .select("doc_id")))
      }
      def asOf(g: Long) = graft.operators.Lake.readAsOf(
          s, root, Seq("doc_id"), g)
        .withColumn("asof_gen", lit(g))
        .select("asof_gen", "doc_id", "lang", "n_chars")
      asOf(1L).unionByName(asOf(2L)).orderBy("asof_gen", "doc_id")
    }),
    // change-data-feed from history: snapshotDiff between two AS-OF
    // reconstructions of the versioned table — "what did commit 2 do",
    // recoverable from the layout alone (here: the zh tombstones
    // surface as op='delete' rows)
    "snapshot_cdc" -> ((s, dir) => {
      val root = SharedFrames.materializedArtifact(s, dir, "snap_table") { p =>
        val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
        graft.operators.Lake.commitSnapshot(s, p, base, Seq("doc_id"))
        graft.operators.Lake.commitSnapshot(s, p,
          base.where(col("doc_id") % 7 === 0)
            .withColumn("n_chars", col("n_chars") + 1000L), Seq("doc_id"))
        graft.operators.Lake.commitSnapshot(s, p,
          base.limit(0), Seq("doc_id"),
          deletes = Some(base.where(col("lang") === "zh")
            .select("doc_id")))
      }
      def asOf(g: Long) = graft.operators.Lake.readAsOf(
        s, root, Seq("doc_id"), g)
      graft.operators.Lake.snapshotDiff(asOf(1L), asOf(2L),
        Seq("doc_id"), Seq("lang", "n_chars"))
        .orderBy("doc_id")
    }),
    // debounce: collapse bursts of the same (user, type) within a
    // 10-minute chain to their FIRST event — gap sessionization is
    // the chain closure (lag alone gets chains wrong), min_by picks
    // the representative
    "debounced_events" -> ((s, dir) =>
      graft.operators.Sessionize.sessionize(
        events(s, dir).select("event_id", "user_id", "event_type", "ts"),
        Seq("user_id", "event_type"), "ts", maxGap = 600L * 1000000000L)
        .groupBy("user_id", "event_type", "session_idx")
        .agg(min_by(col("event_id"), struct(col("ts"), col("event_id")))
          .as("kept_event_id"),
          count(lit(1)).as("n_collapsed"))
        .select("kept_event_id", "user_id", "event_type", "n_collapsed")
        .orderBy("kept_event_id")),
    // multimodal pipeline: deterministic PNGs generated on the fly →
    // binaryFile source → REAL ImageIO metadata decode (no backing
    // table → rows-only check; decode correctness is unit-tested)
    "image_pipeline" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-img")
      (1 to 8).foreach { i =>
        val img = new java.awt.image.BufferedImage(16 * i, 8 * i,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try {
          g.setColor(new java.awt.Color(i * 20 % 256, i * 10, i * 5))
          g.fillRect(0, 0, 16 * i, 8 * i)
        } finally g.dispose()
        javax.imageio.ImageIO.write(img, "png",
          new java.io.File(tmp.toFile, s"img$i.png"))
      }
      graft.operators.Multimodal.withImageMeta(
        graft.operators.Multimodal.readBinaryDir(s, tmp.toString, "*.png"),
        "content")
        .select(element_at(split(col("path"), "/"), -1).as("file"),
          col("image_meta.width"), col("image_meta.height"),
          col("image_meta.channels"), col("image_meta.format"))
        .orderBy("file")
    }),
    // audio pipeline: deterministic WAVs synthesized on the fly →
    // binaryFile source → REAL javax.sound decode of meta + signal
    // features (no backing table → rows-only; decode/feature math is
    // unit-tested against known sine properties)
    "audio_pipeline" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-aud")
      (1 to 6).foreach { i =>
        val rate = 8000
        val hz = 110.0 * i
        val wav = graft.operators.AudioCodec.synthWavPcm16(rate,
          Array.tabulate(rate / 2)(j =>
            (math.sin(2 * math.Pi * hz * j / rate) * 0.4 * 32767).toShort))
        java.nio.file.Files.write(
          tmp.resolve(f"tone$i%02d.wav"), wav)
      }
      val withMeta = graft.operators.Multimodal.withAudioMeta(
        graft.operators.Multimodal.readBinaryDir(s, tmp.toString, "*.wav"),
        "content")
      graft.operators.Multimodal.audioFeatures(withMeta, "content")
        .select(element_at(split(col("path"), "/"), -1).as("file"),
          col("audio_meta.sample_rate"), col("audio_meta.n_frames"),
          // zcr ≈ 2f/rate separates the tones; rounded for stability
          round(col("audio_features.zero_cross_rate"), 3).as("zcr"))
        .orderBy("file")
    }),
    // video pipeline: deterministic motion-image containers synthesized
    // on the fly → binaryFile source → header meta → frame sampling →
    // REAL per-frame ImageIO decode (no backing table → rows-only;
    // container parsing and decode are unit-tested)
    "video_pipeline" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-vid")
      (1 to 3).foreach { v =>
        val frames = (0 until 10).map { i =>
          val img = new java.awt.image.BufferedImage(16, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = img.createGraphics()
          try {
            g.setColor(new java.awt.Color((v * 40 + i * 10) % 256,
              (i * 25) % 256, (v * 80) % 256))
            g.fillRect(0, 0, 16, 16)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          bos.toByteArray
        }
        java.nio.file.Files.write(tmp.resolve(s"clip$v.gmj"),
          graft.operators.VideoCodec.synthMotionImage(5, frames))
      }
      val src = graft.operators.Multimodal.readBinaryDir(
        s, tmp.toString, "*.gmj")
      val sampled = graft.operators.Multimodal.sampleVideoFrames(
        graft.operators.Multimodal.withVideoMeta(src, "content"),
        "content", everyNth = 4)
      graft.operators.Multimodal.withImageMeta(sampled, "frame_bytes")
        .select(element_at(split(col("path"), "/"), -1).as("file"),
          col("video_meta.n_frames"), col("video_meta.fps"),
          col("frame_idx"), col("image_meta.width"),
          col("image_meta.height"))
        .orderBy("file", "frame_idx")
    }),
  )

  def twins: Map[String, String] = Map(
    // nullif: CSV cannot represent empty-string vs NULL (Spark reads
    // empty fields back as null), so the documented round-trip contract
    // maps '' to NULL and the oracle does the same
    // the round-trip must reproduce the source table exactly — JSONL
    // has no empty-vs-null ambiguity, so no nullif is needed
    "jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source FROM documents
        |ORDER BY doc_id""".stripMargin,
    "orc_roundtrip" ->
      """SELECT doc_id, text, n_chars, lang FROM documents
        |ORDER BY doc_id""".stripMargin,

    // analytic WET twin: every field rebuilt from the documents table
    // by the synthesis rule — url concat, the HH:MM:SS arithmetic,
    // and n_bytes as the UTF-8 OCTET count (octet_length over encode)
    // — never by re-running the framing parser, so the parser is
    // independently checked end to end
    "wet_ingest" ->
      """SELECT
        |  'http://' || source || '.example.com/' || lang || '/' ||
        |    CAST(doc_id AS VARCHAR) AS url,
        |  strftime(TIMESTAMP '2024-01-01 00:00:00'
        |    + to_seconds(doc_id % 86400), '%Y-%m-%dT%H:%M:%SZ')
        |    AS warc_date,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  text
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY url""".stripMargin,

    "zorder_keys" -> {
      // bit i of qa -> position 2i, of qb -> 2i+1 (Lake.zorderKey with
      // cols = (qa, qb), bits = 8)
      val interleave = (0 until 8).flatMap(i => Seq(
        s"(((qa >> $i) & 1) << ${2 * i})",
        s"(((qb >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH b AS (SELECT MIN(l_partkey) pmn, MAX(l_partkey) pmx,
         |            MIN(l_suppkey) smn, MAX(l_suppkey) smx FROM lineitem),
         |q AS (SELECT l_orderkey, l_linenumber,
         |  ((l_partkey - pmn) * 255) // GREATEST(1, pmx - pmn) AS qa,
         |  ((l_suppkey - smn) * 255) // GREATEST(1, smx - smn) AS qb
         |  FROM lineitem, b)
         |SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         |  CAST($interleave AS BIGINT) AS z
         |FROM q ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "snapshot_diff" ->
      """WITH before_t AS (SELECT doc_id, lang, n_chars FROM documents),
        |kept AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id % 31 = 0 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM before_t WHERE doc_id % 97 <> 0),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, lang, n_chars
        |        FROM before_t WHERE doc_id % 113 = 0),
        |after_t AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
        |j AS (SELECT b.doc_id AS bid, a.doc_id AS aid, b.lang AS lb,
        |        a.lang AS la, b.n_chars AS nb, a.n_chars AS na
        |      FROM before_t b FULL OUTER JOIN after_t a
        |        ON b.doc_id = a.doc_id)
        |SELECT COALESCE(bid, aid) AS doc_id, lb AS lang_before,
        |  la AS lang_after, nb AS n_chars_before, na AS n_chars_after,
        |  CASE WHEN bid IS NULL THEN 'insert'
        |       WHEN aid IS NULL THEN 'delete' ELSE 'update' END AS op
        |FROM j
        |WHERE bid IS NULL OR aid IS NULL
        |   OR (lb IS DISTINCT FROM la) OR (nb IS DISTINCT FROM na)
        |ORDER BY doc_id""".stripMargin,
    "data_contract" ->
      """WITH feed AS (SELECT doc_id,
        |    CASE WHEN doc_id % 37 = 0 THEN 'zz' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 53 = 0 THEN -5 ELSE n_chars END AS n_chars,
        |    CASE WHEN doc_id % 71 = 0 THEN NULL ELSE text END AS text
        |  FROM documents),
        |v AS (SELECT doc_id, concat_ws(',',
        |    CASE WHEN NOT COALESCE(lang IN ('en','de','fr','es'), FALSE)
        |         THEN 'lang_known' END,
        |    CASE WHEN NOT COALESCE(n_chars > 0, FALSE)
        |         THEN 'n_chars_pos' END,
        |    CASE WHEN NOT COALESCE(text IS NOT NULL AND length(text) > 0,
        |                           FALSE)
        |         THEN 'text_present' END) AS violations
        |  FROM feed)
        |SELECT doc_id,
        |  CASE WHEN violations = '' THEN NULL ELSE violations END
        |    AS violations
        |FROM v ORDER BY doc_id""".stripMargin,
    // the oracle is the FULL recompute of the after table — an
    // independent check that the incremental delta path reaches the
    // same rollup
    "incr_rollup" ->
      """WITH before_t AS (SELECT doc_id, lang, n_chars FROM documents),
        |kept AS (SELECT doc_id,
        |    CASE WHEN doc_id % 41 = 0 THEN 'xx' ELSE lang END AS lang,
        |    CASE WHEN doc_id % 31 = 0 THEN n_chars + 1000
        |         ELSE n_chars END AS n_chars
        |  FROM before_t WHERE doc_id % 97 <> 0),
        |ins AS (SELECT doc_id + 1000000 AS doc_id, lang, n_chars
        |        FROM before_t WHERE doc_id % 113 = 0),
        |after_t AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
        |FROM after_t GROUP BY lang ORDER BY lang""".stripMargin,
    "compaction_plan" ->
      """WITH f AS (SELECT lang || '/' || CAST(doc_id % 50 AS VARCHAR) AS file,
        |    CAST(SUM(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1),
        |r AS (SELECT file, bytes,
        |    CAST(SUM(bytes) OVER (ORDER BY file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS running_bytes
        |  FROM f)
        |SELECT file, bytes, running_bytes,
        |  CAST((running_bytes - bytes) // 10000 AS BIGINT) AS bin
        |FROM r ORDER BY file""".stripMargin,
    "csv_roundtrip" ->
      """SELECT doc_id, nullif(lang, '') AS language, n_chars,
        |  CASE WHEN doc_id % 2 = 0 THEN '/base/' || doc_id || '.txt'
        |       ELSE '/abs/' || doc_id || '.txt' END AS file
        |FROM documents ORDER BY doc_id""".stripMargin,
    "bucketed_join" ->
      """SELECT c_nationkey, COUNT(*) AS cnt,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // debounce twin: the same boundary-sum chain over (user, type),
    // representative = row_number 1 under (tsn, event_id)
    "debounced_events" ->
      """WITH s AS (
        |  SELECT event_id, user_id, event_type, tsn,
        |    CAST(SUM(CASE WHEN prev IS NULL OR tsn - prev <= 600000000000
        |                  THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY user_id, event_type ORDER BY tsn
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM (SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn,
        |          lag(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type
        |            ORDER BY epoch_ns(ts)) AS prev
        |        FROM events)),
        |r AS (SELECT event_id, user_id, event_type, session_idx,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type, session_idx
        |      ORDER BY tsn, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id, event_type, session_idx)
        |      AS n_collapsed
        |  FROM s)
        |SELECT event_id AS kept_event_id, user_id, event_type,
        |  CAST(n_collapsed AS BIGINT) AS n_collapsed
        |FROM r WHERE rn = 1 ORDER BY kept_event_id""".stripMargin,
    // time-travel twin: the two as-of states reconstructed from the
    // same commit definitions — gen 1 applies the %7 update, gen 2
    // additionally drops the zh tombstone keys
    "snapshot_asof" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |v1 AS (SELECT doc_id, lang,
        |  CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END
        |    AS n_chars FROM base)
        |SELECT asof_gen, doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM (
        |  SELECT CAST(1 AS BIGINT) AS asof_gen, * FROM v1
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), * FROM v1
        |  WHERE NOT COALESCE(lang = 'zh', FALSE))
        |ORDER BY asof_gen, doc_id""".stripMargin,
    // CDC twin: commit 2 only deletes — every zh row of the gen-1
    // state appears as a delete row with null "after" values
    "snapshot_cdc" ->
      """WITH v1 AS (SELECT doc_id, lang,
        |  CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END
        |    AS n_chars
        |  FROM (SELECT doc_id, lang, n_chars FROM documents))
        |SELECT doc_id,
        |  lang AS lang_before, CAST(NULL AS VARCHAR) AS lang_after,
        |  CAST(n_chars AS BIGINT) AS n_chars_before,
        |  CAST(NULL AS BIGINT) AS n_chars_after,
        |  'delete' AS op
        |FROM v1 WHERE COALESCE(lang = 'zh', FALSE)
        |ORDER BY doc_id""".stripMargin,
  )
}
