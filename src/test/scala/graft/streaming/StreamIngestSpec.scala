package graft.streaming

import graft.SparkSpec
import graft.functions.HashEmbedder
import graft.store.VectorStore
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.sql.Timestamp

class StreamIngestSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("nearDupIngest filters near-dups within and across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textB = "sphinx of black quartz judge my vow at dawn today"
    val textC = "pack my box with five dozen liquor jugs right now"
    val source = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val filter = StreamIngest.nearDupIngest(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s => survivors.synchronized {
        survivors ++= s.select("doc_id").collect().map(_.getLong(0))
      })
    try {
      source.addData((1L, textA), (2L, textB))
      filter.query.processAllAvailable()
      assert(survivors.toSet == Set(1L, 2L))
      // 3 duplicates the ACCEPTED textA; 4 is new; 5 duplicates 4
      // within the same batch → only 4 survives
      source.addData((3L, textA), (4L, textC), (5L, textC))
      filter.query.processAllAvailable()
      assert(survivors.toSet == Set(1L, 2L, 4L))
      assert(filter.acceptedSignatures.count() == 3)
    } finally filter.query.stop()
  }

  test("nearDupIngest: a trigger writes one O(batch) delta segment and " +
      "never rewrites prior state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten",
      "red orange yellow green blue indigo violet pink brown black",
      "north south east west up down left right front back")
    val source = MemoryStream[(Long, String)]
    val filter = StreamIngest.nearDupIngest(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text", _ => ())
    try {
      source.addData((1L, texts(0)), (2L, texts(1)))
      filter.query.processAllAvailable()
      val after1 = filter.segments
      assert(after1.length == 2) // base + one delta
      assert(after1.last.count() == 2)
      source.addData((3L, texts(2)))
      filter.query.processAllAvailable()
      val after2 = filter.segments
      // prior segments are the SAME frames (no re-materialization);
      // the only new state write is the one-row delta for this batch
      assert(after2.length == 3)
      assert(after2(0).eq(after1(0)) && after2(1).eq(after1(1)))
      assert(after2.last.count() == 1)
      assert(filter.acceptedSignatures.count() == 3)
    } finally filter.query.stop()
  }

  test("nearDupIngest: bootstrap resumes dedup from a prior run's " +
      "accepted signatures") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textC = "pack my box with five dozen liquor jugs right now"
    // run 1 accepts textA
    val src1 = MemoryStream[(Long, String)]
    val run1 = StreamIngest.nearDupIngest(
      src1.toDF().toDF("doc_id", "text"), "doc_id", "text", _ => ())
    val sigs = try {
      src1.addData((1L, textA))
      run1.query.processAllAvailable()
      run1.acceptedSignatures.localCheckpoint(true)
    } finally run1.query.stop()
    // run 2 bootstraps from run 1's state: textA arrives again as a
    // NEW id and must be dropped; only textC survives
    val src2 = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val run2 = StreamIngest.nearDupIngest(
      src2.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s => survivors.synchronized {
        survivors ++= s.select("doc_id").collect().map(_.getLong(0))
      }, bootstrap = Some(sigs))
    try {
      src2.addData((10L, textA), (11L, textC))
      run2.query.processAllAvailable()
      assert(survivors.toSet == Set(11L))
      assert(run2.acceptedSignatures.count() == 2) // bootstrap + textC
    } finally run2.query.stop()
  }

  test("nearDupIngest: delta tail compacts every compactEvery batches, " +
      "base untouched") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten",
      "red orange yellow green blue indigo violet pink brown black",
      "north south east west up down left right front back")
    val source = MemoryStream[(Long, String)]
    val filter = StreamIngest.nearDupIngest(
      source.toDF().toDF("doc_id", "text"), "doc_id", "text", _ => (),
      compactEvery = 2)
    try {
      val base = filter.segments.head
      for ((txt, i) <- texts.zipWithIndex) {
        source.addData((i.toLong, txt))
        filter.query.processAllAvailable()
      }
      // exact cadence: batches 2 and 4 compact (2 deltas each time),
      // batch 3's delta rides until batch 4 — base survives by
      // reference throughout
      assert(filter.segments.length == 2)
      assert(filter.segments.head.eq(base))
      assert(filter.acceptedSignatures.count() == 4)
      source.addData((99L, "purple silver golden copper bronze iron tin"))
      filter.query.processAllAvailable()
      // one delta after a compaction: nothing merges yet
      assert(filter.segments.length == 3)
      assert(filter.segments.head.eq(base))
      assert(filter.acceptedSignatures.count() == 5)
    } finally filter.query.stop()
  }

  test("stream-static enrichment: a stream joins against store contents") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store = new VectorStore(spark, HashEmbedder(dim = 8))
    store.setData(Seq(("alpha", "dim-A"), ("beta", "dim-B"))
      .toDF("target", "option1"))
    val source = MemoryStream[(String, Double)]
    val enriched = source.toDF().toDF("target", "amount")
      .join(store.data.select("target", "option1"), Seq("target"), "left")
    val q = enriched.writeStream.format("memory")
      .queryName("enrich_out").outputMode("append").start()
    try {
      source.addData(("alpha", 1.0), ("beta", 2.0), ("gamma", 3.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT target, amount, option1 FROM enrich_out ORDER BY target")
        .collect().map(r => (r.getString(0), Option(r.getString(2))))
      assert(rows.toSeq == Seq("alpha" -> Some("dim-A"),
        "beta" -> Some("dim-B"), "gamma" -> None))
    } finally q.stop()
  }

  test("streamingSessions: gap closes a session, watermark flushes the last") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val sessions = StreamIngest.streamingSessions(
      source.toDF().toDF("ts", "user"), "user", "ts",
      maxGapMs = 10 * 60 * 1000L, watermark = "0 seconds")
    val q = sessions.writeStream.format("memory")
      .queryName("sess_out").outputMode("append").start()
    try {
      // session 1: two events 5 min apart
      source.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), "u1"),
        (Timestamp.valueOf("2026-01-01 10:05:00"), "u1"))
      q.processAllAvailable()
      // 30 min later (> gap): closes session 1, opens session 2; also
      // advances the watermark past session 1's timeout
      source.addData((Timestamp.valueOf("2026-01-01 10:35:00"), "u1"))
      q.processAllAvailable()
      // push the watermark far ahead so session 2 times out too
      source.addData((Timestamp.valueOf("2026-01-01 12:00:00"), "u2"))
      q.processAllAvailable()
      source.addData((Timestamp.valueOf("2026-01-01 14:00:00"), "u2"))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT user, session_start, session_end, n_events
          |FROM sess_out ORDER BY session_start""".stripMargin).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      def ms(s: String): Long = Timestamp.valueOf(s).getTime
      assert(rows.length >= 2)
      assert(rows(0) == ("u1", ms("2026-01-01 10:00:00"),
        ms("2026-01-01 10:05:00"), 2L))
      assert(rows(1) == ("u1", ms("2026-01-01 10:35:00"),
        ms("2026-01-01 10:35:00"), 1L))
    } finally q.stop()
  }

  test("streamingSessions: a late batch beyond the gap does not merge " +
      "into the open session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val sessions = StreamIngest.streamingSessions(
      source.toDF().toDF("ts", "user"), "user", "ts",
      maxGapMs = 60 * 1000L, watermark = "30 minutes")
    val q = sessions.writeStream.format("memory")
      .queryName("sess_late").outputMode("append").start()
    try {
      source.addData((Timestamp.valueOf("2026-01-01 10:00:00"), "u1"),
        (Timestamp.valueOf("2026-01-01 10:00:30"), "u1"))
      q.processAllAvailable()
      // 10 min EARLIER than the open session (gap is 1 min) but inside
      // the 30-min watermark: must come out as its own session, not
      // stretch the open one back to 09:50
      source.addData((Timestamp.valueOf("2026-01-01 09:50:00"), "u1"))
      q.processAllAvailable()
      // nothing emits until the watermark seals the spans — append-mode
      // output must never hold overlapping sessions for one key
      assert(spark.sql("SELECT * FROM sess_late").count() == 0)
      // advance the watermark past both spans' close times
      source.addData((Timestamp.valueOf("2026-01-01 11:00:00"), "u2"))
      q.processAllAvailable()
      source.addData((Timestamp.valueOf("2026-01-01 12:00:00"), "u2"))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT session_start, session_end, n_events FROM sess_late
          |WHERE user = 'u1' ORDER BY session_start""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      def ms(s: String): Long = Timestamp.valueOf(s).getTime
      assert(rows.toSeq == Seq(
        (ms("2026-01-01 09:50:00"), ms("2026-01-01 09:50:00"), 1L),
        (ms("2026-01-01 10:00:00"), ms("2026-01-01 10:00:30"), 2L)))
    } finally q.stop()
  }

  test("streamingSessions: one trigger spanning several gaps splits " +
      "into sub-sessions instead of one stretched span") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val sessions = StreamIngest.streamingSessions(
      source.toDF().toDF("ts", "user"), "user", "ts",
      maxGapMs = 60 * 1000L, watermark = "30 minutes")
    val q = sessions.writeStream.format("memory")
      .queryName("sess_split").outputMode("append").start()
    try {
      source.addData((Timestamp.valueOf("2026-01-01 10:00:00"), "u1"),
        (Timestamp.valueOf("2026-01-01 10:00:30"), "u1"))
      q.processAllAvailable()
      // ONE trigger carrying an in-gap extension (10:01) AND a much
      // older late event (09:50): the old guard only caught the late
      // event arriving alone — now the batch splits at gap boundaries,
      // 09:50 closes as its own session, 10:01 extends the open one
      source.addData((Timestamp.valueOf("2026-01-01 09:50:00"), "u1"),
        (Timestamp.valueOf("2026-01-01 10:01:00"), "u1"))
      q.processAllAvailable()
      // close the open session via watermark
      source.addData((Timestamp.valueOf("2026-01-01 12:00:00"), "u2"))
      q.processAllAvailable()
      source.addData((Timestamp.valueOf("2026-01-01 14:00:00"), "u2"))
      q.processAllAvailable()
      def ms(s: String): Long = Timestamp.valueOf(s).getTime
      val rows = spark.sql(
        """SELECT session_start, session_end, n_events
          |FROM sess_split WHERE user = 'u1'
          |ORDER BY session_start""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq(
        (ms("2026-01-01 09:50:00"), ms("2026-01-01 09:50:00"), 1L),
        (ms("2026-01-01 10:00:00"), ms("2026-01-01 10:01:00"), 3L)))
    } finally q.stop()
  }

  test("streamingSessions: a late in-watermark event merges into an " +
      "unsealed sub-span instead of spawning an overlapping session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    val sessions = StreamIngest.streamingSessions(
      source.toDF().toDF("ts", "user"), "user", "ts",
      maxGapMs = 60 * 1000L, watermark = "30 minutes")
    val q = sessions.writeStream.format("memory")
      .queryName("sess_overlap").outputMode("append").start()
    try {
      // one trigger with two sub-spans 5 min apart (gap is 1 min)
      source.addData((Timestamp.valueOf("2026-01-01 10:00:00"), "u1"),
        (Timestamp.valueOf("2026-01-01 10:05:00"), "u1"))
      q.processAllAvailable()
      // late but in-watermark, inside the FIRST sub-span's gap: the
      // eager-close form had already emitted (10:00, 10:00) and now
      // emitted an overlapping (10:00, 10:00:30); sealed-by-watermark
      // emission merges instead
      source.addData((Timestamp.valueOf("2026-01-01 10:00:30"), "u1"))
      q.processAllAvailable()
      source.addData((Timestamp.valueOf("2026-01-01 11:30:00"), "u2"))
      q.processAllAvailable()
      source.addData((Timestamp.valueOf("2026-01-01 13:00:00"), "u2"))
      q.processAllAvailable()
      def ms(s: String): Long = Timestamp.valueOf(s).getTime
      val rows = spark.sql(
        """SELECT session_start, session_end, n_events FROM sess_overlap
          |WHERE user = 'u1' ORDER BY session_start""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq(
        (ms("2026-01-01 10:00:00"), ms("2026-01-01 10:00:30"), 2L),
        (ms("2026-01-01 10:05:00"), ms("2026-01-01 10:05:00"), 1L)))
    } finally q.stop()
  }
}
