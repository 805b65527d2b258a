package graft

import graft.functions.{HashEmbedder, VectorFunctions}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

/** Manual end-to-end drive of the public API against real testdata.
  * Run: sbt "Test/runMain graft.DriveSmoke". Not part of the test suite.
  */
object DriveSmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    import spark.implicits._

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" === 7).select($"embedding").as[Seq[Float]].head()
    println(s"QVEC_DIM=${q.size}")
    val top = emb
      .withColumn("distance", squared_l2($"embedding", typedlit(q)))
      .orderBy($"distance", $"vec_id").limit(5)
    top.show(false)
    top.explain("formatted")

    VectorFunctions.registerAll(spark)
    emb.createOrReplaceTempView("emb")
    spark.sql(
      """SELECT vec_id, round(cosine_sim(embedding,
        |  (SELECT embedding FROM emb WHERE vec_id=7)), 4) c
        |FROM emb ORDER BY c DESC, vec_id LIMIT 3""".stripMargin).show()

    println("cast-probe: " + spark.sql(
      "SELECT vec_dot(array(1.0d,2.0d), array(3.0f,4.0f))").head())
    println("null-probe: " + spark.sql(
      "SELECT squared_l2(CAST(NULL AS array<float>), array(1.0f))").head())
    try spark.sql("SELECT vec_dot(array(1.0f), array(1.0f,2.0f))").head()
    catch { case e: Throwable =>
      println("mismatch-probe: " + e.getMessage.linesIterator.next())
    }

    // Embed the documents table and k-NN search it with a text query.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val embedded = graft.functions.Embed.embedColumn(
      docs, "text", "vector", HashEmbedder(dim = 64), batchSize = 50)
    val qv = HashEmbedder(dim = 64).embedOne("spark query join filter")
    embedded
      .withColumn("distance", squared_l2($"vector", typedlit(qv.toSeq)))
      .orderBy($"distance", $"doc_id")
      .select($"doc_id", substring($"text", 1, 40).as("text40"), $"distance")
      .limit(3).show(false)
    println("EMBED_DRIVE_ROWS=" + embedded.count())

    // VectorStore end-to-end: ingest documents (embed-if-missing via
    // HashEmbedder), append with overlap, text query with info.
    val store = new graft.store.VectorStore(spark, HashEmbedder(dim = 64),
      batchSize = 128)
    store.setData(docs.limit(300).select($"text".as("target"),
      $"lang".as("option1")))
    store.setData(docs.select($"text".as("target"), $"lang".as("option1")),
      append = true)
    println("STORE_ROWS=" + store.data.count())
    val qres = store.queryWithInfo("spark query join filter", k = 3)
    qres.show(false)
    qres.explain("formatted")

    // zero-shot over the store
    store.setZeroshotLabels(Seq("spark query join", "customer order data"))
    val zs = store.doZeroshot()
    zs.groupBy("zeroshot_pred").count().show()

    // dedup family on the documents table
    import graft.operators.{Dedup, IvfIndex, Similarity}
    println("EXACT_DEDUP_KEPT=" + Dedup.exactFirstWins(
      docs.withColumn("k", substring($"text", 1, 20)),
      Seq("k"), Seq("doc_id")).count())
    println("MINHASH_PAIRS=" + Dedup.nearDupPairsMinHash(
      docs, "doc_id", "text", threshold = 0.4).count())
    println("SIMHASH_PAIRS=" + Dedup.nearDupPairsSimHash(
      docs, "doc_id", "text", maxHamming = 10, bands = 16).count())
    val ndPairs = Dedup.nearDupPairsMinHash(docs, "doc_id", "text",
      threshold = 0.4)
    println("CC_COMPONENTS=" + Dedup.connectedComponents(
      ndPairs, "idA", "idB").select("component").distinct().count())
    println("NEARDUP_KEPT_MIS=" + Dedup.dedupNearMinHash(
      docs, "doc_id", "text", threshold = 0.4).count())
    println("NEARDUP_KEPT_CC=" + Dedup.dedupNearMinHash(
      docs, "doc_id", "text", threshold = 0.4,
      policy = Dedup.NearDupPolicy.ComponentRep).count())
    // partial-aggregation shape of the min_by exact dedup
    Dedup.exactFirstWins(docs.withColumn("k", substring($"text", 1, 20)),
      Seq("k"), Seq("doc_id")).explain("formatted")

    // IVF vs brute force
    val ivf = IvfIndex.build(
      emb.select($"vec_id", $"embedding"), "embedding", "vec_id",
      nClusters = 8, maxIter = 5)
    val ivfTop = ivf.query(q.toArray, k = 5, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    val bruteTop = Similarity.topK(emb.select($"vec_id", $"embedding"),
      "embedding", "vec_id", q.toArray, 5).collect().map(_.getLong(0)).toSeq
    println(s"IVF_EXACT_MATCH=${ivfTop == bruteTop}")

    // batch ANN join through the index (no broadcast of the query side)
    val qdf = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    println("IVF_BATCH_ROWS=" + ivf.queryBatch(qdf, "query_id", "embedding",
      k = 3, nprobe = 8).count())

    // binary-quantization ANN: 32x-compressed sign codes, full-refine
    // parity with brute force
    val bq = graft.operators.BinaryQuant.build(
      emb.select($"vec_id", $"embedding"), "embedding", "vec_id")
    val bqTop = bq.query(q.toArray, k = 5,
      refineFactor = emb.count().toInt)
      .collect().map(_.getLong(0)).toSeq
    println(s"BQ_EXACT_MATCH=${bqTop == bruteTop}")

    // text cleaning + sessionization over real tables
    import graft.operators.{Sessionize, TextClean}
    println("CLEANED_NONEMPTY=" + docs
      .select(TextClean.clean($"text").as("c"))
      .filter(length($"c") > 0).count())
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = graft.functions.TimeFunctions.epochNanos(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
      .select("event_id", "user_id", "ts")
    val sess = Sessionize.sessionStats(events, Seq("user_id"), "ts",
      maxGap = 3600L * 1000000000L)
    println("SESSIONS=" + sess.count())
    sess.orderBy(desc("n_events")).limit(3).show(false)

    // bucketed co-located join: layout once, join Exchange-free
    import graft.operators.Bucketing
    Bucketing.writeBucketed(events.select($"user_id", $"event_id"),
      "drive_ev_b", "user_id", numBuckets = 4)
    Bucketing.writeBucketed(events.select($"user_id").distinct(),
      "drive_us_b", "user_id", numBuckets = 4)
    val coloc = Bucketing.coLocatedJoin(spark, "drive_ev_b", "drive_us_b",
      "user_id")
    println("COLOCATED_ROWS=" + coloc.count())
    coloc.explain("formatted")
    spark.sql("DROP TABLE IF EXISTS drive_ev_b")
    spark.sql("DROP TABLE IF EXISTS drive_us_b")

    // PQ + IVF-PQ: compressed ANN vs brute force
    import graft.operators.{IvfPqIndex, PqIndex}
    val pq = PqIndex.train(emb.select($"vec_id", $"embedding"),
      "embedding", "vec_id", m = 8, codesPerBook = 16)
    val pqTop = pq.query(q.toArray, k = 5, refineFactor = 100)
      .collect().map(_.getLong(0)).toSeq
    println(s"PQ_FULL_REFINE_MATCH=${pqTop == bruteTop}")
    pq.query(q.toArray, k = 5, refineFactor = 1).explain("formatted")
    val rpq = PqIndex.trainRotated(emb.select($"vec_id", $"embedding"),
      "embedding", "vec_id", m = 8, codesPerBook = 16)
    val rpqTop = rpq.query(q.toArray, k = 5, refineFactor = 100)
      .collect().map(_.getLong(0)).toSeq
    println(s"ROTATED_PQ_FULL_REFINE_MATCH=${rpqTop == bruteTop}")
    val ivfpq = IvfPqIndex.build(emb.select($"vec_id", $"embedding"),
      "embedding", "vec_id", nClusters = 8, m = 8, codesPerBook = 16)
    println(s"IVFPQ_FULLPROBE_MATCH=${
      ivfpq.query(q.toArray, k = 5, nprobe = 8, refineFactor = 100)
        .collect().map(_.getLong(0)).toSeq == bruteTop}")

    // bucketed durable store: append pays one Exchange (incoming side)
    spark.sql("DROP TABLE IF EXISTS drive_store_b")
    val bStore = new graft.store.VectorStore(spark, HashEmbedder(dim = 64),
      bucketedTable = Some("drive_store_b"), numBuckets = 4)
    bStore.setData(docs.limit(300).select($"text".as("target")))
    bStore.setData(docs.select($"text".as("target")), append = true)
    println("BUCKETED_STORE_ROWS=" + bStore.data.count())
    bStore.appendAntiJoin(
      docs.select($"text".as("target"))).explain("formatted")
    spark.sql("DROP TABLE IF EXISTS drive_store_b")

    // columnar embedder plumbing: packed batches end-to-end
    val colEmb = graft.functions.Embed.embedColumnColumnar(
      docs.limit(100), "text", "vec",
      new graft.functions.ColumnarEmbedder {
        override def dim: Int = 8
        override def embedBatch(values: Array[Byte], offsets: Array[Int],
            n: Int, out: Array[Float]): Unit = {
          var j = 0
          while (j < n) {
            out(j * 8) = (offsets(j + 1) - offsets(j)).toFloat; j += 1
          }
        }
      }, batchSize = 32)
    println("COLUMNAR_EMBED_ROWS=" + colEmb.count())

    // curation operators: stratified sample, unicode, repetition
    import graft.operators.{Sampling, TextAnalysis}
    println("STRATIFIED_ROWS=" + Sampling.stratifiedHashSample(
      docs.select($"doc_id", $"lang"), "doc_id", "lang",
      Map("en" -> 0.5), defaultFraction = 0.1).count())
    println("NORM_ROWS=" + docs.select(
      TextClean.normalizeUnicode($"text").as("t")).filter(length($"t") > 0)
      .count())
    println("REPETITION_ROWS=" + TextAnalysis.repetition(
      docs, "doc_id", "text").count())
    val lmScored = TextAnalysis.charBigramScore(docs, "doc_id", "text")
    lmScored.explain("formatted")
    println("LM_SCORE_ROWS=" + lmScored.count())
    val dupSpans = graft.operators.Dedup.dupSpanStats(
      docs, "doc_id", "text", k = 20)
    dupSpans.explain("formatted")
    println("DUP_SPAN_ROWS=" + dupSpans.count())
    println("DECONTAM_ROWS=" + graft.operators.Dedup.benchmarkOverlap(
      docs.filter($"doc_id" % 20 =!= 0), docs.filter($"doc_id" % 20 === 0),
      "doc_id", "text", k = 20).count())
    println("PII_ROWS=" + docs.select(
      graft.operators.TextClean.piiStats($"text").as("p"))
      .select("p.*").count())

    // sequence packing via the two-phase distributed prefix scan
    val packed = graft.operators.PrefixScan.packSequences(
      docs.select($"doc_id", $"n_chars"), "n_chars", chunkSize = 4096,
      orderCols = Seq("doc_id"))
    println("PACKED_CHUNKS=" + packed.select("chunk_id").distinct().count())

    // real audio decode: synthesize, read back, feature-extract
    import graft.operators.{AudioCodec, Multimodal}
    val audioDir = java.nio.file.Files.createTempDirectory("drive-aud")
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(audioDir.resolve(s"t$i.wav"),
        AudioCodec.synthWavPcm16(8000, Array.tabulate(4000)(j =>
          (math.sin(2 * math.Pi * 200 * i * j / 8000) * 0.4 * 32767).toShort)))
    }
    val audio = Multimodal.audioFeatures(
      Multimodal.withAudioMeta(
        Multimodal.readBinaryDir(spark, audioDir.toString, "*.wav"),
        "content"), "content")
      .select($"audio_meta.sample_rate", $"audio_features.rms",
        $"audio_features.zero_cross_rate")
    audio.show(false)
    // motion-image video: synthesize a container, sample + decode frames
    val vidDir = java.nio.file.Files.createTempDirectory("drive-vid")
    val pngFrames = (0 until 6).map { i =>
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(i * 40, 0, 0)); g.fillRect(0, 0, 8, 8) }
      finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    java.nio.file.Files.write(vidDir.resolve("clip.gmj"),
      graft.operators.VideoCodec.synthMotionImage(5, pngFrames))
    println("VIDEO_FRAME_ROWS=" + Multimodal.sampleVideoFrames(
      Multimodal.readBinaryDir(spark, vidDir.toString, "*.gmj"),
      "content", everyNth = 2).count())

    println("AUDIO_ROWS=" + audio.count())

    // round 6: lexical + hybrid retrieval, curation selection, splits
    import graft.operators.{Bm25, Lake, Sampling, TextAnalysis}
    val bmIdx = Bm25.fit(docs, "doc_id", "text")
    val lex = Bm25.search(bmIdx, Seq("spark", "hash"), k = 10)
    lex.explain("formatted")
    println("BM25_ROWS=" + lex.count())
    val buckets = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
      .groupBy("bucket").count().orderBy("bucket")
    buckets.show(false)
    val mixed = Sampling.rebalanceToMix(docs.select("doc_id", "lang"),
      "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.5))
    println("MIXED_ROWS=" + mixed.count())
    val splits = Sampling.assignSplits(docs.select("doc_id"), "doc_id",
      Seq("train" -> 0.9, "test" -> 0.1))
    println("SPLIT_COUNTS=" + splits.groupBy("split").count()
      .orderBy("split").collect().mkString(","))
    val zDir = java.nio.file.Files.createTempDirectory("drive-z").toString
    Lake.writeZordered(docs.select("doc_id", "n_chars"), s"$zDir/z",
      Seq("doc_id", "n_chars"), nFiles = 4)
    println("ZORDER_HEALTH=" + Lake.health(spark, s"$zDir/z"))

    // SQ8: fit on the real embeddings, ADC scan + exact re-rank
    val embSq = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val sqIdx = graft.operators.SqIndex.fit(embSq, "embedding", "vec_id")
    val sqHits = sqIdx.query(
      embSq.filter($"vec_id" === 0).select("embedding")
        .head.getSeq[Float](0).toArray, k = 5)
    sqHits.explain("formatted")
    println("SQ8_ROWS=" + sqHits.count())

    // PCA: fit 64->8 on the real embeddings, project, check shape
    val pcaM = graft.operators.PcaReduce.fit(embSq, "embedding", k = 8)
    val pcaOut = graft.operators.PcaReduce.transform(embSq, "embedding", pcaM)
    pcaOut.select("vec_id", "pca_vec").explain("formatted")
    println("PCA_RATIO=" + pcaM.explainedRatio)

    // fuzzy edit-distance join: corrupted part names back to their source
    val pnames = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
      .select("p_name").distinct()
    val probes = pnames.select(concat(substring($"p_name", 1, 2),
      substring($"p_name", 4, 10000)).as("probe")).distinct()
    val fuzzy = graft.operators.FuzzyJoin.editJoin(probes, pnames,
      "probe", "p_name", maxDist = 1)
    fuzzy.explain("formatted")
    println("FUZZY_PAIRS=" + fuzzy.count())

    // bloom-routed anti join over the real parquet tables
    import graft.operators.BloomJoin
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val hot = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .filter($"o_totalprice" > 300000).select("o_orderkey")
    val bloomed = BloomJoin.prunedAntiJoin(li, hot, "l_orderkey", "o_orderkey")
    bloomed.explain("formatted")
    println("BLOOM_ANTI_ROWS=" + bloomed.count())

    // BM25 on-disk delta segments: save → append twice → reopen must
    // equal a refit over the concatenation; compact must not change it
    val bmDir = java.nio.file.Files.createTempDirectory("drive-bm25").toString
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 === 1)
    graft.operators.Bm25.save(
      graft.operators.Bm25.fit(half1, "doc_id", "text"), s"$bmDir/idx")
    graft.operators.Bm25.appendSaved(spark, s"$bmDir/idx", half2, "doc_id", "text")
    graft.operators.Bm25.compact(spark, s"$bmDir/idx")
    val bmHits = graft.operators.Bm25.search(
      graft.operators.Bm25.load(spark, s"$bmDir/idx"), Seq("the", "data"), 5)
    bmHits.explain("formatted")
    println("BM25_SEGMENT_ROWS=" + bmHits.count())

    // lazy prefix scan (materialize=false): the corpus-scale packing
    // path — no localCheckpoint in the plan, repeated actions agree
    val packedLazy = graft.operators.PrefixScan.packSequences(
      docs.select("doc_id", "n_chars"), "n_chars", chunkSize = 4096,
      orderCols = Seq("doc_id"), materialize = false)
    packedLazy.explain("formatted")
    println("LAZY_PACK_CHUNKS=" +
      packedLazy.select("chunk_id").distinct().count())

    // SemDeDup with caller-provided centroids (offline-fit shape)
    val cents8 = embSq.filter($"vec_id" < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val sdPairs = graft.operators.Dedup.semanticDedupPairsWithCentroids(
      embSq.select("vec_id", "embedding"), "vec_id", "embedding",
      cents8, threshold = 0.35)
    sdPairs.explain("formatted")
    println("SEMDEDUP_FIXED_PAIRS=" + sdPairs.count())

    // exact prefix-filtered Jaccard self-join (recall 1.0, X79)
    val jp = graft.operators.Dedup.jaccardPairsExact(
      docs, "doc_id", "text", shingleWidth = 3, threshold = 0.5)
    jp.explain("formatted")
    println("JACCARD_EXACT_PAIRS=" + jp.count())

    // exact clean-slice wrapper: new crawl minus provably-dup docs
    val newCrawl = docs.filter($"doc_id" % 2 === 1)
    val corpus0 = docs.filter($"doc_id" % 2 === 0)
    val cleanSlice = graft.operators.Dedup.dedupAgainstCorpusExact(
      newCrawl, corpus0, "doc_id", "text", shingleWidth = 3,
      threshold = 0.4)
    cleanSlice.explain("formatted")
    println("EXACT_CLEAN_ROWS=" + cleanSlice.count() +
      "/" + newCrawl.count())

    // one Lloyd's iteration as an auditable frame (fixed centroids)
    val cents4 = embSq.filter($"vec_id" < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val step = graft.operators.IvfIndex.lloydStepMeans(
      embSq.select("vec_id", "embedding"), "embedding", cents4)
    step.explain("formatted")
    println("LLOYD_STEP_ROWS=" + step.count())

    // C4/CCNet corpus-frequency line dedup over 8-word pseudo-lines
    val words = split($"text", " ")
    val chunked = docs.select($"doc_id",
      array_join(
        transform(
          sequence(lit(0L),
            floor((size(words) + lit(7)) / lit(8)).cast("long") - lit(1L)),
          i => array_join(slice(words, (i * 8 + 1).cast("int"), lit(8)),
            " ")),
        "\n").as("text"))
    val lineDedup = graft.operators.Dedup.removeRepeatedLines(
      chunked, "doc_id", "text", delimiter = "\n", minDocFreq = 2)
    lineDedup.explain("formatted")
    val hit = lineDedup.filter($"n_kept" < $"n_lines").count()
    println("LINE_DEDUP_DOCS_HIT=" + hit + "/" + lineDedup.count())

    // sliding-window chunking (8-token windows, stride 4)
    val chunks = graft.operators.TextAnalysis.chunkDocs(
      docs.select("doc_id", "text"), "doc_id", "text",
      windowTokens = 8, strideTokens = 4)
    chunks.explain("formatted")
    println("CHUNK_ROWS=" + chunks.count() +
      " docs=" + chunks.select("doc_id").distinct().count())

    // HLL distinct-token estimate vs exact, both hash modes
    val tokRows = docs.select(
      explode(graft.functions.TextFunctions.tokens($"text")).as("tok"))
    val exactDistinct = tokRows.select("tok").distinct().count()
    for (portable <- Seq(false, true)) {
      val est = graft.operators.Hll.estimateDistinct(
        tokRows, "tok", m = 1024, portableHash = portable)
      println(f"HLL_EST portable=$portable est=$est%.1f exact=$exactDistinct")
    }
    graft.operators.Hll.sketch(tokRows, "tok", m = 1024)
      .explain("formatted")

    // snapshot diff: simulated next version of documents
    val beforeSnap = docs.select("doc_id", "lang", "n_chars")
    val afterSnap = beforeSnap.filter($"doc_id" % 53 =!= 0)
      .withColumn("n_chars", when($"doc_id" % 11 === 0,
        $"n_chars" + 5).otherwise($"n_chars"))
    val diff = graft.operators.Lake.snapshotDiff(beforeSnap, afterSnap,
      Seq("doc_id"), Seq("lang", "n_chars"))
    diff.explain("formatted")
    println("SNAPSHOT_DIFF_OPS=" + diff.groupBy("op").count()
      .collect().map(r => r.getString(0) + ":" + r.getLong(1))
      .sorted.mkString(","))

    // compaction plan over a derived file inventory
    val inv = docs.groupBy($"lang", pmod($"doc_id", lit(20)).as("part"))
      .agg(sum("n_chars").cast("long").as("bytes"))
      .select(concat($"lang", lit("/"), $"part").as("file"), $"bytes")
    val cplan = graft.operators.Lake.compactionPlan(inv, "bytes",
      targetBytes = 50000L, orderBy = Seq($"file"), materialize = false)
    println("COMPACTION_BINS=" +
      cplan.select(max("bin")).head().getLong(0))

    // margin mining between two embedding slices
    val mined = graft.operators.BitextMine.mine(
      embSq.filter($"vec_id" < 20).select($"vec_id".as("qid"), $"embedding"),
      embSq.filter($"vec_id" >= 20 && $"vec_id" < 2000)
        .select($"vec_id".as("cid"), $"embedding"),
      "qid", "embedding", "cid", "embedding", k = 4, threshold = 1.0)
    mined.explain("formatted")
    println("MARGIN_MINED=" + mined.count())

    // conversion funnel + retention cohorts over real events
    val evReal = graft.functions.TimeFunctions.epochNanos(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "ts")
    val fun = graft.operators.Funnel.funnel(
      evReal.select("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), 7L * 86400 * 1000000000L)
    fun.explain("formatted")
    fun.orderBy("step").show(false)
    val ret = graft.operators.Funnel.retention(
      evReal.select("user_id", "ts"), "user_id", "ts",
      86400L * 1000000000L)
    println("RETENTION_CELLS=" + ret.count())

    // crosstab with an explicit domain; boolean retrieval; cooc lift
    graft.operators.Profile.crosstab(docs, "lang", "source",
      (0 until 20).map(i => s"src$i")).orderBy("lang").show(false)
    val boolHits = graft.operators.Bm25.booleanQuery(docs, "doc_id",
      "text", Seq("batch", "join", "window"), Seq("slow"))
    boolHits.explain("formatted")
    println("BOOL_HITS=" + boolHits.count())
    val cl = graft.operators.TextAnalysis.coocLift(docs, "doc_id",
      "text", topV = 40, minSupport = 10L)
    cl.explain("formatted")
    println("COOC_PAIRS=" + cl.count())

    // TextRank over the co-occurrence edges
    val pr = graft.operators.Graph.pageRank(
      cl.select("tok_a", "tok_b"), "tok_a", "tok_b", iters = 3)
    pr.explain("formatted")
    pr.orderBy(desc("rank")).limit(5).show(false)

    // MERGE INTO against a simulated source batch
    val mBase = docs.select("doc_id", "lang", "n_chars")
    val merged = graft.operators.Lake.merge(mBase,
      mBase.filter($"doc_id" % 7 === 0)
        .withColumn("n_chars", $"n_chars" + 1000L),
      Seq("doc_id"), deleteWhen = Some($"lang" === "zh"))
    println("MERGE_ROWS=" + merged.count() + "/" + mBase.count())

    // densify + period-over-period over real events
    val dense = graft.operators.TimeWindows.densify(
      evReal.select("event_type", "ts"), "ts", Seq("event_type"),
      bucketNs = 3600L * 1000000000L)
    val pop = graft.operators.Funnel.periodOverPeriod(
      dense, "bucket", Seq("event_type"), "cnt")
    pop.explain("formatted")
    println("POP_ROWS=" + pop.count())

    // transitions + journeys + session stats + A/B + linreg
    println("TRANSITIONS=" + graft.operators.Funnel.transitions(
      evReal.select("user_id", "event_type", "ts", "event_id"),
      "user_id", "event_type", "ts", "event_id").count())
    graft.operators.Funnel.journeys(
      evReal.select("user_id", "event_type", "ts", "event_id"),
      "user_id", "event_type", "ts", "event_id", n = 3, topK = 5)
      .show(false)
    println("SESSIONS=" + graft.operators.Sessionize.sessionStats(
      evReal.select("user_id", "ts"), Seq("user_id"), "ts",
      maxGap = 3600L * 1000000000L).count())
    graft.operators.Profile.linearFit(
      evReal.select($"event_type",
        expr("cast((ts div 3600000000000) % 24 as int)").as("hod"),
        $"value"),
      Seq("event_type"), "hod", "value").show(false)

    // label propagation communities + cohort funnel + attribution
    println("LPA_COMMUNITIES=" + graft.operators.Graph.labelPropagation(
      cl.select("tok_a", "tok_b"), "tok_a", "tok_b", iters = 2)
      .select("label").distinct().count())
    graft.operators.Funnel.funnelByCohort(
      evReal.select("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
      7L * 86400 * 1000000000L, 7L * 86400 * 1000000000L)
      .orderBy("cohort", "step").show(false)

    // r10: weighted + directed PageRank over the real cooc graph
    val wpr = graft.operators.Graph.pageRank(
      cl.select("tok_a", "tok_b", "n_ab"), "tok_a", "tok_b",
      iters = 3, weightCol = Some("n_ab"))
    wpr.explain("formatted")
    println("WPR_TOP=" + wpr.orderBy(org.apache.spark.sql.functions
      .desc("rank")).limit(3).collect().map(_.getString(0)).mkString(","))
    val dpr = graft.operators.Graph.pageRankDirected(
      cl.select("tok_a", "tok_b"), "tok_a", "tok_b", iters = 3)
    println("DPR_MASS=" + dpr.agg(org.apache.spark.sql.functions
      .sum("rank")).head.getDouble(0))

    // r10: multi-touch attribution over real events (both models)
    val evA = evReal.select("event_id", "user_id", "event_type", "ts")
      .where($"user_id".isNotNull)
    for (m <- Seq(graft.operators.Attribution.Linear,
        graft.operators.Attribution.TimeDecay)) {
      val rep = graft.operators.Attribution.report(
        evA.where($"event_type" === "purchase"),
        evA.where($"event_type" =!= "purchase")
          .withColumnRenamed("event_type", "touch_type"),
        Seq("user_id"), "event_id", "ts", "ts", "touch_type",
        windowNanos = 24L * 3600L * 1000000000L, model = m)
      println(s"ATTRIB_$m=" + rep.orderBy("touch_type").collect()
        .map(r => r.getString(0) + ":" + r.getDouble(1)).mkString(" "))
    }

    // r10: triangles + BFS over the cooc graph; phrase + readability
    println("TRIANGLES_MAX=" + graft.operators.Graph.triangleCounts(
      cl.select("tok_a", "tok_b"), "tok_a", "tok_b")
      .agg(org.apache.spark.sql.functions.max("triangles")).head.getLong(0))
    println("BFS_NODES=" + graft.operators.Graph.bfsHops(
      cl.select("tok_a", "tok_b"), "tok_a", "tok_b",
      cl.agg(org.apache.spark.sql.functions.min($"tok_a").as("seed")),
      "seed", maxHops = 4).count())
    val phq = graft.operators.Bm25.phraseQuery(
      docs, "doc_id", "text", Seq("slow", "hash", "batch"))
    phq.explain("formatted")
    println("PHRASE_DOCS=" + phq.count())
    println("READABILITY_ROWS=" + docs.select($"doc_id",
      graft.functions.TextFunctions.readability($"text").as("r"))
      .where($"r.fk_grade".isNotNull).count())

    // r10: session-scoped journeys (30-min gap boundary)
    graft.operators.Funnel.journeys(
      graft.operators.Sessionize.sessionize(
        evReal.select("user_id", "event_type", "ts", "event_id")
          .where($"user_id".isNotNull && $"event_type".isNotNull &&
            $"ts".isNotNull),
        Seq("user_id"), "ts", maxGap = 1800L * 1000000000L),
      "session_id", "event_type", "ts", "event_id", n = 3, topK = 5)
      .show(false)

    // r11: k-core + coreness over the lift-filtered cooc graph
    val liftE = cl.where($"lift" >= 1.05).select("tok_a", "tok_b")
    val kc = graft.operators.Graph.kCore(liftE, "tok_a", "tok_b", k = 8)
    kc.explain("formatted")
    println("KCORE_NODES=" + kc.count())
    println("CORENESS_MAX=" + graft.operators.Graph.coreness(
      liftE, "tok_a", "tok_b")
      .agg(org.apache.spark.sql.functions.max("coreness")).head.getLong(0))

    // r11: word stupid-backoff LM (fit + ordered-fold kernel score)
    val wlm = graft.operators.TextAnalysis.wordLmScore(
      docs, "doc_id", "text")
    wlm.explain("formatted")
    println("WORDLM_ROWS=" + wlm.count())

    // r11: saved-artifact ANN (fit offline once, reopen, search)
    val embR = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val savedRoot = java.nio.file.Files
      .createTempDirectory("drive-ivfpq-").toString + "/idx"
    graft.operators.IvfPqIndex.save(
      graft.operators.IvfPqIndex.build(embR, "embedding", "vec_id",
        nClusters = 8, m = 8, codesPerBook = 16), savedRoot)
    val reopened = graft.operators.IvfPqIndex.loadSaved(
      spark, savedRoot, embR, "embedding", "vec_id")
    val q0 = embR.filter($"vec_id" === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    println("SAVED_IVFPQ_TOP=" + reopened.query(q0, k = 5, nprobe = 4,
      refineFactor = 8).collect().map(_.getLong(0)).mkString(","))

    // r11: snapshot time travel (3 commits, read each generation)
    val snapRoot = java.nio.file.Files
      .createTempDirectory("drive-snap-").toString + "/t"
    val snapBase = docs.select("doc_id", "lang", "n_chars")
    graft.operators.Lake.commitSnapshot(spark, snapRoot, snapBase,
      Seq("doc_id"))
    graft.operators.Lake.commitSnapshot(spark, snapRoot,
      snapBase.where($"doc_id" % 7 === 0)
        .withColumn("n_chars", $"n_chars" + 1000L), Seq("doc_id"))
    graft.operators.Lake.commitSnapshot(spark, snapRoot,
      snapBase.limit(0), Seq("doc_id"),
      deletes = Some(snapBase.where($"lang" === "zh").select("doc_id")))
    val asOf1 = graft.operators.Lake.readAsOf(
      spark, snapRoot, Seq("doc_id"), 1L)
    asOf1.explain("formatted")
    println("SNAP_GENS=" + graft.operators.Lake
      .snapshotGenerations(spark, snapRoot).get.mkString(","))
    println("SNAP_ASOF=" + asOf1.count() + "/" +
      graft.operators.Lake.readAsOf(spark, snapRoot, Seq("doc_id"), 2L)
        .count())

    // r11: u-shaped attribution + sequence packing
    println("ATTRIB_USHAPED=" + graft.operators.Attribution.report(
      evA.where($"event_type" === "purchase"),
      evA.where($"event_type" =!= "purchase")
        .withColumnRenamed("event_type", "touch_type"),
      Seq("user_id"), "event_id", "ts", "ts", "touch_type",
      windowNanos = 24L * 3600L * 1000000000L,
      model = graft.operators.Attribution.UShaped)
      .agg(org.apache.spark.sql.functions.sum("credit")).head.get(0))
    val packedSeqs = graft.operators.PrefixScan.packSpans(
      graft.operators.PrefixScan.packSequencesByKey(
        docs.select($"doc_id", $"lang",
          graft.functions.TextFunctions.token_count($"text")
            .cast("long").as("n_tokens")),
        Seq("lang"), "n_tokens", chunkSize = 1024L,
        orderCols = Seq("doc_id")),
      "n_tokens", chunkSize = 1024L)
    packedSeqs.explain("formatted")
    println("PACKS=" + packedSeqs.groupBy("lang")
      .agg(org.apache.spark.sql.functions.max("last_pack").as("p"))
      .agg(org.apache.spark.sql.functions.sum($"p" + 1)).head.get(0))

    // r11b: PRF retrieval, k-truss, split audit/fix pair
    val prf = graft.operators.Bm25.prfSearch(
      graft.operators.Bm25.fit(docs, "doc_id", "text"),
      Seq("spark", "hash"), k = 10, fbDocs = 5, fbTerms = 3)
    prf.explain("formatted")
    println("PRF_TOP=" + prf.collect().take(3)
      .map(_.getLong(0)).mkString(","))
    println("KTRUSS_EDGES=" + graft.operators.Graph.kTruss(
      liftE, "tok_a", "tok_b", k = 5).count())
    val drivePairs = graft.operators.Dedup.nearDupPairsMinHash(
      docs, "doc_id", "text", threshold = 0.5)
      .select($"idA".as("id_a"), $"idB".as("id_b"))
    val driveComp = graft.operators.Dedup.connectedComponents(
      drivePairs, "id_a", "id_b")
    val keyedSplit = docs.select("doc_id")
      .join(driveComp.withColumnRenamed("id", "doc_id"),
        Seq("doc_id"), "left")
      .withColumn("gkey", coalesce($"component", $"doc_id"))
    val compSplits = graft.operators.Sampling.assignSplits(
      keyedSplit.select("doc_id", "gkey"), "gkey",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val crossing = drivePairs
      .join(compSplits.select($"doc_id".as("id_a"), $"split".as("sa")),
        Seq("id_a"))
      .join(compSplits.select($"doc_id".as("id_b"), $"split".as("sb")),
        Seq("id_b"))
      .where($"sa" =!= $"sb").count()
    println("SPLIT_LEAKING_PAIRS=" + crossing)

    // r12: skip-gram PMI, vocab growth, length-bucketed batching
    val sg = graft.operators.TextAnalysis.skipgramPmi(
      docs, "text", window = 3, minCount = 5)
    sg.explain("formatted")
    println("SKIPGRAM_PAIRS=" + sg.count())
    println("VOCAB_CURVE=" + graft.operators.TextAnalysis
      .vocabGrowth(docs, "doc_id", "text", buckets = 5)
      .orderBy("bucket").collect()
      .map(r => r.getLong(2)).mkString(","))
    val lb = graft.operators.PrefixScan.packByLength(
      docs.select($"doc_id",
        org.apache.spark.sql.functions.col("n_chars")
          .cast("long").as("n_chars")),
      "doc_id", "n_chars", batchDocs = 8, materialize = false)
    lb.explain("formatted")
    println("LENGTH_BATCHES=" + lb
      .select("length_bucket", "batch_id").distinct().count())
    val lp = graft.operators.Graph.linkPrediction(liftE, "tok_a", "tok_b")
    lp.explain("formatted")
    println("LINK_CANDIDATES=" + lp.count())

    // r13: drift trio, diversity, budget planner, grouped scan,
    // quota + k-center on REAL float embeddings
    val refSlice = docs.where($"doc_id" % 2 === 0)
      .select($"n_chars".cast("long").as("n_chars"), $"doc_id")
    val curSlice = docs.where($"doc_id" % 2 === 1)
      .select($"n_chars".cast("long").as("n_chars"), $"doc_id")
    val ks = graft.operators.Drift.ksStat(refSlice, curSlice, "n_chars")
    ks.explain("formatted")
    println("KS=" + ks.collect().mkString)
    println("CHI2=" + graft.operators.Drift.chiSquared(
      docs.where($"doc_id" % 2 === 0).select("lang"),
      docs.where($"doc_id" % 2 === 1).select("lang"), "lang")
      .orderBy("lang").collect().length)
    println("DISTINCT2=" + graft.operators.TextAnalysis
      .distinctNgrams(docs, "lang", "text", 2).orderBy("lang")
      .collect().map(r => r.getString(0) + ":" + r.getDouble(3))
      .mkString(" "))
    val alloc = graft.operators.Sampling.epochCappedAlloc(
      docs.select($"source", $"n_chars".cast("long").as("n_chars")),
      "source", "n_chars", budget = 50000L, maxEpochs = 3L)
    println("ALLOC=" + alloc.collect().length)
    val qs = graft.operators.Sampling.quotaSample(
      docs.select("doc_id", "lang"), "doc_id", "lang",
      Map("en" -> 5L, "de" -> 3L), materialize = false)
    qs.explain("formatted")
    println("QUOTA=" + qs.count())
    val coreset = graft.operators.Coreset.kCenterGreedy(
      emb.select($"vec_id", $"embedding"), "embedding", "vec_id", k = 4)
    println("KCENTER=" + coreset.collect()
      .map(r => r.getLong(1)).mkString(","))
    // r16: mutual k-NN graph, script profile, URL canonicalization
    val mcents = emb.filter($"vec_id" < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val mknn = graft.operators.KnnGraph.mutualKnnWithCentroids(
      emb.select("vec_id", "embedding"), "vec_id", "embedding",
      mcents, k = 3)
    mknn.explain("formatted")
    println("MUTUAL_KNN=" + mknn.count())
    val sp = graft.operators.ScriptProfile.profile(docs, "doc_id", "text")
    sp.explain("formatted")
    println("SCRIPTS=" + sp.groupBy("dominant_script").count()
      .orderBy("dominant_script").collect()
      .map(r => r.getString(0) + ":" + r.getLong(1)).mkString(" "))
    val urls = docs.select($"doc_id", concat(lit("HTTP://Ex.COM:80/"),
      $"lang", lit("/"), ($"doc_id" % 5).cast("string"),
      lit("/?utm_source=x")).as("url"))
    val uc = graft.operators.Urls.dedupByCanonical(urls, "doc_id", "url")
    uc.explain("formatted")
    println("URL_GROUPS=" + uc.count())
    // r16: modularity, edit-distance verify, dup-span removal
    val coocE = graft.operators.TextAnalysis.coocLift(
      docs, "doc_id", "text", topV = 40, minSupport = 10L)
      .select("tok_a", "tok_b")
    val lbls = graft.operators.Graph.labelPropagation(
      coocE, "tok_a", "tok_b", iters = 2)
    val mods = graft.operators.Graph.modularity(
      coocE, "tok_a", "tok_b", lbls, "node", "label")
    mods.explain("formatted")
    println("MODULARITY=" + mods.orderBy("label").collect()
      .map(r => r.getString(0) + ":" + r.getDouble(5)).mkString(" "))
    val edp = graft.operators.Dedup.nearDupPairsEditDistance(
      docs.select("doc_id", "text"), "doc_id", "text",
      maxDist = 12, prefixLen = 256)
    edp.explain("formatted")
    println("EDIT_PAIRS=" + edp.count())
    val rds = graft.operators.Dedup.removeDupSpans(
      docs.select("doc_id", "text"), "doc_id", "text", k = 8)
    rds.explain("formatted")
    println("SPAN_REMOVED=" + rds.agg(sum("n_removed")).collect()(0).getLong(0))
    // r16: corpus-level sketch overlap + exact containment matrix
    val sk = graft.operators.CorpusSketch.minhashSketchByKey(
      docs, "source", "text", numHashes = 32)
    val skp = graft.operators.CorpusSketch.sketchJaccardPairs(
      sk, "source", complete = true)
    skp.explain("formatted")
    println("SKETCH_PAIRS=" + skp.count())
    val ov = graft.operators.CorpusSketch.exactOverlapPairs(
      docs, "source", "text")
    ov.explain("formatted")
    println("OVERLAP=" + ov.agg(max("cont_a_in_b")).collect()(0).getDouble(0))
    // r16: rendezvous sharding + encoding-damage audit
    val plan = graft.operators.Sharding.shardPlan(docs, "doc_id", 8)
    val bal = graft.operators.Sharding.shardBalance(plan, Some("n_chars"))
    bal.explain("formatted")
    println("SHARDS=" + bal.count() + " maxskew=" +
      bal.agg(max("skew")).collect()(0).getDouble(0))
    val dmg = docs.select(
      graft.operators.TextClean.encodingDamage(col("text")).as("d"))
      .agg(sum("d.n_replacement"), sum("d.n_c1"), sum("d.n_mojibake"))
    dmg.explain("formatted")
    println("DAMAGE=" + dmg.collect()(0).toSeq.mkString(","))
    // r16: calibration, bitmap distinct, louvain + weighted modularity
    val scored = docs.select(
      (($"doc_id" % 97).cast("double") / lit(97.0)).as("score"),
      when(($"doc_id" * 7919) % 97 < $"doc_id" % 97, 1L)
        .otherwise(0L).as("label"))
    val ecef = graft.operators.Calibration.ece(scored, "score", "label")
    ecef.explain("formatted")
    println("ECE=" + ecef.collect()(0).getDouble(1))
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val bd = graft.operators.Hll.exactDistinctBitmap(
      ev, Seq("event_type"), "user_id")
    bd.explain("formatted")
    println("BITMAP_DISTINCT=" + bd.collect()
      .map(r => r.getString(0) + ":" + r.getLong(1)).mkString(" "))
    val louv = graft.operators.Graph.louvain(coocE, "tok_a", "tok_b",
      levels = 2, roundsPerLevel = 2)
    val lq = graft.operators.Graph.modularityWeighted(
      coocE.withColumn("w", lit(1L)), "tok_a", "tok_b", "w",
      louv, "node", "community")
    lq.explain("formatted")
    println("LOUVAIN_Q=" + lq.agg(sum("q_term")).collect()(0).getDouble(0))
    val fixedText = docs.select(
      graft.operators.TextClean.repairMojibake($"text").as("f"))
    println("REPAIR_ROWS=" + fixedText.count())
    // r17: WET record source + graph-traversal ANN beam search
    val wetDir = java.nio.file.Files.createTempDirectory("smoke-wet")
    val wetRecs = docs.orderBy("doc_id").limit(50)
      .select($"doc_id", $"text").collect()
      .map(r => (s"https://example.org/d/${r.getLong(0)}",
        "2026-08-16T00:00:00Z", r.getString(1))).toSeq
    wetRecs.grouped(17).zipWithIndex.foreach { case (chunk, i) =>
      java.nio.file.Files.write(
        wetDir.resolve(f"shard-$i%02d.warc.wet.gz"),
        graft.sources.WetSource.writeMembers(chunk))
    }
    val wet = graft.sources.WetSource.read(spark, wetDir.toString)
    wet.explain("formatted")
    println("WET_RECORDS=" + wet.count())
    val embAll = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val gCents = embAll.filter($"vec_id" < 4).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val gEdges = graft.operators.KnnGraph.knnEdgesWithCentroids(
      embAll, "vec_id", "embedding", gCents, k = 4,
      metric = graft.operators.Metric.Cosine)
    val gq = embAll.filter($"vec_id" % 7 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val beamHits = graft.operators.KnnGraph.graphSearch(
      embAll, "vec_id", "embedding", gEdges, "src", "dst",
      gq, "qid", "qvec", embAll.filter($"vec_id" < 3).select("vec_id"),
      beam = 3, hops = 3, k = 3, metric = graft.operators.Metric.Cosine)
    beamHits.explain("formatted")
    println("BEAM_TOP=" + beamHits.orderBy("qid", "rank").collect()
      .map(r => r.getLong(0) + ">" + r.getLong(1)).take(6).mkString(" "))
    // r17: containment audit, golden record, Kneser–Ney, blocklist
    val contp = graft.operators.Dedup.containmentPairsExact(
      docs, "doc_id", "text", shingleWidth = 3, threshold = 0.6)
    contp.explain("formatted")
    println("CONTAIN_PAIRS=" + contp.count())
    val gr = graft.operators.Dedup.goldenRecord(
      docs.withColumn("key",
        array_join(slice(graft.functions.TextFunctions.tokens($"text"),
          1, 3), " ")),
      "key", Seq("lang", "source", "n_chars"))
    println("GOLDEN=" + gr.count() + " of " + docs.count())
    val kns = graft.operators.TextAnalysis.kneserNeyScore(
      docs, "doc_id", "text")
    println("KN_MEAN=" + kns.agg(avg("kn_score")).collect()(0).getDouble(0))
    val bla = graft.operators.TextAnalysis.blocklistAudit(
      docs, "doc_id", "text", Seq("dup", "slow"))
    println("BLOCK_KEEP=" + bla.filter($"keep").count() + "/" + bla.count())

    spark.stop()
  }
}
