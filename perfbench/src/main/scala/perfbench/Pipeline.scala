package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.functions.{Embed, HashEmbedder}
import graft.functions.TextFunctions.shingles
import graft.ml.MlpBridge
import graft.operators.{Dedup, IvfIndex, IvfPqIndex, KnnClassify, Similarity, TextClean}
import graft.sources.WetSource
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded WET crawl shards for the `pipeline` workload. Words come from
  * a shared Zipf-like vocabulary plus a topic vocabulary per label, so
  * classify has signal to find; about one doc in twelve is a planted
  * near-duplicate (a copy of an earlier doc with two words changed,
  * exact shingle Jaccard well above 0.7), so dedup has work to do.
  * Markup, e-mail addresses and URLs give the cleaner work. */
object PipelineInput {
  val Labels: Array[String] = Array("arts", "health", "science", "sports")
  private val CommonWords = 400
  private val TopicWords = 120

  /** Writes `shards` gzip WET files for pass `pass` under `dir`. Doc ids
    * are unique across passes; the label is the URL's first path part. */
  def write(dir: Path, seed: Long, pass: Int, docs: Int, shards: Int): Unit = {
    val rng = new scala.util.Random(seed * 1000003L + pass)
    def common(): String = s"w${(math.pow(rng.nextDouble(), 2) * CommonWords).toInt}"
    val words = ArrayBuffer.empty[Array[String]]
    val labels = ArrayBuffer.empty[String]
    val records = (0 until docs).map { i =>
      val id = pass * 1000000L + i
      val (label, ws) =
        if (i > 10 && rng.nextDouble() < 0.08) {
          val j = rng.nextInt(i)
          val copy = words(j).clone()
          (0 until 2).foreach(_ => copy(rng.nextInt(copy.length)) = common())
          (labels(j), copy)
        } else {
          val label = Labels(rng.nextInt(Labels.length))
          val n = 60 + rng.nextInt(60)
          (label, Array.fill(n)(
            if (rng.nextDouble() < 0.4) s"$label${rng.nextInt(TopicWords)}"
            else common()))
        }
      words += ws
      labels += label
      val extra =
        (if (rng.nextDouble() < 0.2) s" mail u$i@mail.example" else "") +
        (if (rng.nextDouble() < 0.2) s"  see https://ref.example/p/$i" else "")
      val text = "<p>" + ws.mkString(" ") + "</p>" + extra
      (s"https://bench.example/$label/$id", "2026-01-01T00:00:00Z", text)
    }
    Files.createDirectories(dir)
    records.zipWithIndex.groupBy(_._2 % shards).foreach { case (k, rs) =>
      Files.write(dir.resolve(f"part-$k%03d.warc.wet.gz"),
        WetSource.writeMembers(rs.map(_._1)))
    }
  }
}

/** `pipeline`: back-to-back batch curation-and-index passes, one
  * client, each over a fresh set of WET shards (so no memo or
  * file-identity cache can hit). Every stage materializes its output
  * at the stage boundary with the same call whether traced or not. */
object Pipeline {
  private val K = 10
  private val NProbe = 4
  private val Threshold = 0.7
  /** Stated recall floor for the IVF batch join against exact top-10. */
  val RecallFloor = 0.6
  /** Timed passes per run at least, whatever `--seconds` allows: a pass
    * costs ~7 s however few docs it reads (its ~75 jobs and their
    * compiles dominate), and a run must stay within ~50 s. */
  private val MinPasses = 2
  private val embedder = HashEmbedder(dim = 64, normalized = true)

  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  def run(ctx: Ctx): Outcome = {
    import ctx.tracer.span
    val spark = ctx.spark
    val docs = if (ctx.tiny) 600 else 1200
    val shards = 2 * ctx.cores
    val checks = new Checks
    val setupS = ArrayBuffer.empty[Double]
    val layer = ArrayBuffer.empty[(String, Double)]
    val passMs = ArrayBuffer.empty[Double]
    val recalls = ArrayBuffer.empty[Double]
    var passNo = 0

    def input(): Path = {
      val t = System.nanoTime()
      val dir = Paths.get(ctx.dataDir, s"wet-$passNo")
      PipelineInput.write(dir, ctx.seed, passNo, docs, shards)
      setupS += (System.nanoTime() - t) / 1e9
      dir
    }

    def pass(dir: Path, first: Boolean): Double = {
      val t0 = System.nanoTime()
      val out = span("pipeline.pass") {
        val raw = span("sources.wet_read") {
          materialize(WetSource.read(spark, s"$dir/*.warc.wet.gz")
            .select(
              element_at(split(col("url"), "/"), -1).cast("long").as("doc_id"),
              element_at(split(col("url"), "/"), 4).as("label"),
              col("text")))
        }
        val cleaned = span("functions.clean") {
          materialize(raw.select(col("doc_id"), col("label"),
            TextClean.clean(col("text")).as("text")))
        }
        val kept = span("operators.dedup") {
          materialize(Dedup.dedupNearMinHash(cleaned, "doc_id", "text",
            threshold = Threshold))
        }
        val embedded = span("functions.embed") {
          materialize(Embed.embedColumn(kept, "text", "vec", embedder))
        }
        val isQuery = col("doc_id") % 20 === 0
        val corpus = embedded.filter(!isQuery).select("doc_id", "label", "vec")
        val queries = embedded.filter(isQuery)
          .select(col("doc_id").as("qid"), col("label").as("qlabel"),
            col("vec").as("qvec"))
        val index = span("operators.index_build") {
          val idx = IvfPqIndex.build(corpus, "vec", "doc_id", codesPerBook = 64,
            maxIter = 2)
          idx.table.count()
          idx
        }
        val ivf = new IvfIndex(index.cells,
          IvfIndex.assignCells(corpus, "vec", index.cells), "vec", "doc_id")
        val nn = span("operators.knn_batch") {
          materialize(ivf.queryBatch(queries, "qid", "qvec", K, NProbe))
        }
        val votes = span("operators.classify") {
          materialize(KnnClassify.voteOnNeighbors(
            nn.join(corpus.select("doc_id", "label"), "doc_id"), "qid", "label"))
        }
        val mlp = span("ml.mlp_train") {
          MlpBridge.trainClassifier(embedded, "vec", "label",
            hidden = Seq(32), maxIter = 8)
        }
        (cleaned, kept, corpus, queries, ivf, nn, votes, mlp.holdoutMetric)
      }
      val ms = Stats.ms(t0)
      val (cleaned, kept, corpus, queries, ivf, nn, votes, mlpAcc) = out
      verify(cleaned, kept, corpus, queries, nn, votes, mlpAcc)
      if (first && ctx.tracer.enabled) layerRatios(cleaned, queries, ivf, nn)
      passNo += 1
      ms
    }

    def verify(cleaned: DataFrame, kept: DataFrame, corpus: DataFrame,
        queries: DataFrame, nn: DataFrame, votes: DataFrame,
        mlpAcc: Double): Unit = {
      val op = s"pipeline.pass[$passNo]"
      // recall of the IVF batch join against exact top-k on the same corpus
      val exact = Similarity.topKJoin(corpus.select("doc_id", "vec"), queries,
        K, "doc_id", "vec", "qid", "qvec")
        .select("qid", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val ann = nn.select("qid", "doc_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = exact.toSeq.map { case (q, ids) =>
        (ann.getOrElse(q, Set.empty[Long]) intersect ids).size.toDouble / ids.size
      }
      val r = if (recall.isEmpty) 0.0 else recall.sum / recall.size
      recalls += r
      checks.expect(op, "knn_batch", r >= RecallFloor,
        f"recall@$K $r%.4f below floor $RecallFloor")
      // every removed doc has a kept partner with exact shingle-set
      // Jaccard >= threshold: an exhaustive driver-side search over an
      // inverted index of the kept docs' shingles (the program's own
      // shingle definition), independent of the MinHash candidates
      val sh = cleaned.select(col("doc_id"), shingles(col("text"), 3)).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val keptAll = kept.select("doc_id").collect().map(_.getLong(0)).toSet
      val keptSet = if (ctx.sabotage) keptAll - keptAll.min else keptAll
      val postings = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[Long]]
      for ((id, s) <- sh if keptSet(id); g <- s)
        postings.getOrElseUpdate(g, ArrayBuffer.empty[Long]) += id
      val removed = sh.keySet -- keptSet
      val orphans = removed.count { r =>
        val a = sh(r)
        val inter = scala.collection.mutable.HashMap.empty[Long, Int]
        a.foreach(g => postings.get(g).foreach(_.foreach(k =>
          inter(k) = inter.getOrElse(k, 0) + 1)))
        !inter.exists { case (k, n) => n.toDouble / (a.size + sh(k).size - n) >= Threshold }
      }
      checks.expect(op, "dedup", removed.nonEmpty && orphans == 0,
        s"$orphans of ${removed.size} removed docs lack a kept partner with Jaccard >= $Threshold")
      // classification beats chance (uniform labels)
      val chance = 1.0 / PipelineInput.Labels.length
      val knnAcc = votes.join(queries.select("qid", "qlabel"), "qid")
        .agg(avg(when(col("knn_pred") === col("qlabel"), 1.0).otherwise(0.0)))
        .head.getDouble(0)
      checks.expect(op, "classify", knnAcc > chance + 0.25,
        f"kNN vote accuracy $knnAcc%.3f not above chance $chance%.2f + 0.25")
      checks.expect(op, "mlp_train", mlpAcc > chance + 0.25,
        f"MLP holdout accuracy $mlpAcc%.3f not above chance $chance%.2f + 0.25")
    }

    // per-layer ratios, computed outside the spans they describe
    def layerRatios(cleaned: DataFrame, queries: DataFrame, ivf: IvfIndex,
        nn: DataFrame): Unit = {
      val cand = Dedup.nearDupPairsMinHash(cleaned, "doc_id", "text",
        threshold = 0.0).select("jaccard").collect().map(_.getDouble(0))
      layer += "operators.dedup.verified_ratio" ->
        (if (cand.isEmpty) 0.0 else cand.count(_ >= Threshold).toDouble / cand.length)
      val cellSize = ivf.cellStats.select("cluster", "n").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val scanned = queries.select("qvec").collect().map { r =>
        val q = r.getSeq[Float](0).toArray
        ivf.rankCells(q).take(NProbe).map(c => cellSize.getOrElse(c, 0L)).sum
      }.sum
      layer += "operators.knn_batch.rows_scanned_per_result" ->
        scanned.toDouble / math.max(1L, nn.count())
    }

    val coldFrom = ctx.tracer.nextSpanId
    val coldMs = pass(input(), first = true)
    val loopFrom = ctx.tracer.nextSpanId
    ctx.loop(MinPasses, passMs.length) {
      passMs += pass(input(), first = false)
    }
    val p50 = Stats.median(passMs.toSeq)
    val docsPerS = docs / (p50 / 1e3)
    val recall = recalls.sum / recalls.length
    Outcome(setupS.toSeq, coldMs, passMs.toSeq,
      attempted = passMs.length + 1L, checks,
      Seq(Named("pipeline_docs_per_s", docsPerS, "docs/s"),
        Named("docs_per_pass", docs, "docs"),
        Named("pass_p50_ms", p50, "ms"),
        Named("passes", passMs.length, "count"),
        Named("knn_recall_at_10", recall, "ratio")),
      layer.toSeq, coldFrom, loopFrom)
  }
}
