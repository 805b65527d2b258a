package graft.operators

import graft.functions.TextFunctions._
import graft.functions.TextOps
import graft.functions.VectorFunctions._
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.unsafe.types.UTF8String
import graft.Checkpoints.LineageCutOps

import java.util.stream.IntStream
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Deduplication operators for large-scale training-data pipelines
  * (builder brief): exact first-wins, MinHash/LSH near-dup, SimHash
  * near-dup, and embedding-cosine near-dup. The reference's only dedup
  * is the first-wins target dedup (U1/J3,
  * `/root/reference/vsu/base/VectorSearchBase.py:77-94,123-124`) —
  * generalized here to arbitrary keys; the near-dup family is the
  * beyond-reference scale path.
  *
  * Scale design: every variant is bucketed — candidates meet only
  * inside a hash bucket (`groupBy`-equivalent shuffle on the bucket
  * key), NEVER via an all-pairs crossJoin. The candidate self-join
  * carries ONLY (id, band, bucket) — heavy payloads (shingle arrays,
  * vectors) are joined back by id for one verification per distinct
  * pair, so the dominant shuffle is id-sized regardless of document
  * size. Verification (exact Jaccard / hamming / cosine) runs once per
  * candidate pair.
  */
object Dedup {

  /** Keep the first row per key under a deterministic order — the bulk
    * form of the reference's keep-first dedup (U1). One hash shuffle on
    * `keyCols` with PARTIAL aggregation: `min_by(struct(row),
    * struct(order))` combines map-side, so only one candidate row per
    * (partition, key) crosses the shuffle — unlike a `row_number`
    * window, which ships every row and sorts. Order columns must be
    * non-null (null ordering keys are skipped by `min_by`). */
  def exactFirstWins(df: DataFrame, keyCols: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty && orderCols.nonEmpty,
      "key and order columns required")
    val cols = df.columns.toSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(cols.map(col): _*),
        struct(orderCols.map(col): _*)).as("__graft_row"))
      .select(col("__graft_row.*"))
  }

  /** Corpus-frequency line dedup — the C4 / CCNet boilerplate rule
    * (Raffel et al. 2020 remove repeated lines; Wenzek et al. 2020
    * dedup at paragraph granularity): drop every line whose normalized
    * form appears in at least `minDocFreq` DISTINCT documents, then
    * reassemble each document from its surviving lines in original
    * order. Output: `(idCol, textCol, n_lines, n_kept)`; a document
    * whose every line is boilerplate survives with empty text (row
    * retention is the caller's quality gate, not this operator's).
    *
    * Scale shape: one explode pass; the doc-frequency count is two
    * slim shuffles of `(line, id)` pairs (distinct, then a partial-agg
    * count per line); the resulting boilerplate set is by construction
    * the small head of the line-frequency distribution, so the flag
    * join broadcasts under AQE. Reassembly is one shuffle on `idCol`
    * with order restored by `array_sort` over `(pos, line)` structs —
    * no window, no per-doc sort spill beyond the doc itself. */
  /** WITHIN-document repeated-line removal — the in-doc complement of
    * [[removeRepeatedLines]] (which drops corpus-frequent boilerplate):
    * keep only the FIRST occurrence of each line inside a document,
    * the C4-style "dedupe repeated paragraphs in place" hygiene rule
    * for scraped pages that tile the same block.
    *
    * Pure NARROW projection — a higher-order filter keeping position i
    * iff `array_position(lines, line) == i + 1` (array_position finds
    * the first match) — zero shuffle, embarrassingly parallel,
    * codegen'd. Per-doc cost is O(lines²) string compares, fine for
    * documents (thousands of lines), not for gigabyte single rows. */
  def dropRepeatedLinesInDoc(text: Column,
      delimiter: String = "\n"): Column = {
    val lines = split(text, java.util.regex.Pattern.quote(delimiter))
    // null-in/null-out like the other text kernels: split/filter
    // propagate null but concat_ws DROPS null args, which would turn a
    // null document into "" without the explicit guard
    when(text.isNull, lit(null).cast("string")).otherwise(
      concat_ws(delimiter,
        filter(lines, (x, i) => array_position(lines, x) === i + 1)))
  }

  def removeRepeatedLines(df: DataFrame, idCol: String, textCol: String,
      delimiter: String = "\n", minDocFreq: Int = 3,
      trimKeys: Boolean = true): DataFrame = {
    require(minDocFreq >= 2, "minDocFreq < 2 would drop every line")
    val reserved = Seq("__pos", "__line", "__key", "__bkey")
    require(!reserved.contains(idCol) && !reserved.contains(textCol),
      s"column names $reserved are reserved")
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delimiter)))
          .as(Seq("__pos", "__line")))
      .withColumn("__key",
        if (trimKeys) trim(col("__line")) else col("__line"))
    val boiler = lines.select(col("__key"), col(idCol)).distinct()
      .groupBy("__key").agg(count(lit(1)).as("__dfreq"))
      .filter(col("__dfreq") >= minDocFreq)
      .select(col("__key").as("__bkey"))
    lines.join(boiler, col("__key") === col("__bkey"), "left")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__bkey").isNull,
              struct(col("__pos"), col("__line"))))),
            x => x.getField("__line")),
          delimiter).as(textCol),
        count(lit(1)).as("n_lines"),
        count(when(col("__bkey").isNull, 1)).as("n_kept"))
  }

  /** MinHash signature: `numHashes` independent min-hashes over a
    * string-array column. One-pass native expression (murmur base hash
    * per shingle + affine family) — stays in codegen, no UDF. Empty
    * shingle sets produce null signatures (filtered by callers). */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column = {
    require(numHashes >= 1, "numHashes must be >= 1")
    import org.apache.spark.sql.graftglue.SqlGlue
    SqlGlue.column(graft.functions.MinHashSignature(
      SqlGlue.expression(shingleCol), numHashes))
  }

  /** LSH band keys: hash of each `rowsPerBand`-slice of the signature.
    * Two docs with Jaccard ≥ t collide in ≥1 band with high
    * probability (t ≈ (1/bands)^(1/rowsPerBand)). */
  def minhashBands(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      hash(slice(sigCol, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Distinct (idA, idB) candidate pairs (idA < idB) from a slim
    * (id, band, bucket) frame: prune hot buckets, self-join on the
    * bucket key, dedup pairs that collide in several bands BEFORE any
    * payload is attached. */
  private[operators] def candidatePairs(slim: DataFrame, idCol: String,
      bucketKeys: Seq[String], maxBucketSize: Int): DataFrame = {
    val pruned = pruneHotBuckets(slim, bucketKeys, maxBucketSize)
    val a = pruned.select(bucketKeys.map(col) :+ col(idCol).as("idA"): _*)
    val b = pruned.select(bucketKeys.map(col) :+ col(idCol).as("idB"): _*)
    a.join(b, bucketKeys)
      .filter(col("idA") < col("idB"))
      .select("idA", "idB").distinct()
  }

  /** Attach `payloadCol` from `payload` (keyed by idCol) to both sides
    * of a candidate-pair frame, as `<payloadCol>A` / `<payloadCol>B`. */
  private[operators] def attachPayload(pairs: DataFrame, payload: DataFrame,
      idCol: String, payloadCol: String): DataFrame =
    pairs
      .join(payload.select(col(idCol).as("idA"),
        col(payloadCol).as(payloadCol + "A")), Seq("idA"))
      .join(payload.select(col(idCol).as("idB"),
        col(payloadCol).as(payloadCol + "B")), Seq("idB"))

  /** [[nearDupPairsMinHash]]'s default hot-bucket bound. */
  private[operators] val MaxBucketSize = 1000

  /** Near-duplicate pairs via MinHash LSH banding, verified by exact
    * shingle-set Jaccard. Returns (idA, idB, jaccard) with idA < idB,
    * one row per verified pair.
    *
    * Shuffle budget: banding shuffles (id, band, int32-bucket) only;
    * shingle arrays cross a shuffle exactly twice (the two payload
    * re-joins), not 2×bands times; Jaccard runs once per DISTINCT pair.
    *
    * @param maxBucketSize skip pathological buckets (boilerplate/
    *                      stopword shingles) — at 100 TB a single hot
    *                      bucket would otherwise quadratically explode
    */
  def nearDupPairsMinHash(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = MaxBucketSize): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    val sh = shingles(col(textCol), shingleWidth)
    val base = df.select(col(idCol), sh.as("__sh"))
      .filter(size(col("__sh")) > 0)
    val slim = base
      .withColumn("__sig", minhashSignature(col("__sh"), numHashes))
      .select(col(idCol),
        posexplode(minhashBands(col("__sig"), bands, rowsPerBand))
          .as(Seq("__band", "__bh")))
    val pairs = candidatePairs(slim, idCol, Seq("__band", "__bh"),
      maxBucketSize)
    attachPayload(pairs, base, idCol, "__sh")
      .select(col("idA"), col("idB"),
        jaccard(col("__shA"), col("__shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT shingle-set Jaccard self-join — EVERY pair with
    * J(A,B) >= threshold, recall 1.0, no LSH approximation — via
    * prefix filtering (the SSJoin/PPJoin principle: Chaudhuri et al.
    * ICDE'06, Xiao et al. WWW'08). Under one global token order
    * (corpus document-frequency ascending — rarest first), J >= t
    * forces |A∩B| >= t·|A|; if A's (|A| − ⌈t·|A|⌉ + 1)-prefix missed
    * every common token, all of them would sit in A's ⌈t·|A|⌉ − 1
    * remaining positions — a contradiction — so the smallest-ranked
    * common token lies in BOTH prefixes and the candidate join needs
    * PREFIX tokens only. Because prefixes carry each document's
    * globally RAREST tokens, hot-token fan-out is structurally capped
    * (the inverse of an LSH hot bucket). This is the exact complement
    * of [[nearDupPairsMinHash]] for when recall must be 1.0 —
    * decontamination audits, license-violation sweeps.
    *
    * The prefix cut and the length filter use floor(t·n) where the
    * theory says ⌈t·n⌉: under fp rounding ceil(t·n) can overestimate
    * by one for non-dyadic t (e.g. 0.3·10 → 3.0000000000000004), and
    * an overestimated cut SHORTENS the prefix — an incompleteness
    * bug. floor is always ≤ the true ceiling, so the filters stay
    * conservative (≤ 1 extra prefix token, a few extra candidates,
    * zero missed pairs); the exact verification settles the rest.
    *
    * Scale shape: only (id, token)-slim frames ever shuffle (the
    * frequency join, the per-doc rank window, the prefix self-join);
    * candidates prune on the J-implied length bound before any
    * verification; exact intersection counting runs once per DISTINCT
    * pair. Returns (id_a, id_b, jaccard) with id_a < id_b; jaccard is
    * one double division of exact longs (cross-engine bit-stable).
    * Contract: the inline reference `SharedFramesSpec` checks the
    * registry's stored-token path ([[jaccardPairsExactFromTokens]])
    * against; no program caller. */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, threshold: Double = 0.5): DataFrame =
    jaccardPairsExactFromTokens(
      df.select(col(idCol),
        explode(shingles(col(textCol), shingleWidth)).as("__s"))
        .distinct(),
      idCol, "__s", threshold)

  /** [[jaccardPairsExact]] over a PRE-TOKENIZED distinct (id, token)
    * frame — the corpus-scale form. The token frame is this operator's
    * inverted index: it feeds the size agg, the frequency agg, the
    * rank window, and both verification joins, so the inline form
    * re-scans and re-shingles the corpus for each consumer (10 text
    * scans in the physical plan — ReuseExchange cannot fire across
    * differently keyed consumers; an in-memory .cache() measured
    * SLOWER here, trading codegen'd rebuilds for a serialization
    * stall). At 100 TB, tokenize ONCE into parquet (the fit-offline /
    * search-online split of Bm25.save / SqIndex.save) and pass the
    * stored frame: every consumer then reads token-slim columnar data
    * and the text column is never scanned at all. */
  def jaccardPairsExactFromTokens(tokens: DataFrame, idCol: String,
      tokenCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val sh = tokens.select(col(idCol), col(tokenCol).as("__s"))
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("__n"))
    val freq = sh.groupBy("__s").agg(count(lit(1)).as("__df"))
    val ranked = sh.join(freq, "__s")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__df"), col("__s"))))
      .join(sizes, Seq(idCol))
      .filter(col("__rn") <=
        col("__n") - floor(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("__s"), col("__n"), col("__rn"))
    // PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2) on every
    // prefix meet, BEFORE the distinct shuffle: common tokens sit at
    // global ranks ≥ this meet's rank on both sides, so the overlap
    // is ≤ 1 + min(na−i, nb−j); J ≥ t needs overlap ≥ t/(1+t)·(na+nb)
    // (floor — conservative under fp rounding, same argument as the
    // prefix cut). Recall stays 1.0: a qualifying pair's FIRST common
    // token always passes this bound (o ≤ 1 + min there), and one
    // surviving meet per pair is all the distinct needs. Without it
    // the raw meet volume — Σ over tokens of prefix-df² — is the
    // quadratic cliff a fixed vocabulary drives at corpus scale (the
    // r16 sf1 bench measured the unfiltered form at > 80 GB of
    // candidate shuffle on a 31-word-vocab 50k-doc corpus).
    val cand = ranked
      .select(col(idCol).as("id_a"), col("__s"), col("__n").as("__na"),
        col("__rn").as("__ra"))
      .join(ranked
        .select(col(idCol).as("id_b"), col("__s"), col("__n").as("__nb"),
          col("__rn").as("__rb")),
        Seq("__s"))
      .where(col("id_a") < col("id_b") &&
        col("__nb") >= floor(lit(threshold) * col("__na")) &&
        col("__na") >= floor(lit(threshold) * col("__nb")) &&
        lit(1) + least(col("__na") - col("__ra"), col("__nb") - col("__rb"))
          >= floor(lit(threshold / (1.0 + threshold)) *
              (col("__na") + col("__nb"))))
      .select("id_a", "id_b").distinct()
    val inter = cand
      .join(sh.select(col(idCol).as("id_a"), col("__s")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__s")), Seq("id_b", "__s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__ninter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")),
        Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("__n").as("__nb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("__ninter").cast("double") /
          (col("__na") + col("__nb") - col("__ninter"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Asymmetric EXACT Jaccard probe — the recall-1.0 twin of
    * [[nearDupProbeMinHash]]: returns the DISTINCT probe ids whose
    * shingle-set Jaccard against ANY corpus document reaches
    * `threshold` (same output contract — anti-join the flags for the
    * clean slice). Same prefix-filter completeness argument and
    * floor-robust cuts as [[jaccardPairsExact]]; the global token
    * order is document frequency over the UNION of both sides — the
    * order must be a total order defined on every token either side
    * carries, which a one-sided frequency is not. Use when the
    * cross-corpus decision must be auditable with zero missed
    * duplicates (contamination sweeps of a frozen eval corpus).
    * Contract: the inline reference `SharedFramesSpec` checks the
    * registry's stored-token path ([[jaccardProbeExactFromTokens]])
    * against; no program caller. */
  def jaccardProbeExact(probe: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleWidth: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    def toks(df: DataFrame) = df.select(col(idCol),
      explode(shingles(col(textCol), shingleWidth)).as("__s")).distinct()
    jaccardProbeExactFromTokens(toks(probe), toks(corpus), idCol, "__s",
      threshold)
  }

  /** [[jaccardProbeExact]] over PRE-TOKENIZED distinct (id, token)
    * frames (see [[jaccardPairsExactFromTokens]] for why the stored
    * token frame is the corpus-scale form). */
  def jaccardProbeExactFromTokens(probeToks: DataFrame,
      corpusToks: DataFrame, idCol: String, tokenCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val pa = probeToks.select(col(idCol).as("__idp"),
      col(tokenCol).as("__s"))
    val ca = corpusToks.select(col(idCol).as("__idc"),
      col(tokenCol).as("__s"))
    val freq = pa.select("__s").unionByName(ca.select("__s"))
      .groupBy("__s").agg(count(lit(1)).as("__df"))
    def prefixed(sh: DataFrame, id: String, n: String,
        rn: String): DataFrame = {
      val sizes = sh.groupBy(id).agg(count(lit(1)).as(n))
      sh.join(freq, "__s")
        .withColumn(rn, row_number().over(
          Window.partitionBy(col(id)).orderBy(col("__df"), col("__s"))))
        .join(sizes, Seq(id))
        .filter(col(rn) <=
          col(n) - floor(lit(threshold) * col(n)) + 1)
        .select(col(id), col("__s"), col(n), col(rn))
    }
    // positional filter on each prefix meet — see
    // [[jaccardPairsExactFromTokens]] for the completeness argument
    val cand = prefixed(pa, "__idp", "__np", "__rp")
      .join(prefixed(ca, "__idc", "__nc", "__rc"), Seq("__s"))
      .where(col("__nc") >= floor(lit(threshold) * col("__np")) &&
        col("__np") >= floor(lit(threshold) * col("__nc")) &&
        lit(1) + least(col("__np") - col("__rp"), col("__nc") - col("__rc"))
          >= floor(lit(threshold / (1.0 + threshold)) *
              (col("__np") + col("__nc"))))
      .select("__idp", "__idc").distinct()
    val inter = cand
      .join(pa, Seq("__idp"))
      .join(ca, Seq("__idc", "__s"))
      .groupBy("__idp", "__idc").agg(count(lit(1)).as("__ninter"))
    inter
      .join(pa.groupBy("__idp").agg(count(lit(1)).as("__np")), Seq("__idp"))
      .join(ca.groupBy("__idc").agg(count(lit(1)).as("__nc")), Seq("__idc"))
      .where(col("__ninter").cast("double") /
        (col("__np") + col("__nc") - col("__ninter")) >= threshold)
      .select(col("__idp").as(idCol)).distinct()
  }

  /** Asymmetric near-dup probe — "dedupe the new crawl slice against
    * the existing training corpus" (the batch twin of the streaming
    * `nearDupIngest` contract, at MinHash/Jaccard precision instead of
    * SimHash): returns the distinct `probe` ids whose shingle-set
    * Jaccard against ANY corpus document reaches `threshold`.
    * Duplicates WITHIN the probe side are deliberately NOT flagged —
    * run [[nearDupPairsMinHash]] on the slice for that half.
    *
    * Same shuffle budget as the symmetric operator: slim
    * (id, band, bucket) rows band-join across the two sides only,
    * shingle arrays cross exactly two payload re-joins, Jaccard runs
    * once per distinct cross pair, hot buckets pruned on both sides. */
  def nearDupProbeMinHash(probe: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleWidth: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    def prep(df: DataFrame, side: String): (DataFrame, DataFrame) = {
      val sh = shingles(col(textCol), shingleWidth)
      val base = df.select(col(idCol).as(s"id$side"), sh.as(s"__sh$side"))
        .filter(size(col(s"__sh$side")) > 0)
      val slim = base
        .withColumn("__sig", minhashSignature(col(s"__sh$side"), numHashes))
        .select(col(s"id$side"),
          posexplode(minhashBands(col("__sig"), bands, rowsPerBand))
            .as(Seq("__band", "__bh")))
      (base, pruneHotBuckets(slim, Seq("__band", "__bh"), maxBucketSize))
    }
    val (pBase, pSlim) = prep(probe, "P")
    val (cBase, cSlim) = prep(corpus, "C")
    pSlim.join(cSlim, Seq("__band", "__bh"))
      .select("idP", "idC").distinct()
      .join(pBase, Seq("idP"))
      .join(cBase, Seq("idC"))
      .filter(jaccard(col("__shP"), col("__shC")) >= threshold)
      .select(col("idP").as(idCol)).distinct()
  }

  /** The filtered slice: `newDocs` rows that do NOT near-duplicate any
    * corpus document (anti-join on the [[nearDupProbeMinHash]] flags). */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleWidth: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.7,
      maxBucketSize: Int = 1000): DataFrame = {
    val flagged = nearDupProbeMinHash(newDocs, corpus, idCol, textCol,
      shingleWidth, numHashes, bands, threshold, maxBucketSize)
    newDocs.join(flagged, Seq(idCol), "left_anti")
  }

  /** Prune buckets larger than `max` BEFORE a self-join, using a SLIM
    * count: bucket sizes come from a projection of the key columns
    * only (column pruning keeps heavy payload columns out of that
    * shuffle), then an equi-join filters the full rows. A count-window
    * over the payload-carrying frame would shuffle the heavy columns
    * an extra full pass. */
  private def pruneHotBuckets(df: DataFrame, keys: Seq[String],
      max: Int): DataFrame = {
    val keep = df.groupBy(keys.map(col): _*).count()
      .filter(col("count") <= max).drop("count")
    df.join(keep, keys)
  }

  /** Connected components over an undirected edge list, via alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14 — public algorithm).
    * Returns (id, component) for every node that appears in an edge,
    * with component = the minimum id in the node's component.
    *
    * Scale shape: each round is two hash shuffles (neighborhood min +
    * re-key), edge count never grows beyond 2×input, convergence in
    * O(log n) rounds — no driver-side graph, no collect of edges.
    * Lineage is truncated per round via localCheckpoint so the plan
    * doesn't deepen exponentially. Ids may be any orderable type. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 20): DataFrame = {
    var e = edges
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .lineageCut()

    // one star round: point (a filtered side of) each neighborhood at
    // its minimum. large keeps neighbors > u, small keeps neighbors < u
    // plus the center itself.
    def round(edgesIn: DataFrame, large: Boolean): DataFrame = {
      val nbrs = edgesIn.union(
        edgesIn.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val rekeyed =
        if (large)
          nbrs.filter(col("v") > col("u")).join(mins, "u")
            .select(col("v").as("u"), col("m").as("v"))
        else
          nbrs.filter(col("v") < col("u")).join(mins, "u")
            .select(col("v").as("u"), col("m").as("v"))
            .union(mins.select(col("u"), col("m").as("v")))
      rekeyed.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    }

    // converged when the canonical edge set is a stable star forest:
    // detected via a (count, xor-of-hashes) signature — one light job
    // per round; xor is order-independent and cannot overflow
    def signature(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(e)
    var it = 0
    var converged = false
    while (it < maxRounds && !converged) {
      val next = round(round(e, large = true), large = false)
        .lineageCut()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      e = next
      it += 1
    }
    // returning from a non-star state would emit CONFLICTING component
    // labels for the same node — fail loud instead (star contraction
    // converges in O(log n) rounds, so maxRounds=20 covers ~2^20-round
    // pathologies already; raise it rather than trusting bad labels)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds; " +
        "raise maxRounds")
    // stable state: every edge is (root, member) with root = min id
    e.select(col("v").as("id"), col("u").as("component"))
      .union(e.select(col("u").as("id"), col("u").as("component")))
      .distinct()
  }

  /** Drop policy for near-dup dedup given the verified pair graph.
    *
    *  - [[NearDupPolicy.IndependentSet]] (default): greedy-by-id
    *    maximal independent set — a row is dropped ONLY when a KEPT
    *    smaller id is its verified near-duplicate. Chain A~B~C with
    *    A≁C keeps A and C (B is a dup of kept A; C's only near-dup B
    *    was dropped, and C is NOT a near-dup of A). Maximal data
    *    retention: never drops a row that isn't a true near-dup of a
    *    kept row.
    *  - [[NearDupPolicy.ComponentRep]]: one representative (minimum
    *    id) per connected component of the pair graph — the stricter
    *    cluster-collapse policy; the same chain keeps only A.
    */
  sealed trait NearDupPolicy
  object NearDupPolicy {
    case object IndependentSet extends NearDupPolicy
    case object ComponentRep extends NearDupPolicy
  }

  /** Drop near-duplicates of `df` given verified (idA, idB) pairs
    * (idA < idB) under the chosen [[NearDupPolicy]]. */
  def dedupByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
      policy: NearDupPolicy = NearDupPolicy.IndependentSet): DataFrame = {
    val doomed = (policy match {
      case NearDupPolicy.IndependentSet => misDropped(pairs)
      case NearDupPolicy.ComponentRep =>
        connectedComponents(pairs, "idA", "idB")
          .filter(col("id") =!= col("component")).select(col("id"))
    }).select(col("id").as(idCol)).distinct()
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** QUALITY-AWARE near-dup canonicalization: per duplicate cluster
    * (a component of the `(id, component)` labels
    * [[connectedComponents]] emits), keep the row with the HIGHEST
    * `scoreCol` (ties → smallest id), drop the rest; rows in no pair
    * pass through untouched. This is the curation-pipeline refinement
    * of [[dedupByPairs]]'s id-based policies: when a crawl carries
    * five near-identical copies of a page, keep the one the quality
    * model likes best (longest clean text, best LM score), not the one
    * with the smallest crawl id.
    *
    * Null scores rank WORST (a component whose members are all
    * unscored still keeps exactly one representative — the smallest
    * id; dropping a whole cluster because the scorer skipped it would
    * silently delete unique data). The winner argmax is a `min_by`
    * over (−score, id) — no window, same shape as the first-wins
    * aggregate; components come from the large-star/small-star
    * operator, so the whole path is keyed joins + aggregates. */
  def keepBestByComponentFrom(df: DataFrame, idCol: String,
      scoreCol: String, components: DataFrame): DataFrame = {
    val comps = components
      .select(col("id").as(idCol), col("component"))
    val scored = comps.join(df.select(col(idCol), col(scoreCol)),
      Seq(idCol))
    val winners = scored.groupBy("component")
      .agg(min_by(col(idCol),
        struct(coalesce(lit(0.0) - col(scoreCol),
          lit(Double.MaxValue)).as("ns"), col(idCol))).as(idCol))
      .select(idCol)
    val losers = comps.select(idCol)
      .join(winners, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** `df` without its MinHash near-duplicates: the pairs of
    * [[nearDupPairsMinHash]] (its default `maxBucketSize`), dropped under
    * `policy` as [[dedupByPairs]] drops them.
    *
    * Scale: two sides of one gate, [[LocalFit.collect]] of `(id, text)`
    * under [[LocalFit.sampleBudgetBytes]].
    *  - Under the budget the collect is the only job before the result's
    *    own narrow filter: shingles, signatures, band hashes (Spark's
    *    `Murmur3Hash`, evaluated directly), the hot-bucket prune, the
    *    set-semantics Jaccard and the drop policy all run on the driver
    *    with the Spark side's kernels ([[localNearDupDropped]]), and the
    *    result is `df` filtered by the dropped ids.
    *  - Over it (the gate's collect rejects the frame before its rows
    *    reach the driver), the pairs are the distributed bucketed
    *    self-join and the drop is [[dedupByPairs]]' anti-join.
    * Both sides keep the same rows, with the id column first. */
  def dedupNearMinHash(df: DataFrame, idCol: String, textCol: String,
      shingleWidth: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7,
      policy: NearDupPolicy = NearDupPolicy.IndependentSet): DataFrame =
    dedupNearMinHashWithin(df, idCol, textCol, shingleWidth, numHashes,
      bands, threshold, policy, LocalFit.sampleBudgetBytes)

  /** [[dedupNearMinHash]] with the gate's budget as a parameter.
    *
    * @param budgetBytes package-visible so specs can force either side
    *                    of the gate; not a user option */
  private[operators] def dedupNearMinHashWithin(df: DataFrame, idCol: String,
      textCol: String, shingleWidth: Int, numHashes: Int, bands: Int,
      threshold: Double, policy: NearDupPolicy,
      budgetBytes: Long): DataFrame = {
    require(bands * (numHashes / bands) == numHashes,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    require(numHashes >= 1, "numHashes must be >= 1")
    val local =
      if (df.schema(textCol).dataType != StringType) None // Spark names it
      else LocalFit.collect(df, Seq(idCol, textCol), budgetBytes, None)
    local match {
      case Some((rows, _, _)) =>
        val dropped = localNearDupDropped(rows, df.schema(idCol).dataType,
          shingleWidth, numHashes, bands, threshold, policy)
        val kept =
          if (dropped.isEmpty) df
          else df.filter(col(idCol).isNull || !col(idCol).isInCollection(dropped))
        kept.select((col(idCol) +: df.columns.filter(_ != idCol).map(col)): _*)
      case None =>
        val pairs = nearDupPairsMinHash(df, idCol, textCol, shingleWidth,
          numHashes, bands, threshold)
        dedupByPairs(df, idCol, pairs, policy)
    }
  }

  /** The ids [[dedupNearMinHash]] drops, decided on the driver over
    * collected `(id, text)` rows by the same rules as the distributed
    * pair pipeline: the [[TextOps.wordShingles]] / [[TextOps.minhashSig]]
    * kernels, one `hash(slice(sig, ...))` band key per band, buckets of
    * more than [[MaxBucketSize]] rows pruned (rows with a null id count,
    * but never pair), pairs verified by set-semantics Jaccard over any
    * two rows of their ids, then [[localMisDropped]] or a min-id
    * union-find for [[NearDupPolicy.ComponentRep]]. Ids are grouped and
    * ordered by Spark's ordering of `idType`. */
  private def localNearDupDropped(rows: Array[Row], idType: DataType,
      shingleWidth: Int, numHashes: Int, bands: Int, threshold: Double,
      policy: NearDupPolicy): Seq[Any] = {
    val rowsPerBand = numHashes / bands
    // per row: its distinct shingles and band keys (null: no shingles)
    val sets = new Array[java.util.HashSet[UTF8String]](rows.length)
    val keys = new Array[Array[Int]](rows.length)
    // `hash(slice(sig, ...))`: Spark's hash, seed 42, interpreted
    val band = Murmur3Hash(Seq(BoundReference(0,
      ArrayType(IntegerType, containsNull = false), nullable = false)), 42)
    IntStream.range(0, rows.length).parallel().forEach { i =>
      val text = rows(i).getString(1)
      val sh = if (text == null) null
        else TextOps.wordShingles(UTF8String.fromString(text), shingleWidth)
      if (sh != null && sh.numElements > 0) {
        val sig = TextOps.minhashSig(sh, numHashes).toIntArray
        keys(i) = Array.tabulate(bands)(b => band.eval(InternalRow(
          UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(
            sig, b * rowsPerBand, (b + 1) * rowsPerBand))))
          .asInstanceOf[Int])
        val set = new java.util.HashSet[UTF8String]()
        (0 until sh.numElements).foreach(j => set.add(sh.getUTF8String(j)))
        sets(i) = set
      }
    }
    // nodes: distinct non-null ids of rows with shingles, numbered in
    // id order, so a pair's smaller id is its smaller node
    val toKey = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = TypeUtils.getInterpretedOrdering(idType)
    val idKeys = rows.map(r => if (r.isNullAt(0)) null else toKey(r.get(0)))
    val byId = rows.indices.filter(i => keys(i) != null && idKeys(i) != null)
      .sortWith((a, b) => ord.lt(idKeys(a), idKeys(b)))
    val node = Array.fill(rows.length)(-1)
    val members = ArrayBuffer[ArrayBuffer[Int]]()
    byId.indices.foreach { j =>
      if (j == 0 || !ord.equiv(idKeys(byId(j - 1)), idKeys(byId(j))))
        members += ArrayBuffer[Int]()
      node(byId(j)) = members.length - 1
      members.last += byId(j)
    }
    val buckets = new java.util.HashMap[(Int, Int), ArrayBuffer[Int]]()
    rows.indices.filter(keys(_) != null).foreach { i =>
      (0 until bands).foreach(b => buckets.computeIfAbsent((b, keys(i)(b)),
        _ => ArrayBuffer[Int]()) += i)
    }
    val candidates = scala.collection.mutable.HashSet[(Int, Int)]()
    buckets.values.forEach { bucket =>
      if (bucket.length <= MaxBucketSize) {
        val ns = bucket.map(node).filter(_ >= 0).distinct.sorted
        for (a <- ns.indices; b <- a + 1 until ns.length)
          candidates += ((ns(a), ns(b)))
      }
    }
    def jaccard(a: java.util.HashSet[UTF8String],
        b: java.util.HashSet[UTF8String]): Double = {
      val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
      var inter = 0
      small.forEach(x => if (large.contains(x)) inter += 1)
      inter.toDouble / (a.size + b.size - inter).toDouble
    }
    val edges = candidates.toArray.filter { case (u, v) =>
      members(u).exists(i => members(v).exists(j =>
        jaccard(sets(i), sets(j)) >= threshold))
    }.sorted
    val dropped: Iterable[Int] = policy match {
      case NearDupPolicy.IndependentSet =>
        localMisDropped(edges.map { case (u, v) => (u: Any, v: Any) }, 50)
          .map(_.asInstanceOf[Int])
      case NearDupPolicy.ComponentRep =>
        val parent = Array.tabulate(members.length)(identity)
        def find(n: Int): Int = {
          var r = n
          while (parent(r) != r) r = parent(r)
          parent(n) = r
          r
        }
        for ((u, v) <- edges) {
          val (ru, rv) = (find(u), find(v))
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
        edges.iterator.flatMap { case (u, v) => Iterator(u, v) }.toSet
          .filter(n => find(n) != n)
    }
    dropped.map(n => rows(members(n).head).get(0)).toSeq
  }

  /** Pair-list size up to which [[misDropped]] decides in-process. */
  private[operators] val LocalPairBound = 1000000

  /** Dropped ids under the greedy-by-id maximal-independent-set rule,
    * computed by synchronous status rounds along smaller→larger edges:
    * a node is KEPT when every smaller near-dup neighbor is DROPPED
    * (vacuously, when it has none), DROPPED when any smaller neighbor is
    * KEPT. Each round decides at least the next layer of every
    * dependency chain; rounds needed = longest id-increasing path
    * (short in real near-dup graphs — components are bucket-bounded).
    * Nodes still undecided after `maxRounds` default to KEPT
    * (conservative: never drops unique data). Generic over any
    * orderable id type.
    *
    * Scale shape: the distinct pair list is cached and collected ONCE
    * (one job, capped at `localBound` + 1 rows). When it fits
    * `localBound`, the rounds run in-process ([[localMisDropped]]);
    * above it — pair lists grow with the data — the same rounds run
    * distributed, as keyed joins and aggregates with a lineage cut and
    * a count job per round. The cut reads the cached pairs, so the pair
    * pipeline runs once on either side; the above-bound side also pays
    * the `localBound` + 1 rows the collect brought to the driver.
    * Either way the dropped ids come back as an RDD-backed frame, so
    * [[dedupByPairs]]' anti-join stays a shuffled join, not a broadcast
    * of a small local relation.
    *
    * @param localBound package-visible so specs can force the
    *                   distributed side; not a user option */
  private[operators] def misDropped(pairs: DataFrame, maxRounds: Int = 50,
      localBound: Int = LocalPairBound): DataFrame = {
    val e = pairs.select(col("idA").as("u"), col("idB").as("v")).distinct()
      .persist()
    val local = e.limit(localBound + 1).collect()
    if (local.length > localBound) {
      // the rounds' eager lineage cut reads the partitions cached so far
      try distributedMisDropped(e, maxRounds) finally e.unpersist()
    } else {
      e.unpersist()
      val spark = pairs.sparkSession
      val dropped = localMisDropped(
        local.map(r => (r.get(0), r.get(1))), maxRounds)
      spark.createDataFrame(
        spark.sparkContext.parallelize(dropped.map(Row(_)).toSeq, 1),
        StructType(Seq(e.schema("u").copy(name = "id"))))
    }
  }

  /** The synchronous status rounds of [[misDropped]] over an in-memory
    * edge list (u < v): returns the dropped ids. */
  private def localMisDropped(edges: Array[(Any, Any)],
      maxRounds: Int): Array[Any] = {
    // binary ids compare by content, not by array identity
    def key(id: Any): Any = id match {
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
      case other => other
    }
    val index = scala.collection.mutable.HashMap[Any, Int]()
    val ids = scala.collection.mutable.ArrayBuffer[Any]()
    def node(id: Any): Int =
      index.getOrElseUpdate(key(id), { ids += id; ids.length - 1 })
    val es = edges.map { case (u, v) => (node(u), node(v)) }
    // incoming (smaller) neighbors per node; a node with none is a root
    val smaller = Array.fill(ids.length)(
      scala.collection.mutable.ArrayBuffer[Int]())
    for ((u, v) <- es) smaller(v) += u
    // 1 kept / 0 dropped / -1 undecided; roots are immediately kept
    var st = smaller.map(in => if (in.isEmpty) 1 else -1)
    var undecided = st.count(_ == -1)
    var it = 0
    while (undecided > 0 && it < maxRounds) {
      val cur = st
      st = Array.tabulate(cur.length) { n =>
        if (cur(n) != -1) cur(n)
        else if (smaller(n).exists(cur(_) == 1)) 0
        else if (smaller(n).forall(cur(_) != -1)) 1
        else -1
      }
      undecided = st.count(_ == -1)
      it += 1
    }
    ids.indices.filter(st(_) == 0).map(ids).toArray
  }

  /** [[misDropped]]'s rounds as keyed joins and aggregates over a
    * distributed edge frame (u, v) — the path above the local bound. */
  private def distributedMisDropped(edges: DataFrame,
      maxRounds: Int): DataFrame = {
    val e = edges.lineageCut()
    val targets = e.select(col("v").as("id")).distinct()
    val nodes = e.select(col("u").as("id")).union(targets.select(col("id")))
      .distinct()
    // st: 1 kept / 0 dropped / null undecided; roots (no smaller
    // neighbor) are immediately kept
    var status = nodes
      .join(targets, Seq("id"), "left_anti")
      .withColumn("st", lit(1))
      .unionByName(nodes.join(targets, Seq("id"), "left_semi")
        .withColumn("st", lit(null).cast("int")))
      .lineageCut()
    var undecided = status.filter(col("st").isNull).count()
    var it = 0
    while (undecided > 0 && it < maxRounds) {
      val inc = e.join(
        status.select(col("id").as("u"), col("st").as("__ust")), Seq("u"))
      val verdicts = inc.groupBy(col("v").as("id")).agg(
        max(when(col("__ust") === 1, 1).otherwise(0)).as("__anyKept"),
        min(when(col("__ust").isNull, 0).otherwise(1)).as("__allDecided"))
      status = status.join(verdicts, Seq("id"), "left")
        .select(col("id"),
          when(col("st").isNotNull, col("st"))
            .when(col("__anyKept") === 1, lit(0))
            .when(col("__allDecided") === 1, lit(1))
            .otherwise(lit(null).cast("int")).as("st"))
        .lineageCut()
      undecided = status.filter(col("st").isNull).count()
      it += 1
    }
    status.filter(col("st") === 0).select("id")
  }

  /** SimHash near-dup candidate pairs: 64-bit signatures bucketed into
    * `bands` equal bit-slices — by pigeonhole, any pair within hamming
    * ≤ bands-1 collides in ≥1 band, so completeness is guaranteed for
    * `maxHamming ≤ bands-1` (enforced). More bands = wider guaranteed
    * radius but coarser (hotter) buckets; the bucket-size cap then
    * bounds the blowup at the cost of recall on pruned buckets.
    * Verified by exact hamming distance, once per distinct pair. */
  def nearDupPairsSimHash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      bands: Int = 4): DataFrame = {
    require(Set(2, 4, 8, 16).contains(bands), "bands must divide 64: 2/4/8/16")
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming=$maxHamming exceeds the guaranteed radius of " +
        s"$bands bands (${bands - 1}); raise `bands` for a wider radius")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    val base = df.select(col(idCol), simhash64(col(textCol)).as("__sig"))
    val slim = base.select(col(idCol),
      posexplode(array((0 until bands).map(q =>
        shiftright(col("__sig"), q * bits).bitwiseAND(lit(mask))): _*))
        .as(Seq("__q", "__qv")))
    val pairs = candidatePairs(slim, idCol, Seq("__q", "__qv"),
      maxBucketSize)
    attachPayload(pairs, base, idCol, "__sig")
      .select(col("idA"), col("idB"),
        hamming64(col("__sigA"), col("__sigB")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash signatures of a text column — the compact (8-byte)
    * state kept by incremental/streaming dedup. */
  def simhashSignatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol), simhash64(col(textCol)).as("sig"))

  /** Distinct ids of `probeSigs` rows whose signature is within
    * `maxHamming` of ANY `corpusSigs` row — the asymmetric
    * (new-batch-vs-accepted-set) form of [[nearDupPairsSimHash]], for
    * incremental pipelines where the corpus side is pre-signed state.
    * The 8-byte signature rides the band rows directly (unlike the
    * heavy-payload variants, re-joining by id would cost more than the
    * ×bands duplication saves); both sides hot-bucket pruned. */
  def nearDupProbeSimHash(probeSigs: DataFrame, corpusSigs: DataFrame,
      idCol: String, sigCol: String = "sig", maxHamming: Int = 3,
      bands: Int = 4, maxBucketSize: Int = 1000): DataFrame = {
    require(Set(2, 4, 8, 16).contains(bands), "bands must divide 64: 2/4/8/16")
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming=$maxHamming exceeds the guaranteed radius of $bands bands")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1L
    def slim(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"id$side"), col(sigCol).as(s"sig$side"))
        .select(col(s"id$side"), col(s"sig$side"),
          posexplode(array((0 until bands).map(q =>
            shiftright(col(s"sig$side"), q * bits).bitwiseAND(lit(mask))): _*))
            .as(Seq("__q", "__qv")))
    val p = pruneHotBuckets(slim(probeSigs, "P"), Seq("__q", "__qv"),
      maxBucketSize)
    val c = pruneHotBuckets(slim(corpusSigs, "C"), Seq("__q", "__qv"),
      maxBucketSize)
    p.join(c, Seq("__q", "__qv"))
      .filter(hamming64(col("sigP"), col("sigC")) <= maxHamming)
      .select(col("idP").as(idCol)).distinct()
  }

  /** Repeated-substring duplicate-span statistics — the distributed
    * stand-in for Lee et al.'s ExactSubstr suffix-array dedup
    * ("Deduplicating Training Data Makes Language Models Better"):
    * every position's k-char gram is counted across the corpus;
    * positions whose gram occurs ≥ `minCount` times ANYWHERE
    * (including within the same document, so self-repetition counts)
    * are duplicated; runs of duplicated positions whose windows touch
    * (gap ≤ k) merge into maximal spans.
    *
    * Scale shape: a suffix array costs O(8 bytes/position); this is
    * the same budget distributed. With `hashGrams=true` each position
    * ships an 8-byte xxhash64 token instead of the k-char string, so
    * the count pass shuffles positions × 8 B with map-side partial
    * aggregation, and the join-back side is SLIM — only the
    * duplicated gram hashes (post-HAVING), which AQE broadcasts when
    * small. The gram frame is consumed twice (count pass, then the
    * join-back) and deliberately NOT persisted: re-deriving positions
    * from the columnar scan is a cheap narrow map, while caching
    * positions × 8 B at the target scale would spill to executor
    * disks and serialize the second pass behind the first — callers
    * that score the same frame repeatedly can persist the INPUT.
    * Span merge is a window partitioned by document: state is
    * bounded by document length, never corpus-sized. xxhash64
    * false-positive odds ≈ positions²/2⁶⁵; the literal-gram variant
    * (`hashGrams=false`, k× byte cost) is the engine-portable oracle
    * twin and the unit suite pins both variants equal on the corpus.
    *
    * Returns one row per document with ≥ 1 gram position:
    * `(idCol, n_pos, n_dup, n_spans, dup_chars, longest_span,
    * dup_ratio)` — exact integers plus one fixed double division
    * (bit-stable across engines). */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minCount: Long = 2,
      hashGrams: Boolean = true): DataFrame = {
    require(k >= 2, "gram length k must be at least 2")
    val base = df.select(col(idCol), col(textCol).as("__t"))
      .filter(length(col("__t")) >= k)
    val gram = expr(
      s"transform(sequence(1, length(__t) - ${k - 1}), i -> substring(__t, i, $k))")
    val grams = base
      .select(col(idCol), posexplode(gram).as(Seq("__p0", "__gram")))
      .select(col(idCol), (col("__p0") + 1).as("pos"),
        (if (hashGrams) xxhash64(col("__gram")) else col("__gram")).as("__g"))
    val dupGrams = grams.groupBy("__g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount).select("__g")
    val dupPos = grams.join(dupGrams, Seq("__g")).select(col(idCol), col("pos"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    val islands = dupPos
      .withColumn("__new",
        when(col("pos") - lag("pos", 1).over(w) > k, 1).otherwise(0))
      .withColumn("__isl", sum("__new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val spans = islands.groupBy(col(idCol), col("__isl"))
      .agg(min("pos").as("__s"), (max(col("pos")) + (k - 1)).as("__e"),
        count(lit(1)).as("__nd"))
    val perDoc = spans.groupBy(idCol)
      .agg(sum("__nd").cast("long").as("n_dup"),
        count(lit(1)).cast("long").as("n_spans"),
        sum(col("__e") - col("__s") + 1).cast("long").as("dup_chars"),
        max(col("__e") - col("__s") + 1).cast("long").as("longest_span"))
    base.select(col(idCol),
        (length(col("__t")) - (k - 1)).cast("long").as("n_pos"))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_dup", "n_spans", "dup_chars", "longest_span"))
      .withColumn("dup_ratio",
        col("n_dup").cast("double") / col("n_pos").cast("double"))
  }

  /** Benchmark decontamination (the GPT-3 appendix-C / Dodge et al.
    * C4 analysis contract: flag training documents sharing long
    * n-grams with an evaluation set): for each corpus document, the
    * fraction of its k-char-gram positions that occur ANYWHERE in
    * `benchmark`'s text. Flag or drop above a threshold downstream.
    *
    * Scale shape: the benchmark side reduces to DISTINCT grams —
    * eval-set-sized, orders of magnitude smaller than the corpus — and
    * is explicitly broadcast, so the corpus side is one narrow
    * explode + broadcast-hash semi-probe + per-doc count: NO corpus
    * shuffle at all beyond the per-doc aggregation of (id, hit)
    * counts. `hashGrams` ships 8-byte xxhash64 tokens exactly as
    * [[dupSpanStats]]. Returns (idCol, n_pos, n_contaminated,
    * contamination_ratio) for every doc with ≥ 1 gram position. */
  def benchmarkOverlap(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int = 20,
      hashGrams: Boolean = true): DataFrame = {
    require(k >= 2, "gram length k must be at least 2")
    def grams(df: DataFrame, cols: Column*): DataFrame = df
      .select(col(textCol).as("__t") +: cols: _*)
      .filter(length(col("__t")) >= k)
      .select(explode(expr(
        s"transform(sequence(1, length(__t) - ${k - 1}), i -> substring(__t, i, $k))"))
        .as("__gram") +: cols: _*)
      .withColumn("__g",
        if (hashGrams) xxhash64(col("__gram")) else col("__gram"))
      .drop("__gram")
    val benchGrams = grams(benchmark).select("__g").distinct()
    val hits = grams(corpus, col(idCol))
      .join(broadcast(benchGrams), Seq("__g"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).cast("long").as("n_contaminated"))
    corpus.select(col(idCol),
        (length(col(textCol)) - (k - 1)).cast("long").as("n_pos"))
      .filter(col("n_pos") >= 1)
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("contamination_ratio",
        col("n_contaminated").cast("double") / col("n_pos").cast("double"))
  }

  /** Embedding near-dup candidate pairs: random-hyperplane LSH with
    * BAND AMPLIFICATION — `numTables` independent hash tables of
    * `planesPerTable` sign bits each; a pair is a candidate if it
    * collides in ANY table, then verified by exact cosine ≥ threshold,
    * once per distinct pair (vectors cross the shuffle only in the two
    * payload re-joins, not ×tables). One 12-bit code alone keeps only
    * ~(1-θ/π)^12 ≈ 28% of threshold-0.95 pairs; 4×8-bit tables keep
    * ≈ 89%. Deterministic planes from `seed`. */
  /** The deterministic hyperplane set [[nearDupPairsCosine]] hashes
    * with: numTables × planesPerTable × dim Gaussian floats drawn from
    * ONE java.util.Random(seed) stream (table-major, then plane-major,
    * then dim) — public so oracle twins can embed the exact plane
    * values as literals and replay the bucketing cross-engine. */
  def srpPlanes(dim: Int, numTables: Int, planesPerTable: Int,
      seed: Long): Array[Array[Array[Float]]] = {
    require(dim >= 1 && numTables >= 1 && planesPerTable >= 1,
      "need dim, tables, planes >= 1")
    val rnd = new Random(seed)
    Array.fill(numTables)(Array.fill(planesPerTable)(
      Array.fill(dim)(rnd.nextGaussian().toFloat)))
  }

  def nearDupPairsCosine(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, numTables: Int = 4,
      planesPerTable: Int = 8, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numTables >= 1 && planesPerTable >= 1 && planesPerTable <= 30,
      "need 1..30 planes per table and >= 1 table")
    val codes = srpPlanes(dim, numTables, planesPerTable, seed).toSeq
      .map { planes =>
      planes.zipWithIndex.map { case (p, i) =>
        when(vec_dot(col(vecCol), typedLit(p.toSeq)) > 0, lit(1 << i))
          .otherwise(lit(0))
      }.reduce(_ + _)
    }
    val base = df.select(col(idCol), col(vecCol).as("__v"))
    val slim = df.select(col(idCol),
      posexplode(array(codes: _*)).as(Seq("__table", "__bucket")))
    val pairs = candidatePairs(slim, idCol, Seq("__table", "__bucket"),
      maxBucketSize)
    attachPayload(pairs, base, idCol, "__v")
      .select(col("idA"), col("idB"),
        cosine_sim(col("__vA"), col("__vB")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-partition the embedding space (reusing
    * the IVF Lloyd's fit) and verify exact cosine similarity ONLY
    * within each cluster — the quadratic pair cost is confined to
    * cells (corpus/nClusters each, hot cells pruned), which is the
    * paper's trick for running semantic dedup on web scale.
    *
    * Versus [[nearDupPairsCosine]] (hyperplane LSH): clustering gives
    * better candidate quality on naturally-clustered embeddings but
    * MISSES pairs the clustering splits across a cell boundary — the
    * paper accepts exactly this recall trade. Identical and
    * near-identical vectors co-locate by construction (nearest
    * centroid is deterministic), so true duplicates always meet.
    *
    * Scale shape: Lloyd's fit is the IVF build (sampleable); cell
    * assignment is one codegen'd kernel map; candidate generation
    * shuffles only (id, cell); vectors re-join by id exactly twice;
    * cosine runs once per distinct pair. Returns (idA, idB, cosine),
    * idA < idB.
    *
    * Sizing `nClusters`: in-cell pair volume is Θ(n²/nClusters), so a
    * FIXED cluster count turns a 10× corpus into ~100× verify work
    * (measured: sf0.1→sf1 took `semantic_dedup_fixed` 0.7 s→18.7 s at
    * pinned k). At corpus scale set nClusters ∝ √n (e.g. √n rows ⇒
    * expected cell size √n ⇒ total pair volume Θ(n·√n)… and with
    * nClusters = n/targetCellSize the volume is Θ(n·targetCellSize),
    * fully linear). The gate queries pin k only because the DuckDB
    * twin must replay the exact centroids. */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double = 0.95, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxCellSize: Int = 10000): DataFrame = {
    val assigned = IvfIndex.build(df.select(col(idCol), col(vecCol)),
      vecCol, idCol, nClusters, seed = seed,
      sampleFraction = sampleFraction).assigned
    inCellCosinePairs(df, assigned, idCol, vecCol, threshold, maxCellSize)
  }

  /** [[semanticDedupPairs]] with a caller-provided centroid matrix —
    * the offline-fit / online-dedup split that is the actual shape at
    * corpus scale: Lloyd's runs ONCE on a sample (or an existing IVF
    * index's centroids are reused), and each incoming slice pays only
    * the narrow assignment kernel + in-cell verification. Also makes
    * the whole selection float-deterministic (no training), so it is
    * oracle-checkable end to end. */
  def semanticDedupPairsWithCentroids(df: DataFrame, idCol: String,
      vecCol: String, centroids: Array[Array[Float]],
      threshold: Double = 0.95, maxCellSize: Int = 10000): DataFrame = {
    val assigned = IvfIndex.assignCells(
      df.select(col(idCol), col(vecCol)), vecCol, centroids)
    inCellCosinePairs(df, assigned, idCol, vecCol, threshold, maxCellSize)
  }

  private def inCellCosinePairs(df: DataFrame, assigned: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      maxCellSize: Int): DataFrame = {
    val base = df.select(col(idCol), col(vecCol).as("__v"))
    val slim = assigned.select(col(idCol), col(IvfIndex.ClusterCol))
    val pairs = candidatePairs(slim, idCol, Seq(IvfIndex.ClusterCol),
      maxCellSize)
    attachPayload(pairs, base, idCol, "__v")
      .select(col("idA"), col("idB"),
        cosine_sim(col("__vA"), col("__vB")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Drop semantic near-duplicates, keeping one representative per
    * duplicate group under `policy` (the deterministic lowest-id
    * representative — the paper keeps a centroid-distance-ranked one;
    * which member survives is a policy choice, the dedup set is the
    * same). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, threshold: Double = 0.95,
      policy: NearDupPolicy = NearDupPolicy.IndependentSet,
      seed: Long = 42L): DataFrame =
    dedupByPairs(df, idCol,
      semanticDedupPairs(df, idCol, vecCol, nClusters, threshold, seed),
      policy)

  /** EXACT-substring duplicate-span REMOVAL — the rewrite companion of
    * [[dupSpanStats]] (which only scores): Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * ExactSubstr) drop every k-word-gram occurrence whose identical
    * gram appears EARLIER in the corpus under the global (doc, pos)
    * order, then cut the covered word positions out of each document.
    * Word granularity (not [[dupSpanStats]]'s char grams) so the
    * rewrite re-joins on clean token boundaries — the form a training
    * pipeline actually feeds back into the corpus.
    *
    * Rule: an occurrence (doc, pos) of gram g is a duplicate iff g
    * occurs ≥ `minCount` times corpus-wide AND (doc, pos) is not g's
    * first occurrence under (doc asc, pos asc). All word positions
    * covered by any duplicate occurrence are removed; survivors
    * re-join with single spaces. Overlapping duplicate grams merge
    * naturally through the position-set union. Deterministic — no
    * sampling, no hashing.
    *
    * Scale shape: the gram `groupBy` is the only corpus-wide shuffle
    * and carries (gram, enc) with map-side partial `min`/`count`; the
    * join-back side is SLIM — only grams that actually duplicate
    * (post-HAVING), which AQE broadcasts when small. Covered-position
    * explode is k× the DUPLICATE positions only, and the anti-join is
    * co-partitioned on (id, pos). Per-doc reassembly state (the
    * collect_list) is bounded by document length, never corpus-sized.
    * The (doc, pos) order is encoded as one long `id·2²⁰ + pos`, so
    * the global first-occurrence argmin is a plain `min` — documents
    * are contractually < 2²⁰ words (a 1M-word "document" is a
    * pipeline bug upstream of dedup).
    *
    * Returns one row per input doc:
    * (idCol, clean_text, n_words, n_removed). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minCount: Long = 2): DataFrame = {
    require(k >= 2, "gram length k must be at least 2")
    require(minCount >= 2, "minCount < 2 would mark every gram duplicate")
    val words = df.select(col(idCol), split(col(textCol), " ").as("__ws"))
    val grams = words.filter(size(col("__ws")) >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__ws) - $k)," +
          s" i -> array_join(slice(__ws, i + 1, $k), ' '))"))
        .as(Seq("__p", "__g")))
      .withColumn("__enc",
        col(idCol).cast("long") * lit(1L << 20) + col("__p"))
    val dupFirsts = grams.groupBy("__g")
      .agg(min("__enc").as("__first"), count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select("__g", "__first")
    val covered = grams.join(dupFirsts, Seq("__g"))
      .filter(col("__enc") =!= col("__first"))
      .select(col(idCol).as("__cid"),
        explode(sequence(col("__p"), col("__p") + lit(k - 1))).as("__cp"))
      .distinct()
    val pos = words.select(col(idCol),
      posexplode(col("__ws")).as(Seq("__wp", "__w")))
    val kept = pos.join(covered,
      col(idCol) === col("__cid") && col("__wp") === col("__cp"),
      "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("__nkept"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(__wp, __w))), x -> x.__w), ' ')")
          .as("clean_text"))
    words.select(col(idCol), size(col("__ws")).cast("long").as("n_words"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_words"),
        (col("n_words") - coalesce(col("__nkept"), lit(0L)))
          .as("n_removed"))
  }

  /** Edit-distance verification of candidate pairs — the
    * character-level verifier a crawl pipeline runs where Jaccard's
    * bag-of-shingles view is too coarse (template pages differing by
    * one injected phrase, OCR noise): `levenshtein(textA, textB) <=
    * maxDist` on an (idA, idB) candidate frame, texts joined back by
    * id so the DP runs ONCE per distinct pair.
    *
    * The kernel is Spark's THRESHOLDED levenshtein (3-arg form,
    * banded DP: O(maxDist·min(|a|,|b|)) and early-exit, vs O(|a|·|b|)
    * unthresholded) — at a 100 TB candidate table the threshold is
    * the difference between a cheap verify stage and a quadratic
    * string kernel. `prefixLen > 0` additionally truncates both sides
    * first (prefix edit distance — the screening variant; document
    * mutations concentrate early in crawl refetches, and a bounded
    * prefix caps per-pair cost independent of document length).
    *
    * Returns (idA, idB, edit_dist) for pairs within maxDist. */
  def verifyPairsEditDistance(pairs: DataFrame, payload: DataFrame,
      idCol: String, textCol: String, maxDist: Int,
      prefixLen: Int = 0): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val attached = attachPayload(
      pairs.select("idA", "idB"),
      payload.select(col(idCol),
        (if (prefixLen > 0) substring(col(textCol), 1, prefixLen)
         else col(textCol)).as("__vt")),
      idCol, "__vt")
    attached
      .withColumn("edit_dist", expr(s"levenshtein(__vtA, __vtB, $maxDist)"))
      .filter(col("edit_dist") >= 0)
      .select(col("idA"), col("idB"),
        col("edit_dist").cast("long").as("edit_dist"))
  }

  /** Asymmetric EXACT containment join at recall 1.0 — the
    * subset-duplicate audit Jaccard structurally misses: a short
    * document quoted whole inside a long one has
    * C(A,B) = |A∩B|/|A| = 1.0 while J(A,B) ≈ |A|/|B| sits below any
    * useful Jaccard threshold. Returns (id_a, id_b, containment) for
    * every pair with C(small, large) >= threshold, oriented id_a =
    * the SMALLER token set (ties by smaller id); containment is one
    * exact-int division |A∩B|/|A|. Input is a PRE-TOKENIZED distinct
    * (id, token) frame (see [[jaccardPairsExactFromTokens]] for why the
    * stored token frame is the corpus-scale form).
    *
    * Same SSJoin skeleton as [[jaccardPairsExactFromTokens]] with the
    * containment-specific bounds (Chaudhuri et al. ICDE'06 §4 treats
    * the asymmetric overlap constraint): the required overlap
    * ceil(t·|A|) is a function of the SMALL side only, so the prefix
    * cut applies to A (length |A| − floor(t·|A|) + 1,
    * floor-conservative like the Jaccard cut) while the large side
    * probes with its FULL ranked postings — the inverted index. Meet
    * volume is Σ_tok prefixdf(tok)·df(tok): prefix tokens are each
    * document's globally RAREST under the (df, token) total order, so
    * the full-side posting lists they touch are short. The PPJoin
    * positional filter then prunes every meet before the distinct
    * shuffle: common tokens rank ≥ this meet's rank on BOTH sides, so
    * overlap ≤ 1 + min(na−ra, nb−rb), and a qualifying pair's FIRST
    * common token always survives the (floor-conservative) bound —
    * recall stays 1.0. */
  def containmentPairsExactFromTokens(tokens: DataFrame, idCol: String,
      tokenCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1]: $threshold")
    val sh = tokens.select(col(idCol), col(tokenCol).as("__s"))
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("__n"))
    val freq = sh.groupBy("__s").agg(count(lit(1)).as("__df"))
    val ranked = sh.join(freq, "__s")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__df"), col("__s"))))
      .join(sizes, Seq(idCol))
      .select(col(idCol), col("__s"), col("__n"), col("__rn"))
    // prefix side = the contained candidate A; full side = B's whole
    // ranked posting list (rank carried for the positional filter)
    val prefA = ranked.filter(col("__rn") <=
      col("__n") - floor(lit(threshold) * col("__n")) + 1)
    val cand = prefA
      .select(col(idCol).as("id_a"), col("__s"), col("__n").as("__na"),
        col("__rn").as("__ra"))
      .join(ranked
        .select(col(idCol).as("id_b"), col("__s"), col("__n").as("__nb"),
          col("__rn").as("__rb")),
        Seq("__s"))
      .where((col("__nb") > col("__na") ||
          (col("__nb") === col("__na") && col("id_b") > col("id_a"))) &&
        lit(1) + least(col("__na") - col("__ra"), col("__nb") - col("__rb"))
          >= floor(lit(threshold) * col("__na")))
      .select("id_a", "id_b").distinct()
    val inter = cand
      .join(sh.select(col(idCol).as("id_a"), col("__s")), Seq("id_a"))
      .join(sh.select(col(idCol).as("id_b"), col("__s")), Seq("id_b", "__s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__ninter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__n").as("__na")),
        Seq("id_a"))
      .select(col("id_a"), col("id_b"),
        (col("__ninter").cast("double") / col("__na")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Survivorship merge — the "golden record" stage that closes an
    * entity-resolution pipeline (pairs → components → ONE canonical
    * row per cluster): each field's value is chosen independently as
    * the most frequent non-null value in the cluster, ties broken to
    * the SMALLEST value (a deterministic total order, so re-runs and
    * re-partitionings emit identical records). A cluster whose
    * members are all null in a field yields null. Returns
    * (clusterCol, n_members, fields...).
    *
    * Scale shape: one count aggregate per field over
    * (cluster, value) — map-side combinable, output bounded by
    * distinct values per cluster — reduced by min_by over a
    * (−count, value) struct (no window, no hot-key risk), then
    * cluster-keyed left joins onto the member-count spine; every
    * shuffle shares the cluster key, so AQE coalesces them onto one
    * exchange footprint. Fields are schema-sized — the fold
    * multiplies stages, never data. */
  def goldenRecord(df: DataFrame, clusterCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "fields must be non-empty")
    require(!fields.contains(clusterCol),
      s"clusterCol $clusterCol cannot also be a survivorship field")
    val reserved = Seq("n_members", "__cnt")
    val bad = (clusterCol +: fields).filter(reserved.contains)
    require(bad.isEmpty,
      s"column name(s) ${bad.mkString(", ")} collide with reserved " +
        s"internal/output columns $reserved — rename upstream")
    val spine = df.groupBy(clusterCol).agg(count(lit(1)).as("n_members"))
    fields.foldLeft(spine) { (acc, f) =>
      val winner = df.where(col(f).isNotNull)
        .groupBy(col(clusterCol), col(f))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(clusterCol)
        .agg(min_by(col(f),
          struct((-col("__cnt")).as("__negc"), col(f).as("__v"))).as(f))
      acc.join(winner, Seq(clusterCol), "left")
    }
  }
}
