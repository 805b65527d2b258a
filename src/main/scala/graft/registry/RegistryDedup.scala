package graft
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dedup slice of the [[SparkEntry]] registry — exact/near-duplicate detection (MinHash/SimHash/SRP/exact-Jaccard), span dedup, decontamination, corpus overlap.
  *
  * Split from the single 9.5k-line SparkEntry.scala (r16 verdict item
  * 6); every entry is VERBATIM from that file, and the shared frame /
  * SQL-snippet helpers stay on [[SparkEntry]] (imported wholesale
  * below) so registration text and oracle twins cannot drift during
  * the move. Composition happens in [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSqlRaw]]. */
private[graft] object RegistryDedup {
  import SparkEntry._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- measured artifact build (r17 verdict item 1): the md5
    // MinHash index chain (shingles → 8 signatures → LSH bands →
    // candidate self-join → exact-intersection verify) built FRESH
    // from the raw corpus on every call — the timed region IS the
    // construction the SharedFrames consumers amortize, so the bench
    // carries the build cost as its own driver-visible line. Composes
    // the SAME md5*Compute kernels the shared artifacts persist (no
    // drift); output is one stage-count row per pipeline stage.
    "md5_index_build" -> ((s, dir) => {
      val sh = md5Shingles(t(s, dir, "documents"))
      val sigs = md5SigsCompute(sh)
      val bands = md5BandsCompute(sigs)
      val cand = md5CandCompute(bands)
      val inter = md5InterCompute(cand, sh)
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).cast("long").as("n"))
          .select(lit(name).as("stage"), col("n"))
      stage("1_shingles", sh)
        .unionByName(stage("2_sigs", sigs))
        .unionByName(stage("3_bands", bands))
        .unionByName(stage("4_cand", cand))
        .unionByName(stage("5_inter", inter))
        .orderBy("stage")
    }),

    // ---- dedup + text analysis (LLM-pipeline operators) ----
    "exact_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("key", array_join(slice(tokens(col("text")), 1, 3), " "))
      Dedup.exactFirstWins(docs, Seq("key"), Seq("doc_id"))
        .select("doc_id", "key").orderBy("doc_id")
    }),
    "ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
      val a = docs.select(col("doc_id"), shingles(col("text"), 2).as("sa"))
      val b = docs.select((col("doc_id") - 1).as("doc_id"),
        shingles(col("text"), 2).as("sb"))
      a.join(b, Seq("doc_id"))
        .select(col("doc_id"), jaccard(col("sa"), col("sb")).as("jac"))
        .orderBy("doc_id")
    }),
    // benchmark decontamination: per-doc fraction of 20-gram positions
    // that appear in the held-out "benchmark" slice (doc_id % 20 == 0
    // stands in for the eval set). Literal grams for the oracle; the
    // xxhash64 variant is unit-pinned equal
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.benchmarkOverlap(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0),
        "doc_id", "text", k = 20, hashGrams = false)
        .orderBy("doc_id")
    }),
    // The native FNV/murmur hash kernels (simhash64, fingerprints)
    // carried standalone rows-only registrations (`simhash_sigs`,
    // `fingerprint_counts`) through r8. Retired in r9 (the r8 verdict's
    // exemption sweep): their algorithm logic — k-gram construction,
    // sliding-window rightmost-min, distinct-hash dedup, per-doc
    // counts, sign-sum aggregation — is oracle-GREEN via the shared-md5
    // twins `simhash_md5` / `fingerprint_winnow` below, and the native
    // 64-bit hash VALUES (the only unpinned piece) are frozen on real
    // sf0.001 parquet by KernelPinSpec. Fewer rows-only rows, no lost
    // coverage.
    // md5 twin of the SimHash AGGREGATION (Charikar sign-sum): 16-bit
    // signature from md5 nibbles — per token each bit contributes ±1,
    // bit set when the per-doc sum is positive, all exact integers.
    // The 64-bit FNV simhash64 kernel stays the rows-only scale path.
    "simhash_md5" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"),
          x => length(x) > 0)).as("tok"))
      toks.withColumn("hx", md5(col("tok")))
        .withColumn("b", explode(sequence(lit(1), lit(16))))
        .select(col("doc_id"), col("b"), (expr(
          "shiftright(instr('0123456789abcdef', " +
            "substring(hx, CAST((b + 3) div 4 AS INT), 1)) - 1, " +
            "(b - 1) % 4) % 2") * 2 - 1).as("c"))
        .groupBy("doc_id", "b").agg(sum("c").as("sm"))
        .groupBy("doc_id").agg(sum(when(col("sm") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(b - 1 AS INT))"))
          .otherwise(lit(0L))).cast("long").as("sig"))
        .orderBy("doc_id")
    }),
    // oracle twin of the winnowing ALGORITHM: same k-gram / sliding
    // window / rightmost-min / distinct selection as the codegen'd
    // fingerprints kernel, but hashed with md5 — identical hex in both
    // engines, and min over hex strings is the same total order. The
    // explode-per-window shape exists only for oracle comparability;
    // the one-pass FNV kernel is the 100 TB path.
    "fingerprint_winnow" -> ((s, dir) => {
      val k = 9; val w = 4
      val d = t(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("t"))
      val sel = d.where(length(col("t")) >= k)
        .select(col("doc_id"), col("t"),
          (length(col("t")) - (k - 1)).as("n"))
        .withColumn("win", least(lit(w), col("n")))
        .withColumn("p", explode(sequence(lit(1), col("n"))))
        .withColumn("h", md5(expr(s"substring(t, p, $k)")))
        .withColumn("ws", explode(sequence(
          greatest(lit(1), col("p") - col("win") + 1),
          least(col("p"), col("n") - col("win") + 1))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id", "ws")
            .orderBy(col("h").asc, col("p").desc)))
        .where(col("rn") === 1)
        .select("doc_id", "h").distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      d.join(sel, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(length(col("t")) < k, lit(1L))
            .otherwise(coalesce(col("n_fp"), lit(0L))).as("n_fp"))
        .orderBy("doc_id")
    }),
    "minhash_neardup" -> ((s, dir) =>
      // dedupNearMinHash ≡ nearDupPairsMinHash (the registry's exact
      // parameters: width 3, 64 hashes, 16 bands, t=0.5) + the
      // independent-set policy — so the pair stage reads the SAME
      // process-shared trained pair artifact neardup_components
      // consumes instead of re-signing the corpus per run
      Dedup.dedupByPairs(t(s, dir, "documents"), "doc_id",
        trainedNearDupPairs(s, dir),
        Dedup.NearDupPolicy.IndependentSet)
        .select("doc_id").orderBy("doc_id")),
    // oracle twin of the MinHash LSH near-dup ALGORITHM (shingle →
    // signature → band → candidate self-join → exact-Jaccard verify),
    // hashed with md5 instead of the codegen'd murmur/FNV kernels —
    // identical hex in both engines, min over hex strings the same
    // total order (the fingerprint_winnow trick). 8 hashes × 4 bands
    // of 2 ⇒ the t≈0.5 LSH curve. The kernel operators remain the
    // 100 TB path; this exists to pin the selection logic cross-engine.
    "neardup_pairs_md5" -> ((s, dir) =>
      md5NearDupPairs(s, dir).orderBy("id_a", "id_b")),
    // X215 edit-distance verify over the same md5-banded candidate
    // stage the calibration twin replays: prefix-256 screen +
    // THRESHOLDED levenshtein (banded DP — the 100 TB verify kernel;
    // the accept set and distances equal the plain form the oracle
    // runs).
    "edit_distance_verify" -> ((s, dir) => {
      // candidates = the shared whole-corpus LSH candidate artifact
      // (identical construction — md5CandAll IS this band self-join)
      val cand = md5CandAll(s, dir)
        .select(col("id_a").as("idA"), col("id_b").as("idB"))
      graft.operators.Dedup.verifyPairsEditDistance(cand,
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", maxDist = 12, prefixLen = 256)
        .select(col("idA").as("id_a"), col("idB").as("id_b"),
          col("edit_dist"))
        .orderBy("id_a", "id_b")
    }),
    // MinHash estimator CALIBRATION: for every LSH candidate pair (no
    // jaccard floor), the signature estimate (n_match/8) vs the exact
    // Jaccard, grouped by matching-hash count — the table you read
    // before picking a band/threshold operating point. Exact ints
    // everywhere; means via decimal(18,12)-quantized exact sums
    "minhash_calibration" -> ((s, dir) => {
      // signatures, candidates, and the exact-intersection verify are
      // the process-shared md5 artifacts (the stored tables a dedup
      // pipeline persists anyway); this report adds only the
      // match-count meet and the per-n_match aggregation
      val sh = md5ShinglesShared(s, dir)
      val sigs = md5SigsShared(s, dir)
      val cand = md5CandAll(s, dir)
      val matches = cand
        .join(sigs.select(col("doc_id").as("id_a"), col("j"),
          col("mh").as("ma")), Seq("id_a"))
        .join(sigs.select(col("doc_id").as("id_b"), col("j"),
          col("mh").as("mb")), Seq("id_b", "j"))
        .groupBy("id_a", "id_b")
        .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
          .as("n_match"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = md5InterAll(s, dir)
      val pairs = matches
        .join(inter, Seq("id_a", "id_b"), "left")
        .withColumn("ninter", coalesce(col("ninter"), lit(0L)))
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
          Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
          Seq("id_b"))
        .select(col("n_match"), (col("ninter").cast("double") /
          (col("na") + col("nb") - col("ninter"))).as("jac"))
      pairs.groupBy("n_match")
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          (sum(col("jac").cast("decimal(18,12)")).cast("double") /
            count(lit(1))).cast("decimal(18,9)").cast("double")
            .as("mean_jaccard"),
          (sum(abs(col("n_match").cast("double") / lit(8.0) - col("jac"))
            .cast("decimal(18,12)")).cast("double") / count(lit(1)))
            .cast("decimal(18,9)").cast("double").as("mean_abs_err"))
        .orderBy("n_match")
    }),
    // cross-source duplication matrix: which provider slices duplicate
    // EACH OTHER — the near-dup pair table joined back to sources,
    // pair canonicalized (least, greatest) so direction cannot split a
    // cell; the "do these two crawls overlap" procurement dashboard
    "crossdup_sources" -> ((s, dir) => {
      val src = t(s, dir, "documents").select("doc_id", "source")
      md5NearDupPairs(s, dir).select("id_a", "id_b")
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
          Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    }),
    // EXACT Jaccard self-join (recall 1.0, no LSH) via prefix +
    // positional filtering — the oracle twin is the NAIVE shared-token
    // all-pairs join, so the gate machine-checks the prefix-filter
    // completeness theorem itself: any qualifying pair the prefix join
    // missed would hash-mismatch here. Registered on the doc_id%m==0
    // AUDIT STRATUM (r16; m corpus-derived since r17 — auditMod): the
    // exact kernel is the audit tool — its meet volume is
    // Σ prefix-df², which a FIXED token vocabulary drives quadratic
    // in STRATUM size (the r16 sf1 bench measured the full-corpus
    // form at >80 GB of candidate shuffle on the 31-word fixture
    // vocab; a fixed %3 fraction re-grew it ×100 by sf10, hence the
    // fixed ~17k-doc budget). A pipeline exact-audits a stratum and runs the
    // banded MinHash path (`neardup_*`) on the corpus; the stratum
    // keeps the completeness-theorem gate at every SF. The distinct
    // (doc, shingle) token frame is the process-shared stored artifact
    // (SharedFrames.docShingles — tokenize ONCE; the inline
    // re-shingling form stays as `Dedup.jaccardPairsExact`,
    // spec-pinned equal)
    "jaccard_pairs_exact" -> ((s, dir) =>
      // stratum modulus is CORPUS-DERIVED (fixed audit budget, not
      // fixed fraction — SparkEntry.auditMod; m=3 through sf1)
      Dedup.jaccardPairsExactFromTokens(
        SharedFrames.docShingles(s, dir, width = 3)
          .filter(col("doc_id") % auditMod(s, dir) === 0),
        "doc_id", "tok", threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // asymmetric recall-1.0 probe (odd ids = new slice, even = frozen
    // corpus — the crossdup_filter split) at a NON-DYADIC threshold, so
    // the gate also exercises the floor-robust prefix/length cuts
    // against the naive cross-pairs twin. Same stored token artifact,
    // sliced by parity (identical sets to per-side re-tokenization).
    "jaccard_probe_exact" -> ((s, dir) => {
      val toks = SharedFrames.docShingles(s, dir, width = 3)
        .filter(col("doc_id") % auditMod(s, dir) === 0)
      Dedup.jaccardProbeExactFromTokens(
        toks.filter(col("doc_id") % 2 === 1),
        toks.filter(col("doc_id") % 2 === 0),
        "doc_id", "tok", threshold = 0.4)
        .orderBy("doc_id")
    }),
    // asymmetric exact containment at recall 1.0 — the subset-dup
    // audit Jaccard structurally misses (a short doc quoted whole
    // inside a long one): C(small, large) = |inter|/|small| >= 0.6 on
    // the shared shingle frame, same corpus-derived audit stratum and
    // naive all-pairs twin contract as jaccard_pairs_exact (0.6 is
    // non-dyadic, so the floor-robust prefix/positional cuts are
    // exercised against a twin that has no prefix math at all)
    "containment_pairs_exact" -> ((s, dir) =>
      Dedup.containmentPairsExactFromTokens(
        SharedFrames.docShingles(s, dir, width = 3)
          .filter(col("doc_id") % auditMod(s, dir) === 0),
        "doc_id", "tok", threshold = 0.6)
        .orderBy("id_a", "id_b")),
    // survivorship merge closing the entity-resolution chain: collapse
    // exact-dup clusters (the exact_dedup first-3-token key) to ONE
    // canonical row — per field the most frequent non-null value,
    // ties to the smallest value, plus the member count
    "golden_record" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("key", array_join(slice(tokens(col("text")), 1, 3), " "))
      Dedup.goldenRecord(docs, "key", Seq("lang", "source", "n_chars"))
        .orderBy("key")
    }),
    // LSH BLOCKING-QUALITY report (the entity-resolution evaluation
    // pair): candidates from the md5 band join, truth from the naive
    // exact-Jaccard >= 0.5 pairs ON THE SAME shingle frame, caught =
    // the verified md5 pair table (candidates ∩ truth by
    // construction) — pair completeness + reduction ratio, the two
    // numbers that justify a blocking scheme
    "blocking_quality" -> ((s, dir) => {
      // evaluated on the doc_id%auditMod==0 AUDIT STRATUM (r16, same
      // contract as jaccard_pairs_exact; corpus-derived modulus since
      // r17): the truth side is the exact SSJoin,
      // whose meet volume is quadratic on a fixed vocabulary — a
      // blocking-quality evaluation samples a stratum and extrapolates
      // (banding is per-doc, so the stratum's candidate/caught pairs
      // are exactly the full tables restricted to the stratum)
      val sh = md5ShinglesShared(s, dir)
        .filter(col("doc_id") % auditMod(s, dir) === 0)
      // the candidate and truth pair tables are PRODUCTS of pipeline
      // stages — a quality report reads the stored tables, it doesn't
      // re-run blocking and the exact join (both memoize per process
      // like the verified md5 pair table they bracket)
      // band keys are per-doc, so the stratum's candidate pairs are
      // EXACTLY the whole-corpus candidate artifact with both
      // endpoints in the stratum — a filter on the shared table, not
      // a re-banded rebuild
      val cand = md5CandAll(s, dir)
        .filter(col("id_a") % auditMod(s, dir) === 0 &&
          col("id_b") % auditMod(s, dir) === 0)
      val truePairs = SharedFrames.materialized(s, dir, "truepairs05s3") {
        Dedup.jaccardPairsExactFromTokens(
          sh.select(col("doc_id"), col("s").as("tok")),
          "doc_id", "tok", threshold = 0.5)
      }
      val nCand = broadcast(cand.agg(count(lit(1)).as("n_candidates")))
      val nTrue = broadcast(truePairs.agg(count(lit(1)).as("n_true")))
      val nCaught = broadcast(
        md5NearDupPairs(s, dir)
          .filter(col("id_a") % auditMod(s, dir) === 0 &&
            col("id_b") % auditMod(s, dir) === 0)
          .agg(count(lit(1)).as("n_caught")))
      val nDocs = broadcast(sh.select("doc_id").distinct()
        .agg(count(lit(1)).as("__nd")))
      nCand.crossJoin(nTrue).crossJoin(nCaught).crossJoin(nDocs)
        .withColumn("pair_completeness",
          when(col("n_true") > 0,
            (col("n_caught").cast("double") / col("n_true").cast("double"))
              .cast("decimal(18,9)").cast("double")))
        // fewer than two docs have no pairs to reduce: NULL, as the
        // twin's division gives it
        .withColumn("reduction_ratio",
          (lit(1.0) - col("n_candidates").cast("double") * 2.0 /
            nullif(col("__nd").cast("double") *
              (col("__nd").cast("double") - 1.0), lit(0.0)))
            .cast("decimal(18,9)").cast("double"))
        .drop("__nd")
    }),
    // connected components (large-star/small-star operator) over the
    // md5 pair graph — the DuckDB twin computes the same labels with a
    // recursive-CTE transitive closure + min per node, so the CC
    // algorithm itself is oracle-checked (the registered
    // neardup_components stays on the murmur/FNV kernels, rows-only)
    "neardup_components_md5" -> ((s, dir) =>
      md5Components(s, dir)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")),
    // duplicate-cluster SIZE distribution over the same components —
    // the "how duplicated is this corpus" policy read (a fat tail of
    // huge clusters says boilerplate flood, not isolated copies;
    // dedup keeps 1 per cluster so n_docs − n_clusters is the row
    // saving). Covers PAIRED docs only: singletons never enter the
    // pair graph and are everyone else by subtraction
    "neardup_cluster_sizes" -> ((s, dir) =>
      md5Components(s, dir)
        .groupBy("component").agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).cast("long").as("n_clusters"),
          sum("__sz").cast("long").as("n_docs"))
        .orderBy("cluster_size")),
    // quality-aware near-dup canonicalization: per duplicate cluster
    // keep the member the LM scores best (ties → smallest id), pass
    // untouched docs through — the curation refinement of id-based
    // dedup, composed from the md5 pair kernel + the shared
    // scored-docs artifact; twin replays closure + score + rank
    "neardup_keep_best_md5" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
        .join(SharedFrames.lmScoredDocs(s, dir)
          .select("doc_id", "lm_score"), Seq("doc_id"), "left")
      Dedup.keepBestByComponentFrom(docs, "doc_id", "lm_score",
        md5Components(s, dir))
        .orderBy("doc_id")
    }),
    // cross-corpus dedup: keep only new-slice docs that near-duplicate
    // no existing-corpus doc (asymmetric MinHash probe; custom hash
    // kernels → rows-only like minhash_neardup, cross-side agreement
    // with the symmetric operator unit-tested)
    "crossdup_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Dedup.dedupAgainstCorpus(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", threshold = 0.4)
        .select("doc_id").orderBy("doc_id")
    }),
    // md5 twin of the cross-corpus probe/filter: odd doc_ids are the
    // "new crawl slice", even the corpus; kept = new docs with no
    // verified cross near-dup (anti-join), candidates banded md5 LSH —
    // same selection shape as dedupAgainstCorpus, oracle-checkable
    "crossdup_md5" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newDocs = docs.filter(col("doc_id") % 2 === 1)
      // the per-side band join equals the MIXED-PARITY slice of the
      // whole-corpus candidate/intersection artifacts: band keys are
      // per-doc, so a cross-parity pair collides in the per-side join
      // iff it collides in the corpus self-join (as (min,max) with
      // id_a < id_b); ninter and the Jaccard division are symmetric
      // in the two sizes. Reads the shared tables instead of
      // re-banding two filtered shingle sets.
      val sh = md5ShinglesShared(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val flagged = md5InterAll(s, dir)
        .where((col("id_a") % 2) =!= (col("id_b") % 2))
        .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
        .where(col("ninter").cast("double") /
          (col("na") + col("nb") - col("ninter")) >= 0.4)
        .select(when(col("id_a") % 2 === 1, col("id_a"))
          .otherwise(col("id_b")).as("doc_id")).distinct()
      newDocs.join(flagged, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),

    // X212 URL canonicalization + first-wins dedup — crawl refetch
    // removal. URL variants are SYNTHESIZED deterministically from
    // documents (scheme/host case, default port, tracking params,
    // fragment, trailing slash all exercised); the oracle twin
    // derives the expected canonical ANALYTICALLY (not by replaying
    // the regexes), so the whole regex pipeline is independently
    // checked
    "url_canonical_dedup" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("HTTPS://"), upper(col("source")), lit(".Example.COM:443/"),
        col("lang"), lit("/item/"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0,
          lit("/?utm_source=feed&x=1&fbclid=z#top"))
          .when(col("doc_id") % 3 === 1, lit("?x=1#sec"))
          .otherwise(lit("/"))).as("url"))
      graft.operators.Urls.dedupByCanonical(urls, "doc_id", "url")
        .orderBy("canon_url")
    }),

    // X217 corpus-level MinHash sketch overlap matrix (md5 form):
    // per-SOURCE union sketch = 8 md5
    // min-hashes over the source's distinct shingle set (min over docs
    // = sketch of the union, the mergeability property), then the
    // complete pairwise component-match matrix. est_jaccard =
    // n_match/8 is a power-of-two division of an exact int —
    // bit-stable cross-engine.
    "source_sketch_jaccard" -> ((s, dir) => {
      // per-source sketch = min over the source's docs of the PER-DOC
      // signatures (the mergeability property the comment above
      // states: min over the union of shingle sets ≡ min of per-set
      // mins, and md5("j:s") is injective per shingle) — so the
      // shared (doc_id, j, mh) artifact replaces re-hashing every
      // (source, shingle) row
      val sigs = md5SigsShared(s, dir)
        .join(t(s, dir, "documents").select("doc_id", "source"),
          Seq("doc_id"))
        .groupBy("source", "j").agg(min("mh").as("mh"))
      sigs.select(col("source").as("src_a"), col("j"),
          col("mh").as("ma"))
        .join(sigs.select(col("source").as("src_b"), col("j"),
          col("mh").as("mb")), Seq("j"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
          .cast("long").as("n_match"))
        .select(col("src_a"), col("src_b"), col("n_match"),
          (col("n_match").cast("double") / lit(8.0)).as("est_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // X218 exact per-source shingle-set overlap: intersection,
    // Jaccard, and BOTH containments per source pair — the "is corpus
    // A already inside corpus B" read the symmetric Jaccard hides.
    // Group-level keys only (K sources; a universal shingle meets K
    // rows) — the sketch form above is the 100 TB default, this is
    // the exact audit (same contract as exact vs banded Jaccard,
    // Dedup.scala:21). Ratios are single divisions of exact longs.
    "source_overlap_exact" -> ((s, dir) =>
      graft.operators.CorpusSketch.exactOverlapPairs(
        t(s, dir, "documents").select("source", "text"),
        "source", "text", shingleWidth = 3)
        .select(col("keyA").as("src_a"), col("keyB").as("src_b"),
          col("n_inter"), col("n_a"), col("n_b"), col("jaccard"),
          col("cont_a_in_b"), col("cont_b_in_a"))
        .orderBy("src_a", "src_b")),
    // within-doc repeated-line removal (C4-style in-place paragraph
    // hygiene): first occurrence wins, pure narrow projection. The
    // corpus docs are single-line, so the fixture doubles each text
    // and appends a tail — the rule fires on every row
    "line_dedup_in_doc" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Dedup.dropRepeatedLinesInDoc(
            concat_ws("\n", col("text"), col("text"), lit("x-tail")))
            .as("cleaned"))
        .orderBy("doc_id")),
    // split-leakage audit: near-dup pairs whose members landed in
    // DIFFERENT splits — the eval-contamination check run before any
    // training job (split on doc_id leaks near-dups by construction;
    // the fix is splitting on the component key, and this report is
    // the evidence). Pair table is the shared md5 artifact.
    "split_leakage" -> ((s, dir) => {
      val splits = graft.operators.Sampling.assignSplits(
        t(s, dir, "documents").select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      md5NearDupPairs(s, dir).select("id_a", "id_b")
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("sa")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("sb")), Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaks",
          (col("split_a") =!= col("split_b")).cast("int"))
        .orderBy("split_a", "split_b")
    }),
    // the FIX for split_leakage: split on the near-dup COMPONENT key
    // (singletons key on their own id), so every near-dup cluster
    // lands whole in one split — per-split doc/group counts plus the
    // machine-checked leaking-pair count, which must be zero
    "split_by_component" -> ((s, dir) => {
      val pairs = md5NearDupPairs(s, dir).select("id_a", "id_b")
      val comp = md5Components(s, dir)
      val keyed = t(s, dir, "documents").select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
          "left")
        .withColumn("gkey", coalesce(col("component"), col("doc_id")))
      val splits = graft.operators.Sampling.assignSplits(
        keyed.select("doc_id", "gkey"), "gkey",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      val leak = pairs
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("sa")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("sb")), Seq("id_b"))
        .where(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("leaking_pairs"))
      splits.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("gkey")).as("n_groups"))
        .crossJoin(broadcast(leak))
        .orderBy("split")
    }),
    // C4/CCNet corpus-frequency line dedup. The synthetic docs are
    // single-line, so the query first derives deterministic
    // pseudo-lines (8-word chunks joined by \n) — exact-dup doc
    // families then share every chunk, so the rule fires — and drops
    // chunks appearing in >= 2 distinct docs, reassembling survivors
    // in order.
    "line_dedup" -> ((s, dir) => {
      val words = split(col("text"), " ")
      val chunked = t(s, dir, "documents").select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0L),
              floor((size(words) + lit(7)) / lit(8)).cast("long") - lit(1L)),
            i => array_join(slice(words, (i * 8 + 1).cast("int"), lit(8)),
              " ")),
          "\n").as("text"))
      graft.operators.Dedup.removeRepeatedLines(
        chunked, "doc_id", "text", delimiter = "\n", minDocFreq = 2)
        .orderBy("doc_id")
    }),
    // Lee-et-al ExactSubstr proxy: per-doc duplicated-k-gram span
    // stats. Literal grams here (engine-portable oracle); the
    // xxhash64 8-byte-token scale variant is unit-pinned equal
    "dup_spans" -> ((s, dir) =>
      graft.operators.Dedup.dupSpanStats(
        t(s, dir, "documents"), "doc_id", "text", k = 20,
        hashGrams = false)
        .orderBy("doc_id")),
    // X216 Lee-et-al ExactSubstr REMOVAL (the rewrite companion of
    // dup_spans): word-level 8-gram global first-occurrence rule,
    // covered positions cut, survivors re-joined — the twin replays
    // the identical (doc·2^20+pos) argmin and position-set union
    "dedup_span_removal" -> ((s, dir) =>
      graft.operators.Dedup.removeDupSpans(
        t(s, dir, "documents"), "doc_id", "text", k = 8)
        .orderBy("doc_id")),
    // SemDeDup: k-means-partitioned semantic dedup over the embedding
    // column — kmeans partitioning sensitivity → rows-only check like
    // the IVF family; pair recall + representative choice unit-tested.
    // Fixed-size slice so the quadratic-in-cell verification stays
    // constant across sf (the operator itself is the scale path)
    "semantic_dedup" -> ((s, dir) =>
      graft.operators.Dedup.semanticDedup(
        t(s, dir, "embeddings").filter(col("vec_id") < 4000),
        "vec_id", "embedding", nClusters = 32, threshold = 0.9)
        .select("vec_id", "label").orderBy("vec_id")),
    // SemDeDup SELECTION with fixed centroids — no Lloyd's, so cell
    // assignment + in-cell exact-cosine pairing is float-deterministic
    // and oracle-checked end to end (the trained semantic_dedup stays
    // rows-only for the kmeans fit alone); the synthetic embeddings
    // carry no true near-dups, so the threshold sits at the top of the
    // actual cosine distribution. The centroid count is DERIVED FROM
    // THE CORPUS SIZE (first max(8, ceil(n/250)) embeddings — the twin
    // computes the same cutoff from COUNT(*)), so cells grow with the
    // data and the in-cell pair volume stays LINEAR in n: the gate
    // query now exercises the documented nClusters∝n scale shape
    // instead of pinning 8 cells (which made sf0.1→sf1 go ×25). At
    // sf≤0.1 (n≤2000) the cutoff floors at the historical 8.
    "semantic_dedup_fixed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val nCent = math.max(8L, math.ceil(emb.count() / 250.0).toLong)
      val cents = emb.filter(col("vec_id") < nCent).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      graft.operators.Dedup.semanticDedupPairsWithCentroids(
        emb, "vec_id", "embedding", cents, threshold = 0.35)
        .select(col("idA").as("id_a"), col("idB").as("id_b"),
          col("cosine"))
        .orderBy("id_a", "id_b")
    }),
    // embedding-cosine near-dup via random-hyperplane LSH (SRP,
    // band-amplified): 2 tables × 8 sign bits route candidates into
    // buckets, hot buckets pruned, exact cosine ≥ τ verified once per
    // distinct pair. The seeded planes are PUBLIC (Dedup.srpPlanes),
    // so the oracle replays the exact bucketing with the plane values
    // inlined as literals — the FULL pipeline (sign codes, banding,
    // hot-bucket prune, verify) is oracle-checked, no fixed twin
    // needed (the binary_knn trick applied to LSH dedup).
    // registered on the vec_id % embedAuditMod == 0 BUDGET stratum
    // (m = 1 through sf1 — hashes unchanged; ~20k vectors at every
    // sf): the gate pins the 2x8 plane set for the twin, so corpus
    // growth at fixed planes is quadratic in-bucket pair volume —
    // the jaccard_pairs_exact budget contract, embedding edition
    "srp_neardup" -> ((s, dir) =>
      graft.operators.Dedup.nearDupPairsCosine(
        t(s, dir, "embeddings").select("vec_id", "embedding")
          .filter(col("vec_id") % embedAuditMod(s, dir) === 0),
        "vec_id", "embedding", dim = 64, threshold = 0.3,
        numTables = 2, planesPerTable = 8, seed = 42L)
        .select(col("idA").as("id_a"), col("idB").as("id_b"),
          col("cosine"))
        .orderBy("id_a", "id_b")),
    // connected components over the verified near-dup graph (custom
    // hash family upstream → rows-only check; algorithm unit-tested)
    "neardup_components" -> ((s, dir) =>
      // pairs come from the stored trained-minhash artifact (the md5
      // twin's precedent); the component contraction itself runs live
      // over the read-back pair table, matching the twin's shape
      Dedup.connectedComponents(
        trainedNearDupPairs(s, dir).select("idA", "idB"), "idA", "idB")
        .orderBy("id")),
    // perceptual image near-dup: one gradient scene saved at three
    // scales/brightness offsets (the thumbnail-resave pathology) +
    // two distinct scenes → REAL-pixel dHash → banded Hamming pairs.
    // No backing table → rows-only; invariance and recall-1.0 banding
    // are spec-asserted.
    "image_neardup" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-imgnd")
      def write(name: String, wpx: Int, hpx: Int)(f: (Int, Int) => Int): Unit = {
        val img = new java.awt.image.BufferedImage(wpx, hpx,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until hpx; x <- 0 until wpx) img.setRGB(x, y, f(x, y))
        javax.imageio.ImageIO.write(img, "png",
          new java.io.File(tmp.toFile, name))
      }
      for ((scale, d) <- Seq((4, 0), (8, 6), (16, 12)))
        write(f"grad$scale%02d.png", 16 * scale, 8 * scale) { (x, _) =>
          val v = math.min(255, x * 255 / (16 * scale) + d)
          (v << 16) | (v << 8) | v
        }
      write("stripes.png", 64, 64) { (x, _) =>
        if ((x / 8) % 2 == 0) 0xFFFFFF else 0 }
      write("checker.png", 64, 64) { (x, y) =>
        if ((x / 8 + y / 8) % 2 == 0) 0xFFFFFF else 0 }
      val hashed = graft.operators.Multimodal.dHashImages(
        graft.operators.Multimodal.readBinaryDir(s, tmp.toString, "*.png"),
        "content")
        .select(element_at(split(col("path"), "/"), -1).as("file"),
          col("dhash"))
      graft.operators.Multimodal.nearDupImagePairs(hashed, "file", "dhash",
        maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
  )

  def twins: Map[String, String] = Map(
    // stage counts of the md5 MinHash index build — replays the SAME
    // CTE prefix the component twins consume (md5PairStagesCtes), so
    // the measured build line is hash-green end to end
    "md5_index_build" ->
      s"""WITH $md5PairStagesCtes
         |SELECT stage, n FROM (
         |  SELECT '1_shingles' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM shm
         |  UNION ALL SELECT '2_sigs', CAST(COUNT(*) AS BIGINT) FROM sigs
         |  UNION ALL SELECT '3_bands', CAST(COUNT(*) AS BIGINT) FROM bands
         |  UNION ALL SELECT '4_cand', CAST(COUNT(*) AS BIGINT) FROM cand
         |  UNION ALL SELECT '5_inter', CAST(COUNT(*) AS BIGINT) FROM inter)
         |ORDER BY stage""".stripMargin,
    // SemDeDup selection with fixed centroids: nearest-cell assignment
    // (ties → lowest cell), in-cell pairs only, exact cosine with the
    // zero-norm guard, threshold filter
    "semantic_dedup_fixed" -> {
      val cosAB =
        s"""(CASE WHEN ${normOf("ea.embedding")} = 0 OR ${normOf("eb.embedding")} = 0 THEN 0.0
           | ELSE list_sum(list_transform(range(1, len(ea.embedding) + 1), i ->
           |   CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
           |   / (${normOf("ea.embedding")} * ${normOf("eb.embedding")}) END)""".stripMargin
      s"""WITH cells AS (SELECT vec_id AS cell, embedding AS cemb
         |               FROM embeddings WHERE vec_id <
         |                 (SELECT GREATEST(8, CAST(ceil(COUNT(*) / 250.0)
         |                    AS BIGINT)) FROM embeddings)),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM embeddings e, cells c)
         |  WHERE rn = 1)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosAB AS cosine
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id)
         |WHERE cosine >= 0.35 ORDER BY id_a, id_b""".stripMargin
    },
    // SRP LSH near-dup: the seeded hyperplanes are inlined as DOUBLE
    // literals (Double.toString round-trips exactly), sign codes and
    // banding replayed in SQL, hot-bucket prune mirrored, exact
    // kernel-faithful cosine at the end
    "srp_neardup" -> {
      val planes = graft.operators.Dedup.srpPlanes(
        dim = 64, numTables = 2, planesPerTable = 8, seed = 42L)
      def dotP(p: Array[Float]): String = {
        val lst = p.map(f => java.lang.Double.toString(f.toDouble))
          .mkString("[", ", ", "]")
        s"list_sum(list_transform(range(1, 65), i -> " +
          s"CAST(embedding[i] AS DOUBLE) * ($lst)[i]))"
      }
      def bucket(t: Int): String =
        (0 until 8).map(i =>
          s"(CASE WHEN ${dotP(planes(t)(i))} > 0 THEN ${1 << i} ELSE 0 END)")
          .mkString(" + ")
      val cosAB =
        s"""(CASE WHEN ${normOf("ea.embedding")} = 0 OR ${normOf("eb.embedding")} = 0 THEN 0.0
           | ELSE list_sum(list_transform(range(1, len(ea.embedding) + 1), i ->
           |   CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
           |   / (${normOf("ea.embedding")} * ${normOf("eb.embedding")}) END)""".stripMargin
      s"""WITH emb AS (SELECT * FROM embeddings WHERE vec_id %
         |    (SELECT GREATEST(1, CAST(ceil(COUNT(*) / 20000.0) AS BIGINT))
         |     FROM embeddings) = 0),
         |codes AS (
         |  SELECT vec_id, 0 AS tbl, ${bucket(0)} AS bucket FROM emb
         |  UNION ALL
         |  SELECT vec_id, 1 AS tbl, ${bucket(1)} AS bucket FROM emb),
         |ok AS (SELECT tbl, bucket FROM codes GROUP BY tbl, bucket
         |       HAVING COUNT(*) <= 1000),
         |pc AS (SELECT c.vec_id, c.tbl, c.bucket
         |       FROM codes c JOIN ok USING (tbl, bucket)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM pc a JOIN pc b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cosine FROM (
         |  SELECT cand.id_a, cand.id_b, $cosAB AS cosine
         |  FROM cand
         |  JOIN emb ea ON ea.vec_id = cand.id_a
         |  JOIN emb eb ON eb.vec_id = cand.id_b)
         |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin
    },
    "exact_dedup" ->
      s"""SELECT doc_id, key FROM (
         |  SELECT doc_id, key, row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn
         |  FROM (SELECT doc_id, array_to_string(list_slice($toksSql, 1, 3), ' ') AS key
         |        FROM documents))
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "ngram_jaccard" ->
      s"""SELECT doc_id,
         |  CAST(len(list_distinct(list_intersect(sh1, sh2))) AS DOUBLE) /
         |  CAST(len(list_distinct(list_concat(sh1, sh2))) AS DOUBLE) AS jac
         |FROM (SELECT doc_id, ${shSql("toks")} AS sh1
         |      FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 100)) d1
         |JOIN (SELECT doc_id - 1 AS doc_id, ${shSql("toks")} AS sh2
         |      FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 100)) d2
         |USING (doc_id) ORDER BY doc_id""".stripMargin,
    // gram semi-join twin; patterns interpolate from the operator's
    // own vals so engine and oracle cannot drift
    "decontaminate" -> decontaminateSql,

    // analytic twin: the expected canonical form is DERIVED from the
    // synthesis rule, not recomputed through the same regexes — an
    // independent check of the whole canonicalization pipeline
    "url_canonical_dedup" ->
      """WITH canon AS (SELECT doc_id,
        |  'https://' || lower(source) || '.example.com/' || lang ||
        |  '/item/' || CAST(doc_id % 7 AS VARCHAR) ||
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN '?x=1' ELSE '' END
        |    AS canon_url
        |  FROM documents)
        |SELECT canon_url, min(doc_id) AS doc_id,
        |  count(*) AS n_variants
        |FROM canon GROUP BY canon_url ORDER BY canon_url""".stripMargin,

    // per-source union sketch (min over the source's distinct shingle
    // set per md5 hash fn) → complete pairwise component-match matrix;
    // n_match/8 is a power-of-two division of an exact int
    "source_sketch_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |ssh AS (SELECT DISTINCT d.source, sh.s
        |        FROM sh JOIN documents d ON d.doc_id = sh.doc_id),
        |hj AS (SELECT source, s, unnest(range(1, 9)) AS j FROM ssh),
        |sigs AS (SELECT source, j,
        |           MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
        |         FROM hj GROUP BY source, j),
        |m AS (SELECT a.source AS src_a, b.source AS src_b,
        |        CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_match
        |      FROM sigs a JOIN sigs b ON a.j = b.j
        |        AND a.source < b.source
        |      GROUP BY a.source, b.source)
        |SELECT src_a, src_b, n_match,
        |  CAST(n_match AS DOUBLE) / 8.0 AS est_jaccard
        |FROM m ORDER BY src_a, src_b""".stripMargin,

    // exact per-source shingle-set overlap: intersection size, Jaccard,
    // both containments — single divisions of exact BIGINTs
    "source_overlap_exact" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |ssh AS (SELECT DISTINCT d.source, sh.s
        |        FROM sh JOIN documents d ON d.doc_id = sh.doc_id),
        |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM ssh GROUP BY source),
        |inter AS (SELECT a.source AS src_a, b.source AS src_b,
        |            CAST(COUNT(*) AS BIGINT) AS n_inter
        |          FROM ssh a JOIN ssh b ON a.s = b.s
        |            AND a.source < b.source
        |          GROUP BY a.source, b.source)
        |SELECT i.src_a, i.src_b, i.n_inter, za.n AS n_a, zb.n AS n_b,
        |  CAST(i.n_inter AS DOUBLE) / (za.n + zb.n - i.n_inter)
        |    AS jaccard,
        |  CAST(i.n_inter AS DOUBLE) / za.n AS cont_a_in_b,
        |  CAST(i.n_inter AS DOUBLE) / zb.n AS cont_b_in_a
        |FROM inter i
        |JOIN sizes za ON za.source = i.src_a
        |JOIN sizes zb ON zb.source = i.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    // first-occurrence line filter: 1-based DuckDB lambda index vs
    // Spark's 0-based (i+1) — same selection
    "line_dedup_in_doc" ->
      """SELECT doc_id, array_to_string(
        |    list_filter(lines, (x, i) -> list_position(lines, x) = i),
        |    chr(10)) AS cleaned
        |FROM (SELECT doc_id,
        |        string_split(text || chr(10) || text || chr(10) || 'x-tail',
        |          chr(10)) AS lines
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // leakage twin: the shared mpairs selection x the split CASE of
    // the split_docs twin, canonicalized pair cells
    "split_leakage" ->
      (s"""WITH RECURSIVE $md5ComponentsCtes,
         |sp AS (SELECT doc_id,
         |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) <
         |      '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train'
         |    WHEN md5(CAST(doc_id AS VARCHAR)) <
         |      '${graft.operators.Sampling.thresholdHex(0.9)}' THEN 'valid'
         |    ELSE 'test' END AS split
         |  FROM documents)
         |SELECT LEAST(sa.split, sb.split) AS split_a,
         |  GREATEST(sa.split, sb.split) AS split_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(LEAST(sa.split, sb.split) <> GREATEST(sa.split, sb.split)
         |    AS INT) AS leaks
         |FROM mpairs p
         |JOIN sp sa ON sa.doc_id = p.id_a
         |JOIN sp sb ON sb.doc_id = p.id_b
         |GROUP BY 1, 2, 4 ORDER BY 1, 2""".stripMargin),
    // component-split twin: recursive component closure -> gkey
    // COALESCE -> the split_docs threshold CASE on gkey -> per-split
    // aggregates x the scalar crossing-pair count
    "split_by_component" ->
      (s"""WITH RECURSIVE $md5ComponentsCtes,
         |keyed AS (SELECT d.doc_id,
         |    COALESCE(c.component, d.doc_id) AS gkey
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |sp AS (SELECT doc_id, gkey,
         |  CASE WHEN md5(CAST(gkey AS VARCHAR)) <
         |      '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train'
         |    WHEN md5(CAST(gkey AS VARCHAR)) <
         |      '${graft.operators.Sampling.thresholdHex(0.9)}' THEN 'valid'
         |    ELSE 'test' END AS split
         |  FROM keyed),
         |leak AS (SELECT CAST(COUNT(*) AS BIGINT) AS leaking_pairs
         |  FROM mpairs p
         |  JOIN sp sa ON sa.doc_id = p.id_a
         |  JOIN sp sb ON sb.doc_id = p.id_b
         |  WHERE sa.split <> sb.split)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT gkey) AS BIGINT) AS n_groups,
         |  (SELECT leaking_pairs FROM leak) AS leaking_pairs
         |FROM sp GROUP BY split ORDER BY split""").stripMargin,
    // C4/CCNet line dedup: same 8-word pseudo-line construction, doc
    // frequency over distinct (line, doc), drop lines in >= 2 docs,
    // ordered string_agg reassembly (string_agg skips the CASE NULLs;
    // COALESCE covers the all-boilerplate doc -> '' like array_join)
    "line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |           FROM documents),
        |c AS (SELECT doc_id,
        |        list_transform(
        |          range(0, CAST(floor((len(words) + 7) / 8.0) AS BIGINT)),
        |          i -> array_to_string(list_slice(words, i*8+1, i*8+8), ' '))
        |          AS lines
        |      FROM w),
        |l AS (SELECT doc_id, i AS pos, lines[i] AS line
        |      FROM (SELECT doc_id, lines,
        |              unnest(range(1, len(lines) + 1)) AS i
        |            FROM c)),
        |boiler AS (
        |  SELECT line FROM (
        |    SELECT line, COUNT(DISTINCT doc_id) AS dfreq FROM l GROUP BY line)
        |  WHERE dfreq >= 2)
        |SELECT l.doc_id,
        |  COALESCE(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
        |    chr(10) ORDER BY l.pos), '') AS text,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(COUNT(CASE WHEN b.line IS NULL THEN 1 END) AS BIGINT) AS n_kept
        |FROM l LEFT JOIN boiler b ON l.line = b.line
        |GROUP BY l.doc_id
        |ORDER BY l.doc_id""".stripMargin,
    // integer gaps-and-islands twin of the Spark window span merge;
    // first dup position: pos - NULL > k is NULL → ELSE 0 (both
    // engines), so island numbering starts at 0 on each side
    "dup_spans" -> dupSpansSql,
    // ExactSubstr-removal twin: the identical word-level 8-gram
    // first-occurrence rule (argmin over doc_id·2^20+pos), covered
    // position-set union, survivors re-joined in position order
    "dedup_span_removal" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |occ0 AS (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
        |         FROM ws WHERE len(w) >= 8),
        |occ AS (SELECT doc_id, i - 1 AS p,
        |          array_to_string(w[i:i+7], ' ') AS g,
        |          doc_id * 1048576 + (i - 1) AS enc
        |        FROM occ0),
        |fst AS (SELECT g, MIN(enc) AS fe FROM occ GROUP BY g
        |        HAVING COUNT(*) >= 2),
        |dup AS (SELECT o.doc_id, o.p FROM occ o
        |        JOIN fst f ON o.g = f.g AND o.enc <> f.fe),
        |cov AS (SELECT DISTINCT doc_id, cp FROM (
        |  SELECT doc_id, unnest(range(p, p + 8)) AS cp FROM dup)),
        |wpos AS (SELECT doc_id, w, unnest(range(0, len(w))) AS wp
        |         FROM ws),
        |wp2 AS (SELECT doc_id, wp, w[wp + 1] AS word FROM wpos),
        |kept AS (SELECT wp2.doc_id, wp2.wp, wp2.word FROM wp2
        |         LEFT JOIN cov ON wp2.doc_id = cov.doc_id
        |           AND wp2.wp = cov.cp
        |         WHERE cov.doc_id IS NULL)
        |SELECT ws.doc_id,
        |  COALESCE(string_agg(kept.word, ' ' ORDER BY kept.wp), '')
        |    AS clean_text,
        |  CAST(len(ws.w) AS BIGINT) AS n_words,
        |  CAST(len(ws.w) - COUNT(kept.word) AS BIGINT) AS n_removed
        |FROM ws LEFT JOIN kept ON ws.doc_id = kept.doc_id
        |GROUP BY ws.doc_id, len(ws.w)
        |ORDER BY ws.doc_id""".stripMargin,
    // MinHash LSH near-dup selection over the shared md5 kernel —
    // shingle → 8 min-hashes → 4 bands of 2 → candidate self-join →
    // exact-Jaccard verify (single division of exact ints, bit-stable)
    "neardup_pairs_md5" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |hj AS (SELECT doc_id, s, unnest(range(1, 9)) AS j FROM sh),
        |sigs AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
        |         FROM hj GROUP BY doc_id, j),
        |bands AS (SELECT doc_id, CAST((j + 1) // 2 AS INT) AS band,
        |            string_agg(mh, '|' ORDER BY j) AS bkey
        |          FROM sigs GROUP BY doc_id, CAST((j + 1) // 2 AS INT)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        |    AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
        |  GROUP BY c.id_a, c.id_b)
        |SELECT i.id_a, i.id_b,
        |  CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) AS jaccard
        |FROM inter i
        |JOIN sizes za ON za.doc_id = i.id_a
        |JOIN sizes zb ON zb.doc_id = i.id_b
        |WHERE CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) >= 0.5
        |ORDER BY i.id_a, i.id_b""".stripMargin,
    // edit-distance-verify twin: the same md5 cand CTE chain, verified
    // by PLAIN levenshtein on the 256-char prefixes — the engine's
    // thresholded kernel returns identical distances inside the accept
    // set by construction
    "edit_distance_verify" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |hj AS (SELECT doc_id, s, unnest(range(1, 9)) AS j FROM sh),
        |sigs AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
        |         FROM hj GROUP BY doc_id, j),
        |bands AS (SELECT doc_id, CAST((j + 1) // 2 AS INT) AS band,
        |            string_agg(mh, '|' ORDER BY j) AS bkey
        |          FROM sigs GROUP BY doc_id, CAST((j + 1) // 2 AS INT)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        |    AND a.doc_id < b.doc_id)
        |SELECT c.id_a, c.id_b,
        |  CAST(levenshtein(substring(da.text, 1, 256),
        |                   substring(db.text, 1, 256)) AS BIGINT)
        |    AS edit_dist
        |FROM cand c
        |JOIN documents da ON da.doc_id = c.id_a
        |JOIN documents db ON db.doc_id = c.id_b
        |WHERE levenshtein(substring(da.text, 1, 256),
        |                  substring(db.text, 1, 256)) <= 12
        |ORDER BY id_a, id_b""".stripMargin,
    // MinHash-calibration twin: the neardup_pairs_md5 CTE chain
    // without the jaccard floor, plus a per-pair signature-match
    // count; means through decimal(18,12)-quantized exact sums and
    // the decimal(18,9) VARCHAR bridge
    "minhash_calibration" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |hj AS (SELECT doc_id, s, unnest(range(1, 9)) AS j FROM sh),
        |sigs AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
        |         FROM hj GROUP BY doc_id, j),
        |bands AS (SELECT doc_id, CAST((j + 1) // 2 AS INT) AS band,
        |            string_agg(mh, '|' ORDER BY j) AS bkey
        |          FROM sigs GROUP BY doc_id, CAST((j + 1) // 2 AS INT)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        |    AND a.doc_id < b.doc_id),
        |matches AS (
        |  SELECT c.id_a, c.id_b,
        |    CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_match
        |  FROM cand c
        |  JOIN sigs sa ON sa.doc_id = c.id_a
        |  JOIN sigs sb ON sb.doc_id = c.id_b AND sb.j = sa.j
        |  GROUP BY c.id_a, c.id_b),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
        |  GROUP BY c.id_a, c.id_b),
        |pj AS (
        |  SELECT m.n_match,
        |    CAST(COALESCE(i.ninter, 0) AS DOUBLE) /
        |      (za.n + zb.n - COALESCE(i.ninter, 0)) AS jac
        |  FROM matches m
        |  LEFT JOIN inter i ON i.id_a = m.id_a AND i.id_b = m.id_b
        |  JOIN sizes za ON za.doc_id = m.id_a
        |  JOIN sizes zb ON zb.doc_id = m.id_b)
        |SELECT n_match, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(CAST(CAST(CAST(SUM(CAST(jac AS DECIMAL(18,12))) AS DOUBLE)
        |    / COUNT(*) AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE)
        |    AS mean_jaccard,
        |  CAST(CAST(CAST(CAST(SUM(CAST(abs(CAST(n_match AS DOUBLE) / 8.0
        |    - jac) AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS mean_abs_err
        |FROM pj GROUP BY n_match ORDER BY n_match""".stripMargin,
    // naive all-pairs twin of the prefix-filtered exact Jaccard join:
    // same shingles, same exact-int intersection count, same single
    // double division — but candidates come from ANY shared token, so
    // a completeness failure of the prefix filter cannot hide
    "jaccard_pairs_exact" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents WHERE doc_id %
        |    (SELECT 3 * (k + 1 - (k % 2)) FROM
        |      (SELECT GREATEST(1, CAST(ceil(COUNT(*) / 50000.0)
        |         AS BIGINT)) AS k FROM documents)) = 0),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM sh sa JOIN sh sb ON sb.s = sa.s AND sa.doc_id < sb.doc_id
        |  GROUP BY sa.doc_id, sb.doc_id)
        |SELECT i.id_a, i.id_b,
        |  CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) AS jaccard
        |FROM inter i
        |JOIN sizes za ON za.doc_id = i.id_a
        |JOIN sizes zb ON zb.doc_id = i.id_b
        |WHERE CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // containment twin: naive all-pairs intersection on the same
    // stratum shingles, oriented smaller-set-first (ties by id) and
    // divided by the SMALL side — candidates come from ANY shared
    // token, so neither the prefix cut nor the positional filter can
    // hide an incompleteness
    "containment_pairs_exact" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents WHERE doc_id %
        |    (SELECT 3 * (k + 1 - (k % 2)) FROM
        |      (SELECT GREATEST(1, CAST(ceil(COUNT(*) / 50000.0)
        |         AS BIGINT)) AS k FROM documents)) = 0),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT sa.doc_id AS x, sb.doc_id AS y,
        |    CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM sh sa JOIN sh sb ON sb.s = sa.s AND sa.doc_id < sb.doc_id
        |  GROUP BY sa.doc_id, sb.doc_id),
        |o AS (
        |  SELECT CASE WHEN zx.n < zy.n OR (zx.n = zy.n AND i.x < i.y)
        |           THEN i.x ELSE i.y END AS id_a,
        |         CASE WHEN zx.n < zy.n OR (zx.n = zy.n AND i.x < i.y)
        |           THEN i.y ELSE i.x END AS id_b,
        |         i.ninter, LEAST(zx.n, zy.n) AS na
        |  FROM inter i
        |  JOIN sizes zx ON zx.doc_id = i.x
        |  JOIN sizes zy ON zy.doc_id = i.y)
        |SELECT id_a, id_b, CAST(ninter AS DOUBLE) / na AS containment
        |FROM o WHERE CAST(ninter AS DOUBLE) / na >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    // golden-record twin: per-field (cluster, value) counts ranked by
    // (count DESC, value ASC) — the same (−count, value) total order
    // as the min_by struct — left-joined onto the member-count spine
    "golden_record" ->
      s"""WITH d AS (SELECT doc_id,
         |    array_to_string(list_slice($toksSql, 1, 3), ' ') AS key,
         |    lang, source, n_chars FROM documents),
         |spine AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_members
         |          FROM d GROUP BY key),
         |f_lang AS (SELECT key, lang FROM (
         |  SELECT key, lang, ROW_NUMBER() OVER (PARTITION BY key
         |    ORDER BY c DESC, lang ASC) AS rn
         |  FROM (SELECT key, lang, COUNT(*) AS c FROM d
         |        WHERE lang IS NOT NULL GROUP BY key, lang)) WHERE rn = 1),
         |f_source AS (SELECT key, source FROM (
         |  SELECT key, source, ROW_NUMBER() OVER (PARTITION BY key
         |    ORDER BY c DESC, source ASC) AS rn
         |  FROM (SELECT key, source, COUNT(*) AS c FROM d
         |        WHERE source IS NOT NULL GROUP BY key, source)) WHERE rn = 1),
         |f_nc AS (SELECT key, n_chars FROM (
         |  SELECT key, n_chars, ROW_NUMBER() OVER (PARTITION BY key
         |    ORDER BY c DESC, n_chars ASC) AS rn
         |  FROM (SELECT key, n_chars, COUNT(*) AS c FROM d
         |        WHERE n_chars IS NOT NULL GROUP BY key, n_chars)) WHERE rn = 1)
         |SELECT s.key, s.n_members, f_lang.lang, f_source.source,
         |  f_nc.n_chars
         |FROM spine s
         |LEFT JOIN f_lang ON f_lang.key = s.key
         |LEFT JOIN f_source ON f_source.key = s.key
         |LEFT JOIN f_nc ON f_nc.key = s.key
         |ORDER BY s.key""".stripMargin,
    // blocking-quality twin: the md5 candidate chain + the naive
    // exact-pair chain on the same shingles, counted; caught = the
    // verified >= 0.5 candidate pairs; bridged ratios
    "blocking_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents WHERE doc_id %
        |    (SELECT 3 * (k + 1 - (k % 2)) FROM
        |      (SELECT GREATEST(1, CAST(ceil(COUNT(*) / 50000.0)
        |         AS BIGINT)) AS k FROM documents)) = 0),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |hj AS (SELECT doc_id, s, unnest(range(1, 9)) AS j FROM sh),
        |sigs AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
        |         FROM hj GROUP BY doc_id, j),
        |bands AS (SELECT doc_id, CAST((j + 1) // 2 AS INT) AS band,
        |            string_agg(mh, '|' ORDER BY j) AS bkey
        |          FROM sigs GROUP BY doc_id, CAST((j + 1) // 2 AS INT)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        |    AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |candj AS (
        |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.id_a
        |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
        |  GROUP BY c.id_a, c.id_b),
        |caught AS (
        |  SELECT i.id_a FROM candj i
        |  JOIN sizes za ON za.doc_id = i.id_a
        |  JOIN sizes zb ON zb.doc_id = i.id_b
        |  WHERE CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) >= 0.5),
        |allp AS (
        |  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
        |    CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM sh sa JOIN sh sb ON sb.s = sa.s AND sa.doc_id < sb.doc_id
        |  GROUP BY sa.doc_id, sb.doc_id),
        |trueP AS (
        |  SELECT i.id_a FROM allp i
        |  JOIN sizes za ON za.doc_id = i.id_a
        |  JOIN sizes zb ON zb.doc_id = i.id_b
        |  WHERE CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) >= 0.5),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM trueP),
        |ng AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_caught FROM caught),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS d FROM sh)
        |SELECT nc.n_candidates, nt.n_true, ng.n_caught,
        |  CASE WHEN nt.n_true > 0 THEN
        |    CAST(CAST(CAST(CAST(ng.n_caught AS DOUBLE) /
        |      CAST(nt.n_true AS DOUBLE) AS DECIMAL(18,9)) AS VARCHAR)
        |      AS DOUBLE) END AS pair_completeness,
        |  CAST(CAST(CAST(1.0 - CAST(nc.n_candidates AS DOUBLE) * 2.0 /
        |    (nd.d * (nd.d - 1.0)) AS DECIMAL(18,9)) AS VARCHAR)
        |    AS DOUBLE) AS reduction_ratio
        |FROM nc, nt, ng, nd""".stripMargin,
    // naive cross-pairs twin of the asymmetric exact probe: every
    // odd/even pair sharing any token, exact-int intersection, single
    // double division, distinct flagged probe ids
    "jaccard_probe_exact" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents WHERE doc_id %
        |    (SELECT 3 * (k + 1 - (k % 2)) FROM
        |      (SELECT GREATEST(1, CAST(ceil(COUNT(*) / 50000.0)
        |         AS BIGINT)) AS k FROM documents)) = 0),
        |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 3),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
        |       FROM sh0),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT p.doc_id AS idp, c.doc_id AS idc,
        |    CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM sh p JOIN sh c ON c.s = p.s
        |    AND p.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        |  GROUP BY p.doc_id, c.doc_id)
        |SELECT DISTINCT i.idp AS doc_id
        |FROM inter i
        |JOIN sizes zp ON zp.doc_id = i.idp
        |JOIN sizes zc ON zc.doc_id = i.idc
        |WHERE CAST(i.ninter AS DOUBLE) / (zp.n + zc.n - i.ninter) >= 0.4
        |ORDER BY doc_id""".stripMargin,
    // SimHash sign-sum over md5 nibbles — exact integers end to end
    "simhash_md5" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS tok FROM documents),
        |hx AS (SELECT doc_id, md5(tok) AS hx FROM toks),
        |bits AS (
        |  SELECT doc_id, b,
        |    2 * (((strpos('0123456789abcdef', substr(hx, CAST((b + 3) // 4 AS INT), 1)) - 1)
        |      >> ((b - 1) % 4)) & 1) - 1 AS c
        |  FROM (SELECT doc_id, hx, unnest(range(1, 17)) AS b FROM hx)),
        |s AS (SELECT doc_id, b, SUM(c) AS sm FROM bits GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN sm > 0 THEN (CAST(1 AS BIGINT) << CAST(b - 1 AS INT)) ELSE 0 END) AS BIGINT) AS sig
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // cross-corpus probe/filter over the md5 kernel: odd ids probe the
    // even-id corpus; kept = probes with no verified cross near-dup
    "crossdup_md5" ->
      """WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |ptoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts FROM newd),
        |ctoks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts FROM corp),
        |psh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |         FROM ptoks WHERE len(ts) >= 3),
        |psh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s FROM psh0),
        |csh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
        |         FROM ctoks WHERE len(ts) >= 3),
        |csh AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s FROM csh0),
        |psig AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
        |         FROM (SELECT doc_id, s, unnest(range(1, 9)) AS j FROM psh)
        |         GROUP BY doc_id, j),
        |csig AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
        |         FROM (SELECT doc_id, s, unnest(range(1, 9)) AS j FROM csh)
        |         GROUP BY doc_id, j),
        |pband AS (SELECT doc_id, CAST((j + 1) // 2 AS INT) AS band,
        |            string_agg(mh, '|' ORDER BY j) AS bkey
        |          FROM psig GROUP BY doc_id, CAST((j + 1) // 2 AS INT)),
        |cband AS (SELECT doc_id, CAST((j + 1) // 2 AS INT) AS band,
        |            string_agg(mh, '|' ORDER BY j) AS bkey
        |          FROM csig GROUP BY doc_id, CAST((j + 1) // 2 AS INT)),
        |cand AS (SELECT DISTINCT p.doc_id AS id_p, c.doc_id AS id_c
        |         FROM pband p JOIN cband c ON p.band = c.band AND p.bkey = c.bkey),
        |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM psh GROUP BY doc_id),
        |nc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM csh GROUP BY doc_id),
        |inter AS (SELECT c.id_p, c.id_c, CAST(COUNT(*) AS BIGINT) AS ninter
        |  FROM cand c
        |  JOIN psh pa ON pa.doc_id = c.id_p
        |  JOIN csh cb ON cb.doc_id = c.id_c AND cb.s = pa.s
        |  GROUP BY c.id_p, c.id_c),
        |flagged AS (SELECT DISTINCT i.id_p AS doc_id
        |  FROM inter i JOIN np ON np.doc_id = i.id_p JOIN nc ON nc.doc_id = i.id_c
        |  WHERE CAST(i.ninter AS DOUBLE) / (np.n + nc.n - i.ninter) >= 0.4)
        |SELECT n.doc_id FROM newd n ANTI JOIN flagged f ON n.doc_id = f.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    // connected-components labels over the md5 pair graph: recursive
    // transitive closure + min-reachable per node ≡ the operator's
    // min-id-in-component contract
    "neardup_components_md5" ->
      s"""WITH RECURSIVE $md5ComponentsCtes
         |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin,
    // cluster-size histogram over the SAME shared components chain
    "neardup_cluster_sizes" ->
      s"""WITH RECURSIVE $md5ComponentsCtes,
         |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
         |  FROM comp GROUP BY component)
         |SELECT sz AS cluster_size,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_docs
         |FROM cs GROUP BY sz ORDER BY sz""".stripMargin,
    // cross-source matrix twin: the SAME mpairs selection joined back
    // to documents.source, LEAST/GREATEST canonical pair (ASCII source
    // names — binary collation agrees across engines)
    "crossdup_sources" ->
      s"""WITH RECURSIVE $md5ComponentsCtes
         |SELECT LEAST(da.source, db.source) AS source_a,
         |  GREATEST(da.source, db.source) AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM mpairs p
         |JOIN documents da ON da.doc_id = p.id_a
         |JOIN documents db ON db.doc_id = p.id_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // quality-aware canonicalization twin: the SAME component closure
    // joined with the SAME lm-score definition; per component the
    // (lm_score DESC, doc_id ASC) leader survives, everything else
    // drops, untouched docs pass through (LEFT JOIN keeps docs the LM
    // cannot score, with null scores)
    "neardup_keep_best_md5" ->
      s"""SELECT * FROM ($keepBestSurvivorsSql) ORDER BY doc_id""",
    // winnowing selection over the shared md5 kernel: identical hex in
    // both engines; min over hex strings is the same total order
    "fingerprint_winnow" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |lng AS (SELECT doc_id, t, length(t) - 8 AS n FROM d WHERE length(t) >= 9),
        |g0 AS (SELECT doc_id, t, n, LEAST(4, n) AS win,
        |         unnest(range(1, n + 1)) AS p FROM lng),
        |grams AS (SELECT doc_id, n, win, p,
        |            md5(substr(t, CAST(p AS INT), 9)) AS h FROM g0),
        |wins AS (SELECT doc_id, p, h,
        |    unnest(range(GREATEST(1, p - win + 1), LEAST(p, n - win + 1) + 1)) AS ws
        |  FROM grams),
        |sel AS (SELECT doc_id, ws, h, p,
        |    row_number() OVER (PARTITION BY doc_id, ws ORDER BY h ASC, p DESC) AS rn
        |  FROM wins),
        |fp AS (SELECT DISTINCT doc_id, h FROM sel WHERE rn = 1),
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN length(d.t) < 9 THEN CAST(1 AS BIGINT)
        |       ELSE CAST(COALESCE(c.n_fp, 0) AS BIGINT) END AS n_fp
        |FROM d LEFT JOIN cnt c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,
  )
}
