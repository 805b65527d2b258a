package graft
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text slice of the [[SparkEntry]] registry — text quality, language ID, tokenizers/BPE, n-gram statistics, encoding hygiene, packing.
  *
  * Split from the single 9.5k-line SparkEntry.scala (r16 verdict item
  * 6); every entry is VERBATIM from that file, and the shared frame /
  * SQL-snippet helpers stay on [[SparkEntry]] (imported wholesale
  * below) so registration text and oracle twins cannot drift during
  * the move. Composition happens in [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSqlRaw]]. */
private[graft] object RegistryText {
  import SparkEntry._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "token_counts" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          token_count(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")),
    "bpe_token_counts" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          token_count_bpe(col("text")).cast("long").as("n_bpe"))
        .orderBy("doc_id")),
    // tokenizer-fertility report per language: BPE-ish tokens per
    // whitespace token and chars per BPE token — the "how expensive is
    // this language for the tokenizer" budgeting table (exact long
    // sums, one double division each through the decimal bridge)
    "token_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          token_count(col("text")).cast("long").as("__ws"),
          token_count_bpe(col("text")).cast("long").as("__bpe"),
          col("n_chars").as("__ch"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("__ws").as("n_tokens"),
          sum("__bpe").as("n_bpe"),
          (sum("__bpe").cast("double") / sum("__ws").cast("double"))
            .cast("decimal(18,9)").cast("double").as("fertility"),
          (sum("__ch").cast("double") / sum("__bpe").cast("double"))
            .cast("decimal(18,9)").cast("double").as("chars_per_bpe"))
        .orderBy("lang")),
    // BPE tokenizer TRAINED on the corpus itself (Sennrich et al.):
    // one word-count pass + driver-side merge loop on the weighted
    // vocabulary, then the codegen'd segmenter kernel. The twin
    // replays the WHOLE pipeline in SQL — unrolled training stages
    // (weighted pair counts → argmax → one-pass merge) + a recursive
    // rank-order segmentation — so the trained path is oracle-checked
    // end-to-end (merge order and segmentation stay unit-pinned too)
    "bpe_trained_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ranks = graft.operators.TextAnalysis.bpeRanks(
        graft.operators.TextAnalysis.trainBpeMerges(docs, "text",
          numMerges = bpeTrainedMerges))
      docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.bpe_segment(col("text"), ranks))
          .cast("long").as("n_subwords"))
        .orderBy("doc_id")
    }),
    // reads the process-shared quality-score artifact (the text scan
    // runs once; budget_select reads the same table)
    "doc_quality" -> ((s, dir) =>
      SharedFrames.qualityScoredDocs(s, dir)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("avg_token_len"), col("alpha_ratio"), col("punct_ratio"),
          col("stopword_ratio"), col("quality_score"))
        .orderBy("doc_id")),
    // the full Gopher rule set (word count / word length / symbol /
    // bullet / ellipsis / alpha-word / stop-word rules) — exact
    // integer metrics, one fixed division each, keep as INT
    "gopher_quality" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.*"))
        .orderBy("doc_id")),
    // PII audit: per-category match counts + scrubbed length (this
    // corpus is PII-free, so counts are zero and clean_len == len —
    // the redaction itself is unit-tested on planted PII)
    "pii_scrub" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextClean.piiStats(col("text")).as("p"))
        .select(col("doc_id"), col("p.*"))
        .orderBy("doc_id")),
    // the same funnel flags grouped by LANG — "which language slice is
    // dying at which stage", the other attrition dashboard cut (CCNet
    // runs the whole pipeline per language; this is its report shape)
    "curation_funnel_by_lang" -> ((s, dir) => {
      val flags = curationFlags(s, dir, Seq("lang"))
      def through(fs: String*) =
        count(when(fs.map(col(_) === 1).reduce(_ && _), 1))
      flags.groupBy("lang").agg(
          count(lit(1)).as("n_total"),
          count(col("f2")).as("n_gopher"),
          through("f2", "f3").as("n_lm"),
          through("f2", "f3", "f4").as("n_dupspan"),
          through("f2", "f3", "f4", "f5").as("n_neardup"),
          through("f2", "f3", "f4", "f5", "f6").as("n_decontam"))
        .orderBy("lang")
    }),
    // boundary-span report over the per-lang packing layout: which
    // chunk each doc STARTS and ENDS in (loader spill handling) —
    // packSequencesByKey + the packSpans projection, token lengths,
    // capacity 1024, all-integer
    "pack_spans" -> ((s, dir) =>
      graft.operators.PrefixScan.packSpans(
        graft.operators.PrefixScan.packSequencesByKey(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.token_count(col("text"))
              .cast("long").as("n_tokens")),
          Seq("lang"), "n_tokens", chunkSize = 1024L,
          orderCols = Seq("doc_id"),
          materialize = false), // parquet read → deterministic lineage
        "n_tokens", chunkSize = 1024L)
        .orderBy("lang", "doc_id")),
    // lang-ID is hash-free (CJK ratio + stopword-profile argmax) so it
    // carries a full DuckDB twin, unlike the hash kernels below
    "langid_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), lang_id(col("text")).as("lang_guess"))
        .orderBy("doc_id")),
    // Flesch readability profile: exact word/sentence/vowel-group
    // counts + two fixed IEEE score chains, zero-shuffle row map
    "readability_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.*"))
        .orderBy("doc_id")),

    // X211 Unicode-script profile — one narrow codegen'd projection
    // (8 regexp count subtractions + integer CASE arithmetic), zero
    // shuffles; the exact-codepoint spoof/mislabel gate that runs
    // before any statistical lang-ID
    "script_profile" -> ((s, dir) =>
      graft.operators.ScriptProfile.profile(
        t(s, dir, "documents"), "doc_id", "text")
        .withColumn("mixed_script", col("mixed_script").cast("int"))
        .orderBy("doc_id")),

    // X220 encoding-damage audit — damage SYNTHESIZED deterministically
    // onto the (pure-ASCII) corpus, the url_canonical_dedup convention:
    // %7 docs get three mojibake digraphs, %11 a replacement char, %13
    // two C1 controls; the oracle twin derives the expected counts
    // ANALYTICALLY from the injection rule (not by replaying the
    // regexes), so the whole detector is independently checked
    "encoding_damage" -> ((s, dir) => {
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" cafÃ© â€™ Â°"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" �"))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" "))
            .otherwise(lit(""))).as("t"))
      injected.select(col("doc_id"),
          graft.operators.TextClean.encodingDamage(col("t")).as("d"))
        .select(col("doc_id"), col("d.n_replacement"), col("d.n_c1"),
          col("d.n_mojibake"),
          ((col("d.n_replacement") + col("d.n_c1") + col("d.n_mojibake"))
            > 0).cast("int").as("damaged"))
        .orderBy("doc_id")
    }),

    // X224 mojibake REPAIR over the same deterministic injection as
    // encoding_damage — the twin derives the expected repaired text
    // ANALYTICALLY (original + true-character tails), so the derived
    // repair map and the cp1252 translate are independently checked;
    // n_residual proves repair clears the detector except the FFFD
    // tombstone
    "encoding_repair" -> ((s, dir) => {
      val injected = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" cafÃ© â€™ Â°"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" �"))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" "))
            .otherwise(lit(""))).as("t"))
      injected.select(col("doc_id"),
          graft.operators.TextClean.repairMojibake(col("t")).as("fixed"))
        .withColumn("d",
          graft.operators.TextClean.encodingDamage(col("fixed")))
        .select(col("doc_id"), col("fixed"),
          (col("d.n_replacement") + col("d.n_c1") + col("d.n_mojibake"))
            .as("n_residual"))
        .orderBy("doc_id")
    }),

    // X226 exact grouped ROC-AUC (rank-sum with average-rank ties,
    // all longs + one division) and the PR sweep — both over the
    // calibration synthetic, cumulatives via the grouped two-phase
    // scan (no PARTITION BY window)
    "auc_by_lang" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("lang"),
        ((col("doc_id") % 97).cast("double") / lit(97.0)).as("score"),
        when((col("doc_id") * 7919) % 97 < col("doc_id") % 97, 1L)
          .otherwise(0L).as("label"))
      graft.operators.Calibration.aucByKey(scored, Seq("lang"),
        "score", "label")
        .orderBy("lang")
    }),
    // corpus vocabulary with document frequencies (TextAnalysis)
    "vocab_top" -> ((s, dir) =>
      graft.operators.TextAnalysis.vocabulary(
        t(s, dir, "documents"), "doc_id", "text", topN = 200)),
    // text-cleaning pipeline (strip tags / redact PII+URLs / normalize
    // whitespace); a noisy suffix is appended so every stage fires on
    // every row
    "clean_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextClean.clean(concat(col("text"),
            lit(" contact: a.b@test.com https://ex.com/x?q=1 <b>hi</b>")))
            .as("cleaned"))
        .orderBy("doc_id")),
    // curation cap: at most 50 docs per language, lowest doc_id first
    "cap_per_lang" -> ((s, dir) =>
      graft.operators.Sampling.capPerKey(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), Seq("doc_id"), n = 50)
        .orderBy("doc_id")),
    // sketch-guided EXACT heavy hitters: CMS candidate filter (never
    // underestimates → no true hitter missed) + exact count verify —
    // equals the plain HAVING answer without a full-distinct shuffle
    "heavy_tokens" -> ((s, dir) =>
      graft.operators.Profile.heavyHitters(
        t(s, dir, "documents")
          .select(explode(tokens(col("text"))).as("tok")),
        "tok", minSupport = 0.005)),
    // deterministic train/valid/test assignment: cumulative md5
    // buckets over doc_id — leakage-safe (group keys keep groups
    // together), engine-portable, narrow map
    "split_docs" -> ((s, dir) =>
      graft.operators.Sampling.assignSplits(
        t(s, dir, "documents").select("doc_id"), "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")),
    // Unicode hygiene: NFC + accent strip (identity on this ASCII
    // corpus — the oracle checks the plumbing; real accent/combining
    // cases are unit-tested)
    "normalize_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.TextClean.normalizeUnicode(col("text"))
            .as("norm_text"))
        .orderBy("doc_id")),
    // per-language packing: one concatenated stream per lang (the
    // GROUPED two-phase scan — parallel across AND within keys; a hot
    // lang spans adjacent partitions instead of one window task)
    "sequence_pack_by_lang" -> ((s, dir) =>
      graft.operators.PrefixScan.packSequencesByKey(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        Seq("lang"), "n_chars", chunkSize = 8192,
        orderCols = Seq("doc_id"),
        materialize = false) // parquet read → deterministic lineage
        .select("doc_id", "lang", "start_offset", "chunk_id")
        .orderBy("doc_id")),
    // sequence packing: concatenate the corpus in doc order and cut
    // into fixed-size context windows — two-phase distributed prefix
    // scan, NOT a single-partition global window
    "sequence_pack" -> ((s, dir) =>
      // materialize=false: deterministic parquet input, so the lazy
      // path is exact and nothing is checkpointed (the 100 TB posture)
      graft.operators.PrefixScan.packSequences(
        t(s, dir, "documents").select("doc_id", "n_chars"),
        "n_chars", chunkSize = 8192, orderCols = Seq("doc_id"),
        materialize = false)
        .select("doc_id", "start_offset", "chunk_id")
        .orderBy("doc_id")),
    // Gopher-style repetition: share of bigrams taken by the most
    // repeated bigram (single double division → bit-exact oracle)
    "repetition_docs" -> ((s, dir) =>
      graft.operators.TextAnalysis.repetition(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // char-bigram LM quality score (KenLM/CCNet perplexity-filter
    // stand-in): corpus-fit MLE, per-doc mean log-prob via an ORDERED
    // sequential fold so accumulation is engine-independent;
    // decimal-rounded for ln ulp drift. The fit+score pass is the
    // process-shared scored-docs artifact (SharedFrames) — one corpus
    // scan serves this, ccnet_buckets, and curation_scored, the same
    // stored-table shape a 100 TB pipeline uses.
    "lm_score_docs" -> ((s, dir) =>
      SharedFrames.lmScoredDocs(s, dir).orderBy("doc_id")),
    // word-level stupid-backoff LM (Brants 2007) — the closer KenLM
    // analog: pruned tri/bi/unigram MLE fit on the corpus, ordered
    // ln-fold score per doc (codegen'd kernel, zero shuffles)
    "word_lm_score" -> ((s, dir) =>
      graft.operators.TextAnalysis.wordLmScore(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // C4-style blocklist audit: distinct listed-token hits per doc,
    // the sorted matched terms as one scalar string, and the keep
    // flag; the list is ONE shared literal (SparkEntry.blocklistTerms)
    // interpolated into both sides
    "blocklist_filter" -> ((s, dir) =>
      graft.operators.TextAnalysis.blocklistAudit(
        t(s, dir, "documents"), "doc_id", "text", blocklistTerms)
        .orderBy("doc_id")),
    // interpolated Kneser–Ney bigram LM (D = 3/4, dyadic): the
    // continuation-count smoothing family next to stupid-backoff's
    // MLE chain; the model stays DISTRIBUTED (no driver collect) and
    // the per-doc mean rides the decimal exact-sum bridge
    "kneser_ney_score" -> ((s, dir) =>
      graft.operators.TextAnalysis.kneserNeyScore(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // CCNet-style perplexity terciles: shared scored frame + exact
    // tercile cut-points → head/middle/tail buckets
    "ccnet_buckets" -> ((s, dir) =>
      graft.operators.TextAnalysis.perplexityBucketsFromScored(
        SharedFrames.lmScoredDocs(s, dir))
        .orderBy("doc_id")),
    // exact consecutive-phrase retrieval over positional postings
    // (posexplode → term-filtered before any shuffle → chained
    // (id, pos − i) equi-joins); occurrence counts per doc
    "phrase_query" -> ((s, dir) =>
      graft.operators.Bm25.phraseQuery(
        t(s, dir, "documents"), "doc_id", "text",
        phrase = Seq("slow", "hash", "batch"))
        .orderBy("doc_id")),
    // Sliding-window chunking for embedding/RAG: 8-token windows every
    // 4 tokens (50% overlap); last chunks shorter, order preserved.
    "chunk_docs" -> ((s, dir) =>
      graft.operators.TextAnalysis.chunkDocs(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", windowTokens = 8, strideTokens = 4)
        .orderBy("doc_id", "chunk_id")),
    // bigram PMI collocations (ln drift across libms → decimal-rounded
    // on both sides, same convention as tfidf_sample)
    "bigram_pmi" -> ((s, dir) =>
      graft.operators.TextAnalysis.bigramPmi(
        t(s, dir, "documents"), "text", minCount = 5)
        .withColumn("pmi", col("pmi").cast("decimal(18,9)").cast("double"))
        .orderBy("w1", "w2")),
    // length-bucketed training-batch assembly: power-of-two buckets
    // by n_chars, (len DESC, id) order inside each bucket, 8-doc
    // batches via the two-phase PrefixScan rank (no per-bucket global
    // window) — per-batch padding-waste report
    "length_batches" -> ((s, dir) => {
      val packed = graft.operators.PrefixScan.packByLength(
        t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars")),
        "doc_id", "n_chars", batchDocs = 8, materialize = false)
      packed.groupBy("length_bucket", "batch_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          max("n_chars").cast("long").as("max_len"),
          sum("n_chars").cast("long").as("sum_len"))
        .withColumn("pad_waste",
          col("max_len") * col("n_docs") - col("sum_len"))
        .orderBy("length_bucket", "batch_id")
    }),
    // per-document codepoint entropy: the cheap gibberish / filler /
    // base64-blob quality signal — order-free decimal term sums
    // tokenizer fertility per language: BPE-regex tokens per
    // whitespace word + UTF-8 bytes per BPE token — the "is this
    // tokenizer efficient on this language" sizing read (fertility
    // near 1 = word-aligned; high = the language fragments; bytes/
    // token is the context-window cost). Exact longs, two bridged
    // divisions
    "tokenizer_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang").agg(
          sum(token_count(col("text")).cast("long")).as("n_words"),
          sum(token_count_bpe(col("text")).cast("long")).as("n_bpe"),
          sum(expr("octet_length(text)").cast("long")).as("n_bytes"))
        .withColumn("fertility",
          when(col("n_words") > 0L,
            (col("n_bpe").cast("double") / col("n_words").cast("double"))
              .cast("decimal(18,9)").cast("string").cast("double")))
        .withColumn("bytes_per_token",
          when(col("n_bpe") > 0L,
            (col("n_bytes").cast("double") / col("n_bpe").cast("double"))
              .cast("decimal(18,9)").cast("string").cast("double")))
        .orderBy("lang")),
    // distinct-n diversity per source (Li et al. 2016): a low ratio
    // flags template-spam / boilerplate floods inside a slice that
    // per-document filters can't see (each copy looks fine)
    "distinct_ngrams" -> ((s, dir) =>
      graft.operators.TextAnalysis.distinctNgrams(
        t(s, dir, "documents").select("source", "text"),
        "source", "text", n = 2)
        .orderBy("source")),
    "char_entropy" -> ((s, dir) =>
      graft.operators.TextAnalysis.charEntropy(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // vocabulary-growth (Heaps-law) curve: cumulative distinct tokens
    // at 10 equal corpus slices — ntileExact buckets (no global
    // window), one explode + min-agg, bounded cumulative rollup
    "vocab_growth" -> ((s, dir) =>
      graft.operators.TextAnalysis.vocabGrowth(
        t(s, dir, "documents"), "doc_id", "text", buckets = 10)
        .orderBy("bucket")),
    // windowed skip-gram PMI (window=3): the word2vec co-occurrence
    // statistic — unordered pairs within 3 positions, map-side pair
    // stream (no self-join), broadcast totals, bridged doubles
    "skipgram_pmi" -> ((s, dir) =>
      graft.operators.TextAnalysis.skipgramPmi(
        t(s, dir, "documents"), "text", window = 3, minCount = 5)
        .withColumn("pmi", col("pmi").cast("decimal(18,9)").cast("double"))
        .orderBy("w1", "w2")),
    // document-level co-occurrence association rules over the top-40
    // vocabulary (bounded-V pair join; lift in mirrored IEEE ops)
    "cooc_lift" -> ((s, dir) =>
      // the process-shared cooc artifact (SharedFrames) — one corpus
      // explode+join serves this report and all six graph queries
      SharedFrames.coocPairs(s, dir)
        .orderBy("tok_a", "tok_b")),
    // HITS hubs & authorities (2 iterations, L1-normalized per
    // half-round) over the directed cooc DAG — the two-score ranking
    // pair the single PageRank score cannot express
    "token_hits" -> ((s, dir) => {
      val pairs = SharedFrames.coocPairs(s, dir)
        .select("tok_a", "tok_b")
      graft.operators.Graph.hits(pairs, "tok_a", "tok_b", iters = 2)
        .orderBy("node")
    }),
    // lang × source crosstab with an explicit pivot domain (no
    // driver-side distinct-collect) — empty cells exact 0
    "crosstab_langs" -> ((s, dir) =>
      graft.operators.Profile.crosstab(
        t(s, dir, "documents"), "lang", "source",
        values = (0 until 20).map(i => s"src$i"))
        .orderBy("lang")),
    // column-profiling summary (one agg pass; exact distincts so the
    // DuckDB oracle can hash-match — production default is the HLL
    // sketch, see Profile.summarize)
    "profile_docs" -> ((s, dir) =>
      graft.operators.Profile.summarize(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"), exact = true)
        .orderBy("column")),
  )

  def twins: Map[String, String] = Map(
    "token_counts" ->
      s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    // twin of TextOps.langId: CJK char ratio > 0.2 → zh, else stopword
    // profile with most token hits (multiplicity counts; ties fall to
    // the earlier profile in en/de/fr/es order; zero hits → und). The
    // chained >= CASE reproduces first-profile-wins: a later profile is
    // chosen only when it strictly beats every earlier one.
    "langid_docs" ->
      s"""WITH hits AS (
         |  SELECT doc_id, text,
         |    len(tk) AS n_tok,
         |    len(list_filter(tk, x -> list_contains(
         |      ['the','a','and','of','to','in','is','it','you','that','for','on','are','with','as'], x))) AS h_en,
         |    len(list_filter(tk, x -> list_contains(
         |      ['der','die','das','und','ist','nicht','ich','du','mit','für','auf','ein','eine','zu','den'], x))) AS h_de,
         |    len(list_filter(tk, x -> list_contains(
         |      ['le','la','les','et','est','un','une','je','tu','pour','dans','que','ne','pas','sur'], x))) AS h_fr,
         |    len(list_filter(tk, x -> list_contains(
         |      ['el','los','las','y','es','en','no','por','con','para','se','del','su','al','como'], x))) AS h_es
         |  FROM (SELECT doc_id, text, $toksSql AS tk FROM documents))
         |SELECT doc_id,
         |  CASE
         |    WHEN len(text) = 0 THEN 'und'
         |    WHEN len(regexp_replace(text,
         |      '[^\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]', '', 'g')) * 1.0
         |      / len(text) > 0.2 THEN 'zh'
         |    WHEN n_tok = 0 OR greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
         |    WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es THEN 'en'
         |    WHEN h_de >= h_fr AND h_de >= h_es THEN 'de'
         |    WHEN h_fr >= h_es THEN 'fr'
         |    ELSE 'es'
         |  END AS lang_guess
         |FROM hits ORDER BY doc_id""".stripMargin,
    "bpe_token_counts" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, " +
        "'''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe " +
        "FROM documents ORDER BY doc_id"),
    // trained-BPE twin: replays TRAINING (weighted word counts →
    // per-stage pair counts → (count DESC, a, b) argmax → merge) and
    // SEGMENTATION (apply merges in rank order) entirely in SQL.
    // Representation trick: every symbol sits in its OWN chr(1)
    // wrappers ("␁a␁␁b␁"), so adjacent pairs never share a separator
    // and ONE replace() call = exactly one left-to-right
    // non-overlapping merge pass — the same pass TextOps.mergePair /
    // bpeSegment make. Rank-order application ≡ the kernel's greedy
    // lowest-rank-first order ONLY under the no-duplicate-derivation
    // assumption (no symbol string produced by two distinct trained
    // merges, e.g. (a,bc) vs (ab,c) both yielding "abc");
    // trainBpeMerges ASSERTS that property on the trained list, so a
    // violating corpus fails loudly there, never as a silent twin
    // hash mismatch here. chr(1) never occurs in the
    // corpus text (checked; a contaminated corpus would fail the
    // hash, not silently pass). Training stages are MATERIALIZED —
    // each references its predecessor twice and DuckDB would inline
    // 2^stages copies otherwise.
    "bpe_trained_tokens" -> {
      val SEP = "chr(1)"
      def pat(a: String, b: String) =
        s"$SEP||$a||$SEP||$SEP||$b||$SEP"
      def rep(a: String, b: String) = s"$SEP||$a||$b||$SEP"
      def wrap(e: String) =
        s"$SEP || array_to_string(regexp_extract_all($e, '.'), " +
          s"$SEP||$SEP) || $SEP"
      def stage(i: Int): String =
        s"""p$i AS MATERIALIZED (
           |  SELECT pr.a AS a, pr.b AS b, SUM(c) AS pc FROM (
           |    SELECT unnest(list_transform(range(1, len(parts)),
           |      j -> struct_pack(a := parts[j], b := parts[j+1])))
           |      AS pr, c
           |    FROM (SELECT list_filter(string_split(s, chr(1)),
           |      x -> x <> '') AS parts, c FROM v${i - 1}))
           |  GROUP BY 1, 2),
           |b$i AS MATERIALIZED (
           |  SELECT a, b FROM p$i ORDER BY pc DESC, a, b LIMIT 1),
           |v$i AS MATERIALIZED (
           |  SELECT CASE WHEN b.a IS NULL THEN v.s
           |    ELSE replace(v.s, ${pat("b.a", "b.b")},
           |                 ${rep("b.a", "b.b")}) END AS s, v.c
           |  FROM v${i - 1} v LEFT JOIN b$i b ON TRUE)""".stripMargin
      val mgUnion = (1 to bpeTrainedMerges)
        .map(i => s"SELECT ${i - 1} AS r, a, b FROM b$i")
        .mkString("\n  UNION ALL ")
      s"""WITH RECURSIVE
         |w0 AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT unnest($toksSql) AS w FROM documents)
         |  GROUP BY w ORDER BY c DESC, w LIMIT 100000),
         |v0 AS MATERIALIZED (SELECT ${wrap("w")} AS s, c FROM w0),
         |${(1 to bpeTrainedMerges).map(stage).mkString(",\n")},
         |mg AS MATERIALIZED (
         |  $mgUnion),
         |docword AS (SELECT doc_id, unnest($toksSql) AS w
         |  FROM documents),
         |dw AS (SELECT DISTINCT w FROM docword),
         |seg AS (
         |  SELECT w, ${wrap("w")} AS s, 0 AS r FROM dw
         |  UNION ALL
         |  SELECT seg.w, CASE WHEN m.a IS NULL THEN seg.s
         |    ELSE replace(seg.s, ${pat("m.a", "m.b")},
         |                 ${rep("m.a", "m.b")}) END,
         |    seg.r + 1
         |  FROM seg LEFT JOIN mg m ON m.r = seg.r
         |  WHERE seg.r < $bpeTrainedMerges),
         |wc AS (SELECT w,
         |    CAST((len(s) - len(replace(s, chr(1), ''))) // 2
         |      AS BIGINT) AS n
         |  FROM seg WHERE r = $bpeTrainedMerges)
         |SELECT d.doc_id,
         |  CAST(COALESCE(SUM(wc.n), 0) AS BIGINT) AS n_subwords
         |FROM documents d
         |LEFT JOIN docword dwd ON dwd.doc_id = d.doc_id
         |LEFT JOIN wc ON wc.w = dwd.w
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
    },
    // fertility twin: same kernel counts (toksSql length, the BPE
    // regex), exact BIGINT sums, one double division per ratio via
    // the decimal(18,9) VARCHAR bridge
    "token_fertility" ->
      (s"""WITH c AS (SELECT lang, CAST(len($toksSql) AS BIGINT) AS ws,
         |  CAST(len(regexp_extract_all(text,
         |    '${"''"}(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'
         |  )) AS BIGINT) AS bpe,
         |  n_chars AS ch FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(ws) AS BIGINT) AS n_tokens,
         |  CAST(SUM(bpe) AS BIGINT) AS n_bpe,
         |  CAST(CAST(CAST(CAST(CAST(SUM(bpe) AS BIGINT) AS DOUBLE) /
         |    CAST(CAST(SUM(ws) AS BIGINT) AS DOUBLE) AS DECIMAL(18,9))
         |    AS VARCHAR) AS DOUBLE) AS fertility,
         |  CAST(CAST(CAST(CAST(CAST(SUM(ch) AS BIGINT) AS DOUBLE) /
         |    CAST(CAST(SUM(bpe) AS BIGINT) AS DOUBLE) AS DECIMAL(18,9))
         |    AS VARCHAR) AS DOUBLE) AS chars_per_bpe
         |FROM c GROUP BY lang ORDER BY lang""").stripMargin,
    "doc_quality" -> docQualitySql,
    // integer-derived metrics with one fixed division each; the
    // rule thresholds compare identical doubles on both engines
    "gopher_quality" -> gopherQualitySql,
    "pii_scrub" -> {
      import graft.operators.TextClean._
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailPattern')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$UrlPattern')) AS BIGINT)
         |    AS n_urls,
         |  CAST(len(regexp_extract_all(text, '$IpPattern')) AS BIGINT)
         |    AS n_ips,
         |  CAST(len(regexp_extract_all(text, '$PhonePattern')) AS BIGINT)
         |    AS n_phones,
         |  CAST(len(regexp_replace(regexp_replace(regexp_replace(
         |    regexp_replace(text, '$EmailPattern', '<EMAIL>', 'g'),
         |    '$UrlPattern', '<URL>', 'g'),
         |    '$IpPattern', '<IP>', 'g'),
         |    '$PhonePattern', '<PHONE>', 'g')) AS BIGINT) AS clean_len
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // span twin: same per-lang exclusive cumsum as sequence_pack_by_lang
    // plus the last-chunk arithmetic (// matches div on non-negatives)
    "pack_spans" ->
      s"""WITH tk AS (SELECT doc_id, lang,
         |    CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, lang, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM tk),
         |placed AS (SELECT doc_id, lang, n_tokens, start_offset,
         |    start_offset // 1024 AS chunk_id,
         |    CASE WHEN n_tokens <= 0 THEN start_offset // 1024
         |         ELSE (start_offset + n_tokens - 1) // 1024 END
         |      AS last_pack
         |  FROM c)
         |SELECT lang, doc_id, n_tokens,
         |  CAST(start_offset AS BIGINT) AS start_offset,
         |  CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(last_pack AS BIGINT) AS last_pack,
         |  CAST(last_pack - chunk_id + 1 AS BIGINT) AS n_packs_spanned
         |FROM placed ORDER BY lang, doc_id""".stripMargin,
    // per-lang funnel twin: identical to the per-source form with the
    // grouping column swapped — both compose the SAME shared stage
    // predicates, so the three funnel cuts cannot drift apart
    "curation_funnel_by_lang" ->
      s"""WITH g AS (SELECT doc_id FROM ($gopherQualitySql)
         |  WHERE n_words >= 30 AND alpha_word_ratio >= 0.8),
         |lmq AS (SELECT doc_id FROM ($lmScoreSql)
         |  WHERE lm_score >= -1.75),
         |dsq AS (SELECT doc_id FROM ($dupSpansSql)
         |  WHERE dup_ratio <= 0.25),
         |keepb AS (SELECT doc_id FROM ($keepBestSurvivorsSql)),
         |dec AS (SELECT doc_id FROM ($decontaminateSql)
         |  WHERE contamination_ratio < 0.05)
         |SELECT d.lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(COUNT(g.doc_id) AS BIGINT) AS n_gopher,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_lm,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL AND dsq.doc_id IS NOT NULL
         |    THEN 1 END) AS BIGINT) AS n_dupspan,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL AND dsq.doc_id IS NOT NULL
         |    AND keepb.doc_id IS NOT NULL THEN 1 END) AS BIGINT)
         |    AS n_neardup,
         |  CAST(COUNT(CASE WHEN g.doc_id IS NOT NULL
         |    AND lmq.doc_id IS NOT NULL AND dsq.doc_id IS NOT NULL
         |    AND keepb.doc_id IS NOT NULL AND dec.doc_id IS NOT NULL
         |    THEN 1 END) AS BIGINT) AS n_decontam
         |FROM documents d
         |LEFT JOIN g ON d.doc_id = g.doc_id
         |LEFT JOIN lmq ON d.doc_id = lmq.doc_id
         |LEFT JOIN dsq ON d.doc_id = dsq.doc_id
         |LEFT JOIN keepb ON d.doc_id = keepb.doc_id
         |LEFT JOIN dec ON d.doc_id = dec.doc_id
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "script_profile" -> {
      val scripts = graft.operators.ScriptProfile.Scripts
      val cnts = scripts.map { case (n, cls) =>
        s"(length(text) - length(regexp_replace(text, '$cls', '', 'g'))) AS n_$n"
      }.mkString(",\n         |    ")
      val names = scripts.map { case (n, _) => s"n_$n" }
      val total = names.mkString(" + ")
      val great = s"greatest(${names.mkString(", ")})"
      val qual = names.map(n =>
        s"(CASE WHEN $n >= 1 AND $n * 100 >= 10 * n_script_chars THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val dominant = scripts.map { case (n, _) =>
        s"WHEN n_$n > 0 AND n_$n = $great THEN '$n'" }
        .mkString("CASE ", " ", " ELSE 'none' END")
      s"""WITH c AS (SELECT doc_id,
         |    $cnts
         |  FROM documents),
         |t AS (SELECT *, ($total) AS n_script_chars FROM c),
         |q AS (SELECT *, ($qual) AS n_scripts, $dominant AS dominant_script
         |      FROM t)
         |SELECT doc_id, ${names.mkString(", ")}, n_script_chars, n_scripts,
         |  dominant_script,
         |  CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END AS mixed_script
         |FROM q ORDER BY doc_id""".stripMargin
    },

    // ANALYTIC twin: expected damage counts derived from the injection
    // rule (%7 → 3 mojibake digraphs, %11 → 1 replacement char, %13 →
    // 2 C1 controls; base corpus is pure ASCII), independently checking
    // the detector's regexes
    "encoding_damage" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_replacement,
        |  CAST(CASE WHEN doc_id % 13 = 0 THEN 2 ELSE 0 END AS BIGINT)
        |    AS n_c1,
        |  CAST(CASE WHEN doc_id % 7 = 0 THEN 3 ELSE 0 END AS BIGINT)
        |    AS n_mojibake,
        |  CAST(CASE WHEN doc_id % 7 = 0 OR doc_id % 11 = 0
        |       OR doc_id % 13 = 0 THEN 1 ELSE 0 END AS INT) AS damaged
        |FROM documents ORDER BY doc_id""".stripMargin,

    // ANALYTIC repair twin: expected text = original + the TRUE
    // characters the injected damage encodes (é ’ ° / … ’); only the
    // FFFD tombstone survives the re-audit
    "encoding_repair" ->
      """SELECT doc_id,
        |  text || CASE WHEN doc_id % 7 = 0 THEN ' café ’ °'
        |               ELSE '' END
        |       || CASE WHEN doc_id % 11 = 0 THEN ' �' ELSE '' END
        |       || CASE WHEN doc_id % 13 = 0 THEN ' …’' ELSE '' END
        |    AS fixed,
        |  CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_residual
        |FROM documents ORDER BY doc_id""".stripMargin,

    // grouped ROC-AUC twin: identical rank-sum identity — per
    // (lang, score) counts, ascending cumulative, tie-group
    // contribution np*(2*below + n + 1), one final division
    "auc_by_lang" ->
      """WITH scored AS (SELECT lang,
        |    CAST(doc_id % 97 AS DOUBLE) / 97.0 AS s,
        |    CASE WHEN (doc_id * 7919) % 97 < doc_id % 97
        |         THEN 1 ELSE 0 END AS l
        |  FROM documents),
        |g AS (SELECT lang, s, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(l) AS BIGINT) AS np FROM scored GROUP BY 1, 2),
        |c AS (SELECT lang, s, n, np,
        |    CAST(SUM(n) OVER (PARTITION BY lang ORDER BY s) AS BIGINT)
        |      AS cum FROM g),
        |p AS (SELECT lang,
        |    CAST(SUM(np * (2 * (cum - n) + n + 1)) AS BIGINT)
        |      AS two_sum,
        |    CAST(SUM(np) AS BIGINT) AS npos,
        |    CAST(SUM(n) AS BIGINT) AS ntot FROM c GROUP BY lang)
        |SELECT lang, ntot AS n, npos AS n_pos,
        |  CASE WHEN npos > 0 AND ntot > npos THEN
        |    CAST(two_sum - npos * (npos + 1) AS DOUBLE)
        |      / CAST(2 * npos * (ntot - npos) AS DOUBLE)
        |  END AS auc
        |FROM p ORDER BY lang""".stripMargin,
    "vocab_top" ->
      s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
         |d AS (SELECT DISTINCT doc_id, token FROM toks)
         |SELECT token, COUNT(*) AS df FROM d
         |GROUP BY token ORDER BY df DESC, token LIMIT 200""".stripMargin,
    // same regex pipeline, same RE2 patterns, 'g' = replace-all
    "clean_docs" ->
      """SELECT doc_id, trim(regexp_replace(
        |  regexp_replace(
        |  regexp_replace(
        |  regexp_replace(
        |  regexp_replace(text || ' contact: a.b@test.com https://ex.com/x?q=1 <b>hi</b>',
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g'),
        |    '<[^>]*>', ' ', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '\s+', ' ', 'g')) AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,
    "cap_per_lang" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY doc_id""".stripMargin,
    // heavy-hitter twin: the sketch is an implementation detail — the
    // CONTRACT is the exact HAVING answer at ceil(minSupport·N)
    "heavy_tokens" ->
      s"""WITH t AS (
         |  SELECT unnest($toksSql) AS value FROM documents),
         |n AS (SELECT COUNT(*) AS total FROM t)
         |SELECT value, CAST(COUNT(*) AS BIGINT) AS count
         |FROM t GROUP BY value
         |HAVING COUNT(*) >=
         |  CAST(ceil(0.005 * (SELECT total FROM n)) AS BIGINT)
         |ORDER BY count DESC, value""".stripMargin,
    // split twin: thresholds interpolate from the OPERATOR's own
    // thresholdHex, so the cumulative cut-points cannot drift
    "split_docs" ->
      s"""SELECT doc_id,
         |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) <
         |      '${graft.operators.Sampling.thresholdHex(0.8)}' THEN 'train'
         |    WHEN md5(CAST(doc_id AS VARCHAR)) <
         |      '${graft.operators.Sampling.thresholdHex(0.9)}' THEN 'valid'
         |    ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "normalize_docs" ->
      """SELECT doc_id, strip_accents(nfc_normalize(text)) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    // exclusive running sum via an explicit ROWS frame; chunk id is
    // exact integer division on both engines
    "sequence_pack" ->
      """SELECT doc_id,
        |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset,
        |  CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 8192 AS BIGINT)
        |    AS chunk_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "sequence_pack_by_lang" ->
      """SELECT doc_id, lang,
        |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS start_offset,
        |  CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 8192 AS BIGINT)
        |    AS chunk_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    "repetition_docs" ->
      s"""WITH bg AS (
         |  SELECT doc_id, unnest(${shSql(toksSql)}) AS bigram
         |  FROM documents),
         |cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |  CAST(MAX(c) AS BIGINT) AS top_bigram_n,
         |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_bigram_ratio
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // ordered list_sum twin of the Scala fold: list(lnp ORDER BY pos)
    // fixes the accumulation order on both engines
    "lm_score_docs" -> lmScoreSql,
    // word stupid-backoff twin: same pruned count tables (HAVING >= 2),
    // the same per-position CASE chain in the same operation order
    // (division, then one α multiply — α·α COMPUTED, never 0.16 — then
    // ln), the same ordered fold; mean crosses the decimal(18,6)
    // VARCHAR bridge like the char-LM twin
    "word_lm_score" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS w,
         |  unnest(range(1, len(toks) + 1)) AS pos FROM toks),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
         |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok
         |  GROUP BY w),
         |ctx AS (SELECT doc_id, pos, w,
         |  lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         |  lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
         |  FROM tok),
         |big AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT w1 || ' ' || w AS g FROM ctx WHERE w1 IS NOT NULL)
         |  GROUP BY g HAVING COUNT(*) >= 2),
         |trig AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT w2 || ' ' || w1 || ' ' || w AS g FROM ctx
         |    WHERE w2 IS NOT NULL)
         |  GROUP BY g HAVING COUNT(*) >= 2),
         |scored AS (SELECT ctx.doc_id, ctx.pos,
         |  CASE
         |    WHEN ctx.w1 IS NULL THEN
         |      ln(CAST(u.c AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE))
         |    WHEN ctx.w2 IS NULL THEN
         |      CASE WHEN b.c IS NOT NULL THEN
         |        ln(CAST(b.c AS DOUBLE) / CAST(u1.c AS DOUBLE))
         |      ELSE ln(CAST('0.4' AS DOUBLE) *
         |        (CAST(u.c AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE)))
         |      END
         |    ELSE
         |      CASE WHEN t.c IS NOT NULL THEN
         |        ln(CAST(t.c AS DOUBLE) / CAST(bx.c AS DOUBLE))
         |      WHEN b.c IS NOT NULL THEN
         |        ln(CAST('0.4' AS DOUBLE) *
         |          (CAST(b.c AS DOUBLE) / CAST(u1.c AS DOUBLE)))
         |      ELSE ln((CAST('0.4' AS DOUBLE) * CAST('0.4' AS DOUBLE)) *
         |        (CAST(u.c AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE)))
         |      END
         |  END AS lnp
         |  FROM ctx
         |  LEFT JOIN uni u ON u.w = ctx.w
         |  LEFT JOIN uni u1 ON u1.w = ctx.w1
         |  LEFT JOIN big b ON b.g = ctx.w1 || ' ' || ctx.w
         |  LEFT JOIN big bx ON bx.g = ctx.w2 || ' ' || ctx.w1
         |  LEFT JOIN trig t ON t.g = ctx.w2 || ' ' || ctx.w1 || ' ' || ctx.w),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  list_sum(list(lnp ORDER BY pos)) AS s
         |  FROM scored GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(CAST(CAST(s / n_tokens AS DECIMAL(18,6)) AS VARCHAR)
         |    AS DOUBLE) AS lm_score
         |FROM agg ORDER BY doc_id""".stripMargin,
    // blocklist twin: same literal list, same distinct-token
    // intersection, ascending sort, joined scalar
    "blocklist_filter" -> {
      val litList = blocklistTerms.map(_.toLowerCase).distinct.sorted
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH h AS (SELECT doc_id,
         |  list_sort(list_intersect(list_distinct($toksSql), $litList)) AS hits
         |  FROM documents)
         |SELECT doc_id, len(hits) AS n_hits,
         |  COALESCE(array_to_string(hits, ' '), '') AS hit_terms,
         |  len(hits) = 0 AS keep
         |FROM h ORDER BY doc_id""".stripMargin
    },
    // Kneser–Ney twin: the same three count tables, the same double
    // expression in the same operation order (subtract, divide, add —
    // D = 0.75 exact in binary), per-position ln quantized to
    // decimal(18,12), exact decimal sum, decimal(18,9) VARCHAR bridge
    "kneser_ney_score" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS ts FROM documents),
         |tt AS (SELECT doc_id, ts FROM toks WHERE len(ts) >= 2),
         |bg AS (SELECT doc_id, unnest(ts[:len(ts) - 1]) AS w1,
         |       unnest(ts[2:]) AS w FROM tt),
         |cvw AS (SELECT w1, w, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM bg GROUP BY w1, w),
         |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cv,
         |        CAST(COUNT(*) AS BIGINT) AS n1pv FROM cvw GROUP BY w1),
         |cont AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1cw
         |         FROM cvw GROUP BY w),
         |bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS btypes FROM cvw),
         |scored AS (SELECT bg.doc_id,
         |  CAST(ln((CAST(c.c AS DOUBLE) - 0.75) / CAST(x.cv AS DOUBLE)
         |    + (0.75 * CAST(x.n1pv AS DOUBLE) / CAST(x.cv AS DOUBLE))
         |      * (CAST(k.n1cw AS DOUBLE)
         |         / CAST((SELECT btypes FROM bt) AS DOUBLE)))
         |    AS DECIMAL(18,12)) AS lnp
         |  FROM bg JOIN cvw c ON c.w1 = bg.w1 AND c.w = bg.w
         |  JOIN ctx x ON x.w1 = bg.w1
         |  JOIN cont k ON k.w = bg.w),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |        SUM(lnp) AS s FROM scored GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |  CAST(CAST(CAST(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS kn_score
         |FROM agg ORDER BY doc_id""".stripMargin,
    // tercile twin composed from the shared LM twin + the exact
    // type-7 quantile shape of value_quantiles; tercile probabilities
    // are the same double division on both engines (CAST(1 AS
    // DOUBLE)/3 ≡ Scala 1.0/3), and the interpolation is one fixed
    // double expression over the decimal-rounded scores
    "ccnet_buckets" ->
      s"""WITH base AS ($lmScoreSql),
         |ranked AS (
         |  SELECT lm_score AS v,
         |    row_number() OVER (ORDER BY lm_score) AS rn FROM base),
         |counts AS (SELECT COUNT(*) AS n FROM base),
         |bounds AS (
         |  SELECT p,
         |    CAST(floor(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) + 1 AS lo,
         |    least(CAST(ceil(CAST(n - 1 AS DOUBLE) * p) AS BIGINT) + 1, n) AS hi,
         |    CAST(n - 1 AS DOUBLE) * p - floor(CAST(n - 1 AS DOUBLE) * p) AS g
         |  FROM counts, (SELECT CAST(1 AS DOUBLE) / 3 AS p
         |                UNION ALL SELECT CAST(2 AS DOUBLE) / 3) ps),
         |q AS (
         |  SELECT b.p, (1.0 - b.g) * l.v + b.g * h.v AS t
         |  FROM bounds b
         |  JOIN ranked l ON l.rn = b.lo
         |  JOIN ranked h ON h.rn = b.hi),
         |thr AS (SELECT min(t) AS tlo, max(t) AS thi FROM q)
         |SELECT doc_id, n_bigrams, lm_score,
         |  CASE WHEN lm_score >= (SELECT thi FROM thr) THEN 'head'
         |       WHEN lm_score >= (SELECT tlo FROM thr) THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM base ORDER BY doc_id""".stripMargin,
    // phrase twin: zipped unnest gives 0-based positional postings;
    // term i must sit exactly i after the start position
    "phrase_query" ->
      s"""WITH tp AS (SELECT doc_id, unnest($toksSql) AS tok,
         |    unnest(range(len($toksSql))) AS pos
         |  FROM documents),
         |m AS (SELECT p0.doc_id, p0.pos
         |  FROM tp p0
         |  JOIN tp p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
         |    AND p1.tok = 'hash'
         |  JOIN tp p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2
         |    AND p2.tok = 'batch'
         |  WHERE p0.tok = 'slow')
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // readability twin: the same three exact counts (whitespace words,
    // [.!?]+ runs min 1, [aeiouy]+ vowel groups) and the same
    // left-associated IEEE chains, decimal-rounded
    "readability_docs" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS BIGINT) AS n_words,
         |  CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
         |    AS BIGINT) AS n_sentences,
         |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
         |    AS BIGINT) AS n_syllables,
         |  CASE WHEN len($toksSql) > 0 THEN
         |    CAST(CAST(206.835::DOUBLE
         |      - 1.015::DOUBLE * (CAST(len($toksSql) AS DOUBLE) /
         |          CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE))
         |      - 84.6::DOUBLE * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) /
         |          CAST(len($toksSql) AS DOUBLE))
         |      AS DECIMAL(18,6)) AS DOUBLE) END AS flesch_ease,
         |  CASE WHEN len($toksSql) > 0 THEN
         |    CAST(CAST(0.39::DOUBLE * (CAST(len($toksSql) AS DOUBLE) /
         |          CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE))
         |      + 11.8::DOUBLE * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) /
         |          CAST(len($toksSql) AS DOUBLE))
         |      - 15.59::DOUBLE
         |      AS DECIMAL(18,6)) AS DOUBLE) END AS fk_grade
         |FROM documents ORDER BY doc_id""".stripMargin,
    // co-occurrence lift twin: same top-V cut (df DESC, tok ASC), same
    // pair join, lift in the SAME parenthesized IEEE double ops
    "cooc_lift" ->
      s"""WITH $coocPairsCte
         |SELECT tok_a, tok_b, n_ab, df_a, df_b,
         |  (CAST(n_ab AS DOUBLE) * CAST((SELECT n FROM n) AS DOUBLE)) /
         |    (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)) AS lift
         |FROM pairs ORDER BY tok_a, tok_b""".stripMargin,
    // HITS twin: 2 unrolled iterations — per half-round one join-agg
    // over the edge list, coalesce-zero over all vertices, and an L1
    // normalizer via the decimal→VARCHAR→double bridge
    "token_hits" -> {
      def iter(prevH: String, k: Int): String =
        s"""ar$k AS (SELECT vv.u, COALESCE(s.s, CAST(0 AS DECIMAL(18,12))) AS s
           |  FROM verts vv LEFT JOIN (
           |    SELECT e.v AS u, SUM(CAST(p.h AS DECIMAL(18,12))) AS s
           |    FROM e JOIN $prevH p ON e.u = p.u GROUP BY e.v) s
           |  ON vv.u = s.u),
           |a$k AS (SELECT u, CAST(CAST(s AS VARCHAR) AS DOUBLE) /
           |    CAST(CAST((SELECT SUM(s) FROM ar$k) AS VARCHAR) AS DOUBLE)
           |    AS a FROM ar$k),
           |hr$k AS (SELECT vv.u, COALESCE(s.s, CAST(0 AS DECIMAL(18,12))) AS s
           |  FROM verts vv LEFT JOIN (
           |    SELECT e.u, SUM(CAST(p.a AS DECIMAL(18,12))) AS s
           |    FROM e JOIN a$k p ON e.v = p.u GROUP BY e.u) s
           |  ON vv.u = s.u),
           |h$k AS (SELECT u, CAST(CAST(s AS VARCHAR) AS DOUBLE) /
           |    CAST(CAST((SELECT SUM(s) FROM hr$k) AS VARCHAR) AS DOUBLE)
           |    AS h FROM hr$k)""".stripMargin
      s"""WITH $coocPairsCte,
         |e AS (SELECT DISTINCT tok_a AS u, tok_b AS v FROM pairs),
         |verts AS (SELECT u FROM e UNION SELECT v FROM e),
         |h0 AS (SELECT u, 1.0::DOUBLE AS h FROM verts),
         |${iter("h0", 1)},
         |${iter("h1", 2)}
         |SELECT h2.u AS node, h2.h AS hub, a2.a AS authority
         |FROM h2 JOIN a2 ON h2.u = a2.u ORDER BY node""".stripMargin
    },
    // crosstab twin: explicit CASE-sum per pivot value, 0 for empties
    "crosstab_langs" ->
      ("SELECT lang, " + (0 until 20).map(i =>
        s"CAST(COALESCE(SUM(CASE WHEN source = 'src$i' THEN 1 END), 0) " +
          s"AS BIGINT) AS src$i").mkString(", ") +
        " FROM documents WHERE lang IS NOT NULL GROUP BY lang" +
        " ORDER BY lang"),
    // sliding-window chunking twin: starts 0,4,8,… while inside the
    // doc ((n-1)//4 + 1 starts), 8-token slices, shorter tails kept
    "chunk_docs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id, toks,
        |        unnest(range(0, (len(toks) - 1) // 4 + 1)) AS cid
        |      FROM w)
        |SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
        |  array_to_string(list_slice(toks, cid*4 + 1, cid*4 + 8), ' ')
        |    AS text,
        |  CAST(len(list_slice(toks, cid*4 + 1, cid*4 + 8)) AS BIGINT)
        |    AS n_tokens
        |FROM s
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // identical division/multiplication shape to bigramPmi's one fixed
    // double expression; totals are exact BIGINTs cast to double
    "bigram_pmi" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |allbg AS (SELECT unnest(${shSql("toks")}) AS bg FROM t),
         |alluni AS (SELECT unnest(toks) AS tok FROM t),
         |uni AS (SELECT tok, COUNT(*) AS c FROM alluni GROUP BY tok),
         |bi AS (SELECT bg, COUNT(*) AS pair_count FROM allbg
         |       GROUP BY bg HAVING COUNT(*) >= 5),
         |nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM alluni),
         |nb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM allbg)
         |SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
         |  pair_count,
         |  CAST(CAST(CAST(ln((CAST(pair_count AS DOUBLE) / nb.n) /
         |    ((CAST(u1.c AS DOUBLE) / nu.n) * (CAST(u2.c AS DOUBLE) / nu.n)))
         |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS pmi
         |FROM bi
         |JOIN uni u1 ON u1.tok = split_part(bg, ' ', 1)
         |JOIN uni u2 ON u2.tok = split_part(bg, ' ', 2), nu, nb
         |ORDER BY w1, w2""".stripMargin,
    // length-batches twin: same exact bit-length bucket, ROW_NUMBER
    // per bucket over (len DESC, id), (rn-1)//8 batch cut — the
    // PrefixScan rank restricted to a bucket IS this row number
    "length_batches" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
        |    CASE WHEN n_chars <= 0 THEN 0
        |      ELSE length(format('{:b}', CAST(n_chars AS BIGINT))) - 1
        |    END AS lb
        |  FROM documents),
        |r AS (SELECT doc_id, len, lb, ROW_NUMBER() OVER (
        |    PARTITION BY lb ORDER BY len DESC, doc_id) AS rn FROM d)
        |SELECT CAST(lb AS BIGINT) AS length_bucket,
        |  CAST((rn - 1) // 8 AS BIGINT) AS batch_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MAX(len) AS BIGINT) AS max_len,
        |  CAST(SUM(len) AS BIGINT) AS sum_len,
        |  CAST(MAX(len) * COUNT(*) - SUM(len) AS BIGINT) AS pad_waste
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // fertility twin: same whitespace-word and BPE-regex counts,
    // strlen = UTF-8 bytes (Spark octet_length), bridged divisions
    "tokenizer_fertility" ->
      s"""WITH n AS (SELECT lang,
         |    CAST(SUM(len($toksSql)) AS BIGINT) AS n_words,
         |    CAST(SUM(len(regexp_extract_all(text,
         |      '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')))
         |      AS BIGINT) AS n_bpe,
         |    CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes
         |  FROM documents GROUP BY lang)
         |SELECT lang, n_words, n_bpe, n_bytes,
         |  CASE WHEN n_words > 0 THEN
         |    CAST(CAST(CAST(CAST(n_bpe AS DOUBLE) /
         |      CAST(n_words AS DOUBLE) AS DECIMAL(18,9)) AS VARCHAR)
         |      AS DOUBLE) END AS fertility,
         |  CASE WHEN n_bpe > 0 THEN
         |    CAST(CAST(CAST(CAST(n_bytes AS DOUBLE) /
         |      CAST(n_bpe AS DOUBLE) AS DECIMAL(18,9)) AS VARCHAR)
         |      AS DOUBLE) END AS bytes_per_token
         |FROM n ORDER BY lang""".stripMargin,
    // distinct-n twin: same word-bigram shingles, exact counts, one
    // bridged division
    "distinct_ngrams" ->
      s"""WITH tk AS (SELECT source, $toksSql AS toks FROM documents),
         |g AS (SELECT source, unnest(${shSql("toks")}) AS g FROM tk),
         |c AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM g GROUP BY source, g)
         |SELECT source, CAST(SUM(c) AS BIGINT) AS n_grams,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(CAST(CAST(CAST(COUNT(*) AS DOUBLE) /
         |    CAST(SUM(c) AS DOUBLE) AS DECIMAL(18,9)) AS VARCHAR)
         |    AS DOUBLE) AS distinct_ratio
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    // entropy twin: same EXPLICIT codepoint class [^\n] (Java `.`
    // excludes all line terminators, RE2 `.` only \n — the explicit
    // class makes \r/U+0085/U+2028/U+2029 count identically in both
    // engines), same quantized terms, the exact decimal sum through
    // the VARCHAR bridge
    "char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |    unnest(regexp_extract_all(text, '[^\n]')) AS ch
        |  FROM documents),
        |cc AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM ch GROUP BY doc_id, ch),
        |tt AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct
        |  FROM cc GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chars, t.n_distinct,
        |  CAST(CAST(SUM(CAST(
        |    -(CAST(c AS DOUBLE) / CAST(t.n_chars AS DOUBLE)) *
        |     ln(CAST(c AS DOUBLE) / CAST(t.n_chars AS DOUBLE))
        |    AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS entropy
        |FROM cc JOIN tt t USING (doc_id)
        |GROUP BY t.doc_id, t.n_chars, t.n_distinct
        |ORDER BY t.doc_id""".stripMargin,
    // vocab-growth twin: same ntile bucketing (ntileExact ≡ ntile,
    // property-pinned), first-bucket per token, windowed cumsum over
    // the 10-row summary
    "vocab_growth" ->
      s"""WITH bk AS (SELECT doc_id, text,
         |    CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS b
         |  FROM documents),
         |nd AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nd FROM bk
         |  GROUP BY b),
         |ft AS (SELECT tok, MIN(b) AS b FROM (
         |    SELECT b, unnest($toksSql) AS tok FROM bk) GROUP BY tok),
         |nt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS nt FROM ft
         |  GROUP BY b)
         |SELECT nd.b AS bucket,
         |  CAST(SUM(nd.nd) OVER (ORDER BY nd.b) AS BIGINT)
         |    AS n_docs_cum,
         |  CAST(SUM(COALESCE(nt.nt, 0)) OVER (ORDER BY nd.b)
         |    AS BIGINT) AS vocab_cum
         |FROM nd LEFT JOIN nt ON nt.b = nd.b ORDER BY bucket""".stripMargin,
    // skip-gram PMI twin: per offset d in 1..3 the token list zipped
    // with itself shifted by d (lexicographic canonical pair), totals
    // = Σ_d max(len−d, 0), same ln parenthesization + decimal bridge
    "skipgram_pmi" -> {
      val w = 3
      val dLists = (1 to w).map(d =>
        s"""list_transform(range(1, len(toks) - ${d - 1}),
           |      j -> CASE WHEN toks[j] <= toks[j + $d]
           |        THEN toks[j] || ' ' || toks[j + $d]
           |        ELSE toks[j + $d] || ' ' || toks[j] END)""".stripMargin)
        .mkString(" ||\n    ")
      val slotSum = (1 to w)
        .map(d => s"greatest(len(toks) - $d, 0)").mkString(" + ")
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |pg AS (SELECT unnest(
         |    $dLists) AS pg FROM t),
         |alluni AS (SELECT unnest(toks) AS tok FROM t),
         |uni AS (SELECT tok, COUNT(*) AS c FROM alluni GROUP BY tok),
         |pairs AS (SELECT pg, COUNT(*) AS pair_count FROM pg
         |          GROUP BY pg HAVING COUNT(*) >= 5),
         |np AS (SELECT CAST(SUM($slotSum) AS DOUBLE) AS n FROM t),
         |nu AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM alluni)
         |SELECT split_part(pg, ' ', 1) AS w1,
         |  split_part(pg, ' ', 2) AS w2, pair_count,
         |  CAST(CAST(CAST(ln((CAST(pair_count AS DOUBLE) / np.n) /
         |    ((CAST(u1.c AS DOUBLE) / nu.n) * (CAST(u2.c AS DOUBLE) / nu.n)))
         |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS pmi
         |FROM pairs
         |JOIN uni u1 ON u1.tok = split_part(pg, ' ', 1)
         |JOIN uni u2 ON u2.tok = split_part(pg, ' ', 2), np, nu
         |ORDER BY w1, w2""".stripMargin
    },
    "profile_docs" ->
      """SELECT c AS column, n_rows, n_nulls, n_distinct FROM (
        |  SELECT 'doc_id' AS c, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(doc_id) AS n_nulls,
        |    COUNT(DISTINCT doc_id) AS n_distinct FROM documents
        |  UNION ALL
        |  SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
        |    COUNT(DISTINCT lang) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
        |    COUNT(DISTINCT n_chars) FROM documents
        |  UNION ALL
        |  SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
        |    COUNT(DISTINCT source) FROM documents)
        |ORDER BY c""".stripMargin,
  )
}
