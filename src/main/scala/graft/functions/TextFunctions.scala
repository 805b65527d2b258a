package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.SqlGlue.{column, expression}

/** Column API for text analysis (LLM-pipeline operators: token
  * counting, quality scoring, language ID, fingerprinting). Everything
  * except the three kernel expressions is composed from built-in
  * codegen'd functions, so plans stay inside whole-stage codegen and
  * push down through Parquet scans.
  */
object TextFunctions {

  /** Lowercased whitespace tokens; empty string → empty array. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  def token_count(c: Column): Column = size(tokens(c))

  /** BPE-ish subword token pattern (GPT-2-style pretokenizer shape:
    * contractions, letter runs, digit runs, punctuation runs) — the
    * approximate LLM token counter of the builder brief. Constructs
    * used are portable between Java regex and RE2 (oracle parity). */
  val BpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"

  def token_count_bpe(c: Column): Column =
    size(regexp_extract_all(c, lit(BpeTokenPattern), lit(0)))

  /** Word w-shingles ("a b", "b c", ...) from whitespace tokens —
    * native one-pass kernel (see TextOps.wordShingles perf note). */
  def shingles(c: Column, w: Int): Column =
    column(WordShingles(expression(c), w))

  /** Jaccard similarity of two arrays under set semantics. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  def simhash64(c: Column): Column = column(SimHash64(expression(c)))

  def fingerprints(c: Column, k: Int = 9, window: Int = 4): Column =
    column(Fingerprints(expression(c), k, window))

  def lang_id(c: Column): Column = column(LangId(expression(c)))

  /** Ordered word n-gram stupid-backoff LM fold against embedded
    * pruned count maps (see [[WordLmScore]]). */
  def word_lm(c: Column,
      uni: java.util.HashMap[String, java.lang.Long],
      bi: java.util.HashMap[String, java.lang.Long],
      tri: java.util.HashMap[String, java.lang.Long],
      total: Long, alpha: Double, unseenLnp: Double): Column =
    column(WordLmScore(expression(c), uni, bi, tri, total, alpha,
      unseenLnp))

  /** Ordered char-bigram LM fold against an embedded model (see
    * [[CharBigramLmScore]]). */
  def char_bigram_lm(c: Column,
      model: java.util.HashMap[String, java.lang.Double],
      unseenLnp: Double): Column =
    column(CharBigramLmScore(expression(c), model, unseenLnp))

  /** Subword segmentation with a TRAINED merge table (see
    * [[graft.operators.TextAnalysis.trainBpeMerges]] /
    * [[BpeSegment]]). */
  def bpe_segment(c: Column,
      ranks: java.util.HashMap[String, Integer]): Column =
    column(BpeSegment(expression(c), ranks))

  /** Canonical Unicode NFC normalization (see [[NfcNormalize]]). */
  def nfc_normalize(c: Column): Column = column(NfcNormalize(expression(c)))

  /** Accent stripping via NFD + mark removal (see [[StripAccents]]). */
  def strip_accents(c: Column): Column = column(StripAccents(expression(c)))

  /** Hamming distance between two 64-bit signatures (SimHash pairs). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Heuristic quality features for corpus filtering: returns a struct
    * of (n_tokens, avg_token_len, alpha_ratio, punct_ratio,
    * stopword_ratio, quality_score). All built-in expressions —
    * SQL-expressible for the oracle. */
  def qualityFeatures(c: Column): Column = {
    val toks = tokens(c)
    val nToks = size(toks)
    val nChars = length(c)
    val alpha = length(regexp_replace(c, "[^A-Za-z]", ""))
    val punct = length(regexp_replace(c, "[^.,;:!?]", ""))
    val stopwords = typedLit(Seq("the", "a", "and", "of", "to", "in", "is",
      "it", "that", "for"))
    val stopHits = size(array_intersect(toks, stopwords))
    val nTokD = nToks.cast("double")
    val avgLen = when(nToks === 0, 0.0)
      .otherwise(aggregate(toks, lit(0), (acc, t) => acc + length(t))
        .cast("double") / nTokD)
    val alphaRatio = when(nChars === 0, 0.0)
      .otherwise(alpha.cast("double") / nChars.cast("double"))
    val punctRatio = when(nChars === 0, 0.0)
      .otherwise(punct.cast("double") / nChars.cast("double"))
    val stopRatio = when(nToks === 0, 0.0)
      .otherwise(stopHits.cast("double") / nTokD)
    // crude composite in [0,1]: long-enough, alphabetic, some function
    // words, not punctuation-soup
    val score =
      least(nTokD / lit(20.0), lit(1.0)) * lit(0.4) +
        alphaRatio * lit(0.3) +
        least(stopRatio * lit(5.0), lit(1.0)) * lit(0.2) +
        (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0))) * lit(0.1)
    struct(
      nToks.as("n_tokens"), avgLen.as("avg_token_len"),
      alphaRatio.as("alpha_ratio"), punctRatio.as("punct_ratio"),
      stopRatio.as("stopword_ratio"), score.as("quality_score"))
  }

  /** Stop words whose distinct presence the Gopher rule set requires
    * (Rae et al. 2021, appendix A1.1 — the canonical 8). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Alpha-word test pattern (rule 6) — a Unicode letter class, so
    * accented / Cyrillic / CJK words count as alphabetic (Gopher's
    * "contains at least one alphabetic character" is not
    * English-only). `\p{L}` is the Unicode letter category in BOTH
    * Java regex and RE2, and this val is interpolated into the DuckDB
    * oracle twin so the two sides cannot drift. */
  val GopherAlphaPattern: String = "\\p{L}"

  /** Gopher rule thresholds — single definition shared by
    * [[gopherRules]] AND interpolated into the DuckDB oracle twin
    * (`SparkEntry.oracleSql("gopher_quality")`), so editing a rule
    * here cannot silently desynchronize the oracle. */
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinMeanWordLen = 3.0
  val GopherMaxMeanWordLen = 10.0
  val GopherMaxSymbolRatio = 0.1
  val GopherMaxBulletRatio = 0.9
  val GopherMaxEllipsisRatio = 0.3
  val GopherMinAlphaRatio = 0.8
  val GopherMinStopWords = 2

  /** The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", appendix A1.1), per document:
    *
    *  1. 50 ≤ word count ≤ 100,000
    *  2. 3 ≤ mean word length ≤ 10
    *  3. symbol-to-word ratio ('#' or '...') ≤ 0.1
    *  4. < 90% of lines start with a bullet ('-', '*', '•')
    *  5. < 30% of lines end with an ellipsis ('...')
    *  6. ≥ 80% of words contain at least one alphabetic character
    *  7. ≥ 2 distinct required stop words present
    *
    * All built-in codegen'd expressions (no UDF) and every metric is
    * exact-integer-derived with one fixed division — SQL-expressible
    * for the oracle, bit-stable across engines. Returns a struct of
    * the metrics plus `keep` (1 = passes every rule, as INT for
    * comparator portability). */
  def gopherRules(c: Column): Column = {
    val words = tokens(c)
    val n = size(words)
    val nD = n.cast("double")
    val meanLen = when(n === 0, 0.0).otherwise(
      aggregate(words, lit(0), (a, t) => a + length(t)).cast("double") / nD)
    val hashes = length(c) - length(regexp_replace(c, "#", ""))
    val ellipses =
      (length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / 3
    val symbolRatio = when(n === 0, 0.0)
      .otherwise((hashes + ellipses).cast("double") / nD)
    val lines = filter(split(c, "\n"), l => length(trim(l)) > 0)
    val nLines = size(lines)
    val bulletLines = size(filter(lines, l =>
      ltrim(l).startsWith("-") || ltrim(l).startsWith("*") ||
        ltrim(l).startsWith("•")))
    val ellipsisLines = size(filter(lines, l => rtrim(l).endsWith("...")))
    val bulletRatio = when(nLines === 0, 0.0)
      .otherwise(bulletLines.cast("double") / nLines.cast("double"))
    val ellipsisRatio = when(nLines === 0, 0.0)
      .otherwise(ellipsisLines.cast("double") / nLines.cast("double"))
    val alphaWords = size(filter(words, w => w.rlike(GopherAlphaPattern)))
    val alphaRatio = when(n === 0, 0.0)
      .otherwise(alphaWords.cast("double") / nD)
    val nStop = GopherStopWords
      .map(s => array_contains(words, s).cast("int")).reduce(_ + _)
    val keep =
      (n >= GopherMinWords && n <= GopherMaxWords) &&
        (meanLen >= GopherMinMeanWordLen &&
          meanLen <= GopherMaxMeanWordLen) &&
        symbolRatio <= GopherMaxSymbolRatio &&
        bulletRatio < GopherMaxBulletRatio &&
        ellipsisRatio < GopherMaxEllipsisRatio &&
        alphaRatio >= GopherMinAlphaRatio &&
        nStop >= GopherMinStopWords
    struct(
      n.cast("long").as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), alphaRatio.as("alpha_word_ratio"),
      bulletRatio.as("bullet_line_ratio"),
      ellipsisRatio.as("ellipsis_line_ratio"),
      nStop.cast("long").as("n_stop_distinct"),
      keep.cast("int").as("keep"))
  }

  /** Flesch readability profile — the classic audience-level text
    * quality signal (reading-ease and Flesch–Kincaid grade), computed
    * from three exact counts: whitespace words, sentence-final
    * punctuation runs (min 1 — headline-style text without terminal
    * punctuation reads as one sentence), and syllables approximated
    * as vowel-group runs `[aeiouy]+` (the standard cheap estimator —
    * off by one on silent-e words, which shifts scores uniformly and
    * preserves ranking). Scores are fixed IEEE chains over two
    * divisions of exact longs, decimal(18,6)-rounded; empty/wordless
    * text yields null scores (counts still 0). Pure per-row map —
    * zero shuffle at any corpus size. */
  def readability(c: Column): Column = {
    val w = token_count(c).cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(c, lit("[.!?]+"), lit(0))).cast("long"))
    val syl = size(regexp_extract_all(lower(c), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    val wps = w.cast("double") / sents.cast("double")
    val spw = syl.cast("double") / w.cast("double")
    val ease = lit(206.835) - lit(1.015) * wps - lit(84.6) * spw
    val grade = lit(0.39) * wps + lit(11.8) * spw - lit(15.59)
    struct(
      w.as("n_words"), sents.as("n_sentences"), syl.as("n_syllables"),
      when(w > 0, ease.cast("decimal(18,6)").cast("double"))
        .as("flesch_ease"),
      when(w > 0, grade.cast("decimal(18,6)").cast("double"))
        .as("fk_grade"))
  }

  /** Register kernel functions for `spark.sql(...)` use.
    * Contract: the `spark.sql` surface of the text kernels; callers are
    * users' sessions, not program code. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String)(f: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => {
        require(es.length == 1, s"$name expects exactly 1 argument, got ${es.length}")
        f(es)
      }, "scala_udf")
    one("simhash64")(es => SimHash64(es.head))
    one("fingerprints")(es => Fingerprints(es.head))
    one("lang_id")(es => LangId(es.head))
    one("nfc_normalize")(es => NfcNormalize(es.head))
    one("strip_accents")(es => StripAccents(es.head))
  }
}
