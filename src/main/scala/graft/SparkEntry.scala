package graft

import graft.functions.VectorFunctions._
import graft.functions.TextFunctions._
import graft.functions.HashEmbedder
import graft.operators.{Dedup, Metric, Similarity}
import graft.store.VectorStore
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-equivalent `oracleSql` where expressible.
  *
  * Oracle determinism rules used throughout (SURVEY §7.4):
  *  - every query ends in an explicit, total ORDER BY (ties broken by id);
  *  - double-valued SUMs go through a DECIMAL cast (order-independent
  *    exact accumulation) and back to DOUBLE, because partial-aggregation
  *    order differs between Spark and DuckDB;
  *  - vector math matches the Catalyst kernels bit-for-bit: float32
  *    elements widened to double, sequential accumulation.
  */
object SparkEntry {

  /** Base-table reader, memoized per (session, file identity): every
    * `spark.read.parquet` call builds a fresh InMemoryFileIndex
    * (directory listing) and re-reads a footer for schema inference —
    * ~10-20 ms of driver work that the bench pays 270 queries × 3
    * runs × 1-3 tables per query. Reusing the analyzed relation is
    * what a catalog table would do; keyed by inode/size/mtime of the
    * parquet path so an in-process regeneration (spec fixtures) can
    * never serve a stale listing. The DataFrame is immutable and
    * session-bound; consumers apply their own projections/filters on
    * top, so sharing the relation changes no plan semantics — with ONE
    * caveat: repeated calls return the IDENTICAL DataFrame instance
    * (same expression ids), so a SELF-join of two t() reads must use
    * string join keys or explicit aliases, never `df("col")` column
    * references (which would be ambiguous/trivially-true across the
    * shared instance). Every registry consumer already does. */
  // one Memo per session, keyed on the path (see [[Memo]]); stopped
  // sessions are evicted on the next call (a DataFrame strongly
  // references its session, so weak KEYS alone could never collect an
  // entry).
  private val tableMemo = new java.util.HashMap[SparkSession, Memo[DataFrame]]()
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = tableMemo.synchronized {
      tableMemo.keySet.removeIf(sess => sess.sparkContext.isStopped)
      tableMemo.computeIfAbsent(s, _ => new Memo[DataFrame])
    }
    val path = s"$dir/$name.parquet"
    perSession(path, path)(_ => s.read.parquet(path))
  }

  /** Modulus of the exact-Jaccard AUDIT STRATUM (`doc_id % m == 0`),
    * derived from the corpus size so the audit carries a fixed BUDGET
    * (~17k docs), not a fixed fraction: the exact kernel's meet volume
    * is Σ prefix-df², quadratic in stratum size on a fixed vocabulary,
    * so `% 3` at every sf (the r16 contract) re-grows the cliff it was
    * cut to avoid — measured ×100 at sf10. m = 3·k with k the next ODD
    * integer ≥ ceil(nDocs/50000): odd so the probe's parity sub-split
    * keeps both sides populated, and m = 3 (hashes unchanged) through
    * sf1. The DuckDB twins compute the same m from COUNT(*). */
  private[graft] def auditMod(s: SparkSession, dir: String): Long =
    scalarMemo(dir, "auditMod") {
      val k0 = math.max(1L,
        math.ceil(t(s, dir, "documents").count() / 50000.0).toLong)
      3L * (k0 + 1L - (k0 % 2L))
    }

  /** Process-local memo for corpus-derived scalar knobs ([[auditMod]],
    * [[embedAuditMod]]) — each is a pure function of the input parquet
    * (keyed by the same content fingerprint as SharedFrames), and the
    * count() behind it used to re-run as a driver job on every call
    * site of every bench rerun. */
  private val scalarMemos = new Memo[Long]
  private def scalarMemo(dir: String, key: String)(v: => Long): Long =
    scalarMemos(s"$dir#$key", dir)(_ => v)

  /** Modulus of the EMBEDDING audit stratum (`vec_id % m == 0`) for
    * the SRP LSH gate query: the registered query pins 2×8
    * hyperplanes (the twin replays their literals), so bucket
    * occupancy grows linearly with the corpus and in-bucket pair
    * volume quadratically — the same cliff class as the pinned
    * k-means gates, cut the same way as [[auditMod]]: a fixed BUDGET
    * (~20k vectors, the sf1 level measured at 2.2 s) instead of a
    * fixed fraction. m = 1 through sf1, so every existing gate hash
    * is unchanged; at sf10 m = 10. The twin computes the same m from
    * COUNT(*). The OPERATOR scales by the planesPerTable knob
    * (occupancy ∝ n/2^planes — hold it flat by growing planes with
    * log₂ n); the stratum is gate-evidence budgeting, not an operator
    * limit. */
  private[graft] def embedAuditMod(s: SparkSession, dir: String): Long =
    scalarMemo(dir, "embedAuditMod") {
      math.max(1L,
        math.ceil(t(s, dir, "embeddings").count() / 20000.0).toLong)
    }

  /** The events table with `ts` normalized to epoch-nanos long,
    * whatever the parquet's physical timestamp encoding (raw INT64
    * nanos, TIMESTAMP(MICROS) tz or ntz) — the testdata has shipped
    * both layouts across regenerations. The DuckDB oracles read the
    * same files via `epoch_ns(ts)`, so both engines agree on the
    * integer regardless of layout. Narrow projection; prunes away for
    * queries that never touch `ts`. */
  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    graft.functions.TimeFunctions.epochNanos(t(s, dir, "events"), "ts")

  /** Shared md5-hashed MinHash LSH pair kernel for the oracle twins
    * (`neardup_pairs_md5`, `neardup_components_md5`): word 3-shingles →
    * 8 min-hashes over md5 (identical hex in both engines, min over hex
    * strings the same total order) → 4 bands of 2 (the t≈0.5 LSH curve)
    * → candidate self-join → exact-Jaccard verify (single division of
    * exact ints, bit-stable). Returns (id_a, id_b, jaccard), unordered.
    * The codegen'd murmur/FNV kernels remain the 100 TB path; this
    * exists to pin the selection logic cross-engine. */
  /** Distinct word 3-shingles per doc, built from Spark builtins only
    * (split/transform/slice — mirrors DuckDB's list functions 1:1). */
  private[graft] def md5Shingles(docs: DataFrame): DataFrame = {
    val W = 3
    docs.select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"),
          x => length(x) > 0).as("ts"))
      .where(size(col("ts")) >= W)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(ts) - ${W - 1}), " +
          s"i -> concat_ws(' ', slice(ts, i, $W)))")).as("s"))
      .distinct()
      // no checkpoint: ReuseExchange already dedupes the repeated
      // reads of this frame inside each twin (measured r9: an eager
      // localCheckpoint made the three md5 twins 30% SLOWER)
  }


  // process-shared artifact: the distinct (doc_id, 3-shingle) frame
  // behind every md5 gate twin — built once, read by the pair-kernel
  // build and crossdup_md5's per-side signature chains
  private[graft] def md5ShinglesShared(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5sh3") {
      md5Shingles(t(s, dir, "documents"))
    }

  /** Process-shared md5 MinHash SIGNATURE table (doc_id, j∈1..8, mh)
    * over the whole corpus — the 8-md5-per-shingle kernel is the
    * expensive stage of every md5 gate twin, and five consumers used
    * to re-run it per query per bench rerun (the pair-kernel build,
    * edit_distance_verify, minhash_calibration, crossdup_md5's two
    * parity sides, source_sketch_jaccard). A pipeline persists its
    * signature table; consumers read the slim artifact. Per-doc
    * aggregation commutes with any doc_id predicate, so parity/stratum
    * slices filter the SHARED table instead of re-signing a filtered
    * shingle set — identical rows by construction. */
  private[graft] def md5SigsShared(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5sigs8") {
      md5SigsCompute(md5ShinglesShared(s, dir))
    }

  /** The signature kernel over a (doc_id, s) shingle frame — ONE
    * definition shared by the memoized artifact and the measured
    * `md5_index_build` line (so the timed build cannot drift from
    * what consumers read). */
  private[graft] def md5SigsCompute(shingles: DataFrame): DataFrame = {
    val H = 8
    shingles
      .withColumn("j", explode(sequence(lit(1), lit(H))))
      .select(col("doc_id"), col("j"),
        md5(concat(col("j").cast("string"), lit(":"), col("s"))).as("mh"))
      .groupBy("doc_id", "j").agg(min("mh").as("mh"))
  }

  /** Process-shared LSH band keys (doc_id, band∈1..4, bkey) derived
    * from [[md5SigsShared]] — 4 bands of 2 hashes, the t≈0.5 LSH
    * collision curve. */
  private[graft] def md5BandsShared(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5bands42") {
      md5BandsCompute(md5SigsShared(s, dir))
    }

  private[graft] def md5BandsCompute(sigs: DataFrame): DataFrame =
    sigs
      .withColumn("band", expr("CAST((j + 1) div 2 AS INT)"))
      .groupBy("doc_id", "band")
      .agg(concat_ws("|", min_by(col("mh"), col("j")),
        max_by(col("mh"), col("j"))).as("bkey"))

  /** Process-shared whole-corpus LSH candidate pairs (id_a < id_b,
    * distinct) from the band self-join — consumed by the verified
    * pair-kernel build, minhash_calibration, and (as parity/stratum
    * filters: band keys are per-doc, so a doc_id predicate on both
    * endpoints slices the candidate table exactly) crossdup_md5 and
    * blocking_quality. */
  private[graft] def md5CandAll(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5candall") {
      md5CandCompute(md5BandsShared(s, dir))
    }

  private[graft] def md5CandCompute(bands: DataFrame): DataFrame =
    bands.select(col("doc_id").as("id_a"), col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("id_b"), col("band"),
        col("bkey")), Seq("band", "bkey"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  /** Process-shared exact shingle-intersection counts
    * (id_a, id_b, ninter) for every [[md5CandAll]] candidate — the
    * verify-stage meet both the pair kernel and minhash_calibration
    * replay; crossdup_md5 reads its mixed-parity slice. */
  private[graft] def md5InterAll(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5interall") {
      md5InterCompute(md5CandAll(s, dir), md5ShinglesShared(s, dir))
    }

  private[graft] def md5InterCompute(cand: DataFrame,
      sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("s")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("s")),
        Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("ninter"))

  // process-shared artifact: four registered queries (pairs,
  // components, keep-best, the curation funnel) replay this kernel —
  // the md5 minhash of the whole corpus is the expensive part, and the
  // pair table it yields is tiny, so it joins the SharedFrames stored
  // set (built once, read by every consumer)
  private[graft] def md5NearDupPairs(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5pairs05") {
      md5NearDupPairsCompute(s, dir)
    }

  // process-shared component labels over the md5 pair graph — the
  // table a dedup pipeline persists right after pair verification
  // (components change only when pairs do). Five consumers used to
  // re-run the iterative large-star/small-star contraction per query
  // (components_md5, cluster_sizes, keep_best, split_by_component,
  // the curation-flags keep set); each now reads the stored (id,
  // component) artifact, built once per process by the REAL
  // Dedup.connectedComponents code — r13 verdict item 4.
  private[graft] def md5Components(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5comp05") {
      Dedup.connectedComponents(
        md5NearDupPairs(s, dir).select("id_a", "id_b"), "id_a", "id_b")
    }

  // process-shared louvain assignment (2 levels × 2 rounds on the
  // co-occurrence graph) — a pipeline persists its clustering once
  // and both the assignment dump and the quality score read it
  private[graft] def louvainLabelsShared(s: SparkSession,
      dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "louvain22") {
      graft.operators.Graph.louvain(
        SharedFrames.coocPairs(s, dir).select("tok_a", "tok_b"),
        "tok_a", "tok_b", levels = 2, roundsPerLevel = 2)
    }

  // process-shared label-propagation assignment (2 rounds, cooc
  // graph) — the louvain precedent one rung down: three queries
  // (label_prop, modularity_by_community, louvain_move) used to each
  // re-run the same 2-round propagation; the persisted (node, label)
  // table is what a clustering pipeline stores between stages
  private[graft] def labelPropShared(s: SparkSession,
      dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "labelprop2") {
      graft.operators.Graph.labelPropagation(
        SharedFrames.coocPairs(s, dir).select("tok_a", "tok_b"),
        "tok_a", "tok_b", iters = 2)
    }

  // process-shared TRAINED (murmur/FNV minhash) near-dup pair table at
  // the registry's threshold 0.5 — the trained sibling of
  // md5NearDupPairs: the corpus minhash is the expensive part and the
  // pair table is tiny, so consumers (and bench's min-of-3 reruns)
  // read the stored artifact instead of re-signing the corpus.
  private[graft] def trainedNearDupPairs(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "trainedpairs05") {
      Dedup.nearDupPairsMinHash(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.5)
    }

  /** Per-(doc_id, d, v) md5 16-dim INTEGER document vectors — the
    * gate-twin embedding convention, materialized once per process
    * and shared by `embed_knn_md5` and `kcenter_md5` (both replay the
    * identical construction in their twin SQL). md5 runs once per
    * DISTINCT token (the vocabulary), then codes join back onto
    * per-(doc, token) counts — sum(count·code) ≡ hashing every
    * occurrence (the r8 twin-cost trick). */
  private[graft] def md5DocVecs(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "md5docvecs") {
      val toks = t(s, dir, "documents").select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"),
          x => length(x) > 0)).as("tok"))
      val tokCounts = toks.groupBy("doc_id", "tok")
        .agg(count(lit(1)).cast("long").as("cnt"))
      val tokVecs = toks.select("tok").distinct()
        .withColumn("hx", md5(col("tok")))
        .withColumn("d", explode(sequence(lit(1), lit(16))))
        .select(col("tok"), col("d"),
          (expr("instr('0123456789abcdef', substring(hx, d, 1))")
            * 2 - 17).cast("long").as("c"))
      tokCounts.join(tokVecs, Seq("tok"))
        .select(col("doc_id"), col("d"), (col("c") * col("cnt")).as("c"))
        .groupBy("doc_id", "d").agg(sum("c").cast("long").as("v"))
    }

  /** [[md5DocVecs]] pivoted to (doc_id, vec: array&lt;float&gt;) in
    * d-ascending order — the float cast is EXACT (|v| ≲ 10³ for any
    * gate corpus's doc lengths, far under float's 2^24 integer
    * ceiling), so the fixed-codebook ADC twins (`pq_fixed_adc`,
    * `sq8_fixed_adc`) run all-integer arithmetic end to end. */
  private[graft] def md5VecArr(s: SparkSession, dir: String): DataFrame =
    md5DocVecs(s, dir).groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(d, v)))," +
        " x -> cast(x.v as float))").as("vec"))

  private[graft] def md5NearDupPairsCompute(s: SparkSession,
      dir: String): DataFrame = {
    // candidate generation and the exact-intersection verify stage are
    // the shared artifacts ([[md5CandAll]]/[[md5InterAll]]) — this
    // build adds only the size join and the threshold
    val sh = md5ShinglesShared(s, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    md5InterAll(s, dir)
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), (col("ninter").cast("double") /
        (col("na") + col("nb") - col("ninter"))).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * SURVEY §7.2 minimum slice: documents ⋈ embeddings → VectorStore
    * ingest (pre-supplied vectors branch) → queryWithInfo top-5. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = t(spark, dir, "embeddings")
    val store = storeOf(spark, dir)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0).toArray
    store.queryVectorWithInfo(q, k = 5)
  }

  /** documents ⋈ embeddings pre-deduplicated by text keeping the
    * lowest doc_id — a DETERMINISTIC first-wins base (duplicate texts
    * exist at sf0.1; dedup ties inside setData would otherwise depend
    * on which duplicate's options happen to sort first). */
  // the prepared ingest frame is a process-shared stored table (the
  // upstream of every store_* query — five registrations re-ran the
  // join + first-wins dedup per bench rerun; the STORE operations
  // themselves stay fully inside the measured region). Deterministic:
  // exactFirstWins ties break on doc_id; floats/strings roundtrip
  // parquet bit-exactly.
  private[graft] def storeBase(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "storebase") {
      storeBaseCompute(s, dir)
    }

  /** The ingest-prep computation itself — shared by the memoized
    * stored table and the measured `store_ingest_build` line. */
  private[graft] def storeBaseCompute(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val emb = t(s, dir, "embeddings")
    val joined = docs.join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("embedding"))
    Dedup.exactFirstWins(joined, Seq("text"), Seq("doc_id"))
  }

  /** In-memory VectorStore over [[storeBase]]: `text → target`,
    * `lang → option1`, `source → option2`, `embedding → vector`
    * (FIXTURES.md §B mapping); ids follow target order. */
  // process-local memo for the bucketed store's two-batch build (see
  // store_bucketed_knn's registration comment), keyed by corpus dir.
  // The bucketed table name carries the dir's stamp: one global table
  // name would silently serve corpus A's bucketed rows to a query over
  // corpus B (or stale rows after an in-process regeneration of the
  // same dir). A superseded same-dir table leaks in the warehouse
  // until process exit — acceptable for a gate/bench process, stated
  // here because it is the cost of the safety.
  private[graft] val bucketedStoreMemo = new Memo[VectorStore]

  private[graft] def storeOf(s: SparkSession, dir: String): VectorStore = {
    val in = storeBase(s, dir)
      .select(col("text").as("target"), col("lang").as("option1"),
        col("source").as("option2"), col("embedding").as("vector"))
    val store = new VectorStore(s, HashEmbedder(dim = 64))
    store.setData(in)
    store
  }

  // DuckDB squared-L2 between e.embedding and q.embedding, matching
  // VectorOps.squaredL2: per-element float→double widening, sequential
  // double accumulation (list_sum), no FMA.
  /** Exact squared-L2 between two float32 list columns in DuckDB SQL —
    * double-widened elementwise, summed in index order, matching the
    * Catalyst kernels bit-for-bit (proven by knn_top5 et al.). */
  private[graft] def sqDistOf(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"

  private[graft] val sqDist = sqDistOf("e.embedding", "q.embedding")

  /** Fixed-centroid IVF twin — shared verbatim by `ivf_fixed_knn` and
    * `ivf_fixed_append_knn` (append ≡ refit under fixed centroids). */
  private[graft] lazy val ivfFixedKnnSql: String =
    s"""WITH cells AS (SELECT vec_id AS cell, embedding AS cemb
       |               FROM embeddings WHERE vec_id < 4),
       |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
       |    FROM embeddings e, cells c)
       |  WHERE rn = 1),
       |probed AS (
       |  SELECT cell FROM (
       |    SELECT c.cell, row_number() OVER (
       |        ORDER BY ${sqDistOf("c.cemb", "q.embedding")}, c.cell) AS rn
       |    FROM cells c, q)
       |  WHERE rn <= 2)
       |SELECT e.vec_id, $sqDist AS distance
       |FROM embeddings e
       |JOIN asg a ON a.vec_id = e.vec_id
       |JOIN probed p ON a.cell = p.cell, q
       |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin

  /** Kernel-faithful cosine between two arbitrary float-list exprs
    * (the cosineEq shape, parametrized). */
  private[graft] def cosOf(a: String, b: String): String = {
    val dot = s"list_sum(list_transform(range(1, len($a) + 1), i -> " +
      s"CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    s"(CASE WHEN ${normOf(a)} = 0 OR ${normOf(b)} = 0 THEN 0.0 " +
      s"ELSE $dot / (${normOf(a)} * ${normOf(b)}) END)"
  }

  /** Unrolled MMR greedy steps (k picks, λ = 0.5) over a CTE `cand`
    * with (vec_id, embedding, rel): sᵗ = argmax over the unselected of
    * 0.5·rel − 0.5·max over selected of cos — score DESC, id ASC ties,
    * exactly [[graft.operators.Mmr.select]]'s loop. */
  private[graft] def mmrStepsSql(k: Int): String = {
    (1 to k).map { t =>
      val prev = (1 until t).map(j => s"s$j")
      val from =
        if (prev.isEmpty) "cand c"
        else "cand c, " + prev.map(p =>
          s"(SELECT embedding AS e FROM $p) ${p}x").mkString(", ")
      val where =
        if (prev.isEmpty) ""
        else "\n  WHERE c.vec_id NOT IN (" +
          prev.map(p => s"SELECT vec_id FROM $p").mkString(" UNION ALL ") +
          ")"
      val sim =
        if (prev.isEmpty) "0.0"
        else if (prev.size == 1) cosOf("c.embedding", "s1x.e")
        else "GREATEST(" + prev.map(p =>
          cosOf("c.embedding", s"${p}x.e")).mkString(", ") + ")"
      s"""s$t AS (SELECT vec_id, embedding FROM (
         |  SELECT c.vec_id, c.embedding,
         |    0.5 * c.rel - 0.5 * $sim AS sc
         |  FROM $from$where
         |  ORDER BY sc DESC, c.vec_id LIMIT 1))""".stripMargin
    }.mkString(",\n")
  }

  /** CMS twin bucket: 12-bit md5 bucket of "seed:token" mod 1024
    * (mirrors CountMin.bucketOf portable mode, depth 4 / width 1024). */
  private[graft] def cmsBucketSql(seed: String, tok: String): String = {
    val h = s"md5(CAST($seed AS VARCHAR) || ':' || $tok)"
    s"(((strpos('0123456789abcdef', substr($h, 1, 1)) - 1) * 256 + " +
      s"(strpos('0123456789abcdef', substr($h, 2, 1)) - 1) * 16 + " +
      s"(strpos('0123456789abcdef', substr($h, 3, 1)) - 1)) % 1024)"
  }

  /** HLL twin fields (mirrors Hll.portableFields): register = 12-bit
    * md5 prefix % m; rho = leading-zero-bit rank over hex chars 4..15
    * by exact string ops. Emits two SQL expressions over `h` (an md5
    * hex column). */
  private[graft] def hexDigitSql(e: String): String =
    s"(strpos('0123456789abcdef', $e) - 1)"
  private[graft] def hllRegSql(h: String, m: Int): String =
    s"((${hexDigitSql(s"substr($h, 1, 1)")} * 256 + " +
      s"${hexDigitSql(s"substr($h, 2, 1)")} * 16 + " +
      s"${hexDigitSql(s"substr($h, 3, 1)")}) % $m)"
  private[graft] def hllRhoSql(sig: String): String = {
    val fv = hexDigitSql(s"substr($sig, 1, 1)")
    s"(CASE WHEN len($sig) = 0 THEN 49 ELSE (12 - len($sig)) * 4 + " +
      s"(CASE WHEN $fv >= 8 THEN 0 WHEN $fv >= 4 THEN 1 " +
      s"WHEN $fv >= 2 THEN 2 ELSE 3 END) + 1 END)"
  }

  /** Margin-mining twin (mirrors BitextMine): forward/backward top-4
    * cosine neighborhoods with decimal(18,9)-rounded cosines, ratio
    * margin as the same fixed two-division double expression. `e`/`q`
    * aliases line up with [[cosineEq]]'s fixed references. */
  private[graft] def marginMineSql(mined: Boolean): String = {
    val base =
      s"""WITH a AS (SELECT vec_id AS qid, embedding FROM embeddings
         |           WHERE vec_id < 30),
         |b AS (SELECT vec_id AS cid, embedding FROM embeddings
         |      WHERE vec_id >= 30),
         |fc AS (SELECT q.qid, e.cid, CAST($cosineEq AS DECIMAL(18,9)) AS c9,
         |        row_number() OVER (PARTITION BY q.qid
         |          ORDER BY $cosineEq DESC, e.cid) AS rn
         |       FROM b e, a q),
         |fwd AS (SELECT qid, cid, c9 FROM fc WHERE rn <= 4),
         |sf AS (SELECT qid, SUM(c9) AS sumf FROM fwd GROUP BY qid),
         |bc AS (SELECT q.cid, CAST($cosineEq AS DECIMAL(18,9)) AS c9,
         |        row_number() OVER (PARTITION BY q.cid
         |          ORDER BY $cosineEq DESC, e.qid) AS rn
         |       FROM a e, b q),
         |sb AS (SELECT cid, SUM(c9) AS sumb FROM bc WHERE rn <= 4
         |       GROUP BY cid),
         |m AS (SELECT f.qid, f.cid,
         |  CAST(CAST(f.c9 AS VARCHAR) AS DOUBLE) AS cos,
         |  CAST(CAST(f.c9 AS VARCHAR) AS DOUBLE) /
         |    (CAST(CAST(sf.sumf + sb.sumb AS VARCHAR) AS DOUBLE) / 8.0)
         |    AS margin
         | FROM fwd f JOIN sf USING (qid) JOIN sb USING (cid))""".stripMargin
    if (mined)
      base +
        """
          |SELECT qid, cid, cos, margin FROM (
          |  SELECT m.*, row_number() OVER (PARTITION BY qid
          |    ORDER BY margin DESC, cid) AS rn FROM m)
          |WHERE rn = 1 AND margin > 1.0 ORDER BY qid, cid""".stripMargin
    else base + "\nSELECT qid, cid, cos, margin FROM m ORDER BY qid, cid"
  }

  /** MRL unit-prefix in DuckDB: leading `d` dims renormalized with the
    * kernel's float discipline (double-widened norm, multiply by
    * reciprocal, truncate to float; zero-norm prefixes pass through) —
    * the l2_normalize_vecs form over a slice. */
  private[graft] def mrlUnitSql(e: String, d: Int): String = {
    val sl = s"list_slice($e, 1, $d)"
    s"(CASE WHEN ${normOf(sl)} = 0 THEN $sl ELSE list_transform($sl, " +
      s"x -> CAST(CAST(x AS DOUBLE) * (1.0 / ${normOf(sl)}) AS FLOAT)) END)"
  }

  private[graft] val dotEq =
    "list_sum(list_transform(range(1, len(e.embedding) + 1), i -> " +
      "CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))"

  private[graft] def normOf(expr: String): String =
    s"sqrt(list_sum(list_transform($expr, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"

  private[graft] val cosineEq =
    s"(CASE WHEN ${normOf("e.embedding")} = 0 OR ${normOf("q.embedding")} = 0 " +
      s"THEN 0.0 ELSE $dotEq / (${normOf("e.embedding")} * ${normOf("q.embedding")}) END)"

  /** Queries that exist purely to pin an algorithm against the DuckDB
    * oracle in engine-portable arithmetic (md5-derived hashes, fixed
    * centroids/codebooks instead of trained ones) — correctness-gate
    * plumbing, deliberately expensive (md5 per shingle × 8 hashes),
    * never the 100 TB execution path. The bench reports their cost as
    * a separate `twins_sec` subtotal so round-over-round engine
    * comparisons aren't judged on oracle plumbing. */
  // the curation funnels also touch the md5 pair table but stay in the
  // ENGINE subtotal: their md5 stage reads the process-shared artifact
  // (a parquet read, amortized like every SharedFrames consumer), and
  // four of their five stages are pure engine kernels
  val gateTwins: Set[String] = Set(
    "crossdup_md5", "embed_knn_md5", "neardup_components_md5",
    "neardup_cluster_sizes", "neardup_keep_best_md5",
    "minhash_calibration",
    "neardup_pairs_md5", "simhash_md5", "fingerprint_winnow",
    "ivf_fixed_knn", "ivf_fixed_batch_knn", "ivfpq_fixed_knn",
    "ivf_fixed_append_knn", "maxsim_md5_topk",
    "opq_fixed_knn", "pq_fixed_knn", "semantic_dedup_fixed",
    "triplet_mine_fixed", "ivf_lloyd_step", "pca_moments",
    "ivfbq_fixed_knn", "sq8_fixed_codes", "pca_fixed_embed",
    "pca_eig_fixed", "kcenter_md5", "embedding_anisotropy_md5",
    "pq_fixed_adc", "sq8_fixed_adc", "mutual_knn_fixed",
    // source_sketch_jaccard replays the md5 sketch; the murmur kernel
    // (CorpusSketch) is the engine path, spec-gated
    "source_sketch_jaccard")

  /** The measured artifact-build lines (r17 verdict item 1): each
    * constructs a SharedFrames-amortized artifact FRESH inside its
    * timed region, so the bench carries every shared build as its own
    * driver-visible line (min-of-3 measures the build, not a cache
    * read). Bench reports their subtotal as `build_sec`, and only
    * there: a build line is never also a gate twin, so no build's
    * seconds land in `twins_sec` too. The memo surface itself is
    * FROZEN — no new consumers move work into it. */
  val artifactBuilds: Set[String] = Set("md5_index_build",
    "bm25_index_build", "knn_graph_build", "store_ingest_build")

  /** Queries whose measured time INCLUDES an in-query model fit
    * (Lloyd's / Procrustes / eigendecomposition / min-max range /
    * k-means semantic clustering). Bench reports their subtotal as
    * `fit_sec` so a contention spike on iterative fitting is
    * diagnosable from the artifact alone; their `*_saved_knn` /
    * fixed-parameter twins isolate the online-search cost. */
  val inQueryFit: Set[String] = Set(
    "pq_knn", "opq_knn", "ivfpq_knn", "ivfsq_knn", "ivf_knn",
    "ivf_batch_knn", "sq8_knn", "semantic_dedup", "triplet_mine",
    "pca_embed", "pca_sq8_knn")

  /** The five curation-funnel stage flags per document, shared by
    * `curation_funnel` and `curation_funnel_by_source` — ONE
    * definition on the Spark side to mirror the shared SQL vals on
    * the oracle side, so the two attrition reports cannot drift from
    * each other (or from the standalone stage queries). One flags
    * frame + one conditional aggregate downstream: each stage kernel
    * evaluates exactly once (a per-stage count chain re-ran gopher
    * 5x, dup-spans 3x — measured 9.9 s vs ~2 s at sf0.1). */
  // the full flags frame (doc_id, source, lang, f2..f6) materializes
  // ONCE per process (SharedFrames): three funnel cuts consume it, and
  // without the memo each re-ran the gopher/dup-span/decontam kernels
  // (~1.9 s per funnel query at sf0.1 → a slim parquet read + one
  // aggregate). Ints/strings round-trip parquet bit-exactly; the
  // oracle gate re-verifies all three reports per run.
  private[graft] def curationFlags(s: SparkSession, dir: String,
      extraCols: Seq[String]): DataFrame =
    SharedFrames.materialized(s, dir, "curation_flags") {
      curationFlagsCompute(s, dir)
    }.select((Seq("doc_id") ++ extraCols ++
      Seq("f2", "f3", "f4", "f5", "f6")).map(col): _*)

  private[graft] def curationFlagsCompute(s: SparkSession,
      dir: String): DataFrame = {
    val extraCols = Seq("source", "lang")
    val docs = t(s, dir, "documents")
    val g = docs.select(col("doc_id"),
        graft.functions.TextFunctions.gopherRules(col("text")).as("g"))
      .where(col("g.n_words") >= 30 && col("g.alpha_word_ratio") >= 0.8)
      .select("doc_id")
    val lmAll = SharedFrames.lmScoredDocs(s, dir)
      .select("doc_id", "lm_score")
    val lm = lmAll.where(col("lm_score") >= -1.75).select("doc_id")
    val ds = graft.operators.Dedup.dupSpanStats(docs, "doc_id", "text",
        k = 20, hashGrams = false)
      .where(col("dup_ratio") <= 0.25).select("doc_id")
    val keepIds = graft.operators.Dedup.keepBestByComponentFrom(
        docs.select("doc_id").join(lmAll, Seq("doc_id"), "left"),
        "doc_id", "lm_score", md5Components(s, dir))
      .select("doc_id")
    val dec = graft.operators.Dedup.benchmarkOverlap(
        docs.filter(col("doc_id") % 20 =!= 0),
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
        k = 20, hashGrams = false)
      .where(col("contamination_ratio") < 0.05).select("doc_id")
    docs.select("doc_id", extraCols: _*)
      .join(g.select(col("doc_id"), lit(1).as("f2")), Seq("doc_id"), "left")
      .join(lm.select(col("doc_id"), lit(1).as("f3")), Seq("doc_id"), "left")
      .join(ds.select(col("doc_id"), lit(1).as("f4")), Seq("doc_id"), "left")
      .join(keepIds.select(col("doc_id"), lit(1).as("f5")),
        Seq("doc_id"), "left")
      .join(dec.select(col("doc_id"), lit(1).as("f6")), Seq("doc_id"), "left")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RegistryAnn.queries ++ RegistryDedup.queries ++ RegistryText.queries ++ RegistryGraph.queries ++ RegistryRetrieval.queries ++ RegistryAnalytics.queries ++ RegistryLake.queries


  // DuckDB twin of TextFunctions.tokens: lowercase, split on \s+, drop
  // empties. DuckDB standard strings keep backslashes literal.
  private[graft] val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"

  /** Blocklist for the `blocklist_filter` gate query — ONE literal
    * list interpolated into BOTH the Spark registration and the
    * DuckDB twin so the two sides cannot drift. "leak" is absent
    * from the corpus vocabulary on purpose (a zero-hit term must not
    * perturb the report). */
  private[graft] val blocklistTerms = Seq("dup", "leak", "slow")

  private[graft] def shSql(toks: String): String =
    s"list_transform(range(1, len($toks)), j -> $toks[j] || ' ' || $toks[j + 1])"

  // shared hourly densification CTE (dense_hourly + period_over_period):
  // mirrors TimeWindows.densify over events × event_type
  private[graft] val denseHourlyCte: String =
    """b AS (SELECT epoch_ns(ts) // 3600000000000 AS bucket,
      |    event_type
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
      |c AS (SELECT bucket, event_type, COUNT(*) AS cnt FROM b
      |      GROUP BY 1, 2),
      |bounds AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b),
      |spine AS (SELECT k.event_type,
      |    unnest(generate_series((SELECT lo FROM bounds),
      |      (SELECT hi FROM bounds))) AS bucket
      |  FROM (SELECT DISTINCT event_type FROM b) k),
      |dense AS (SELECT spine.bucket, spine.event_type,
      |    CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
      |  FROM spine LEFT JOIN c USING (bucket, event_type))""".stripMargin

  // shared funnel step-reach CTE chain (funnel_steps + funnel_lag):
  // mirrors Funnel.stepReachFrames — s_k = first step-k event strictly
  // after s_{k-1} within 7d of step 1
  private[graft] val funnelStepsCte: String =
    """b AS (SELECT user_id AS u, event_type AS et, epoch_ns(ts) AS tn
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |    AND ts IS NOT NULL),
      |s1 AS (SELECT u, MIN(tn) AS t1, MIN(tn) AS tk FROM b
      |       WHERE et = 'view' GROUP BY u),
      |s2 AS (SELECT b.u, MIN(s1.t1) AS t1, MIN(b.tn) AS tk
      |       FROM b JOIN s1 ON b.u = s1.u
      |       WHERE b.et = 'click' AND b.tn > s1.tk
      |         AND b.tn <= s1.t1 + 604800000000000
      |       GROUP BY b.u),
      |s3 AS (SELECT b.u, MIN(s2.t1) AS t1, MIN(b.tn) AS tk
      |       FROM b JOIN s2 ON b.u = s2.u
      |       WHERE b.et = 'purchase' AND b.tn > s2.tk
      |         AND b.tn <= s2.t1 + 604800000000000
      |       GROUP BY b.u)""".stripMargin

  // shared doc-level co-occurrence pair CTE (cooc_lift + the TextRank
  // edge list): top-40 tokens by document frequency, pairs with
  // support >= 10 — one definition so the graph twin cannot drift
  // from the lift twin
  // md5 MinHash pair kernel -> symmetric closure -> per-node min
  // component, as a WITH RECURSIVE chain ending in `comp` — shared by
  // neardup_components_md5 and neardup_keep_best_md5 (one definition,
  // no drift)
  // the shingle → signature → band → candidate → exact-intersection
  // prefix alone (no component closure) — reused by the measured
  // `md5_index_build` twin so the build line's stage counts replay
  // the same definitions the component twins consume
  private[graft] val md5PairStagesCtes: String =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
      |    x -> length(x) > 0) AS ts
      |  FROM documents),
      |sh0 AS (SELECT doc_id, ts, unnest(range(1, len(ts) - 1)) AS i
      |        FROM toks WHERE len(ts) >= 3),
      |shm AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS s
      |       FROM sh0),
      |hj AS (SELECT doc_id, s, unnest(range(1, 9)) AS j FROM shm),
      |sigs AS (SELECT doc_id, j, MIN(md5(CAST(j AS VARCHAR) || ':' || s)) AS mh
      |         FROM hj GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, CAST((j + 1) // 2 AS INT) AS band,
      |            string_agg(mh, '|' ORDER BY j) AS bkey
      |          FROM sigs GROUP BY doc_id, CAST((j + 1) // 2 AS INT)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      |    AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shm GROUP BY doc_id),
      |inter AS (
      |  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ninter
      |  FROM cand c
      |  JOIN shm sa ON sa.doc_id = c.id_a
      |  JOIN shm sb ON sb.doc_id = c.id_b AND sb.s = sa.s
      |  GROUP BY c.id_a, c.id_b)""".stripMargin

  private[graft] val md5ComponentsCtes: String =
    md5PairStagesCtes + """,
      |mpairs AS (
      |  SELECT i.id_a, i.id_b FROM inter i
      |  JOIN sizes za ON za.doc_id = i.id_a
      |  JOIN sizes zb ON zb.doc_id = i.id_b
      |  WHERE CAST(i.ninter AS DOUBLE) / (za.n + zb.n - i.ninter) >= 0.5),
      |medges AS (SELECT id_a AS u, id_b AS v FROM mpairs
      |          UNION SELECT id_b, id_a FROM mpairs),
      |reach AS (
      |  SELECT u AS a, v AS b FROM medges
      |  UNION
      |  SELECT r.a, e.v FROM reach r JOIN medges e ON r.b = e.u),
      |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
      |  FROM reach GROUP BY a)""".stripMargin

  // dt is DISTINCT over (doc_id, tok) — not just list_distinct within a
  // row — to pin the operator's duplicate-doc-id semantics (coocLift
  // dedupes the exploded frame on (id, tok) so a repeated id cannot
  // inflate df/n_ab past N; the twin must do the same or the two
  // engines drift the moment a fixture carries a duplicate id).
  private[graft] val coocPairsCte: String =
    s"""dt AS (SELECT DISTINCT doc_id, tok FROM (
       |  SELECT doc_id, unnest(list_distinct($toksSql)) AS tok
       |  FROM documents)),
       |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
       |top AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt
       |  GROUP BY tok ORDER BY df DESC, tok ASC LIMIT 40),
       |dtop AS (SELECT dt.doc_id, dt.tok, top.df FROM dt
       |  JOIN top ON dt.tok = top.tok),
       |pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_ab,
       |    MIN(a.df) AS df_a, MIN(b.df) AS df_b
       |  FROM dtop a JOIN dtop b ON a.doc_id = b.doc_id
       |    AND a.tok < b.tok
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 10)""".stripMargin

  // DSIR twin plumbing: 12-bit bucket from the first 3 md5 hex chars
  // (identical hex both engines; mirrors Dsir.bucketOf portable mode)
  private[graft] val dsirBucketSql: String =
    "(strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 256 + " +
      "(strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substr(md5(g), 3, 1)) - 1)"

  // fit→score CTE shared by dsir_weights and dsir_select (single
  // definition → the selection twin cannot drift from the weights
  // twin). Mirrors Dsir.logRatioTable + importanceWeights with
  // buckets=4096, target = src1/src2, raw = whole corpus.
  private[graft] val dsirWeightsCte: String =
    s"""WITH tg AS (SELECT $toksSql AS toks FROM documents
       |            WHERE source IN ('src1', 'src2')),
       |rw AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tgg AS (SELECT unnest(list_concat(toks, ${shSql("toks")})) AS g FROM tg),
       |rwg AS (SELECT doc_id, unnest(list_concat(toks, ${shSql("toks")})) AS g
       |        FROM rw),
       |tb AS (SELECT $dsirBucketSql AS bucket FROM tgg),
       |rb AS (SELECT doc_id, $dsirBucketSql AS bucket FROM rwg),
       |tc AS (SELECT bucket, COUNT(*) AS ct FROM tb GROUP BY bucket),
       |rc AS (SELECT bucket, COUNT(*) AS cr FROM rb GROUP BY bucket),
       |tot AS (SELECT (SELECT COUNT(*) FROM tb) AS nt,
       |               (SELECT COUNT(*) FROM rb) AS nr),
       |llr AS (SELECT b.bucket,
       |    CAST(ln(CAST(COALESCE(tc.ct, 0) + 1 AS DOUBLE) /
       |            CAST(tot.nt + 4096 AS DOUBLE))
       |       - ln(CAST(COALESCE(rc.cr, 0) + 1 AS DOUBLE) /
       |            CAST(tot.nr + 4096 AS DOUBLE)) AS DECIMAL(18,9)) AS llr
       |  FROM (SELECT unnest(range(0, 4096)) AS bucket) b
       |  LEFT JOIN tc ON tc.bucket = b.bucket
       |  LEFT JOIN rc ON rc.bucket = b.bucket, tot),
       |w AS (SELECT d.doc_id, COALESCE(
       |    CAST(CAST(CAST(s.sw AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE),
       |    CAST(0 AS DOUBLE)) AS logw
       |  FROM documents d LEFT JOIN (
       |    SELECT rb.doc_id, SUM(llr.llr) AS sw FROM rb
       |    JOIN llr ON llr.bucket = rb.bucket GROUP BY rb.doc_id) s
       |  ON s.doc_id = d.doc_id)""".stripMargin

  // shared oracle twins, reused verbatim by curation_scored's
  // composition (one definition → the composed query cannot drift).
  // The CTE-chain form exists so neardup_keep_best_md5 can join the
  // SAME score definition against the component closure.
  private[graft] val lmScoreCtes: String =
    """ch AS (
      |  SELECT doc_id, lower(text) AS t FROM documents WHERE len(text) >= 2),
      |bg AS (
      |  SELECT doc_id, pos, substr(t, pos, 2) AS bigram FROM (
      |    SELECT doc_id, t, unnest(range(1, len(t))) AS pos FROM ch)),
      |pc AS (SELECT bigram, COUNT(*) AS cp FROM bg GROUP BY 1),
      |fc AS (SELECT substr(bigram, 1, 1) AS c0, COUNT(*) AS cf
      |       FROM bg GROUP BY 1),
      |scored AS (
      |  SELECT doc_id, pos,
      |    ln(CAST(cp AS DOUBLE) / CAST(cf AS DOUBLE)) AS lnp
      |  FROM bg JOIN pc USING (bigram)
      |  JOIN fc ON substr(bg.bigram, 1, 1) = fc.c0),
      |agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |    list_sum(list(lnp ORDER BY pos)) AS s
      |  FROM scored GROUP BY doc_id),
      |lmscore AS (
      |  SELECT doc_id, n_bigrams,
      |    CAST(CAST(CAST(s / n_bigrams AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS lm_score
      |  FROM agg)""".stripMargin

  private[graft] val lmScoreSql: String =
    s"""WITH $lmScoreCtes
       |SELECT doc_id, n_bigrams, lm_score
       |FROM lmscore ORDER BY doc_id""".stripMargin

  // BM25 twin: same fit/score arithmetic as Bm25.fit/search in the
  // same operation order; inexact literals (k1=1.2, k1+1=2.2) enter
  // via string→double parse (correctly rounded on both engines),
  // contributions are decimal(20,8) before SUM (exact, order-free),
  // and the final score crosses the decimal→double VARCHAR bridge.
  // Shared verbatim by bm25_topk and hybrid_rrf's lexical arm.
  private[graft] val bm25Sql: String =
    s"""WITH toks AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tf AS (
       |  SELECT doc_id, token, COUNT(*) AS tf
       |  FROM (SELECT doc_id, unnest(toks) AS token FROM toks)
       |  GROUP BY doc_id, token),
       |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
       |stats AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) /
       |      CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM dl),
       |post AS (
       |  SELECT tf.doc_id, tf.token, tf.tf, dl.dl
       |  FROM tf JOIN dl USING (doc_id)),
       |idf AS (
       |  SELECT token,
       |    ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - df + 0.5)
       |      / (df + 0.5)) AS idf
       |  FROM (SELECT token, COUNT(*) AS df FROM post GROUP BY token)
       |  WHERE token IN ('spark', 'hash', 'window'))
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
       |  CAST(CAST(SUM(CAST(
       |    idf * (CAST(tf AS DOUBLE) * CAST('2.2' AS DOUBLE))
       |      / (CAST(tf AS DOUBLE) + CAST('1.2' AS DOUBLE) *
       |        (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |          / (SELECT avgdl FROM stats)))
       |    AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS score
       |FROM post JOIN idf USING (token)
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  private[graft] val dupSpansSql: String =
    """WITH d AS (
      |  SELECT doc_id, text FROM documents WHERE len(text) >= 20),
      |g AS (
      |  SELECT doc_id, pos, substr(text, CAST(pos AS INT), 20) AS gram
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, len(text) - 18)) AS pos FROM d)),
      |c AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
      |dp AS (SELECT doc_id, pos FROM g JOIN c USING (gram)),
      |lg AS (SELECT doc_id, pos,
      |  LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dp),
      |isl AS (SELECT doc_id, pos,
      |  CAST(SUM(CASE WHEN pos - prev > 20 THEN 1 ELSE 0 END) OVER (
      |    PARTITION BY doc_id ORDER BY pos
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      |  FROM lg),
      |sp AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 19 AS e,
      |  COUNT(*) AS nd FROM isl GROUP BY 1, 2),
      |agg AS (SELECT doc_id,
      |  CAST(SUM(nd) AS BIGINT) AS n_dup,
      |  CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
      |  CAST(MAX(e - s + 1) AS BIGINT) AS longest_span
      |  FROM sp GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(len(d.text) - 19 AS BIGINT) AS n_pos,
      |  COALESCE(n_dup, 0) AS n_dup,
      |  COALESCE(n_spans, 0) AS n_spans,
      |  COALESCE(dup_chars, 0) AS dup_chars,
      |  COALESCE(longest_span, 0) AS longest_span,
      |  CAST(COALESCE(n_dup, 0) AS DOUBLE) /
      |    CAST(len(d.text) - 19 AS DOUBLE) AS dup_ratio
      |FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  // thresholds and stop words interpolate from TextFunctions' single
  // definition — rule edits cannot desynchronize this twin
  private[graft] val stopContainsSql: String =
    graft.functions.TextFunctions.GopherStopWords
      .map(w => s"CAST(list_contains(toks, '$w') AS INT)")
      .mkString(" +\n         |      ").stripMargin
  import graft.functions.TextFunctions.{GopherMinWords, GopherMaxWords,
    GopherMinMeanWordLen, GopherMaxMeanWordLen, GopherMaxSymbolRatio,
    GopherMaxBulletRatio, GopherMaxEllipsisRatio, GopherMinAlphaRatio,
    GopherMinStopWords}

  // DuckDB twin of TextFunctions.qualityFeatures, shared by
  // doc_quality and budget_select (single definition, no drift)
  private[graft] val docQualitySql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |      ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS avg_token_len,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |      ELSE CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE) END AS alpha_ratio,
       |    CASE WHEN len(text) = 0 THEN 0.0
       |      ELSE CAST(len(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / CAST(len(text) AS DOUBLE) END AS punct_ratio,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |      ELSE CAST(len(list_distinct(list_intersect(toks, ['the','a','and','of','to','in','is','it','that','for']))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stopword_ratio
       |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents))
       |SELECT doc_id, n_tokens, avg_token_len, alpha_ratio, punct_ratio, stopword_ratio,
       |  least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.4 + alpha_ratio * 0.3 +
       |  least(stopword_ratio * 5.0, 1.0) * 0.2 +
       |  (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.1 AS quality_score
       |FROM f ORDER BY doc_id""".stripMargin

  // decontamination twin (GPT-3 appendix-C 20-gram overlap) — a val so
  // the standalone query and the curation_funnel composition share one
  // definition
  private[graft] val decontaminateSql: String =
    """WITH bench AS (
      |  SELECT text FROM documents
      |  WHERE doc_id % 20 = 0 AND len(text) >= 20),
      |bg AS (SELECT DISTINCT substr(text, CAST(pos AS INT), 20) AS gram
      |  FROM (SELECT text,
      |        unnest(range(1, len(text) - 18)) AS pos FROM bench)),
      |corp AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % 20 != 0 AND len(text) >= 20),
      |cg AS (SELECT doc_id, substr(text, CAST(pos AS INT), 20) AS gram
      |  FROM (SELECT doc_id, text,
      |        unnest(range(1, len(text) - 18)) AS pos FROM corp)),
      |hits AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM cg
      |  WHERE gram IN (SELECT gram FROM bg) GROUP BY 1)
      |SELECT corp.doc_id,
      |  CAST(len(text) - 19 AS BIGINT) AS n_pos,
      |  CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
      |  CAST(COALESCE(n_contaminated, 0) AS DOUBLE) /
      |    CAST(len(text) - 19 AS DOUBLE) AS contamination_ratio
      |FROM corp LEFT JOIN hits USING (doc_id)
      |ORDER BY corp.doc_id""".stripMargin

  // quality-aware keep-best survivors (md5 closure + LM rank-1) — a
  // val so neardup_keep_best_md5 and curation_funnel share it
  private[graft] val keepBestSurvivorsSql: String =
    s"""WITH RECURSIVE $md5ComponentsCtes,
       |$lmScoreCtes,
       |cs AS (SELECT c.doc_id, c.component, l.lm_score
       |  FROM comp c LEFT JOIN lmscore l ON c.doc_id = l.doc_id),
       |rk AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY component
       |    ORDER BY lm_score DESC NULLS LAST, doc_id ASC) AS rn FROM cs),
       |losers AS (SELECT doc_id FROM rk WHERE rn > 1)
       |SELECT d.doc_id, l.lm_score
       |FROM documents d LEFT JOIN lmscore l ON d.doc_id = l.doc_id
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  private[graft] val gopherQualitySql: String =
    s"""WITH w AS (
         |  SELECT doc_id, text, $toksSql AS toks,
         |    list_filter(string_split(text, chr(10)),
         |      l -> len(trim(l)) > 0) AS lines
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE) END AS mean_word_len,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST((len(text) - len(replace(text, '#', ''))) +
         |        (len(text) - len(replace(text, '...', ''))) / 3 AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE) END AS symbol_ratio,
         |    CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(toks,
         |          x -> regexp_matches(x, '${graft.functions.TextFunctions.GopherAlphaPattern}'))) AS DOUBLE)
         |        / CAST(len(toks) AS DOUBLE) END AS alpha_word_ratio,
         |    CASE WHEN len(lines) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(lines, l ->
         |          starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
         |          OR starts_with(ltrim(l), '•'))) AS DOUBLE)
         |        / CAST(len(lines) AS DOUBLE) END AS bullet_line_ratio,
         |    CASE WHEN len(lines) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(lines,
         |          l -> ends_with(rtrim(l), '...'))) AS DOUBLE)
         |        / CAST(len(lines) AS DOUBLE) END AS ellipsis_line_ratio,
         |    CAST($stopContainsSql AS BIGINT)
         |      AS n_stop_distinct
         |  FROM w)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         |  alpha_word_ratio, bullet_line_ratio, ellipsis_line_ratio,
         |  n_stop_distinct,
         |  CAST(n_words BETWEEN $GopherMinWords AND $GopherMaxWords
         |    AND mean_word_len
         |      BETWEEN $GopherMinMeanWordLen AND $GopherMaxMeanWordLen
         |    AND symbol_ratio <= $GopherMaxSymbolRatio
         |    AND bullet_line_ratio < $GopherMaxBulletRatio
         |    AND ellipsis_line_ratio < $GopherMaxEllipsisRatio
         |    AND alpha_word_ratio >= $GopherMinAlphaRatio
         |    AND n_stop_distinct >= $GopherMinStopWords AS INT) AS keep
         |FROM m ORDER BY doc_id""".stripMargin


  /** Unroll depths of the graph-peel DuckDB twins. The operators'
    * round counts are DATA-DEPENDENT (driver convergence loops); the
    * twins replay a FIXED number of stages. Extra stages past the
    * fixpoint are idempotent, but a twin unrolled SHORTER than the
    * operator's actual depth returns a non-fixpoint and the gate
    * reports a bare hash mismatch with no pointer to the cause —
    * `TwinDepthSpec` measures the real round counts on the gate data
    * and fails with a "regenerate the twin" message when these
    * constants no longer clear them. The twin SQL chains are GENERATED
    * from these values, so constant and twin cannot drift apart. */
  private[graft] val tokenKcoreTwinRounds = 4
  private[graft] val tokenKtrussTwinRounds = 7
  private[graft] val tokenCorenessTwinRounds = 8

  /** Merge count of the trained-BPE query — the twin's training
    * replay unrolls exactly this many stages, so registration and
    * twin cannot drift. */
  private[graft] val bpeTrainedMerges = 60

  /** Force every CTE in a twin to DuckDB's MATERIALIZED form. DuckDB
    * INLINES non-materialized CTEs at every reference site, so a
    * 30-round unrolled iteration whose round reads the previous CTE
    * 2-3 times re-executes the whole prefix chain combinatorially —
    * invisible at sf0.01 (milliseconds × multiplier), a 66 GB spill
    * at sf1 (measured on pagerank_directed, r16). Purely an oracle-
    * evaluation hint: results are byte-identical either way. Applied
    * GLOBALLY — [[oracleSql]] maps every twin in [[oracleSqlRaw]]
    * through this rewrite; the pattern `name AS (` only ever occurs
    * at CTE definitions in this SQL dialect (column aliases are
    * `expr AS name`, derived tables are `(...) name`, and the named-
    * WINDOW / shadowed-name shapes are excluded below). Column-list
    * CTE heads (`r(x) AS (`) are deliberately NOT matched (the `)`
    * before ` AS` breaks `\w+`) and stay inlined — also safe, just
    * unoptimized. `WITH RECURSIVE r AS (` IS matched and DuckDB
    * accepts the materialized recursive form (exercised by the
    * *_md5 component twins at sf1). Edge cases are pinned by
    * MaterializeCtesSpec. */
  private[graft] def materializeCtes(sql: String): String = {
    // skip names defined more than once (a composed twin may nest a
    // snippet whose inner WITH reuses an outer name in its own scope;
    // plain inlining tolerates the shadowing, materialization's
    // binder does not — leave those inlined)
    // negative lookbehind: a named WINDOW clause ("WINDOW win AS
    // (PARTITION ...)") shares the `name AS (` shape but cannot be
    // materialized
    // \b pins the match to the name's start so the lookbehind cannot
    // be dodged by re-matching a suffix of the same word
    val CteDef = "(?<!WINDOW )\\b(\\w+) AS \\(".r
    val dup = CteDef.findAllMatchIn(sql).toList.groupBy(_.group(1))
      .collect { case (k, ms) if ms.size > 1 => k }.toSet
    CteDef.replaceAllIn(sql, m =>
      if (dup(m.group(1))) java.util.regex.Matcher.quoteReplacement(m.group(0))
      else java.util.regex.Matcher.quoteReplacement(
        m.group(1) + " AS MATERIALIZED ("))
  }

  /** Shared louvain twin chain: 2 levels x 2 weighted move rounds +
    * contraction, replaying Graph.louvain(levels=2, roundsPerLevel=2)
    * on the co-occurrence graph; ends with `lv`(node, community), the
    * final assignment. Round blocks are generated from ONE template
    * (wRound = the louvainMoveRoundWeighted math) so the four rounds
    * cannot drift; both louvain twins consume this single chain. */
  private[graft] def louvainTwinChain: String = {
    def wRound(g: String, l: String, p: String): String =
      s"""${p}m AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS m FROM $g),
         |${p}deg AS MATERIALIZED (SELECT n, CAST(SUM(kw) AS BIGINT) AS ki FROM (
         |  SELECT u AS n, CASE WHEN u = v THEN 2 * w ELSE w END AS kw
         |  FROM $g
         |  UNION ALL SELECT v, w FROM $g WHERE u <> v) GROUP BY n),
         |${p}tot AS MATERIALIZED (SELECT l.lbl,
         |    CAST(SUM(COALESCE(d.ki, 0)) AS BIGINT) AS tot
         |  FROM $l l LEFT JOIN ${p}deg d ON l.n = d.n GROUP BY l.lbl),
         |${p}sym AS MATERIALIZED (SELECT u, v, w FROM $g WHERE u <> v
         |  UNION ALL SELECT v, u, w FROM $g WHERE u <> v),
         |${p}nbrc AS MATERIALIZED (SELECT s.u AS n, lv.lbl AS c,
         |    CAST(SUM(s.w) AS BIGINT) AS kic
         |  FROM ${p}sym s JOIN $l lv ON s.v = lv.n GROUP BY 1, 2),
         |${p}base AS MATERIALIZED (SELECT l.n, l.lbl,
         |    CAST(COALESCE(d.ki, 0) AS BIGINT) AS ki, ta.tot AS tota,
         |    CAST(COALESCE(ka.kic, 0) AS BIGINT) AS kia
         |  FROM $l l
         |  LEFT JOIN ${p}deg d ON l.n = d.n
         |  JOIN ${p}tot ta ON ta.lbl = l.lbl
         |  LEFT JOIN ${p}nbrc ka ON ka.n = l.n AND ka.c = l.lbl),
         |${p}cand AS (SELECT b.n, b.lbl, nc.c,
         |    CAST(nc.kic - b.kia AS DOUBLE) / m.m
         |      - (CAST(b.ki AS DOUBLE) / (2.0 * m.m))
         |        * (CAST(tc.tot - b.tota + b.ki AS DOUBLE) / m.m)
         |      AS gain
         |  FROM ${p}nbrc nc
         |  JOIN ${p}base b ON b.n = nc.n AND nc.c <> b.lbl
         |  JOIN ${p}tot tc ON tc.lbl = nc.c, ${p}m m),
         |${p}best AS MATERIALIZED (SELECT n, c, gain FROM (
         |    SELECT n, c, gain, ROW_NUMBER() OVER (PARTITION BY n
         |      ORDER BY gain DESC, c ASC) AS rn FROM ${p}cand)
         |  WHERE rn = 1),
         |${p}out AS MATERIALIZED (SELECT b.n,
         |    CASE WHEN bs.gain > 0 THEN bs.c ELSE b.lbl END AS lbl
         |  FROM ${p}base b LEFT JOIN ${p}best bs ON bs.n = b.n)"""
        .stripMargin
    s"""WITH $coocPairsCte,
       |g1 AS MATERIALIZED (SELECT u, v, CAST(1 AS BIGINT) AS w FROM (
       |  SELECT DISTINCT LEAST(tok_a, tok_b) AS u,
       |    GREATEST(tok_a, tok_b) AS v
       |  FROM pairs WHERE tok_a <> tok_b)),
       |l10 AS MATERIALIZED (SELECT n, n AS lbl FROM (
       |  SELECT DISTINCT u AS n FROM (
       |    SELECT u FROM g1 UNION SELECT v FROM g1))),
       |${wRound("g1", "l10", "r11")},
       |${wRound("g1", "r11out", "r12")},
       |g2 AS MATERIALIZED (SELECT LEAST(la.lbl, lb.lbl) AS u,
       |    GREATEST(la.lbl, lb.lbl) AS v,
       |    CAST(SUM(g1.w) AS BIGINT) AS w
       |  FROM g1 JOIN r12out la ON g1.u = la.n
       |  JOIN r12out lb ON g1.v = lb.n GROUP BY 1, 2),
       |l20 AS MATERIALIZED (SELECT n, n AS lbl FROM (
       |  SELECT DISTINCT u AS n FROM (
       |    SELECT u FROM g2 UNION SELECT v FROM g2))),
       |${wRound("g2", "l20", "r21")},
       |${wRound("g2", "r21out", "r22")},
       |lv AS MATERIALIZED (SELECT a.n AS node, f.lbl AS community
       |  FROM r12out a JOIN r22out f ON f.n = a.lbl)""".stripMargin
  }


  def oracleSql: Map[String, String] = oracleSqlRaw.map { case (k, v) =>
    k -> materializeCtes(v)
  }

  private[graft] def oracleSqlRaw: Map[String, String] =
    RegistryAnn.twins ++ RegistryDedup.twins ++ RegistryText.twins ++ RegistryGraph.twins ++ RegistryRetrieval.twins ++ RegistryAnalytics.twins ++ RegistryLake.twins

}
