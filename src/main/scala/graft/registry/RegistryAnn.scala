package graft
import graft.functions.VectorFunctions._
import graft.functions.TextFunctions._
import graft.functions.HashEmbedder
import graft.operators.{Dedup, Metric, Similarity}
import graft.store.VectorStore
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ann slice of the [[SparkEntry]] registry — vector search, ANN indexes (IVF/PQ/OPQ/SQ/binary/MRL/PCA), the VectorStore surface, embeddings, zero-shot.
  *
  * Split from the single 9.5k-line SparkEntry.scala (r16 verdict item
  * 6); every entry is VERBATIM from that file, and the shared frame /
  * SQL-snippet helpers stay on [[SparkEntry]] (imported wholesale
  * below) so registration text and oracle twins cannot drift during
  * the move. Composition happens in [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSqlRaw]]. */
private[graft] object RegistryAnn {
  import SparkEntry._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- vector engine surface (SURVEY §2 J1/W1/F2-F4) ----
    "knn_top5" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.topK(emb.select("vec_id", "embedding"), "embedding", "vec_id", q, k = 5)
        .select("vec_id", "distance")
    }),
    // radius search (FAISS range_search): EVERY vector within the
    // distance bound — scan + codegen'd score + filter, no heap, no
    // shuffle; the unbounded-cardinality complement of top-k
    "radius_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.radiusSearch(emb.select("vec_id", "embedding"),
        "embedding", "vec_id", q, radius = 1.45)
        .select("vec_id", "distance")
    }),
    // IVF pruned search with FIXED centroids (the first 4 embeddings —
    // no Lloyd's, so unlike ivf_knn the whole assign→probe→rank shape
    // is float-deterministic and oracle-checkable; the argmin kernel,
    // cell ranking, and probed top-k all run through the same code the
    // trained index uses)
    "ivf_fixed_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val q = queryVec(emb)
      val idx = new graft.operators.IvfIndex(cents,
        graft.operators.IvfIndex.assignCells(emb, "embedding", cents),
        "embedding", "vec_id")
      idx.query(q, k = 5, nprobe = 2).select("vec_id", "distance")
    }),
    // IVF cell-balance report over the same fixed centroids: vectors
    // per cell + corpus share — the "is this index skewed" diagnostic
    // read before trusting nprobe-pruned latency (a hot cell serves
    // most queries and the pruning stops paying). Assignment is the
    // exact argmin kernel; share is one bridged division
    "ivf_cell_balance" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val n = emb.count()
      graft.operators.IvfIndex.assignCells(emb, "embedding", cents)
        .groupBy(col("cluster").cast("long").as("cell"))
        .agg(count(lit(1)).as("n_vectors"))
        .withColumn("share",
          (col("n_vectors").cast("double") / lit(n.toDouble))
            .cast("decimal(18,9)").cast("double"))
        .orderBy("cell")
    }),
    // INCREMENTAL index maintenance invariant: assign a base slice
    // and an incoming batch to the same FIXED centroids separately,
    // union the assignments, search — append ≡ refit by construction
    // (per-row assignment commutes with union), so the twin is the
    // whole-corpus ivf_fixed_knn SQL verbatim and the gate
    // machine-checks the maintenance path end-to-end
    "ivf_fixed_append_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val q = queryVec(emb)
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val incoming = emb.filter(col("vec_id") % 10 === 0)
      val idx = new graft.operators.IvfIndex(cents,
        graft.operators.IvfIndex.assignCells(base, "embedding", cents)
          .unionByName(graft.operators.IvfIndex
            .assignCells(incoming, "embedding", cents)),
        "embedding", "vec_id")
      idx.query(q, k = 5, nprobe = 2).select("vec_id", "distance")
    }),
    // recall-vs-nprobe tuning curve over FIXED centroids (float-
    // deterministic, so unlike a trained index the whole curve is
    // oracle-checkable): 8 queries, recall@10 against brute force for
    // nprobe 1/2/4 — the report that picks an IVF operating point
    "ivf_fixed_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val idx = new graft.operators.IvfIndex(cents,
        graft.operators.IvfIndex.assignCells(emb, "embedding", cents),
        "embedding", "vec_id")
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val brute = graft.operators.Similarity.topKJoin(emb, queries,
        k = 10, corpusIdCol = "vec_id", corpusVecCol = "embedding",
        queryIdCol = "query_id", queryVecCol = "embedding")
        .select("query_id", "vec_id")
      Seq(1, 2, 4).map { np =>
        idx.queryBatch(queries, "query_id", "embedding", k = 10,
            nprobe = np)
          .select("query_id", "vec_id")
          .join(brute, Seq("query_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(np.toLong).as("nprobe"), col("n_hits"),
            lit(80L).as("n_possible"),
            (col("n_hits").cast("double") / lit(80.0))
              .cast("decimal(18,9)").cast("double").as("recall"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),
    // One full Lloyd's ITERATION with fixed input centroids (the first
    // 4 embeddings): the codegen'd argmin assignment kernel + the
    // vec_sum recenter, means rounded to decimal(18,9) for sum-order
    // independence (label_centroids convention). Machine-checks the
    // k-means training step itself — after this only the convergence
    // loop remains unoracled.
    "ivf_lloyd_step" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      graft.operators.IvfIndex.lloydStepMeans(emb, "embedding", cents)
    }),
    // PQ compression path with FIXED codebooks (subvectors of the
    // first 4 embeddings): the real PqIndex encode (per-subspace
    // argmin), ADC table, byte-code scan, and exact re-rank — all
    // float-deterministic without Lloyd's, so the compression/search
    // machinery is oracle-checked end to end
    "pq_fixed_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val books = sliceBooks(cents, 4)
      val codes = graft.operators.Rerank.nonNullVectors(emb, "embedding")
        .select(col("vec_id"),
        pq_encode(col("embedding"), books).as(graft.operators.PqIndex.CodeCol))
      val idx = new graft.operators.PqIndex(books, emb, codes,
        "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5).select("vec_id", "distance")
    }),
    // OPQ path with a FIXED permutation rotation (dimension reversal):
    // a permutation matrix is orthonormal AND float-exact (each rotated
    // coordinate is a single 1.0f·x product), so the rotate→encode→
    // ADC→re-rank machinery of RotatedPqIndex — the mat_vec corpus
    // kernel, the driver-side query rotate, and the rotated-space
    // exact re-rank — is oracle-checkable without the trained
    // rotation. Only the eigendecomposition-trained rotation itself
    // stays unoracled (same family as Lloyd's).
    "opq_fixed_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val dim = emb.select("embedding").head.getSeq[Float](0).length
      val rot = Array.tabulate(dim, dim)((i, j) =>
        if (j == dim - 1 - i) 1.0f else 0.0f)
      def rotate(d: DataFrame) = d.select(col("vec_id"),
        mat_vec(col("embedding"), rot).as("embedding"))
      val rotated = rotate(emb)
      val cents = firstVecs(rotated, 4)
      val books = sliceBooks(cents, 4)
      val codes = rotate(
        graft.operators.Rerank.nonNullVectors(emb, "embedding")).select(
        col("vec_id"),
        pq_encode(col("embedding"), books).as(graft.operators.PqIndex.CodeCol))
      val idx = new graft.operators.RotatedPqIndex(rot,
        new graft.operators.PqIndex(books, rotated, codes,
          "embedding", "vec_id"))
      val q = queryVec(emb)
      idx.query(q, k = 5).select("vec_id", "distance")
    }),
    // IVF-PQ composition with FIXED cells AND codebooks: the residual
    // kernel (cell_residual: double-subtract→float32, which equals a
    // direct float32 subtract — double's 53 bits ≥ 2·24+2 rules out
    // double rounding), residual-space encode, per-probed-cell ADC
    // branches, union top-k·refine, and original-space re-rank — the
    // whole faiss-IndexIVFPQ query shape, oracle-checked. Cells are
    // embeddings 0..3; codebooks come from the RESIDUALS of 4..7
    // (0..3's own residuals are identically zero).
    "ivfpq_fixed_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val clusterCol = graft.operators.IvfIndex.ClusterCol
      // non-null vectors only, so the codes are non-nullable
      val resid = graft.operators.IvfIndex
        .assignCells(graft.operators.Rerank.nonNullVectors(emb, "embedding"),
          "embedding", cents)
        .withColumn("__resid",
          cell_residual(col(clusterCol), col("embedding"), cents))
      val bookRows = resid
        .filter(col("vec_id") >= 4 && col("vec_id") < 8).orderBy("vec_id")
        .select("__resid").collect().map(_.getSeq[Float](0).toArray)
      val books = sliceBooks(bookRows, 4)
      val table = resid.select(col("vec_id"), col(clusterCol),
        pq_encode(col("__resid"), books).as(graft.operators.PqIndex.CodeCol))
      val idx = new graft.operators.IvfPqIndex(cents, books, table, emb,
        "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, nprobe = 2).select("vec_id", "distance")
    }),
    // the BATCH ANN join path (multi-probe kernel → hash join by cell
    // → WindowGroupLimit) through the same fixed-centroid index
    "ivf_fixed_batch_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val idx = new graft.operators.IvfIndex(cents,
        graft.operators.IvfIndex.assignCells(emb, "embedding", cents),
        "embedding", "vec_id")
      val qs = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      idx.queryBatch(qs, "query_id", "embedding", k = 5, nprobe = 2)
        .orderBy("query_id", "distance", "vec_id")
    }),
    "cosine_top5" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = queryVec(emb)
      Similarity.topK(emb.select("vec_id", "embedding"), "embedding", "vec_id", q,
        k = 5, metric = Metric.Cosine, scoreCol = "sim")
        .select("vec_id", "sim")
    }),
    "vec_norms" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), vec_norm(col("embedding")).as("norm"))
        .orderBy("vec_id")),
    // embedding drift monitor: per-dimension mean shift between two
    // corpus slices (vec_id parity as the stand-in for two ingest
    // snapshots) — the "did the embedding distribution move" check a
    // retrieval pipeline runs after a model or crawl change. Means per
    // the label_centroids decimal(18,9) convention; delta of the two
    // bridged doubles re-bridged
    "embedding_dim_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("i", "v")))
      def mean(par: Int) =
        (sum(when(col("vec_id") % 2 === par, col("v").cast("double"))) /
          sum(when(col("vec_id") % 2 === par, 1L)).cast("double"))
          .cast("decimal(18,9)").cast("double")
      e.groupBy("i")
        .agg(mean(0).as("mean_a"), mean(1).as("mean_b"))
        .select(col("i").cast("long").as("dim"), col("mean_a"),
          col("mean_b"),
          (col("mean_a") - col("mean_b"))
            .cast("decimal(18,9)").cast("double").as("delta"))
        .orderBy("dim")
    }),
    "knn_batch_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.topKJoin(emb.select("vec_id", "embedding"), queries, k = 3,
        corpusIdCol = "vec_id", corpusVecCol = "embedding",
        queryIdCol = "query_id", queryVecCol = "embedding")
        .select("query_id", "vec_id", "distance")
        .orderBy("query_id", "distance", "vec_id")
    }),
    // IVF × binary quantization (faiss IndexBinaryIVF composition)
    // over FIXED centroids (the first 4 embeddings): cell-pruned
    // Hamming candidates + exact re-rank — binary has no training, so
    // with fixed cells the ENTIRE composed index is oracle-checked
    "ivfbq_fixed_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val cents = firstVecs(emb, 4)
      val q = queryVec(emb)
      val idx = graft.operators.IvfBinary.buildWithCentroids(emb,
        "embedding", "vec_id", cents)
      idx.query(q, k = 5, nprobe = 2, refineFactor = 8)
    }),
    // metadata-filtered vector search (the vector-DB "where" clause):
    // the predicate joins docs metadata BEFORE the top-k heap, so the
    // scan prunes and the heap only sees eligible rows — no
    // post-filtering of a larger k
    "filtered_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val meta = t(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"), col("source"))
      val q = queryVec(emb)
      Similarity.topK(
        emb.join(meta, Seq("vec_id")).filter(col("lang") === "en"),
        "embedding", "vec_id", q, k = 5)
        .select("vec_id", "source", "distance")
    }),
    // MMR diversity re-rank over a top-20 cosine candidate list
    // (driver-small by contract): greedy λ·rel − (1−λ)·max-sim
    // selection in the kernels' exact double arithmetic, ties by id —
    // the SQL twin replays all 5 greedy steps unrolled
    "mmr_select" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val q = queryVec(emb)
      val cands = emb
        .withColumn("rel", cosine_sim(col("embedding"), typedLit(q)))
        .orderBy(col("rel").desc, col("vec_id").asc)
        .limit(20)
      graft.operators.Mmr.select(cands, "vec_id", "embedding", "rel",
        k = 5, lambda = 0.5)
        .orderBy("vec_id")
    }),
    // Matryoshka two-stage search (MRL): candidates over the
    // 16-of-64-dim renormalized prefix (the proven float normalize +
    // L2 kernels), exact full-dim re-rank — training-free, fully
    // oracle-checked
    "mrl_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val q = queryVec(emb)
      graft.operators.Matryoshka.topK(emb, "embedding", "vec_id", q,
        dims = 16, k = 5, refineFactor = 8)
    }),
    // binary-quantization ANN (sign bits → Hamming candidates → exact
    // re-rank): training-free, all-integer candidate metric, so unlike
    // PQ/IVF the FULL pipeline is oracle-checked with no fixed twin
    "binary_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.BinaryQuant.build(emb, "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 8)
    }),
    // batch form: broadcast query codes, WindowGroupLimit Hamming
    // candidates, per-query exact re-rank
    "binary_batch_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.BinaryQuant.build(emb, "embedding", "vec_id")
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding"))
      idx.queryBatch(queries, "query_id", "embedding", k = 3,
        refineFactor = 8)
        .orderBy("query_id", "vec_id")
    }),
    // scalar-shaped output (vec_id, i, value): the driver's pandas
    // comparator can't sort array columns, so the unit vector is
    // posexploded to one row per element
    "l2_normalize_vecs" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(l2_normalize(col("embedding"))).as(Seq("i", "v")))
        .select(col("vec_id"), col("i").cast("long").as("i"),
          col("v").cast("double").as("value"))
        .orderBy("vec_id", "i")),

    // ---- VectorStore surface (SURVEY §2.10 set_data/query_with_info) ----
    "store_knn" -> ((s, dir) => {
      val store = storeOf(s, dir)
      val q = queryVec(t(s, dir, "embeddings"))
      store.queryVectorWithInfo(q, k = 5)
    }),
    "store_append_ids" -> ((s, dir) => {
      val all = storeBase(s, dir)
        .select(col("doc_id"), col("text").as("target"),
          col("lang").as("option1"), col("source").as("option2"),
          col("embedding").as("vector"))
      val store = new VectorStore(s, HashEmbedder(dim = 64))
      store.setData(all.filter(col("doc_id") < 250).drop("doc_id"))
      store.setData(all.drop("doc_id"), append = true)
      store.data.select("id", "target", "option1", "option2").orderBy("id")
    }),

    // last-wins upsert: matched targets replace values but KEEP ids,
    // new targets append (beyond-reference store surface)
    "store_update_ids" -> ((s, dir) => {
      val all = storeBase(s, dir)
        .select(col("doc_id"), col("text").as("target"),
          col("lang").as("option1"), col("source").as("option2"),
          col("embedding").as("vector"))
      val store = new VectorStore(s, HashEmbedder(dim = 64))
      store.setData(all.drop("doc_id"))
      store.updateData(all.filter(col("doc_id") < 250)
        .withColumn("option1", lit("updated")).drop("doc_id"))
      store.data.select("id", "target", "option1", "option2").orderBy("id")
    }),

    // ---- zero-shot classification (SURVEY §2.8 M5/M6, J2/A3/W2) ----
    "zeroshot_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val labels = emb.filter(col("vec_id") < 4)
        .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0).toString, r.getSeq[Float](1).toArray)).toSeq
      graft.operators.ZeroShot.classify(
        emb.select("vec_id", "embedding"), "embedding", labels)
        .select(col("vec_id"), col("zeroshot_pred").as("pred"),
          array_max(col("zeroshot_scores")).as("best_score"))
        .orderBy("vec_id")
    }),
    // softmax variant: the argmax prediction is exp-free and exact;
    // the probability is rounded to 6 decimals on both sides because
    // exp() and 4-term sum order drift by ulps across libms/engines
    "zeroshot_softmax" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val labels = emb.filter(col("vec_id") < 4)
        .select("vec_id", "embedding").collect().sortBy(_.getLong(0))
        .map(r => (r.getLong(0).toString, r.getSeq[Float](1).toArray)).toSeq
      graft.operators.ZeroShot.classifySoftmax(
        emb.select("vec_id", "embedding"), "embedding", labels,
        normalizeData = true)
        .select(col("vec_id"), col("zeroshot_pred").as("pred"),
          array_max(col("zeroshot_probs"))
            .cast("decimal(18,6)").cast("double").as("best_prob"))
        .orderBy("vec_id")
    }),
    // md5 twin of the embed→k-NN PIPELINE: 16-dim integer embeddings
    // derived from md5 nibbles per token (2·hexval−15, exact ints),
    // exact integer squared-L2 to the min-doc_id query, top-5 — the
    // whole embedding-retrieval shape machine-checked with no floats
    // anywhere. The murmur HashEmbedder stays the rows-only perf path.
    "embed_knn_md5" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // shared md5 16-dim vec artifact (see md5DocVecs — one build
      // per process serves this query and kcenter_md5)
      val vecs = md5DocVecs(s, dir)
      val qid = docs.agg(min("doc_id")).head.getLong(0)
      val qv = vecs.where(col("doc_id") === qid)
        .select(col("d"), col("v").as("qv"))
      vecs.where(col("doc_id") =!= qid)
        .join(broadcast(qv), Seq("d"))
        .withColumn("sq", (col("v") - col("qv")) * (col("v") - col("qv")))
        .groupBy("doc_id").agg(sum("sq").cast("long").as("distance"))
        .orderBy(col("distance").asc, col("doc_id").asc)
        .limit(5)
    }),
    // late-interaction (chunked max-pooling) retrieval over the md5
    // integer embeddings: docs split into 8-token chunks, each chunk
    // embedded, a document scores by its BEST chunk (min squared-L2)
    // — the long-document retrieval standard where one good passage
    // should win even inside a mostly-irrelevant page; all-integer →
    // the whole multi-vector pipeline is oracle-checked
    "maxsim_md5_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pt = docs.select(col("doc_id"),
          posexplode(filter(split(lower(col("text")), "\\s+"),
            x => length(x) > 0)))
        .select(col("doc_id"), expr("pos div 8").as("chunk"),
          col("col").as("tok"))
      val tokCounts = pt.groupBy("doc_id", "chunk", "tok")
        .agg(count(lit(1)).cast("long").as("cnt"))
      val tokVecs = pt.select("tok").distinct()
        .withColumn("hx", md5(col("tok")))
        .withColumn("d", explode(sequence(lit(1), lit(16))))
        .select(col("tok"), col("d"),
          (expr("instr('0123456789abcdef', substring(hx, d, 1))")
            * 2 - 17).cast("long").as("c"))
      val vecs = tokCounts.join(tokVecs, Seq("tok"))
        .select(col("doc_id"), col("chunk"), col("d"),
          (col("c") * col("cnt")).as("c"))
        .groupBy("doc_id", "chunk", "d")
        .agg(sum("c").cast("long").as("v"))
      val qid = docs.agg(min("doc_id")).head.getLong(0)
      // the query is the min-doc's FULL-document vector (= the sum of
      // its chunk vectors)
      val qv = vecs.where(col("doc_id") === qid)
        .groupBy("d").agg(sum("v").cast("long").as("qv"))
      vecs.where(col("doc_id") =!= qid)
        .join(broadcast(qv), Seq("d"))
        .withColumn("sq", (col("v") - col("qv")) * (col("v") - col("qv")))
        .groupBy("doc_id", "chunk")
        .agg(sum("sq").cast("long").as("__cd"))
        .groupBy("doc_id").agg(min("__cd").as("distance"))
        .orderBy(col("distance").asc, col("doc_id").asc)
        .limit(5)
    }),
    // embedding-geometry (anisotropy) report over the md5 integer
    // vectors: mean pairwise dot product WITHOUT an all-pairs join,
    // via the algebraic identity Σ_{i≠j}⟨vi,vj⟩ = |Σvi|² − Σ|vi|² —
    // one narrow pass over the shared vec artifact. A mean pairwise
    // similarity far from 0 relative to the mean norm says the space
    // has collapsed into a cone (Ethayarajh 2019) and cosine rankings
    // lose contrast. All-integer sums; one bridged division
    "embedding_anisotropy_md5" -> ((s, dir) => {
      val vecs = md5DocVecs(s, dir)
      val perD = vecs.groupBy("d").agg(
        sum("v").cast("long").as("__sv"),
        sum(col("v") * col("v")).cast("long").as("__svv"))
      val n = broadcast(vecs.select("doc_id").distinct()
        .agg(count(lit(1)).cast("long").as("__n")))
      perD.agg(
          sum(col("__sv") * col("__sv")).cast("long").as("norm_sum_sq"),
          sum("__svv").cast("long").as("sum_sq_norm"))
        .crossJoin(n)
        .select(col("__n").as("n_vectors"), col("norm_sum_sq"),
          col("sum_sq_norm"),
          when(col("__n") > 1L,
            ((col("norm_sum_sq") - col("sum_sq_norm")).cast("double") /
              (col("__n") * (col("__n") - 1L)).cast("double"))
              .cast("decimal(18,9)").cast("string").cast("double"))
            .as("mean_pairwise_dot"))
    }),
    // diverse-coreset selection gated end-to-end: greedy k-center
    // (farthest-point traversal, Gonzalez 1985) over the md5 integer
    // embeddings — 5 centers, seed = min doc_id, ties by id. Every
    // distance is an exact integer in double (components ≤ ~2^11,
    // 16 dims), so the WHOLE selection trajectory (which doc each
    // round picks and at what radius) is replayed by the twin's
    // unrolled stages. The float-embedding path is the same operator
    // (CoresetSpec pins it on hand-built fixtures).
    "kcenter_md5" -> ((s, dir) => {
      // slim (doc_id, 16-float vec) frame off the shared md5 vec
      // artifact, materialized once: the k-round selection re-reads
      // it k times, never the text
      val vecs = md5DocVecs(s, dir)
        .groupBy("doc_id").agg(
          transform(array_sort(collect_list(struct(col("d"), col("v")))),
            x => x.getField("v").cast("float")).as("vec"))
        .localCheckpoint()
      graft.operators.Coreset.kCenterGreedy(vecs, "vec", "doc_id", k = 5)
        .select(col("round"), col("doc_id"),
          col("radius").cast("long").as("radius"))
        .orderBy("round")
    }),
    // full text pipeline at bench scale: embed every document with the
    // offline hash embedder (mapPartitions batched inference), then
    // text-query top-5 — custom hashing → rows-only check
    "embed_knn" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val embedder = HashEmbedder(dim = 64)
      val embedded = graft.functions.Embed.embedColumn(
        docs.select("doc_id", "text"), "text", "vector", embedder)
      val qv = embedder.embedOne("spark query join filter")
      Similarity.topK(embedded, "vector", "doc_id", qv, k = 5)
        .select("doc_id", "distance")
    }),
    // the REAL-WEIGHTS deployment path (r8 verdict #5): export a
    // multi-MB int8-quantized checkpoint to parquet (once, content-
    // deterministic), load it back from disk, run batched columnar
    // inference behind ColumnarEmbedder, then kNN — the exact plumbing
    // trained E5 weights would ride (same artifact schema, same
    // embedBatch call), with a seeded random projection standing in
    // for the trained matrix (zero-egress). Float output → rows-only;
    // the arithmetic is pinned by RandomProjectionSpec.
    "real_weights_knn" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val wdir = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_rp_ckpt_v1_32768x64_s42")
      if (!new java.io.File(wdir, "_SUCCESS").exists())
        graft.functions.RandomProjection.export(
          s, wdir.getAbsolutePath, vocab = 32768, dim = 64, seed = 42)
      val model = graft.functions.RandomProjection.load(s, wdir.getAbsolutePath)
      val embedded = graft.functions.Embed.embedColumnColumnar(
        docs.select("doc_id", "text"), "text", "vector", model)
      val qv = graft.functions.ColumnarEmbedder.AsEmbedder(model)
        .embedOne("spark query join filter")
      Similarity.topK(embedded, "vector", "doc_id", qv, k = 5)
        .select("doc_id", "distance")
    }),
    // grouped centroid via the custom vec_sum TypedImperativeAggregate
    // (partial aggregation: one dim-sized buffer per partition-group);
    // element values rounded to 9 decimals for cross-engine sum-order
    // independence
    // scalar-shaped output (label, i, value) — same comparator
    // constraint as l2_normalize_vecs
    "label_centroids" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .groupBy("label")
        .agg(vec_sum(col("embedding")).as("sums"), count(lit(1)).as("n"))
        .select(col("label"), col("n"),
          posexplode(col("sums")).as(Seq("i", "s")))
        .select(col("label"), col("i").cast("long").as("i"),
          (col("s") / col("n").cast("double"))
            .cast("decimal(18,9)").cast("double").as("value"))
        .orderBy("label", "i")),
    // IVF ANN: KMeans cells are seed-deterministic but partitioning-
    // sensitive → rows-only check (recall properties are unit-tested)
    "ivf_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      // fit on a quarter sample: one collect brings it (capped at 256
      // rows per centroid) to the driver, where seeding and Lloyd's run
      // in-process, while the final cell assignment (a narrow codegen'd
      // map) still covers the full data — at 100 TB the build is an
      // offline job anyway
      val idx = graft.operators.IvfIndex.build(emb, "embedding", "vec_id",
        nClusters = 16, maxIter = 8, sampleFraction = 0.25)
      val q = queryVec(emb)
      idx.query(q, k = 5, nprobe = 4).select("vec_id", "distance")
    }),
    // batch ANN join through the IVF index: every query row gets its
    // approximate top-3 without broadcasting the query side (KMeans
    // cells are partitioning-sensitive → rows-only; exactness at full
    // probe is unit-tested against the brute-force join)
    "ivf_batch_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      // sample-fit for the same reason as ivf_knn above
      val idx = graft.operators.IvfIndex.build(emb, "embedding", "vec_id",
        nClusters = 16, maxIter = 8, sampleFraction = 0.25)
      val qdf = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      idx.queryBatch(qdf, "query_id", "embedding", k = 3, nprobe = 4)
        .orderBy("query_id", "distance", "vec_id")
    }),
    // PCA reduction: one moment pass + driver eigSym, codegen'd
    // center-and-project (eigendecomposition is not SQL-expressible →
    // rows-only; orthonormality, variance ordering, distance
    // preservation, and determinism are unit-tested)
    // (rows-only is the FIT only — eigSym on the moment matrix;
    // pca_moments gates the distributed moment pass and
    // pca_fixed_embed gates the center-and-project kernel, so every
    // distributed stage of this query is oracle-pinned)
    "pca_embed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = graft.operators.PcaReduce.fit(emb, "embedding", k = 8)
      graft.operators.PcaReduce.transform(emb, "embedding", m)
        .select(col("vec_id"),
          element_at(col("pca_vec"), 1).as("pc1"),
          element_at(col("pca_vec"), 2).as("pc2"))
        .orderBy("vec_id")
    }),
    // PCA center-and-project KERNEL pinned oracle-green with a FIXED
    // orthonormal matrix: 16 rows of the Sylvester-Hadamard H_64
    // scaled by 1/8 — entries ±0.125 (powers of two), rows exactly
    // orthonormal, no eigensolve. Runs the REAL projection path
    // (zip_with float subtraction + the mat_vec sequential-double
    // fold). Engine-exact because: (a) the float diff computed in
    // double then rounded to float is the correctly-rounded float
    // (p=24 into 53-bit double — innocuous double rounding), (b)
    // ±0.125 × diff is an EXACT double product, (c) the twin replays
    // the kernel's i-ascending accumulation order via list_reduce.
    // With this green, pca_embed/pca_sq8_knn's exemption narrows to
    // the eigSym fit only — the projection kernel itself is gated.
    "pca_fixed_embed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        .where(col("embedding").isNotNull)
      val d = emb.select(size(col("embedding"))).head.getInt(0)
      val mean = queryVec(emb)
      val comps = Array.tabulate(16, d)((r, c) =>
        if (Integer.bitCount(r & c) % 2 == 0) 0.125f else -0.125f)
      val model = graft.operators.PcaReduce.PcaModel(
        mean, comps, Array.fill(16)(0.0), 0.0)
      graft.operators.PcaReduce.transform(emb, "embedding", model)
        .select(col("vec_id"),
          posexplode(col("pca_vec")).as(Seq("comp", "value")))
        .select(col("vec_id"), col("comp").cast("long").as("comp"),
          col("value"))
        .orderBy("vec_id", "comp")
    }),
    // PCA's distributed moment pass in exact quantized-BIGINT
    // arithmetic: upper-triangle second moments, linear sums, count —
    // machine-checks everything fit folds.
    "pca_moments" -> ((s, dir) =>
      graft.operators.PcaReduce.momentSumsQuantized(
        t(s, dir, "embeddings").select("embedding"), "embedding")),
    // the LAST PCA stage pinned (r13 verdict item 6): driver-side
    // eigSym + sign canonicalization replayed on a FIXED 8×8
    // block-diagonal symmetric matrix with a closed-form spectrum.
    // Each 2×2 block [[a,b],[b,a]] (EQUAL diagonals) has exact
    // integer eigenvalues a±b and eigenvectors (1,±1)/√2; the zero
    // off-diagonals between blocks deflate LAPACK's tridiagonal
    // solver straight into its 2×2 closed form (dlaev2), whose
    // entries are the correctly-rounded double 1/sqrt(2) — which any
    // IEEE engine replays verbatim (probe-verified bit pattern
    // 0x1.6a09e667f3bccp-1, and the block eigenvalue update a − b·t
    // with t = 1 exactly). Distinct a±b across blocks pin the
    // descending order; canonicalization makes the FIRST max-|entry|
    // coordinate positive. Runs the REAL fit stage
    // (PcaReduce.eigTopKCanonical — the same function pca_embed's
    // fit calls). With this green, every PCA stage is oracle-pinned:
    // moments (pca_moments) → eigenbasis (here) → projection
    // (pca_fixed_embed).
    "pca_eig_fixed" -> ((s, dir) => {
      import s.implicits._
      val blocks = Seq((5.0, 3.0), (2.0, 7.0), (12.0, 1.0), (20.0, 6.0))
      val dim = 2 * blocks.length
      val m = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      blocks.zipWithIndex.foreach { case ((a, b), i) =>
        m(2 * i, 2 * i) = a; m(2 * i + 1, 2 * i + 1) = a
        m(2 * i, 2 * i + 1) = b; m(2 * i + 1, 2 * i) = b
      }
      val (comps, evals) =
        graft.operators.PcaReduce.eigTopKCanonical(m, dim)
      // backend robustness: the closed-form entries are exactly
      // {0, ±float(1/√2)}; this host's LAPACK (dlaev2 deflation)
      // produces them bit-exactly (PcaReduceSpec asserts it), but an
      // alternate BLAS/LAPACK (MKL, other OpenBLAS builds) may round
      // a few ULPs off. Snap any entry within 4 float-ULPs of a
      // closed-form constant to it — a genuinely wrong eigenvector
      // (0.5, a swapped support, a bad sign) stays unsnapped and
      // fails the gate loudly; ULP-level backend drift does not.
      val s2f = (1.0 / math.sqrt(2.0)).toFloat
      def snap(x: Float): Float = {
        // zero target: magnitude within 4 ULPs of 0 on either side
        // (covers -0.0 and denormal noise); nonzero target: same sign
        // and bit-lattice distance ≤ 4 (= ULP distance within a sign)
        def near(t: Float): Boolean =
          if (t == 0.0f) java.lang.Float.floatToIntBits(math.abs(x)) <= 4
          else {
            val a = java.lang.Float.floatToIntBits(x)
            val b = java.lang.Float.floatToIntBits(t)
            (a >= 0) == (b >= 0) && math.abs(a - b) <= 4
          }
        if (near(0.0f)) 0.0f
        else if (near(s2f)) s2f
        else if (near(-s2f)) -s2f
        else x
      }
      comps.zipWithIndex.flatMap { case (v, c) =>
        v.zipWithIndex.map { case (x, i) =>
          ((c + 1).toLong, (i + 1).toLong, evals(c), snap(x)) }
      }.toSeq.toDF("component", "coord", "eigenvalue", "entry")
        .orderBy("component", "coord")
    }),
    // IVF-SQ composition: cell pruning × residual-fitted byte codes
    // (kmeans partitioning sensitivity → rows-only like the IVF/PQ
    // family; exactness-at-full-probe, residual-range tightness, and
    // recall unit-tested)
    "ivfsq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.IvfSqIndex.build(emb, "embedding",
        "vec_id", nClusters = 16, sampleFraction = 0.25)
      val q = queryVec(emb)
      idx.query(q, k = 5, nprobe = 4, refineFactor = 8)
    }),
    // PCA→SQ8 composition: byte-coded candidates in the 16-dim reduced
    // space (16× compression), exact original-space re-rank
    // (eigendecomposition → rows-only; exactness-at-full-refine and
    // recall unit-tested)
    "pca_sq8_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.PcaReduce.fitSq(emb, "embedding",
        "vec_id", k = 16)
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 8)
    }),
    // scalar-quantization (SQ8) ANN: 4× compressed codes + fused
    // reconstruct-and-distance scan + exact re-rank (rows-only is the
    // FITTED range + fused float ADC distance only — the byte-encode
    // kernel itself is oracle-green via sq8_fixed_codes;
    // exact-at-full-refine, clamp/degenerate-dim behavior, and recall
    // are unit-tested)
    "sq8_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.SqIndex.fit(emb, "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 4)
    }),
    // SQ8 ENCODE pinned oracle-green with a FIXED per-dim range
    // (lo=-1, step=2^-7): byte assignment is
    // clamp(round((x-lo)/step), 0, 255) through the real SqEncode
    // kernel. Powers of two make (x-lo)/step EXACT double arithmetic
    // in both engines (no rounding before round()), and the clamp
    // absorbs the only Java-half-up vs DuckDB-half-away tie
    // divergences (negative ties — both clamp to 0). With this row
    // green, sq8_knn/ivfsq_knn/sq8_saved_knn's exemption narrows to
    // the fitted range + fused float ADC distance only.
    "sq8_fixed_codes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        .where(col("embedding").isNotNull)
      val d = emb.select(size(col("embedding"))).head.getInt(0)
      val lo = Array.fill(d)(-1.0f)
      val step = Array.fill(d)(0.0078125f)
      emb.select(col("vec_id"),
        hex(sq_encode(col("embedding"), lo, step)).as("code_hex"))
        .orderBy("vec_id")
    }),
    // SQ8's FUSED float ADC distance (SqAdcDistance — the "fused
    // reconstruct-and-distance" kernel that stayed rows-only after
    // sq8_fixed_codes pinned the encode) oracle-green over the md5
    // integer vectors with a FIXED power-of-two range: lo=-2048,
    // step=16 keeps the rounding argument (v+2048)/16 exact in both
    // engines and POSITIVE for every realistic |v| (Java half-up ≡
    // DuckDB half-away on positives; the 0-clamp absorbs the only
    // sub--2048 tie divergence). Reconstruction -2048+16·code and
    // the query are exact small-integer floats, each squared diff
    // < 2^24, the 16-term double accumulation exact — so the twin
    // replays encode → reconstruct → distance → rank in BIGINT.
    // Together with pq_fixed_adc this closes the fused-ADC exemption
    // family; sq8_knn's remaining exemption is the FITTED range only.
    "sq8_fixed_adc" -> ((s, dir) => {
      val arr = md5VecArr(s, dir)
      val qid = t(s, dir, "documents").agg(min("doc_id")).head.getLong(0)
      val q = arr.where(col("doc_id") === qid)
        .select("vec").head.getSeq[Float](0).toArray
      val lo = Array.fill(16)(-2048f)
      val step = Array.fill(16)(16f)
      arr.where(col("doc_id") =!= qid)
        .select(col("doc_id"),
          sq_adc(sq_encode(col("vec"), lo, step), q, lo, step)
            .as("distance"))
        .orderBy(col("distance").asc, col("doc_id").asc)
        .limit(10)
        .select(col("doc_id"), col("distance").cast("long").as("distance"))
    }),
    // product-quantization ANN: 32× compressed codes + ADC scan +
    // exact re-rank (kmeans partitioning-sensitive → rows-only; ADC
    // exactness-on-centroids and refine-vs-brute-force are unit-tested)
    "pq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.PqIndex.train(emb, "embedding", "vec_id",
        m = 8, codesPerBook = 16, sampleFraction = 0.25)
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 8)
    }),
    // fused float ADC distance pinned oracle-green with a FIXED
    // integer codebook (the sq8_fixed_codes / pca_eig_fixed recipe,
    // r14 verdict item 4): the md5 16-dim INTEGER doc vectors flow
    // through the REAL PqEncode kernel (4 books × 4 diagonal integer
    // centroids over 4 dims each) and the REAL PqAdcDistance scan —
    // PqIndex.query at refineFactor=1, the pure ADC-ranking path no
    // other green row exercises. Every encode distance, ADC table
    // entry, and summed row distance is an exact small integer in
    // double (|v| ≲ 10³, so per-book sums of squares ≪ 2^53 — no
    // rounding anywhere), which the twin replays in BIGINT with
    // pqEncode's strict-'<' argmin tie-break (lowest code index).
    // With this green, the PQ-family exemption narrows to the
    // trained Lloyd's fit itself (algorithm-pinned via ivf twins).
    "pq_fixed_adc" -> ((s, dir) => {
      val arr = md5VecArr(s, dir)
      val qid = t(s, dir, "documents").agg(min("doc_id")).head.getLong(0)
      val q = arr.where(col("doc_id") === qid)
        .select("vec").head.getSeq[Float](0).toArray
      val corpus = arr.where(col("doc_id") =!= qid)
      val books: Array[Array[Array[Float]]] = Array.fill(4)(
        Array(-64f, -16f, 16f, 64f).map(tc => Array.fill(4)(tc)))
      val idx = new graft.operators.PqIndex(books, corpus,
        corpus.select(col("doc_id"),
          pq_encode(col("vec"), books)
            .as(graft.operators.PqIndex.CodeCol)),
        "vec", "doc_id")
      idx.query(q, k = 10, refineFactor = 1)
        .select(col("doc_id"), col("distance").cast("long").as("distance"))
    }),
    // OPQ (alternating Procrustes/Lloyd's): data-adapted rotation +
    // PQ codes; exact refined path (rows-only for the same kmeans
    // reason; error-monotonicity and exactness unit-tested)
    "opq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.PqIndex.trainOpq(emb, "embedding",
        "vec_id", m = 8, codesPerBook = 16, sampleFraction = 0.25,
        opqIters = 2)
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 8)
    }),
    // composed IVF-PQ (residual-encoded): cell pruning cuts rows
    // scanned, PQ cuts bytes per row — the 10^9-row layout (rows-only
    // for the same kmeans reason; exactness & recall unit-tested)
    "ivfpq_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val idx = graft.operators.IvfPqIndex.build(emb, "embedding",
        "vec_id", nClusters = 16, m = 8, codesPerBook = 16,
        sampleFraction = 0.25)
      val q = queryVec(emb)
      idx.query(q, k = 5, nprobe = 4, refineFactor = 8)
    }),
    // ---- search-over-persisted-artifact variants of the trained ANN
    // families: the fit (Lloyd's/Procrustes/PCA) runs ONCE per process
    // into a saved parquet artifact (SharedFrames.materializedArtifact
    // — the scheduled offline index-build job), and the registered
    // query is load + search only. Same hyperparameters as the live
    // `*_knn` forms, so output matches them row-for-row (spec-pinned);
    // rows-only for the same kmeans/float reasons. Bench's min-of-3
    // never includes the first-call fit, so these lines measure the
    // production "search online" cost the in-query-fit forms conflate.
    "ivf_saved_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = SharedFrames.materializedArtifact(s, dir, "idx_ivf") { p =>
        graft.operators.IvfIndex.save(
          graft.operators.IvfIndex.build(emb, "embedding", "vec_id",
            nClusters = 16, maxIter = 8, sampleFraction = 0.25), p)
      }
      val idx = graft.operators.IvfIndex.loadSaved(s, root, "embedding",
        "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, nprobe = 4).select("vec_id", "distance")
    }),
    "sq8_saved_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = SharedFrames.materializedArtifact(s, dir, "idx_sq8") { p =>
        graft.operators.SqIndex.save(
          graft.operators.SqIndex.fit(emb, "embedding", "vec_id"), p)
      }
      val idx = graft.operators.SqIndex.loadSaved(s, root, emb,
        "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 4)
    }),
    "pq_saved_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = SharedFrames.materializedArtifact(s, dir, "idx_pq") { p =>
        graft.operators.PqIndex.save(
          graft.operators.PqIndex.train(emb, "embedding", "vec_id",
            m = 8, codesPerBook = 16, sampleFraction = 0.25), p)
      }
      val idx = graft.operators.PqIndex.loadSaved(s, root, emb,
        "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 8)
    }),
    "opq_saved_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = SharedFrames.materializedArtifact(s, dir, "idx_opq") { p =>
        graft.operators.PqIndex.saveRotated(
          graft.operators.PqIndex.trainOpq(emb, "embedding", "vec_id",
            m = 8, codesPerBook = 16, sampleFraction = 0.25,
            opqIters = 2), p)
      }
      val idx = graft.operators.PqIndex.loadSavedRotated(s, root, emb,
        "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 8)
    }),
    "ivfpq_saved_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = SharedFrames.materializedArtifact(s, dir, "idx_ivfpq") { p =>
        graft.operators.IvfPqIndex.save(
          graft.operators.IvfPqIndex.build(emb, "embedding", "vec_id",
            nClusters = 16, m = 8, codesPerBook = 16,
            sampleFraction = 0.25), p)
      }
      val idx = graft.operators.IvfPqIndex.loadSaved(s, root, emb,
        "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, nprobe = 4, refineFactor = 8)
    }),
    "pca_sq8_saved_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val root = SharedFrames.materializedArtifact(s, dir, "idx_pcasq8") { p =>
        graft.operators.PcaReduce.saveSq(
          graft.operators.PcaReduce.fitSq(emb, "embedding", "vec_id",
            k = 16), s, p)
      }
      val idx = graft.operators.PcaReduce.loadSavedSq(s, root, emb,
        "embedding", "vec_id")
      val q = queryVec(emb)
      idx.query(q, k = 5, refineFactor = 8)
    }),
    // z-order lake layout: Morton-interleaved quantized keys (8 bits
    // per dim over l_partkey × l_suppkey) + range repartition + sorted
    // partitions — every output file gets a tight bounding box in BOTH
    // columns so parquet min/max stats skip files for predicates on
    // either. Exact long shift/and/or arithmetic, replayed by the
    // oracle bit for bit.
    // X210 mutual (reciprocal) k-NN graph with fixed centroids —
    // in-cell candidates only, each distinct pair scored once, both
    // directed ranks derived from that one score, reciprocal meet on
    // slim edges. Fixed slice (vec_id < 2000) so the in-cell pair
    // cost is constant across sf (the triplet_mine precedent).
    "mutual_knn_fixed" -> ((s, dir) =>
      // mutual meet over the process-shared kNN edge artifact — the
      // slice/centroids/k here were ALREADY identical to the graph_ann
      // build, so the mutual filter reads the stored graph instead of
      // re-scoring cells (mutualKnnWithCentroids ≡ mutualFromEdges ∘
      // knnEdgesWithCentroids by definition)
      graft.operators.KnnGraph.mutualFromEdges(
        knnEdges2000Shared(s, dir))
        .select(col("idA").as("id_a"), col("idB").as("id_b"),
          col("score"))
        .orderBy("id_a", "id_b")),
    // schema-evolution read: v1 files (doc_id, lang), v2 files added
    // n_chars AS INT — one evolved read casts to the target schema
    // (int→long widening; v1 rows get null n_chars)
    "schema_evolution" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val tmp = java.nio.file.Files.createTempDirectory("graft-evo").toString
      base.filter(col("doc_id") % 2 === 0).select("doc_id", "lang")
        .coalesce(2).write.mode("overwrite").parquet(s"$tmp/v1")
      base.filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("int"))
        .coalesce(2).write.mode("overwrite").parquet(s"$tmp/v2")
      graft.operators.Lake.readEvolved(s, Seq(s"$tmp/v1", s"$tmp/v2"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars",
            org.apache.spark.sql.types.LongType))))
        .orderBy("doc_id")
    }),
    // margin-based bitext mining (Artetxe & Schwenk ratio margin):
    // all forward candidate pairs with their margins...
    "margin_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.BitextMine.marginPairs(
        emb.filter(col("vec_id") < 30)
          .select(col("vec_id").as("qid"), col("embedding")),
        emb.filter(col("vec_id") >= 30)
          .select(col("vec_id").as("cid"), col("embedding")),
        "qid", "embedding", "cid", "embedding", k = 4)
        .orderBy("qid", "cid")
    }),
    // ...and the mined output: each x's best-margin y above 1.0
    "margin_mine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.BitextMine.mine(
        emb.filter(col("vec_id") < 30)
          .select(col("vec_id").as("qid"), col("embedding")),
        emb.filter(col("vec_id") >= 30)
          .select(col("vec_id").as("cid"), col("embedding")),
        "qid", "embedding", "cid", "embedding", k = 4, threshold = 1.0)
        .orderBy("qid", "cid")
    }),
    // durable (parquet-backed) store path: ingest → generation commit →
    // REOPEN from disk → k-NN; result must equal the in-memory store's
    "store_durable_knn" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-db").toString
      val in = storeBase(s, dir)
        .select(col("text").as("target"), col("lang").as("option1"),
          col("source").as("option2"), col("embedding").as("vector"))
      val writer = new VectorStore(s, HashEmbedder(dim = 64),
        path = Some(s"$tmp/db"))
      writer.setData(in)
      val reopened = new VectorStore(s, HashEmbedder(dim = 64),
        path = Some(s"$tmp/db"))
      val q = queryVec(t(s, dir, "embeddings"))
      reopened.queryVectorWithInfo(q, k = 5)
    }),
    // bucketed-table store mode: two-batch ingest where the APPEND
    // anti-joins against the bucketed layout (no Exchange on the
    // existing side — PlanAuditSpec) and writes only the fresh rows;
    // ids continue across batches exactly like store_append_ids.
    // The two-batch BUILD is memoized per (process, corpus) — the
    // IndexArtifacts fit-offline precedent (r13 verdict item 5): the
    // measured line is the online bucketed search; the saveAsTable
    // build cost still lands in run 1 of every BENCH_LOCAL artifact
    // (min-of-3 reports the search), and the append-dedup plan shape
    // stays asserted by PlanAuditSpec.
    "store_bucketed_knn" -> ((s, dir) => {
      val store = bucketedStoreMemo(dir, dir) { fp =>
        val in = storeBase(s, dir)
          .select(col("doc_id"), col("text").as("target"),
            col("lang").as("option1"), col("source").as("option2"),
            col("embedding").as("vector"))
        val st = new VectorStore(s, HashEmbedder(dim = 64),
          bucketedTable = Some(s"graft_q_store_bucketed_${fp.take(12)}"))
        st.setData(in.filter(col("doc_id") < 250).drop("doc_id"))
        st.setData(in.drop("doc_id"), append = true)
        st
      }
      val q = queryVec(t(s, dir, "embeddings"))
      store.queryVectorWithInfo(q, k = 5)
    }),
    // boolean inverted-index retrieval (AND + NOT): terms filtered
    // before the shuffle, anti-join for the exclusion — the unranked
    // complement to bm25_topk
    "bool_query" -> ((s, dir) =>
      graft.operators.Bm25.booleanQuery(
        t(s, dir, "documents"), "doc_id", "text",
        allOf = Seq("batch", "join", "window"), noneOf = Seq("slow"))
        .orderBy("doc_id")),
    // MERGE INTO: one full-outer key join applying update + insert +
    // conditional delete against a simulated source batch
    "merge_upsert" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val updates = base.where(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val inserts = base.where(col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      graft.operators.Lake.merge(base, updates.unionByName(inserts),
        Seq("doc_id"), deleteWhen = Some(col("lang") === "zh"))
        .orderBy("doc_id")
    }),
    // model-free k-NN majority-vote classification of the embeddings
    // table against its own label column
    "knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.operators.KnnClassify.predict(
        emb.select("vec_id", "embedding", "label"), "embedding", "vec_id",
        "label", queries, "query_id", "embedding", k = 5)
        .orderBy("query_id")
    }),
    // contrastive triplet mining (FaceNet-style hard negatives) over
    // the embedding column — kmeans partitioning sensitivity →
    // rows-only; label/ordering semantics unit-tested. Fixed slice so
    // the in-cell pair cost stays constant across sf
    "triplet_mine" -> ((s, dir) =>
      graft.operators.Triplets.mine(
        t(s, dir, "embeddings").filter(col("vec_id") < 2000),
        "vec_id", "embedding", "label", nClusters = 16)
        .orderBy("vec_id")),
    // triplet mining with fixed centroids — the hard-negative
    // SELECTION (in-cell scoring, per-anchor argmax positive/negative
    // with (cosine desc, id asc) ties) machine-checked; only Lloyd's
    // keeps the trained variant rows-only. Centroid count is
    // sf-derived exactly like semantic_dedup_fixed (max(8,
    // ceil(n/250)), twin in lockstep) so in-cell pair volume scales
    // linearly with the corpus.
    "triplet_mine_fixed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select("vec_id", "embedding", "label")
      val nCent = math.max(8L, math.ceil(emb.count() / 250.0).toLong)
      val cents = emb.filter(col("vec_id") < nCent).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      graft.operators.Triplets.mineWithCentroids(
        emb, "vec_id", "embedding", "label", cents)
        .orderBy("vec_id")
    }),
    // X228 graph-traversal ANN (the NSW/DiskANN family): batched beam
    // search over the fixed-centroid directed kNN graph — hop 0
    // scores the shared seed entry points, each hop expands the beam
    // of newly discovered nodes along graph edges, every (query,
    // node) visit scored exactly once. Fixed slice (vec_id < 2000,
    // the mutual_knn_fixed precedent) so graph build + search cost is
    // constant across sf; the WHOLE trajectory (seed scoring, per-hop
    // frontier cuts, visited-set growth, final ranks) replays in SQL.
    "graph_ann_beam" -> ((s, dir) =>
      graphBeamFrames(s, dir)._3.orderBy("qid", "rank")),
    // …and its evaluation read: recall@5 (plus MRR/AP/nDCG via
    // RetrievalEval) of the beam trajectory against the EXACT cosine
    // top-5 over the same slice — the number that justifies a graph
    // index's beam/hops budget (the ivf_fixed_recall precedent for
    // cell-probe ANN). Exact side = topKJoin's broadcast query cross
    // (≤ 5 queries, bounded — plan-audit allowlisted).
    "graph_ann_recall" -> ((s, dir) => {
      val (emb, qs, beam) = graphBeamFrames(s, dir)
      val truth = Similarity.topKJoin(emb, qs, k = 5,
        corpusIdCol = "vec_id", corpusVecCol = "embedding",
        queryIdCol = "qid", queryVecCol = "qvec",
        metric = Metric.Cosine, scoreCol = "sim")
        .select("qid", "vec_id")
      graft.operators.RetrievalEval.perQuery(
        beam.select(col("qid"), col("id"), col("rank")),
        truth.select(col("qid"), col("vec_id").as("id")),
        "qid", "id", "rank", k = 5)
        .orderBy("qid")
    }),
    // measured artifact build (r17 verdict item 1): the kNN edge graph
    // (assign cells → in-cell candidate pairs → cosine → per-src top-5)
    // constructed FRESH on every call — the timed region IS the build
    // that graph_ann_beam/graph_ann_recall/mutual_knn_fixed amortize
    // through the shared artifact. Output: one exact-long summary row.
    "knn_graph_build" -> ((s, dir) =>
      knnEdges2000Compute(s, dir).agg(
        count(lit(1)).cast("long").as("n_edges"),
        countDistinct(col("src")).as("n_src"),
        countDistinct(col("dst")).as("n_dst"))),
    // measured artifact build (r17 verdict item 1): the store-family
    // ingest prep (documents⋈embeddings + deterministic first-wins
    // text dedup) run FRESH on every call — the construction the five
    // store_* registrations amortize through the shared stored table.
    "store_ingest_build" -> ((s, dir) =>
      storeBaseCompute(s, dir).agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))),
  )

  /** X228 shared construction: fixed-centroid directed kNN graph +
    * batched beam search over it (slice vec_id < 2000, centroids
    * vec_id < 8, seeds {8,9,10}, queries vec_id % 401 = 0, beam 4,
    * hops 3, k 5 — the twin replays these constants in lockstep).
    * Returns (slice, queries, beam results). */
  /** Process-shared directed kNN graph over the fixed slice
    * (vec_id < 2000, centroids vec_id < 8, k = 5, cosine) — the
    * PRECOMPUTED index artifact of the graph family (graphSearch's
    * own contract: "beam search over a precomputed neighbor graph"),
    * persisted once per process like the *_saved_knn codebooks.
    * Three consumers replay it: the beam-trajectory query, its recall
    * read, and mutual_knn_fixed (identical slice/centroid/k
    * parameters); build cost lands in queries_cold. */
  private def knnEdges2000Shared(s: SparkSession, dir: String): DataFrame =
    SharedFrames.materialized(s, dir, "knnedges2000k5") {
      knnEdges2000Compute(s, dir)
    }

  /** The kNN edge-graph construction itself — shared by the memoized
    * artifact and the measured `knn_graph_build` line. */
  private def knnEdges2000Compute(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      .filter(col("vec_id") < 2000)
    val cents = emb.filter(col("vec_id") < 8).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    graft.operators.KnnGraph.knnEdgesWithCentroids(
      emb, "vec_id", "embedding", cents, k = 5, metric = Metric.Cosine)
      .select("src", "dst", "score")
  }

  private def graphBeamFrames(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      .filter(col("vec_id") < 2000)
    val edges = knnEdges2000Shared(s, dir).select("src", "dst")
    val qs = emb.filter(col("vec_id") % 401 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val seeds = emb.filter(col("vec_id").isin(8L, 9L, 10L))
      .select("vec_id")
    val beam = graft.operators.KnnGraph.graphSearch(
      emb, "vec_id", "embedding", edges, "src", "dst",
      qs, "qid", "qvec", seeds, beam = 4, hops = 3, k = 5,
      metric = Metric.Cosine)
    (emb, qs, beam)
  }

  def twins: Map[String, String] = Map(
    // summary of the kNN edge-graph build — the SAME edge CTE chain
    // the graph-ANN search twins traverse
    "knn_graph_build" ->
      s"""WITH $graphAnnEdgesCtes
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         |  CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
         |  CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst
         |FROM kept""".stripMargin,
    // summary of the store ingest prep: docs⋈embeddings, first-wins
    // (lowest doc_id) per exact text — doc_id is unique post-join, so
    // "row whose doc_id is the group min" IS the min_by(struct) row
    "store_ingest_build" ->
      """WITH j AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |w AS (SELECT text, MIN(doc_id) AS doc_id FROM j GROUP BY text),
        |b AS (SELECT j.* FROM j JOIN w ON j.doc_id = w.doc_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM b""".stripMargin,
    "knn_top5" ->
      s"""SELECT e.vec_id, $sqDist AS distance
         |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin,
    // radius twin: same kernel distance, inclusive bound, no LIMIT
    "radius_search" ->
      s"""SELECT e.vec_id, $sqDist AS distance
         |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE $sqDist <= 1.45
         |ORDER BY distance, e.vec_id""".stripMargin,
    // fixed-centroid IVF: nearest-cell assignment (ties → lowest cell,
    // matching the kernel's strict-< argmin), 2 probed cells, exact
    // top-5 inside the probed slice
    "ivf_fixed_knn" -> ivfFixedKnnSql,
    // append ≡ refit: per-row assignment to fixed centroids commutes
    // with union, so the incremental-maintenance registration answers
    // the SAME whole-corpus SQL — one string, zero drift
    "ivf_fixed_append_knn" -> ivfFixedKnnSql,
    // cell-balance twin: the ivf_fixed_knn assign CTE, counted per
    // cell, share through the decimal bridge
    "ivf_cell_balance" ->
      s"""WITH cells AS (SELECT vec_id AS cell, embedding AS cemb
         |               FROM embeddings WHERE vec_id < 4),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM embeddings e, cells c)
         |  WHERE rn = 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  CAST(CAST(CAST(CAST(COUNT(*) AS DOUBLE) / n.n AS DECIMAL(18,9))
         |    AS VARCHAR) AS DOUBLE) AS share
         |FROM asg, n GROUP BY cell, n.n ORDER BY cell""".stripMargin,
    // one Lloyd's iteration over fixed cells: the ivf_fixed_knn assign
    // CTE + the label_centroids decimal-mean shape, grouped by cell
    "ivf_lloyd_step" ->
      s"""WITH cells AS (SELECT vec_id AS cell, embedding AS cemb
         |               FROM embeddings WHERE vec_id < 4),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM embeddings e, cells c)
         |  WHERE rn = 1)
         |SELECT cell AS cluster, CAST(i - 1 AS BIGINT) AS i,
         |  CAST(CAST(CAST(s / n AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS value,
         |  n
         |FROM (SELECT cell, i, SUM(CAST(embedding[i] AS DOUBLE)) AS s,
         |        COUNT(*) AS n
         |      FROM (SELECT a.cell, e.embedding,
         |              unnest(range(1, len(e.embedding) + 1)) AS i
         |            FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id)
         |      GROUP BY cell, i)
         |ORDER BY cluster, i""".stripMargin,
    // pca_fixed_embed twin: the center-and-project kernel replayed —
    // float diff (double subtraction rounded to FLOAT: correctly
    // rounded, p=24 into 53 bits), exact ±0.125 products, and the
    // mat_vec i-ASCENDING double accumulation replayed by list_reduce
    // over an ordered term list (a 0.0 seed is prepended so the fold
    // starts exactly like the kernel's acc = 0.0, pinning -0.0
    // corner cases). Hadamard sign = (-1)^popcount(r AND (i-1)),
    // dim 64 per TESTDATA.md.
    "pca_fixed_embed" ->
      """WITH m AS (SELECT embedding AS mv FROM embeddings
        |  WHERE vec_id = 0),
        |df AS (SELECT vec_id, i,
        |    CAST(CAST(embedding[i] AS DOUBLE) -
        |         CAST(m.mv[i] AS DOUBLE) AS FLOAT) AS d
        |  FROM (SELECT vec_id,
        |          unnest(range(1, len(embedding) + 1)) AS i, embedding
        |        FROM embeddings WHERE embedding IS NOT NULL), m),
        |terms AS (SELECT vec_id, r, i,
        |    CAST(CASE WHEN bit_count(CAST(r AS BIGINT) &
        |                             CAST(i - 1 AS BIGINT)) % 2 = 0
        |      THEN 0.125 ELSE -0.125 END AS DOUBLE) *
        |      CAST(d AS DOUBLE) AS t
        |  FROM df, range(0, 16) c(r))
        |SELECT vec_id, CAST(r AS BIGINT) AS comp,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE), list(t ORDER BY i)),
        |    (acc, x) -> acc + x) AS FLOAT) AS value
        |FROM terms GROUP BY vec_id, r
        |ORDER BY vec_id, comp""".stripMargin,
    // pca_eig_fixed twin: the closed-form spectrum of the fixed
    // block-diagonal matrix as literals. Eigenvalues a±b are exact
    // integers; every canonical eigenvector entry is ± the
    // correctly-rounded double 1/sqrt(2) cast to float (bit pattern
    // 3f3504f3) or exactly +0.0 — engine-replayable because both
    // sides compute 1/sqrt(2) as one IEEE division of a correctly-
    // rounded sqrt. Component order = descending eigenvalue
    // {26,14,13,11,9,8,2,-5}; (c1, c2) are each component's support
    // coords with c1 canonicalized positive and sgn the c2 sign.
    "pca_eig_fixed" ->
      """WITH comps(component, eigenvalue, c1, c2, sgn) AS (VALUES
        |  (1, 26, 7, 8, 1), (2, 14, 7, 8, -1), (3, 13, 5, 6, 1),
        |  (4, 11, 5, 6, -1), (5, 9, 3, 4, 1), (6, 8, 1, 2, 1),
        |  (7, 2, 1, 2, -1), (8, -5, 3, 4, -1)),
        |g AS (SELECT component, eigenvalue, c1, c2, sgn,
        |        unnest(range(1, 9)) AS coord FROM comps)
        |SELECT CAST(component AS BIGINT) AS component,
        |  CAST(coord AS BIGINT) AS coord,
        |  CAST(eigenvalue AS DOUBLE) AS eigenvalue,
        |  CAST(CASE WHEN coord = c1 THEN 1/sqrt(2)
        |            WHEN coord = c2 THEN sgn * (1/sqrt(2))
        |            ELSE 0.0 END AS FLOAT) AS entry
        |FROM g ORDER BY component, coord""".stripMargin,
    // PCA moment pass in quantized-BIGINT arithmetic: round(x·10^6)
    // is exact in double (24 + 20 < 53 bits), every sum is integer —
    // order-free and engine-portable by construction
    "pca_moments" ->
      """WITH q AS (SELECT list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xq
        |  FROM embeddings),
        |e AS (SELECT xq, unnest(range(1, len(xq) + 1)) AS i FROM q),
        |p AS (SELECT xq, i, unnest(range(i, len(xq) + 1)) AS j FROM e)
        |SELECT i, j, value FROM (
        |  SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
        |    CAST(SUM(xq[i] * xq[j]) AS BIGINT) AS value
        |  FROM p GROUP BY 1, 2
        |  UNION ALL
        |  SELECT CAST(i - 1 AS BIGINT), CAST(-1 AS BIGINT),
        |    CAST(SUM(xq[i]) AS BIGINT)
        |  FROM e GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT)
        |  FROM q)
        |ORDER BY i, j""".stripMargin,
    // triplet mining selection with fixed centroids: in-cell pairs in
    // both directions, per-anchor argmax positive (same label) and
    // hard negative (different label), ties (cosine DESC, cand ASC)
    "triplet_mine_fixed" -> {
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
         |  WHERE rn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS ida, b.vec_id AS idb, $cosAB AS cosine
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN embeddings ea ON ea.vec_id = a.vec_id
         |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
         |directed AS (SELECT ida AS anchor, idb AS cand, cosine FROM pairs
         |             UNION ALL SELECT idb, ida, cosine FROM pairs),
         |wl AS (SELECT d.anchor, d.cand, d.cosine,
         |         la.label AS la, lc.label AS lc
         |       FROM directed d
         |       JOIN embeddings la ON la.vec_id = d.anchor
         |       JOIN embeddings lc ON lc.vec_id = d.cand),
         |pos AS (SELECT anchor, cand AS positive_id, cosine AS pos_cosine FROM (
         |  SELECT anchor, cand, cosine,
         |    row_number() OVER (PARTITION BY anchor ORDER BY cosine DESC, cand ASC) AS rn
         |  FROM wl WHERE la = lc) WHERE rn = 1),
         |neg AS (SELECT anchor, cand AS negative_id, cosine AS neg_cosine FROM (
         |  SELECT anchor, cand, cosine,
         |    row_number() OVER (PARTITION BY anchor ORDER BY cosine DESC, cand ASC) AS rn
         |  FROM wl WHERE la <> lc) WHERE rn = 1)
         |SELECT p.anchor AS vec_id, positive_id, pos_cosine,
         |       negative_id, neg_cosine
         |FROM pos p JOIN neg n ON p.anchor = n.anchor
         |ORDER BY vec_id""".stripMargin
    },
    // fixed-codebook PQ: per-subspace argmin encode (ties → lowest
    // code), ADC = the kernel's left-to-right 4-term sum (pivoted CASE
    // columns, explicit association), top-20 ADC candidates, exact
    // re-rank to top-5
    "pq_fixed_knn" -> {
      val subsq = "list_sum(list_transform(range(1, 17), i -> " +
        "(CAST(e.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE)) * " +
        "(CAST(e.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE))))"
      val qsub = "list_sum(list_transform(range(1, 17), i -> " +
        "(CAST(q.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE)) * " +
        "(CAST(q.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE))))"
      s"""WITH cw AS (
         |  SELECT s.s, c.vec_id AS c, c.embedding[s.s*16 + 1 : s.s*16 + 16] AS cvec
         |  FROM (SELECT unnest(range(0, 4)) AS s) s, embeddings c WHERE c.vec_id < 4),
         |enc AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, w.s, w.c,
         |      row_number() OVER (PARTITION BY e.vec_id, w.s
         |        ORDER BY $subsq, w.c) AS rn
         |    FROM embeddings e, cw w)
         |  WHERE rn = 1),
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |qtab AS (SELECT w.s, w.c, $qsub AS t FROM cw w, q),
         |adc AS (
         |  SELECT vec_id,
         |    ((MAX(CASE WHEN s = 0 THEN t END) + MAX(CASE WHEN s = 1 THEN t END))
         |      + MAX(CASE WHEN s = 2 THEN t END)) + MAX(CASE WHEN s = 3 THEN t END) AS adist
         |  FROM (SELECT en.vec_id, en.s, qt.t
         |        FROM enc en JOIN qtab qt ON qt.s = en.s AND qt.c = en.c)
         |  GROUP BY vec_id),
         |cand AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 20)
         |SELECT e.vec_id, $sqDist AS distance
         |FROM embeddings e JOIN cand ca ON ca.vec_id = e.vec_id, q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin
    },
    // fixed-rotation OPQ: identical PQ twin over the REVERSED lists
    // (list_reverse ≡ the permutation mat_vec — float-exact), so the
    // re-rank's accumulation order matches the rotated-space kernel
    "opq_fixed_knn" -> {
      val subsq = "list_sum(list_transform(range(1, 17), i -> " +
        "(CAST(e.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE)) * " +
        "(CAST(e.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE))))"
      val qsub = "list_sum(list_transform(range(1, 17), i -> " +
        "(CAST(q.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE)) * " +
        "(CAST(q.embedding[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE))))"
      s"""WITH emb AS (
         |  SELECT vec_id, list_reverse(embedding) AS embedding FROM embeddings),
         |cw AS (
         |  SELECT s.s, c.vec_id AS c, c.embedding[s.s*16 + 1 : s.s*16 + 16] AS cvec
         |  FROM (SELECT unnest(range(0, 4)) AS s) s, emb c WHERE c.vec_id < 4),
         |enc AS (
         |  SELECT vec_id, s, c FROM (
         |    SELECT e.vec_id, w.s, w.c,
         |      row_number() OVER (PARTITION BY e.vec_id, w.s
         |        ORDER BY $subsq, w.c) AS rn
         |    FROM emb e, cw w)
         |  WHERE rn = 1),
         |q AS (SELECT embedding FROM emb WHERE vec_id = 0),
         |qtab AS (SELECT w.s, w.c, $qsub AS t FROM cw w, q),
         |adc AS (
         |  SELECT vec_id,
         |    ((MAX(CASE WHEN s = 0 THEN t END) + MAX(CASE WHEN s = 1 THEN t END))
         |      + MAX(CASE WHEN s = 2 THEN t END)) + MAX(CASE WHEN s = 3 THEN t END) AS adist
         |  FROM (SELECT en.vec_id, en.s, qt.t
         |        FROM enc en JOIN qtab qt ON qt.s = en.s AND qt.c = en.c)
         |  GROUP BY vec_id),
         |cand AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 20)
         |SELECT e.vec_id, $sqDist AS distance
         |FROM emb e JOIN cand ca ON ca.vec_id = e.vec_id, q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin
    },
    // fixed IVF-PQ: argmin cell assign, float32 residuals (DuckDB
    // FLOAT − FLOAT is the same single correctly-rounded float32 op as
    // the kernel's double-subtract→float32 narrow), residual-space
    // encode over codebooks from residuals 4..7, ADC joined through
    // the probed cells only, exact original-space re-rank
    "ivfpq_fixed_knn" -> {
      def subsqOf(v: String): String =
        "list_sum(list_transform(range(1, 17), i -> " +
          s"(CAST($v[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE)) * " +
          s"(CAST($v[w.s*16 + i] AS DOUBLE) - CAST(w.cvec[i] AS DOUBLE))))"
      s"""WITH cells AS (
         |  SELECT vec_id AS cell, embedding AS cemb FROM embeddings WHERE vec_id < 4),
         |asg AS (
         |  SELECT vec_id, cell, embedding FROM (
         |    SELECT e.vec_id, c.cell, e.embedding,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM embeddings e, cells c)
         |  WHERE rn = 1),
         |res AS (
         |  SELECT a.vec_id, a.cell,
         |    list_transform(range(1, len(a.embedding) + 1),
         |      i -> a.embedding[i] - c.cemb[i]) AS resid
         |  FROM asg a JOIN cells c ON c.cell = a.cell),
         |cw AS (
         |  SELECT s.s, r.vec_id - 4 AS b, r.resid[s.s*16 + 1 : s.s*16 + 16] AS cvec
         |  FROM (SELECT unnest(range(0, 4)) AS s) s, res r
         |  WHERE r.vec_id >= 4 AND r.vec_id < 8),
         |enc AS (
         |  SELECT vec_id, cell, s, b FROM (
         |    SELECT r.vec_id, r.cell, w.s, w.b,
         |      row_number() OVER (PARTITION BY r.vec_id, w.s
         |        ORDER BY ${subsqOf("r.resid")}, w.b) AS rn
         |    FROM res r, cw w)
         |  WHERE rn = 1),
         |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |probe AS (
         |  SELECT cell, cemb FROM (
         |    SELECT c.cell, c.cemb,
         |      row_number() OVER (
         |        ORDER BY ${sqDistOf("q.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM cells c, q)
         |  WHERE rn <= 2),
         |qres AS (
         |  SELECT p.cell, list_transform(range(1, len(q.embedding) + 1),
         |    i -> q.embedding[i] - p.cemb[i]) AS qr
         |  FROM probe p, q),
         |qtab AS (
         |  SELECT r.cell, w.s, w.b, ${subsqOf("r.qr")} AS t FROM qres r, cw w),
         |adc AS (
         |  SELECT vec_id,
         |    ((MAX(CASE WHEN s = 0 THEN t END) + MAX(CASE WHEN s = 1 THEN t END))
         |      + MAX(CASE WHEN s = 2 THEN t END)) + MAX(CASE WHEN s = 3 THEN t END) AS adist
         |  FROM (SELECT en.vec_id, en.s, qt.t
         |        FROM enc en JOIN qtab qt
         |          ON qt.cell = en.cell AND qt.s = en.s AND qt.b = en.b)
         |  GROUP BY vec_id),
         |cand AS (SELECT vec_id FROM adc ORDER BY adist, vec_id LIMIT 20)
         |SELECT e.vec_id, $sqDist AS distance
         |FROM embeddings e JOIN cand ca ON ca.vec_id = e.vec_id, q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin
    },
    // batch variant: per-query probed cells, top-5 inside the union of
    // probed slices, ranked (distance, id) exactly as the window
    "ivf_fixed_batch_knn" ->
      s"""WITH cells AS (SELECT vec_id AS cell, embedding AS cemb
         |               FROM embeddings WHERE vec_id < 4),
         |qs AS (SELECT vec_id AS query_id, embedding AS qemb
         |       FROM embeddings WHERE vec_id < 3),
         |asg AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM embeddings e, cells c)
         |  WHERE rn = 1),
         |probed AS (
         |  SELECT query_id, cell FROM (
         |    SELECT s.query_id, c.cell,
         |      row_number() OVER (PARTITION BY s.query_id
         |        ORDER BY ${sqDistOf("c.cemb", "s.qemb")}, c.cell) AS rn
         |    FROM qs s, cells c)
         |  WHERE rn <= 2)
         |SELECT query_id, vec_id, distance FROM (
         |  SELECT s.query_id, e.vec_id,
         |    ${sqDistOf("e.embedding", "s.qemb")} AS distance,
         |    row_number() OVER (PARTITION BY s.query_id
         |      ORDER BY ${sqDistOf("e.embedding", "s.qemb")}, e.vec_id) AS rn
         |  FROM qs s JOIN probed p ON p.query_id = s.query_id
         |  JOIN asg a ON a.cell = p.cell
         |  JOIN embeddings e ON e.vec_id = a.vec_id)
         |WHERE rn <= 5 ORDER BY query_id, distance, vec_id""".stripMargin,
    // recall-curve twin: the fixed-centroid assign/probe CTEs with
    // per-nprobe branches, hits counted against the brute top-10,
    // one division through the decimal bridge
    "ivf_fixed_recall" -> {
      def branch(np: Int): String =
        s"""top$np AS MATERIALIZED (SELECT qid, vec_id FROM (
           |  SELECT p.qid, e.vec_id,
           |    row_number() OVER (PARTITION BY p.qid
           |      ORDER BY ${sqDistOf("e.embedding", "s.qemb")}, e.vec_id) AS rn
           |  FROM pr p
           |  JOIN qs s ON s.qid = p.qid
           |  JOIN asg a ON a.cell = p.cell
           |  JOIN embeddings e ON e.vec_id = a.vec_id
           |  WHERE p.rn <= $np) WHERE rn <= 10),
           |hits$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
           |  FROM top$np t JOIN brute b
           |    ON b.qid = t.qid AND b.vec_id = t.vec_id)""".stripMargin
      s"""WITH cells AS (SELECT vec_id AS cell, embedding AS cemb
         |               FROM embeddings WHERE vec_id < 4),
         |qs AS (SELECT vec_id AS qid, embedding AS qemb
         |       FROM embeddings WHERE vec_id < 8),
         |asg AS MATERIALIZED (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM embeddings e, cells c)
         |  WHERE rn = 1),
         |pr AS MATERIALIZED (
         |  SELECT qid, cell, rn FROM (
         |    SELECT s.qid, c.cell,
         |      row_number() OVER (PARTITION BY s.qid
         |        ORDER BY ${sqDistOf("c.cemb", "s.qemb")}, c.cell) AS rn
         |    FROM qs s, cells c)),
         |brute AS MATERIALIZED (SELECT qid, vec_id FROM (
         |  SELECT s.qid, e.vec_id,
         |    row_number() OVER (PARTITION BY s.qid
         |      ORDER BY ${sqDistOf("e.embedding", "s.qemb")}, e.vec_id) AS rn
         |  FROM embeddings e, qs s) WHERE rn <= 10),
         |${branch(1)},
         |${branch(2)},
         |${branch(4)}
         |SELECT nprobe, n_hits, CAST(80 AS BIGINT) AS n_possible,
         |  CAST(CAST(CAST(CAST(n_hits AS DOUBLE) / 80.0 AS DECIMAL(18,9))
         |    AS VARCHAR) AS DOUBLE) AS recall
         |FROM (
         |  SELECT CAST(1 AS BIGINT) AS nprobe,
         |    (SELECT n_hits FROM hits1) AS n_hits
         |  UNION ALL SELECT 2, (SELECT n_hits FROM hits2)
         |  UNION ALL SELECT 4, (SELECT n_hits FROM hits4))
         |ORDER BY nprobe""".stripMargin
    },
    "cosine_top5" ->
      s"""SELECT e.vec_id, $cosineEq AS sim
         |FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY sim DESC, e.vec_id LIMIT 5""".stripMargin,
    "vec_norms" ->
      s"""SELECT vec_id, ${normOf("embedding")} AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    // drift twin: same parity split, same per-dim double sums and
    // decimal(18,9) bridges, delta of the bridged doubles re-bridged
    "embedding_dim_drift" ->
      """WITH ex AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |    embedding FROM embeddings),
        |v AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v FROM ex),
        |m AS (SELECT i,
        |  CAST(CAST(CAST(
        |    SUM(CASE WHEN vec_id % 2 = 0 THEN v END) /
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS DOUBLE)
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS mean_a,
        |  CAST(CAST(CAST(
        |    SUM(CASE WHEN vec_id % 2 = 1 THEN v END) /
        |    CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS DOUBLE)
        |    AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS mean_b
        |  FROM v GROUP BY i)
        |SELECT CAST(i - 1 AS BIGINT) AS dim, mean_a, mean_b,
        |  CAST(CAST(CAST(mean_a - mean_b AS DECIMAL(18,9)) AS VARCHAR)
        |    AS DOUBLE) AS delta
        |FROM m ORDER BY dim""".stripMargin,
    // sq8_fixed_codes twin: the byte assignment replayed per dim —
    // (x+1)/2^-7 written as (x+1)*128 (exactly equal: power-of-two
    // scaling), round then clamp like the kernel, bytes re-hexed in
    // dim order to match Spark's hex(binary). round() ties: Java
    // half-up vs DuckDB half-away differ only on negative ties, which
    // both clamp to 0.
    "sq8_fixed_codes" ->
      """WITH ex AS (SELECT vec_id,
        |    unnest(range(1, len(embedding) + 1)) AS d, embedding
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |c AS (SELECT vec_id, d,
        |    CAST(least(greatest(round(
        |      (CAST(embedding[d] AS DOUBLE) + 1.0) * 128.0), 0), 255)
        |      AS INT) AS code
        |  FROM ex)
        |SELECT vec_id,
        |  string_agg(upper(lpad(to_hex(code), 2, '0')), ''
        |    ORDER BY d) AS code_hex
        |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "knn_batch_join" ->
      s"""SELECT query_id, vec_id, distance FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS vec_id, $sqDist AS distance,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $sqDist, e.vec_id) AS rn
         |  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q)
         |WHERE rn <= 3 ORDER BY query_id, distance, vec_id""".stripMargin,
    // filtered search twin: predicate-join then the proven L2 top-k
    "filtered_knn" ->
      s"""SELECT e.vec_id, d.source, $sqDist AS distance
         |FROM embeddings e
         |JOIN documents d ON d.doc_id = e.vec_id AND d.lang = 'en',
         |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin,
    // MMR twin: proven cosine candidates, then the 5 greedy steps
    // unrolled — each sᵗ is one argmax CTE over the unselected
    "mmr_select" ->
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id, e.embedding, $cosineEq AS rel
         |  FROM embeddings e, q
         |  ORDER BY rel DESC, e.vec_id LIMIT 20),
         |${mmrStepsSql(5)}
         |SELECT vec_id, mmr_rank FROM (
         |  SELECT vec_id, CAST(0 AS BIGINT) AS mmr_rank FROM s1
         |  UNION ALL SELECT vec_id, 1 FROM s2
         |  UNION ALL SELECT vec_id, 2 FROM s3
         |  UNION ALL SELECT vec_id, 3 FROM s4
         |  UNION ALL SELECT vec_id, 4 FROM s5)
         |ORDER BY vec_id""".stripMargin,
    // IVF-BQ twin: the ivf_fixed_knn assign/probe CTEs + the binary
    // sign-mismatch Hamming candidate cut inside probed cells + the
    // proven exact re-rank
    "ivfbq_fixed_knn" ->
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
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT e.vec_id FROM embeddings e
         |  JOIN asg a ON a.vec_id = e.vec_id
         |  JOIN probed p ON a.cell = p.cell, q
         |  ORDER BY len(list_filter(range(1, len(e.embedding) + 1),
         |    i -> (e.embedding[i] > 0) != (q.embedding[i] > 0))), e.vec_id
         |  LIMIT 40)
         |SELECT e.vec_id, $sqDist AS distance
         |FROM embeddings e JOIN cand USING (vec_id), q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin,
    // MRL twin: unit-prefix via the proven float-faithful normalize
    // form (l2_normalize_vecs), truncated-space candidate cut at
    // (distance, vec_id), full-dim exact re-rank
    "mrl_knn" ->
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id FROM embeddings e, q
         |  ORDER BY ${sqDistOf(mrlUnitSql("e.embedding", 16),
                mrlUnitSql("q.embedding", 16))}, e.vec_id
         |  LIMIT 40)
         |SELECT e.vec_id, $sqDist AS distance
         |FROM embeddings e JOIN cand USING (vec_id), q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin,
    // binary-quant twins: Hamming = count of sign-mismatched dims
    // (identical to the packed XOR+popcount kernel), candidate cut at
    // (hd, vec_id), exact re-rank via the proven sqDist form
    "binary_knn" ->
      s"""WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |cand AS (
         |  SELECT e.vec_id FROM embeddings e, q
         |  ORDER BY len(list_filter(range(1, len(e.embedding) + 1),
         |    i -> (e.embedding[i] > 0) != (q.embedding[i] > 0))), e.vec_id
         |  LIMIT 40)
         |SELECT e.vec_id, $sqDist AS distance
         |FROM embeddings e JOIN cand USING (vec_id), q
         |ORDER BY distance, e.vec_id LIMIT 5""".stripMargin,
    "binary_batch_knn" ->
      s"""WITH qs AS (SELECT vec_id AS query_id, embedding AS qemb
         |            FROM embeddings WHERE vec_id < 4),
         |cand AS (SELECT query_id, vec_id, qemb FROM (
         |  SELECT qs.query_id, e.vec_id, qs.qemb,
         |    row_number() OVER (PARTITION BY qs.query_id ORDER BY
         |      len(list_filter(range(1, len(e.embedding) + 1),
         |        i -> (e.embedding[i] > 0) != (qs.qemb[i] > 0))), e.vec_id)
         |      AS rn
         |  FROM embeddings e, qs) WHERE rn <= 24)
         |SELECT query_id, vec_id, distance FROM (
         |  SELECT c.query_id, e.vec_id,
         |    ${sqDistOf("e.embedding", "c.qemb")} AS distance,
         |    row_number() OVER (PARTITION BY c.query_id ORDER BY
         |      ${sqDistOf("e.embedding", "c.qemb")}, e.vec_id) AS rn2
         |  FROM embeddings e JOIN cand c ON e.vec_id = c.vec_id)
         |WHERE rn2 <= 3 ORDER BY query_id, vec_id""".stripMargin,
    // float-faithful normalize: widen to double, multiply by 1/norm
    // (matching the kernel's multiply-by-reciprocal), truncate to float;
    // unnested to (vec_id, i, value) scalars for the comparator
    "l2_normalize_vecs" ->
      s"""SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, CAST(unit[i] AS DOUBLE) AS value
         |FROM (
         |  SELECT vec_id, unit, unnest(range(1, len(unit) + 1)) AS i
         |  FROM (SELECT vec_id,
         |    CASE WHEN ${normOf("embedding")} = 0 THEN embedding
         |         ELSE list_transform(embedding, x ->
         |           CAST(CAST(x AS DOUBLE) * (1.0 / ${normOf("embedding")}) AS FLOAT)) END AS unit
         |    FROM embeddings))
         |ORDER BY vec_id, i""".stripMargin,
    // store base = documents ⋈ embeddings, first-wins dedup on text by
    // doc_id; ids are row_number in target (= text) order
    "store_knn" ->
      s"""WITH base AS (
         |  SELECT d.text, d.lang, d.source, em.embedding FROM documents d
         |  JOIN embeddings em ON d.doc_id = em.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) = 1)
         |SELECT id, target, option1, option2, distance FROM (
         |  SELECT row_number() OVER (ORDER BY e.text) AS id, e.text AS target,
         |    e.lang AS option1, e.source AS option2, $sqDist AS distance
         |  FROM base e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
         |ORDER BY distance, id LIMIT 5""".stripMargin,
    // two-batch append: batch-1 rows (doc_id < 250) get ids 1..n in text
    // order, appended batch-2 survivors continue after them
    "store_append_ids" ->
      """WITH base AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source FROM documents d
        |  JOIN embeddings em ON d.doc_id = em.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) = 1)
        |SELECT row_number() OVER (ORDER BY (doc_id >= 250), text) AS id,
        |  text AS target, lang AS option1, source AS option2
        |FROM base ORDER BY id""".stripMargin,
    // ids are the ORIGINAL ingest's text-order row numbers — the
    // upsert replaces option1 for updated targets without renumbering
    "store_update_ids" ->
      """WITH base AS (
        |  SELECT d.doc_id, d.text, d.lang, d.source FROM documents d
        |  JOIN embeddings em ON d.doc_id = em.vec_id
        |  QUALIFY row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) = 1)
        |SELECT row_number() OVER (ORDER BY text) AS id, text AS target,
        |  CASE WHEN doc_id < 250 THEN 'updated' ELSE lang END AS option1,
        |  source AS option2
        |FROM base ORDER BY id""".stripMargin,
    // labels = embeddings 0..3; both sides L2-normalized with float32
    // truncation (matching the l2_normalize kernel), then cosine×100
    // with first-occurrence argmax (score DESC, label_id ASC)
    "zeroshot_cosine" ->
      s"""WITH nrm AS (
         |  SELECT vec_id, CASE WHEN n = 0 THEN embedding
         |    ELSE list_transform(embedding, x ->
         |      CAST(CAST(x AS DOUBLE) * (1.0 / n) AS FLOAT)) END AS nv
         |  FROM (SELECT vec_id, embedding, ${normOf("embedding")} AS n FROM embeddings)),
         |scored AS (
         |  SELECT e.vec_id, l.vec_id AS label_id,
         |    list_sum(list_transform(range(1, len(e.nv) + 1), i ->
         |      CAST(e.nv[i] AS DOUBLE) * CAST(l.nv[i] AS DOUBLE))) * 100.0 AS score
         |  FROM nrm e, (SELECT vec_id, nv FROM nrm WHERE vec_id < 4) l)
         |SELECT vec_id, pred, best_score FROM (
         |  SELECT vec_id, CAST(label_id AS VARCHAR) AS pred, score AS best_score,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, label_id) AS rn
         |  FROM scored) WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // softmax twin: scores as in zeroshot_cosine; best_prob =
    // exp(0)/Σexp(score−max) = 1/denom, rounded to 6 decimals
    "zeroshot_softmax" ->
      s"""WITH nrm AS (
         |  SELECT vec_id, CASE WHEN n = 0 THEN embedding
         |    ELSE list_transform(embedding, x ->
         |      CAST(CAST(x AS DOUBLE) * (1.0 / n) AS FLOAT)) END AS nv
         |  FROM (SELECT vec_id, embedding, ${normOf("embedding")} AS n FROM embeddings)),
         |scored AS (
         |  SELECT e.vec_id, l.vec_id AS label_id,
         |    list_sum(list_transform(range(1, len(e.nv) + 1), i ->
         |      CAST(e.nv[i] AS DOUBLE) * CAST(l.nv[i] AS DOUBLE))) * 100.0 AS score
         |  FROM nrm e, (SELECT vec_id, nv FROM nrm WHERE vec_id < 4) l),
         |mx AS (SELECT vec_id, MAX(score) AS m FROM scored GROUP BY vec_id),
         |den AS (SELECT s.vec_id, SUM(exp(s.score - mx.m)) AS denom
         |        FROM scored s JOIN mx USING (vec_id) GROUP BY s.vec_id),
         |prd AS (SELECT vec_id, pred FROM (
         |  SELECT vec_id, CAST(label_id AS VARCHAR) AS pred,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, label_id) AS rn
         |  FROM scored) WHERE rn = 1)
         |SELECT prd.vec_id, prd.pred,
         |  CAST(CAST(CAST(1.0 / den.denom AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE) AS best_prob
         |FROM prd JOIN den USING (vec_id) ORDER BY vec_id""".stripMargin,
    "mutual_knn_fixed" -> {
      val cosAB =
        s"""(CASE WHEN ${normOf("ea.embedding")} = 0 OR ${normOf("eb.embedding")} = 0 THEN 0.0
           | ELSE list_sum(list_transform(range(1, len(ea.embedding) + 1), i ->
           |   CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
           |   / (${normOf("ea.embedding")} * ${normOf("eb.embedding")}) END)""".stripMargin
      s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
         |cells AS (SELECT vec_id AS cell, embedding AS cemb
         |          FROM sub WHERE vec_id < 8),
         |asg0 AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
         |    FROM sub e, cells c)
         |  WHERE rn = 1),
         |ok AS (SELECT cell FROM asg0 GROUP BY cell HAVING COUNT(*) <= 10000),
         |asg AS (SELECT a.vec_id, a.cell FROM asg0 a JOIN ok USING (cell)),
         |pairs AS (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib, $cosAB AS score
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN sub ea ON ea.vec_id = a.vec_id
         |  JOIN sub eb ON eb.vec_id = b.vec_id),
         |directed AS (
         |  SELECT ia AS src, ib AS dst, score FROM pairs
         |  UNION ALL SELECT ib AS src, ia AS dst, score FROM pairs),
         |ranked AS (SELECT src, dst, score,
         |    row_number() OVER (PARTITION BY src
         |      ORDER BY score DESC, dst) AS rn
         |  FROM directed),
         |kept AS (SELECT src, dst, score FROM ranked WHERE rn <= 5)
         |SELECT a.src AS id_a, a.dst AS id_b, a.score AS score
         |FROM kept a JOIN kept b ON a.src = b.dst AND a.dst = b.src
         |  AND a.src < a.dst
         |ORDER BY id_a, id_b""".stripMargin
    },
    "schema_evolution" ->
      """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 <> 0
        |ORDER BY doc_id""".stripMargin,
    "margin_pairs" -> marginMineSql(mined = false),
    "margin_mine" -> marginMineSql(mined = true),
    // same base as store_append_ids (two-batch id assignment) ranked by
    // distance to the vec_id=0 query
    "store_bucketed_knn" ->
      s"""WITH base AS (
         |  SELECT d.doc_id, d.text, d.lang, d.source, em.embedding FROM documents d
         |  JOIN embeddings em ON d.doc_id = em.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) = 1),
         |ids AS (
         |  SELECT row_number() OVER (ORDER BY (doc_id >= 250), text) AS id,
         |    text AS target, lang AS option1, source AS option2, embedding
         |  FROM base)
         |SELECT id, target, option1, option2, distance FROM (
         |  SELECT e.id, e.target, e.option1, e.option2, $sqDist AS distance
         |  FROM ids e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
         |ORDER BY distance, id LIMIT 5""".stripMargin,
    "store_durable_knn" ->
      s"""WITH base AS (
         |  SELECT d.text, d.lang, d.source, em.embedding FROM documents d
         |  JOIN embeddings em ON d.doc_id = em.vec_id
         |  QUALIFY row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) = 1)
         |SELECT id, target, option1, option2, distance FROM (
         |  SELECT row_number() OVER (ORDER BY e.text) AS id, e.text AS target,
         |    e.lang AS option1, e.source AS option2, $sqDist AS distance
         |  FROM base e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
         |ORDER BY distance, id LIMIT 5""".stripMargin,
    // boolean AND/NOT twin over the same distinct-token postings
    "bool_query" ->
      s"""WITH dt AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok
         |  FROM documents),
         |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched
         |  FROM dt WHERE tok IN ('batch', 'join', 'window')
         |  GROUP BY doc_id HAVING COUNT(*) = 3)
         |SELECT doc_id, n_matched FROM hits
         |WHERE doc_id NOT IN (SELECT doc_id FROM dt WHERE tok = 'slow')
         |ORDER BY doc_id""".stripMargin,
    // MERGE twin: kept targets ∪ surviving updates ∪ inserts — the
    // delete condition applies to MATCHED source rows only (unmatched
    // source rows insert regardless, Delta's clause separation)
    "merge_upsert" ->
      """WITH t AS (SELECT doc_id, lang, n_chars FROM documents),
        |s AS (SELECT doc_id, lang, n_chars + 1000 AS n_chars FROM t
        |      WHERE doc_id % 7 = 0
        |      UNION ALL
        |      SELECT doc_id + 10000000, lang, n_chars FROM t
        |      WHERE doc_id % 97 = 0),
        |kept AS (SELECT t.* FROM t
        |         WHERE t.doc_id NOT IN (SELECT doc_id FROM s)),
        |upd AS (SELECT s.* FROM s
        |        WHERE s.doc_id IN (SELECT doc_id FROM t)
        |          AND NOT COALESCE(s.lang = 'zh', FALSE)),
        |ins AS (SELECT s.* FROM s
        |        WHERE s.doc_id NOT IN (SELECT doc_id FROM t))
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM (
        |  SELECT * FROM kept UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM ins)
        |ORDER BY doc_id""".stripMargin,
    // embed→k-NN over md5-nibble integer embeddings: everything is
    // exact BIGINT arithmetic, no floats anywhere
    "embed_knn_md5" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS tok FROM documents),
        |hx AS (SELECT doc_id, md5(tok) AS hx FROM toks),
        |dims AS (
        |  SELECT doc_id, d,
        |    CAST(2 * strpos('0123456789abcdef', substr(hx, CAST(d AS INT), 1)) - 17 AS BIGINT) AS c
        |  FROM (SELECT doc_id, hx, unnest(range(1, 17)) AS d FROM hx)),
        |vecs AS (SELECT doc_id, d, CAST(SUM(c) AS BIGINT) AS v FROM dims GROUP BY doc_id, d),
        |q AS (SELECT d, v AS qv FROM vecs WHERE doc_id = (SELECT MIN(doc_id) FROM documents)),
        |dist AS (
        |  SELECT a.doc_id, CAST(SUM((a.v - q.qv) * (a.v - q.qv)) AS BIGINT) AS distance
        |  FROM vecs a JOIN q ON a.d = q.d
        |  WHERE a.doc_id <> (SELECT MIN(doc_id) FROM documents)
        |  GROUP BY a.doc_id)
        |SELECT doc_id, distance FROM dist ORDER BY distance, doc_id LIMIT 5""".stripMargin,
    // fixed-codebook ADC twin: same md5 vecs; per-(doc, book) encode
    // replayed via the sxx − 2t·sx + 4t² identity (diagonal integer
    // centroids), argmin tie → lowest code (pqEncode's strict '<'),
    // ADC table = the query doc's dist2 rows, row distance = the
    // 4-term table sum — every value an exact BIGINT
    "pq_fixed_adc" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS tok FROM documents),
        |cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY doc_id, tok),
        |vt AS (SELECT DISTINCT tok FROM toks),
        |codes AS (SELECT tok, d,
        |    CAST(2 * strpos('0123456789abcdef',
        |      substr(md5(tok), CAST(d AS INT), 1)) - 17 AS BIGINT) AS c
        |  FROM (SELECT tok, unnest(range(1, 17)) AS d FROM vt)),
        |vecs AS (SELECT doc_id, d, CAST(SUM(c * cnt) AS BIGINT) AS v
        |  FROM cnt JOIN codes USING (tok) GROUP BY doc_id, d),
        |sub AS (SELECT doc_id, CAST((d - 1) // 4 AS INT) AS s,
        |    CAST(SUM(v) AS BIGINT) AS sx, CAST(SUM(v * v) AS BIGINT) AS sxx
        |  FROM vecs GROUP BY 1, 2),
        |cents(c, t) AS (VALUES (0, -64), (1, -16), (2, 16), (3, 64)),
        |d2 AS (SELECT doc_id, s, c, sxx - 2 * t * sx + 4 * t * t AS dist2
        |  FROM sub CROSS JOIN cents),
        |enc AS (SELECT doc_id, s, c FROM (
        |    SELECT doc_id, s, c,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id, s ORDER BY dist2, c) AS rn
        |    FROM d2 WHERE doc_id <> (SELECT MIN(doc_id) FROM documents))
        |  WHERE rn = 1),
        |qt AS (SELECT s, c, dist2 FROM d2
        |  WHERE doc_id = (SELECT MIN(doc_id) FROM documents)),
        |dist AS (SELECT e.doc_id, CAST(SUM(q.dist2) AS BIGINT) AS distance
        |  FROM enc e JOIN qt q ON e.s = q.s AND e.c = q.c GROUP BY e.doc_id)
        |SELECT doc_id, distance FROM dist ORDER BY distance, doc_id LIMIT 10""".stripMargin,
    // fixed-range fused SQ8 ADC twin: encode = clamp(round((v+2048)/16))
    // (positive rounding args → half-up ≡ half-away; clamp absorbs
    // sub--2048 ties), distance = Σ (qv − (−2048 + 16·code))² — all
    // BIGINT-exact
    "sq8_fixed_adc" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS tok FROM documents),
        |cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY doc_id, tok),
        |vt AS (SELECT DISTINCT tok FROM toks),
        |codes AS (SELECT tok, d,
        |    CAST(2 * strpos('0123456789abcdef',
        |      substr(md5(tok), CAST(d AS INT), 1)) - 17 AS BIGINT) AS c
        |  FROM (SELECT tok, unnest(range(1, 17)) AS d FROM vt)),
        |vecs AS (SELECT doc_id, d, CAST(SUM(c * cnt) AS BIGINT) AS v
        |  FROM cnt JOIN codes USING (tok) GROUP BY doc_id, d),
        |q AS (SELECT d, v AS qv FROM vecs
        |  WHERE doc_id = (SELECT MIN(doc_id) FROM documents)),
        |enc AS (SELECT doc_id, d,
        |    LEAST(GREATEST(CAST(round((v + 2048) / 16.0) AS BIGINT), 0), 255) AS code
        |  FROM vecs WHERE doc_id <> (SELECT MIN(doc_id) FROM documents)),
        |dist AS (SELECT a.doc_id,
        |    CAST(SUM((q.qv - (-2048 + 16 * a.code)) *
        |             (q.qv - (-2048 + 16 * a.code))) AS BIGINT) AS distance
        |  FROM enc a JOIN q USING (d) GROUP BY a.doc_id)
        |SELECT doc_id, distance FROM dist ORDER BY distance, doc_id LIMIT 10""".stripMargin,
    // anisotropy twin: same md5 vecs, the same |Σv|² − Σ|v|² identity
    // in exact BIGINT (bounded: |Σ_d (Σ_docs v)²| < 2^53 at any gate
    // sf), one bridged division
    "embedding_anisotropy_md5" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS tok FROM documents),
        |cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM toks GROUP BY doc_id, tok),
        |vt AS (SELECT DISTINCT tok FROM toks),
        |codes AS (SELECT tok, d,
        |    CAST(2 * strpos('0123456789abcdef',
        |      substr(md5(tok), CAST(d AS INT), 1)) - 17 AS BIGINT) AS c
        |  FROM (SELECT tok, unnest(range(1, 17)) AS d FROM vt)),
        |vecs AS (SELECT doc_id, d, CAST(SUM(c * cnt) AS BIGINT) AS v
        |  FROM cnt JOIN codes USING (tok) GROUP BY doc_id, d),
        |pd AS (SELECT d, CAST(SUM(v) AS BIGINT) AS sv,
        |    CAST(SUM(v * v) AS BIGINT) AS svv FROM vecs GROUP BY d),
        |t AS (SELECT CAST(SUM(sv * sv) AS BIGINT) AS nss,
        |    CAST(SUM(svv) AS BIGINT) AS ssn FROM pd),
        |nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
        |  FROM vecs)
        |SELECT n AS n_vectors, nss AS norm_sum_sq, ssn AS sum_sq_norm,
        |  CASE WHEN n > 1 THEN
        |    CAST(CAST(CAST(CAST(nss - ssn AS DOUBLE) /
        |      CAST(n * (n - 1) AS DOUBLE) AS DECIMAL(18,9)) AS VARCHAR)
        |      AS DOUBLE) END AS mean_pairwise_dot
        |FROM t, nn""".stripMargin,
    // kcenter_md5 twin: the greedy farthest-point trajectory unrolled
    // — stage r computes the distance table to pick r−1, folds it
    // into the running min (LEAST), and picks the argmax outside the
    // chosen set with the same (distance DESC, doc_id ASC) tie-break.
    // All-BIGINT arithmetic, so the replay is exact. Stages are
    // MATERIALIZED (each is referenced by the next pick AND the next
    // min fold).
    "kcenter_md5" -> {
      def distTo(pick: String) =
        s"""SELECT a.doc_id,
           |      CAST(SUM((a.v - q.v) * (a.v - q.v)) AS BIGINT) AS dd
           |    FROM vecs a JOIN (SELECT d, v FROM vecs
           |      WHERE doc_id = (SELECT id FROM $pick)) q ON a.d = q.d
           |    GROUP BY a.doc_id""".stripMargin
      def notIn(r: Int) = (1 until r)
        .map(i => s"SELECT id FROM p$i").mkString(" UNION ALL ")
      def stage(r: Int): String = {
        val minSrc = if (r == 2) s"d$r" // first fold IS the seed dists
        else s"m$r"
        val dist =
          s"""d$r AS MATERIALIZED (
             |  ${distTo(s"p${r - 1}")})""".stripMargin
        val fold = if (r == 2) "" else
          s""",
             |m$r AS MATERIALIZED (
             |  SELECT m.doc_id, LEAST(m.md, t.dd) AS md
             |  FROM m${r - 1} m JOIN d$r t ON m.doc_id = t.doc_id)"""
            .stripMargin
        val mdCol = if (r == 2) "dd" else "md"
        s"""$dist$fold,
           |p$r AS (SELECT doc_id AS id, $mdCol AS rad FROM $minSrc
           |  WHERE doc_id NOT IN (${notIn(r)})
           |  ORDER BY $mdCol DESC, doc_id LIMIT 1)""".stripMargin
      }
      // m2 aliases d2 for the r=3 fold
      val m2 = "m2 AS MATERIALIZED (SELECT doc_id, dd AS md FROM d2)"
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
         |    x -> length(x) > 0)) AS tok FROM documents),
         |cnt AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM toks GROUP BY doc_id, tok),
         |vt AS (SELECT DISTINCT tok FROM toks),
         |codes AS (SELECT tok, d,
         |    CAST(2 * strpos('0123456789abcdef',
         |      substr(md5(tok), CAST(d AS INT), 1)) - 17 AS BIGINT) AS c
         |  FROM (SELECT tok, unnest(range(1, 17)) AS d FROM vt)),
         |vecs AS MATERIALIZED (SELECT doc_id, d,
         |    CAST(SUM(c * cnt) AS BIGINT) AS v
         |  FROM cnt JOIN codes USING (tok) GROUP BY doc_id, d),
         |p1 AS (SELECT MIN(doc_id) AS id FROM vecs),
         |${stage(2)},
         |$m2,
         |${stage(3)},
         |${stage(4)},
         |${stage(5)}
         |SELECT CAST(1 AS BIGINT) AS round,
         |  (SELECT id FROM p1) AS doc_id,
         |  CAST(NULL AS BIGINT) AS radius
         |${(2 to 5).map(r =>
            s"UNION ALL SELECT CAST($r AS BIGINT), id, rad FROM p$r")
            .mkString("\n")}
         |ORDER BY round""".stripMargin
    },
    // late-interaction twin: same 8-token chunk cut, same md5-nibble
    // integer embeddings per chunk, min chunk distance per doc —
    // exact BIGINT arithmetic end-to-end
    "maxsim_md5_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0) AS ts FROM documents),
        |pt AS (SELECT doc_id, CAST((i - 1) // 8 AS BIGINT) AS chunk,
        |    ts[i] AS tok
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i
        |        FROM toks)),
        |cnt AS (SELECT doc_id, chunk, tok,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM pt GROUP BY doc_id, chunk, tok),
        |vt AS (SELECT DISTINCT tok FROM pt),
        |codes AS (
        |  SELECT tok, d,
        |    CAST(2 * strpos('0123456789abcdef',
        |      substr(md5(tok), CAST(d AS INT), 1)) - 17 AS BIGINT) AS c
        |  FROM (SELECT tok, unnest(range(1, 17)) AS d FROM vt)),
        |vecs AS (SELECT doc_id, chunk, d,
        |    CAST(SUM(c * cnt) AS BIGINT) AS v
        |  FROM cnt JOIN codes USING (tok) GROUP BY doc_id, chunk, d),
        |qv AS (SELECT d, CAST(SUM(v) AS BIGINT) AS qv FROM vecs
        |  WHERE doc_id = (SELECT MIN(doc_id) FROM documents)
        |  GROUP BY d),
        |cd AS (SELECT a.doc_id, a.chunk,
        |    CAST(SUM((a.v - q.qv) * (a.v - q.qv)) AS BIGINT) AS cdist
        |  FROM vecs a JOIN qv q ON a.d = q.d
        |  WHERE a.doc_id <> (SELECT MIN(doc_id) FROM documents)
        |  GROUP BY a.doc_id, a.chunk)
        |SELECT doc_id, MIN(cdist) AS distance FROM cd
        |GROUP BY doc_id ORDER BY distance, doc_id LIMIT 5""".stripMargin,
    // 5-NN votes with (votes DESC, label ASC) tiebreak, neighbor rank
    // by (squared-L2, corpus id) exactly as the Spark window
    "knn_classify" ->
      s"""WITH nn AS (
         |  SELECT query_id, label FROM (
         |    SELECT q.vec_id AS query_id, e.label AS label,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY $sqDist, e.vec_id) AS rn
         |    FROM (SELECT vec_id, embedding, label FROM embeddings
         |          WHERE label IS NOT NULL) e,
         |         (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q)
         |  WHERE rn <= 5),
         |votes AS (SELECT query_id, label, COUNT(*) AS votes
         |          FROM nn GROUP BY query_id, label)
         |SELECT query_id, label AS knn_pred, votes FROM (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
         |  FROM votes)
         |WHERE rn = 1 ORDER BY query_id""".stripMargin,
    "label_centroids" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS i,
        |  CAST(CAST(CAST(s / n AS DECIMAL(18,9)) AS VARCHAR) AS DOUBLE) AS value
        |FROM (SELECT label, i, SUM(CAST(embedding[i] AS DOUBLE)) AS s, COUNT(*) AS n
        |      FROM (SELECT label, embedding, unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings)
        |      GROUP BY label, i)
        |ORDER BY label, i""".stripMargin,
    // graph-ANN beam search: the mutual_knn_fixed directed-edge chain
    // builds the graph, then hop blocks generated from ONE template
    // (the louvain convention — they cannot drift) replay seed
    // scoring, per-hop frontier cuts (beam 4, ties id ASC),
    // visited-set anti-joins, and the final top-5 ranks.
    "graph_ann_beam" ->
      s"""$graphAnnChainSql
         |SELECT qid, id, score, rank FROM (
         |  SELECT qid, id, score, CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, id) AS INT) AS rank FROM v3)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // recall twin: the SAME chain (shared val — zero drift), beam
    // top-5 vs the exact cosine top-5 over the slice, then the
    // retrieval_eval metric tail at k=5
    "graph_ann_recall" ->
      s"""$graphAnnChainSql,
         |beam AS (SELECT qid, id, rank FROM (
         |  SELECT qid, id, row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, id) AS rank FROM v3)
         |  WHERE rank <= 5),
         |truth AS (SELECT qid, id FROM (
         |  SELECT q.qid, b.vec_id AS id,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY $graphAnnCosQ DESC, b.vec_id) AS rn
         |  FROM q, sub b) WHERE rn <= 5),
         |nrel AS (SELECT qid, COUNT(*) AS n_rel FROM truth GROUP BY qid),
         |g AS (SELECT r, CAST(round(1.0/(ln(r+1.0)/ln(2.0)), 9) AS DECIMAL(18,9)) AS gain
         |      FROM generate_series(1, 5) t(r)),
         |hits AS (
         |  SELECT s.qid, s.rank,
         |    row_number() OVER (PARTITION BY s.qid ORDER BY s.rank) AS hit_idx
         |  FROM beam s JOIN truth t ON s.qid = t.qid AND s.id = t.id),
         |hs AS (SELECT h.qid, COUNT(*) AS hits, MIN(h.rank) AS minrank,
         |    CAST(CAST(SUM(CAST(round(CAST(h.hit_idx AS DOUBLE)/h.rank, 9) AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS sum_prec,
         |    CAST(CAST(SUM(g.gain) AS VARCHAR) AS DOUBLE) AS dcg
         |  FROM hits h JOIN g ON g.r = h.rank GROUP BY h.qid),
         |uq AS (SELECT DISTINCT qid FROM beam)
         |SELECT u.qid, COALESCE(n.n_rel, 0) AS n_rel,
         |  COALESCE(h.hits, 0) AS hits,
         |  CASE WHEN COALESCE(n.n_rel, 0) = 0 THEN 0.0
         |       ELSE CAST(COALESCE(h.hits, 0) AS DOUBLE) / n.n_rel END AS recall,
         |  COALESCE(1.0 / h.minrank, 0.0) AS mrr,
         |  CASE WHEN COALESCE(n.n_rel, 0) = 0 OR h.sum_prec IS NULL THEN 0.0
         |       ELSE h.sum_prec / least(n.n_rel, 5) END AS ap,
         |  CASE WHEN COALESCE(n.n_rel, 0) = 0 OR h.dcg IS NULL THEN 0.0
         |       ELSE h.dcg / (SELECT CAST(CAST(SUM(gain) AS VARCHAR) AS DOUBLE)
         |                     FROM g WHERE r <= least(n.n_rel, 5)) END AS ndcg
         |FROM uq u LEFT JOIN nrel n ON u.qid = n.qid
         |LEFT JOIN hs h ON u.qid = h.qid
         |ORDER BY u.qid""".stripMargin,
  )

  /** Query-to-node cosine for the X228 twins (q.qv vs b.embedding,
    * the [[graft.functions.VectorOps.cosine]] kernel shape). */
  private val graphAnnCosQ: String =
    s"""(CASE WHEN ${normOf("q.qv")} = 0 OR ${normOf("b.embedding")} = 0 THEN 0.0
       | ELSE list_sum(list_transform(range(1, len(q.qv) + 1), i ->
       |   CAST(q.qv[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
       |   / (${normOf("q.qv")} * ${normOf("b.embedding")}) END)""".stripMargin

  /** X228 shared twin chain: fixed-centroid directed kNN edges (the
    * mutual_knn_fixed chain), then hop blocks generated from ONE
    * template — seed scoring (v0), per-hop candidate anti-joins (cN),
    * fresh-node scoring (sN), visited growth (vN), beam-4 frontier
    * cuts (fN). Shared by graph_ann_beam and graph_ann_recall so the
    * trajectory replay cannot drift between them. */
  /** The in-cell kNN edge construction alone (through `kept`) — shared
    * by the graph-ANN search twins and the measured `knn_graph_build`
    * line, so the build twin replays exactly the edge set the search
    * traverses. */
  private val graphAnnEdgesCtes: String = {
    val cosAB =
      s"""(CASE WHEN ${normOf("ea.embedding")} = 0 OR ${normOf("eb.embedding")} = 0 THEN 0.0
         | ELSE list_sum(list_transform(range(1, len(ea.embedding) + 1), i ->
         |   CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
         |   / (${normOf("ea.embedding")} * ${normOf("eb.embedding")}) END)""".stripMargin
    s"""sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 2000),
       |cells AS (SELECT vec_id AS cell, embedding AS cemb
       |          FROM sub WHERE vec_id < 8),
       |asg0 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqDistOf("e.embedding", "c.cemb")}, c.cell) AS rn
       |    FROM sub e, cells c)
       |  WHERE rn = 1),
       |ok AS (SELECT cell FROM asg0 GROUP BY cell HAVING COUNT(*) <= 10000),
       |asg AS (SELECT a.vec_id, a.cell FROM asg0 a JOIN ok USING (cell)),
       |pairs AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib, $cosAB AS score
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN sub ea ON ea.vec_id = a.vec_id
       |  JOIN sub eb ON eb.vec_id = b.vec_id),
       |directed AS (
       |  SELECT ia AS src, ib AS dst, score FROM pairs
       |  UNION ALL SELECT ib AS src, ia AS dst, score FROM pairs),
       |ranked AS (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src
       |      ORDER BY score DESC, dst) AS rn
       |  FROM directed),
       |kept AS (SELECT src, dst FROM ranked WHERE rn <= 5)""".stripMargin
  }

  private val graphAnnChainSql: String = {
    def hop(h: Int): String =
      s"""c$h AS (
         |  SELECT DISTINCT f.qid, e.dst AS id
         |  FROM f${h - 1} f JOIN kept e ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v
         |                    WHERE v.qid = f.qid AND v.id = e.dst)),
         |s$h AS (
         |  SELECT c.qid, c.id, $graphAnnCosQ AS score
         |  FROM c$h c JOIN sub b ON b.vec_id = c.id
         |  JOIN q ON q.qid = c.qid),
         |v$h AS (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM s$h),
         |f$h AS (SELECT qid, id FROM (
         |  SELECT qid, id, row_number() OVER (PARTITION BY qid
         |    ORDER BY score DESC, id) AS rn FROM s$h) WHERE rn <= 4)"""
        .stripMargin
    s"""WITH $graphAnnEdgesCtes,
       |q AS (SELECT vec_id AS qid, embedding AS qv FROM sub
       |      WHERE vec_id % 401 = 0),
       |v0 AS (SELECT q.qid, b.vec_id AS id, $graphAnnCosQ AS score
       |       FROM q, sub b WHERE b.vec_id IN (8, 9, 10)),
       |f0 AS (SELECT qid, id FROM (
       |  SELECT qid, id, row_number() OVER (PARTITION BY qid
       |    ORDER BY score DESC, id) AS rn FROM v0) WHERE rn <= 4),
       |${hop(1)},
       |${hop(2)},
       |${hop(3)}""".stripMargin
  }
}
