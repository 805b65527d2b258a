package graft.store

import graft.Schemas
import graft.functions.{Embed, Embedder, VectorOps}
import graft.operators.{Lake, LocalFit, Metric, Similarity}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** Schema coercion for ingest — the bulk form of the reference's
  * `set_data` preprocessing (`/root/reference/vsu/base/VectorSearchBase
  * .py:101-126`): require `target` (P3 — the reference silently no-ops,
  * quirk Q3; we raise), pad missing `option1..5` with NULL (P6), drop
  * extra columns (projection to `save_columns + vector`), keep a
  * pre-supplied `vector` column if present.
  */
object Ingest {
  def normalizeToSchema(df: DataFrame): DataFrame = {
    require(df.columns.contains("target"),
      "ingest frame must have a 'target' column (reference quirk Q3: " +
        "silently ignored there; rejected here)")
    // target is cast alongside the options: a non-string target (e.g.
    // numeric ids) would otherwise produce a store schema that diverges
    // from Schemas.record and break the append path's unionByName
    val padded = Schemas.optionCols.foldLeft(
      df.withColumn("target", col("target").cast(StringType))) { (d, c) =>
      if (d.columns.contains(c)) d.withColumn(c, col(c).cast(StringType))
      else d.withColumn(c, lit(null).cast(StringType))
    }
    val keep = Schemas.saveCols ++
      (if (df.columns.contains("vector")) Seq("vector") else Nil)
    padded.select(keep.map(col): _*)
  }

  /** Deterministic sequential ids `startAt..startAt+N-1` in `sortCols`
    * order — rowid parity (Q5, `/root/reference/vsu/base/
    * VectorSearchBase.py:47,89`).
    *
    * Scale: `orderBy` range-partitions (partitions are globally
    * ordered), then `zipWithIndex` numbers across partitions with one
    * extra count job — no single-partition window, survives 100×.
    */
  def withSequentialIds(df: DataFrame, startAt: Long,
      sortCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val sorted =
      if (sortCols.nonEmpty) df.orderBy(sortCols.map(col): _*) else df
    val schema = sorted.schema.add("id", LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (startAt + i))
    }
    spark.createDataFrame(rdd, schema)
      .select(("id" +: sorted.columns.toSeq).map(col): _*)
  }
}

/** Spark-native vector store — capability mirror of the reference's
  * `VectorSearchBase` (`/root/reference/vsu/base/VectorSearchBase.py`):
  * ingest (schema-coerce, embed-if-missing, first-wins dedup on
  * `target`, sequential ids), exact k-NN query, and reset. Storage is a
  * cached DataFrame (`:memory:` parity), a parquet path (durable,
  * `db_name` parity — `VectorSearchBase.py:18,26`), or a catalog table
  * bucketed by `target` (the 100 TB append path — see below).
  *
  * Scale design: ingest is bulk (no per-row inserts — S7 is a single
  * `write.mode(append)`), dedup is a hash-shuffle anti-join on `target`
  * (never post-union dropDuplicates — U1). Queries are exact
  * brute-force top-k. While the store fits the driver budget
  * ([[LocalFit.sampleBudgetBytes]], a 32nd of the driver heap) they are
  * served in-process from a [[StoreSnapshot]]: the first query after a
  * change collects the store once, later ones score it on the driver
  * with no Spark job and return a local frame. Above the budget they
  * are Spark scans planned as `TakeOrderedAndProject` (no corpus
  * shuffle). Both paths return the same rows and schema.
  *
  * '''Bucketed durable mode''' (`bucketedTable`): the store persists as
  * a catalog table `bucketBy(numBuckets, target)`. Appends then (a)
  * anti-join the incoming batch against a bucketed scan whose
  * `outputPartitioning` already matches the join key — only the
  * O(batch) incoming side shuffles, the existing store is NEVER
  * re-exchanged — and (b) write ONLY the fresh rows as new per-bucket
  * files, so an append writes O(batch), not O(store). The plain `path`
  * mode commits the full store as a new generation on every write
  * ([[Lake.commitGeneration]]: `path/gen=N`, claimed exclusively,
  * committed by its `_SUCCESS`) and reads the newest committed one, so
  * a writer dying mid-write leaves the previous contents readable. That
  * full rewrite makes the append loop quadratic at 100 TB — bucketed
  * mode is the scale default. Plan shape is regression-guarded in
  * PlanAuditSpec.
  */
final class VectorStore(
    val spark: SparkSession,
    val embedder: Embedder,
    val path: Option[String] = None,
    val batchSize: Int = 256,
    val queryPrefix: String = "query: ",
    val bucketedTable: Option[String] = None,
    val numBuckets: Int = 32) {

  require(path.isEmpty || bucketedTable.isEmpty,
    "choose ONE durable mode: parquet path or bucketed table")
  require(numBuckets > 0, "numBuckets must be positive")

  import Ingest._

  private var mem: Option[DataFrame] = None

  // the in-process copy of `snapSource` (None: that frame was over the
  // budget); valid only while `snapSource` is the current `mem`, so
  // every write, which installs a new frame, invalidates it
  private var snapSource: DataFrame = null
  private var snap: Option[StoreSnapshot] = None
  private var snapshotBudgetBytes: Long = LocalFit.sampleBudgetBytes

  /** Forces the snapshot budget and drops any snapshot; package-visible
    * so specs can pin either query path (0 = always Spark). */
  private[graft] def setSnapshotBudget(bytes: Long): Unit = {
    snapshotBudgetBytes = bytes
    snapSource = null
    snap = None
  }

  /** The snapshot of the current contents if one is valid; never
    * collects. */
  private def validSnapshot: Option[StoreSnapshot] =
    if (mem.exists(_ eq snapSource)) snap else None

  /** The snapshot of the current contents, taken on first use after a
    * change; None while the store is over the budget. An append keeps
    * an over-budget verdict (see [[setData]]); any other write sizes the
    * store again on its next query. */
  private def snapshot: Option[StoreSnapshot] = {
    val current = data
    if (current ne snapSource) {
      snap = None // release the stale copy before collecting the next
      snap = StoreSnapshot.take(current, snapshotBudgetBytes)
      snapSource = current
    }
    snap
  }

  private def emptyData: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.record)

  /** Current store contents (id, target, option1..5, vector). */
  def data: DataFrame = mem.getOrElse {
    val df = (path, bucketedTable) match {
      case (Some(p), _) =>
        Lake.snapshotGenerations(spark, p).flatMap(_.lastOption).fold {
          requireGenerational(p)
          emptyData
        }(g => spark.read.parquet(s"$p/gen=$g"))
      case (_, Some(tbl)) =>
        if (spark.catalog.tableExists(tbl)) spark.table(tbl) else emptyData
      case _ => emptyData
    }
    mem = Some(df)
    df
  }

  private def fs(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Raises on a path holding parquet files but no `gen=` directory: a
    * store written in the flat layout that preceded generation commits,
    * which would otherwise read as empty. */
  private def requireGenerational(p: String): Unit = {
    val root = new Path(p)
    val names =
      if (fs(p).exists(root)) fs(p).listStatus(root).map(_.getPath.getName)
      else Array.empty[String]
    if (names.exists(_.endsWith(".parquet")) &&
        !names.exists(_.startsWith("gen=")))
      throw new IllegalStateException(s"$p holds a flat-layout vector " +
        "store, written before generation commits; load it with " +
        "spark.read.parquet and setData it to migrate")
  }

  def isEmpty: Boolean = validSnapshot.fold(data.isEmpty)(_.isEmpty)

  /** Largest stored id, of a non-empty store. */
  private def maxId: Long =
    validSnapshot.fold(data.agg(max("id")).head.getLong(0))(_.maxId)

  /** Typed view of the store (SURVEY §1.4). */
  def typed: org.apache.spark.sql.Dataset[graft.VectorRecord] = {
    implicit val enc: org.apache.spark.sql.Encoder[graft.VectorRecord] =
      org.apache.spark.sql.Encoders.product[graft.VectorRecord]
    data.as[graft.VectorRecord]
  }

  /** Bulk ingest (`set_data` parity, `VectorSearchBase.py:101-133`).
    *
    * @param df       input frame; must have `target`; `vector` optional
    *                 (embedded with `embedder` when missing — the
    *                 "vector already present" branch is
    *                 `VectorSearchBase.py:115`)
    * @param append   false = replace (drop + reinsert, S8/U2); true =
    *                 append with first-wins dedup on `target` (U1/J3)
    * @param sortCols deterministic insertion order for id assignment
    *                 (Q5) and first-wins tiebreaks; defaults to
    *                 `target` order
    */
  def setData(df: DataFrame, append: Boolean = false,
      sortCols: Seq[String] = Seq("target")): Unit = {
    val inBatchDeduped = prepareIngest(df, sortCols)

    if (append && !isEmpty) {
      // appends only grow the store, so one found over the snapshot
      // budget stays over it: the new frame keeps that verdict instead
      // of being sized (or collected) again by the next query
      val overBudget = mem.exists(_ eq snapSource) && snap.isEmpty
      val existing = data
      val fresh = appendAntiJoin(inBatchDeduped)
      val freshWithIds = withSequentialIds(fresh, maxId + 1, sortCols)
        .select(Schemas.record.fieldNames.map(col): _*)
      bucketedTable match {
        case Some(tbl) =>
          // the bucketed win: write ONLY the fresh rows as new
          // per-bucket files — the existing store is neither read back
          // nor rewritten (saveAsTable(append) resolves by name and
          // enforces the matching bucket spec)
          freshWithIds.write.mode("append").format("parquet")
            .bucketBy(numBuckets, "target").sortBy("target")
            .saveAsTable(tbl)
          spark.catalog.refreshTable(tbl)
          mem = Some(spark.table(tbl))
        case None =>
          persist(existing.unionByName(freshWithIds), truncateLineage = true)
      }
      if (overBudget) snapSource = mem.get
    } else {
      val withIds = withSequentialIds(inBatchDeduped, startAt = 1L, sortCols)
        .select(Schemas.record.fieldNames.map(col): _*)
      bucketedTable match {
        case Some(tbl) =>
          // materialize BEFORE the rewrite when the table already
          // exists: writeBucketed drops it (files included) before the
          // write plan runs, so a replace whose input derives from the
          // store itself would otherwise scan just-deleted files
          val safe =
            if (spark.catalog.tableExists(tbl)) withIds.localCheckpoint(true)
            else withIds
          graft.operators.Bucketing.writeBucketed(safe, tbl, "target",
            numBuckets)
          mem = Some(spark.table(tbl))
        case None => persist(withIds)
      }
    }
  }

  /** Shared ingest preparation: schema coercion, float32 discipline,
    * embed-if-missing, first-wins in-batch dedup. */
  private def prepareIngest(df: DataFrame,
      sortCols: Seq[String]): DataFrame = {
    val coerced = normalizeToSchema(df)
    val embedded =
      if (coerced.columns.contains("vector")) {
        // float32 discipline (F5): cast only when the element type
        // differs — casting array<float,nullable> to the non-null
        // variant is rejected by Catalyst, and parquet-read arrays are
        // nullable-element even when no element is null
        import org.apache.spark.sql.types.{ArrayType, FloatType}
        coerced.schema("vector").dataType match {
          case ArrayType(FloatType, _) => coerced
          case ArrayType(_, n) =>
            coerced.withColumn("vector", col("vector").cast(ArrayType(FloatType, n)))
          case other => throw new IllegalArgumentException(
            s"'vector' column must be an array of floats, got $other")
        }
      } else
        Embed.embedColumn(coerced, "target", "vector", embedder, batchSize,
          prefix = queryPrefix)
    // first-wins WITHIN the incoming batch (reference: pandas
    // drop_duplicates keep-first, VectorSearchBase.py:124) — min_by
    // partial aggregation (one candidate per (partition, target)
    // crosses the shuffle), mirroring Dedup.exactFirstWins; a
    // row_number window would ship and sort every row. Ties among rows
    // with identical sortCols values are arbitrary (there is no "input
    // order" in a distributed frame) — pass a unique key for full
    // determinism.
    graft.operators.Dedup.exactFirstWins(embedded, Seq("target"), sortCols)
  }

  /** Last-wins UPSERT — beyond-reference but the first thing a real
    * user asks for: rows whose `target` already exists REPLACE the
    * stored values while KEEPING their id (downstream references stay
    * valid); new targets append with fresh sequential ids. Three
    * equi-joins on `target` (inner for updates, two anti for the
    * untouched/fresh splits), no windows; in bucketed mode the joins
    * against the existing side stay Exchange-free like the append
    * path. */
  def updateData(df: DataFrame, sortCols: Seq[String] = Seq("target")): Unit = {
    val batch = prepareIngest(df, sortCols)
    if (isEmpty) { setData(batch); return }
    val existing = data
    val updated = existing.select(col("id"), col("target"))
      .join(batch, Seq("target"))
      .select(Schemas.record.fieldNames.map(col): _*)
    val untouched = existing
      .join(batch.select("target"), Seq("target"), "left_anti")
      .select(Schemas.record.fieldNames.map(col): _*)
    val fresh = batch.join(existing.select("target"), Seq("target"), "left_anti")
    val freshWithIds = withSequentialIds(fresh, maxId + 1, sortCols)
      .select(Schemas.record.fieldNames.map(col): _*)
    val result = untouched.unionByName(updated).unionByName(freshWithIds)
    bucketedTable match {
      case Some(tbl) =>
        // an update rewrites matched rows, so this is a full-table
        // rewrite by construction (append-only files cannot replace);
        // materialize first — the plan reads the very table the
        // rewrite drops
        val materialized = result.localCheckpoint(true)
        graft.operators.Bucketing.writeBucketed(materialized, tbl, "target",
          numBuckets)
        mem = Some(spark.table(tbl))
      case None => persist(result, truncateLineage = true)
    }
  }

  /** First-wins vs existing rows: left-anti on `target` (J3) — the
    * deterministic bulk form of insert-if-absent
    * (`VectorSearchBase.py:79-87`); existing rows always win. Exposed
    * package-private so PlanAuditSpec can pin the bucketed-mode shape
    * (existing side scans its buckets with no Exchange). */
  private[graft] def appendAntiJoin(inBatch: DataFrame): DataFrame =
    inBatch.join(data.select("target"), Seq("target"), "left_anti")

  /** Bucketed-mode maintenance: every append adds one file set per
    * bucket, so a long append stream accumulates small files (the LSM
    * problem every append-friendly layout has). `compactBuckets`
    * rewrites the table once — same rows, same bucket spec, one file
    * set — restoring scan efficiency; run it on the same cadence you
    * would any table-maintenance job. No-op for non-bucketed stores. */
  def compactBuckets(): Unit = bucketedTable.foreach { tbl =>
    if (spark.catalog.tableExists(tbl)) {
      // repartition to the bucket spec's own hash so each write task
      // holds exactly one bucket → one file per bucket after rewrite
      val materialized = data.localCheckpoint(true)
        .repartition(numBuckets, col("target"))
      graft.operators.Bucketing.writeBucketed(materialized, tbl, "target",
        numBuckets)
      mem = Some(spark.table(tbl))
    }
  }

  private def persist(df: DataFrame, truncateLineage: Boolean = false): Unit = {
    path match {
      case Some(p) =>
        // the new contents commit beside the old, which `df` may still
        // read; once committed, older generations (torn ones included)
        // are history the store does not keep
        val gen = Lake.commitGeneration(spark, p, df)
        mem = Some(spark.read.parquet(s"$p/gen=$gen"))
        Lake.genDirs(spark, p).getOrElse(Nil).foreach { case (g, _) =>
          if (g < gen) fs(p).delete(new Path(s"$p/gen=$g"), true)
        }
      case None =>
        // Appends localCheckpoint (eager): materializes AND truncates
        // lineage — without it, iterated appends (streaming ingest)
        // accumulate an unbounded plan chain where batch N depends on
        // the full history of batches 1..N-1. Replace ingests start a
        // fresh lineage from the source, so a plain cache suffices
        // (cheaper: no block-store write of every partition). The old
        // cache is dropped only after the new materialization, which
        // reads it cheaply.
        val materialized =
          if (truncateLineage) df.localCheckpoint(true)
          else { val c = df.cache(); c.count(); c }
        mem.foreach(old => if (old ne materialized) old.unpersist())
        mem = Some(materialized)
    }
  }

  /** Drop everything (`reset_db`, `VectorSearchBase.py:96-99`): every
    * generation, committed or torn, goes with the path. */
  def reset(): Unit = {
    mem.foreach(_.unpersist())
    mem = None
    path.foreach(p => fs(p).delete(new Path(p), true))
    bucketedTable.foreach(tbl => spark.sql(s"DROP TABLE IF EXISTS $tbl"))
    mem = Some(emptyData)
  }

  private var zsLabels: Seq[(String, Array[Float])] = Nil

  /** Embed the zero-shot label set (`set_zeroshot_labels`,
    * `/root/reference/vsu/base/VectorSearchBase.py:135-139`). Labels
    * get the SAME prefix as stored rows — the reference's label path
    * delegates to the main embed function, which prepends 'query: '
    * (`/root/reference/vsu/text/_classes.py:47-59`). */
  def setZeroshotLabels(labels: Seq[String]): Unit = {
    require(labels.nonEmpty, "label set must be non-empty")
    zsLabels = labels.zip(
      embedder.embed(labels.map(queryPrefix + _)).map(_.clone()))
  }

  /** Classify every stored row against the label set (`do_zeroshot`).
    * E5 semantics by default: stored vectors normalized on the fly
    * (quirk Q6); pass `softmax = true` for the CLIP probability variant
    * (`/root/reference/vsu/image/_classes.py:21-36`). */
  def doZeroshot(softmax: Boolean = false): DataFrame = {
    require(zsLabels.nonEmpty, "call setZeroshotLabels first")
    if (softmax)
      graft.operators.ZeroShot.classifySoftmax(data, "vector", zsLabels,
        normalizeData = true)
    else
      graft.operators.ZeroShot.classify(data, "vector", zsLabels)
  }

  /** Single-row insert-if-absent (`insert_data` parity,
    * `/root/reference/vsu/base/VectorSearchBase.py:77-94`): a 1-row
    * append — existing `target` wins. Bulk ingest should use
    * [[setData]]; this is API-parity convenience. */
  def insertData(target: String, options: Seq[String] = Nil,
      vector: Option[Array[Float]] = None): Unit = {
    require(options.length <= Schemas.optionCols.length,
      s"at most ${Schemas.optionCols.length} option columns")
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val padded = options.padTo(Schemas.optionCols.length, null)
    val (schema, values) = vector match {
      case Some(v) =>
        (StructType(
          StructField("target", StringType) +:
            Schemas.optionCols.map(StructField(_, StringType)) :+
            StructField("vector", Schemas.vectorType)),
          (target +: padded) :+ v)
      case None =>
        (StructType(
          StructField("target", StringType) +:
            Schemas.optionCols.map(StructField(_, StringType))),
          target +: padded)
    }
    val row = spark.createDataFrame(
      java.util.List.of(Row.fromSeq(values)), schema)
    setData(row, append = !isEmpty)
  }

  // trained-model caches for skip_build parity (reference keeps
  // self.clf / self.regr on the instance, initialized to None — quirk
  // Q2, VectorSearchBase.py:227-228,244 — and reuses them across calls;
  // like the reference, set_data/reset do NOT invalidate them).
  // Divergence from the reference, deliberately: the cache remembers
  // the training arguments, so skipBuild NEVER hands back a model
  // trained on a different label column / hyperparameters — it retrains
  // instead (the reference would silently reuse the stale model).
  private var clfCache: Option[(Seq[Any], graft.ml.MlpResult)] = None
  private var regrCache: Option[(Seq[Any], graft.ml.MlpResult)] = None

  /** Train an MLP classifier on stored vectors against a stored label
    * column (`MLP_Classifier`, `/root/reference/vsu/base/
    * VectorSearchBase.py:219-234`): stratified 75/25 split, holdout
    * accuracy, predictions for ALL rows.
    *
    * @param skipBuild reuse the previously trained classifier when one
    *                  was built WITH THE SAME arguments (`skip_build`
    *                  parity); first or differently-parameterized calls
    *                  always train
    */
  def mlpClassifier(yLabel: String, hidden: Seq[Int] = Seq(100),
      maxIter: Int = 300, skipBuild: Boolean = false): graft.ml.MlpResult = {
    require(!isEmpty, "store is empty")
    val args = Seq[Any](yLabel, hidden, maxIter)
    if (!skipBuild || !clfCache.exists(_._1 == args))
      clfCache = Some(args -> graft.ml.MlpBridge.trainClassifier(
        data.filter(col(yLabel).isNotNull), "vector", yLabel, hidden, maxIter))
    clfCache.get._2
  }

  /** Train an MLP regressor on stored vectors (`MLP_Regressor`,
    * [[graft.ml.MlpBridge.trainMlpRegressor]]): 75/25 split, holdout
    * R², predictions for ALL rows. `maxIter` is the number of
    * gradient-descent iterations. `skipBuild` reuses the cached model
    * as in [[mlpClassifier]]. */
  def mlpRegressor(yLabel: String, maxIter: Int = 300,
      skipBuild: Boolean = false): graft.ml.MlpResult = {
    require(!isEmpty, "store is empty")
    val args = Seq[Any](yLabel, maxIter)
    if (!skipBuild || !regrCache.exists(_._1 == args))
      regrCache = Some(args -> graft.ml.MlpBridge.trainMlpRegressor(
        data.filter(col(yLabel).isNotNull), "vector", yLabel,
        iters = maxIter))
    regrCache.get._2
  }

  /** k-NN by raw vector (`query` parity minus the embed step). Returns
    * `(id, target, option1..5, distance)` ascending squared-L2 with id
    * tiebreak; empty result on empty store (P5 — the reference returns
    * None, `VectorSearchBase.py:209-210`). Rows with a null vector are
    * never returned. */
  def queryVector(q: Array[Float], k: Int = 5): DataFrame = search(q, k)._1

  /** The top-k frame, plus its rows when it was scored in-process. */
  private def search(q: Array[Float],
      k: Int): (DataFrame, Option[Array[Row]]) = snapshot match {
    case Some(s) =>
      val rows = s.topK(q, k)
      (spark.createDataFrame(rows.toSeq.asJava, s.schema), Some(rows))
    case None =>
      (Similarity.topK(data, "vector", "id", q, k, Metric.SquaredL2)
        .select(StoreSnapshot.resultCols.map(col): _*), None)
  }

  /** k-NN by text: embed with the single query prefix (quirk Q1: the
    * reference double-prefixes queries, `/root/reference/vsu/text/
    * _classes.py:48,62-64`; we apply it once) then search. */
  def query(q: String, k: Int = 5): DataFrame =
    queryVector(embedder.embedOne(queryPrefix + q), k)

  /** `query_with_info` parity (`VectorSearchBase.py:215-217`): query
    * result with all-null columns dropped (P4 — unused option slots
    * vanish). Decided on the ≤ k rows: read directly from an in-process
    * result, by a null-count aggregation otherwise. */
  def queryWithInfo(q: String, k: Int = 5): DataFrame =
    queryVectorWithInfo(embedder.embedOne(queryPrefix + q), k)

  def queryVectorWithInfo(q: Array[Float], k: Int = 5): DataFrame = {
    val (df, local) = search(q, k)
    val present: Int => Boolean = local match {
      case Some(rows) => i => rows.exists(!_.isNullAt(i))
      case None =>
        val counts = df.select(df.columns.map(c => count(col(c)).as(c)): _*)
          .head
        i => counts.getLong(i) > 0
    }
    val keep = df.columns.zipWithIndex.collect { case (c, i) if present(i) => c }
    if (keep.isEmpty) df else df.select(keep.map(col): _*)
  }
}

/** A driver-side copy of a store's contents, for serving top-k without
  * a Spark job: `payload(i)` holds row `i`'s `(id, target, option1..5)`
  * and `vecs(i)` its vector (null for a null vector).
  * Scoring is [[VectorOps.squaredL2Floats]] — the Catalyst kernel's
  * float→double widening and sequential double accumulation — so
  * distances are bit-identical to the Spark path's, and the top k are
  * kept by (distance, id) ascending in one bounded heap. */
private[store] final class StoreSnapshot(payload: Array[Row],
    vecs: Array[Array[Float]], val schema: StructType) {
  import StoreSnapshot._

  private val ids = payload.map(_.getLong(0))

  private val dims = vecs.iterator.filter(_ != null).map(_.length)
    .distinct.toArray

  def isEmpty: Boolean = ids.isEmpty

  def maxId: Long = ids.max

  /** The k nearest rows as `payload :+ distance`, ascending by
    * (distance, id); rows with a null vector never take a slot. Raises
    * `vector length mismatch` before scoring when a stored dim differs
    * from the query's. */
  def topK(q: Array[Float], k: Int): Array[Row] = {
    require(k > 0, "k must be positive")
    dims.find(_ != q.length).foreach { d =>
      throw new IllegalArgumentException(
        s"vector length mismatch: $d vs ${q.length}")
    }
    val before: (Hit, Hit) => Boolean = (a, b) => {
      val c = SQLOrderingUtil.compareDoubles(a._1, b._1)
      c < 0 || (c == 0 && ids(a._2) < ids(b._2))
    }
    // bounded heap whose head is the worst kept hit
    val heap = new java.util.PriorityQueue[Hit](math.min(k, vecs.length + 1),
      (a: Hit, b: Hit) => if (before(a, b)) 1 else if (before(b, a)) -1 else 0)
    var i = 0
    while (i < vecs.length) {
      val v = vecs(i)
      if (v != null) {
        val hit = (VectorOps.squaredL2Floats(v, q), i)
        if (heap.size < k) heap.add(hit)
        else if (before(hit, heap.peek)) { heap.poll(); heap.add(hit) }
      }
      i += 1
    }
    heap.asScala.toArray.sortWith(before).map { case (d, r) =>
      Row.fromSeq(payload(r).toSeq :+ d)
    }
  }
}

private[store] object StoreSnapshot {
  /** (distance, row index). */
  private type Hit = (Double, Int)

  /** Heap bytes a row costs beyond its floats and string chars: object
    * headers and references of the row, its array and its strings. */
  private val RowOverheadBytes = 96L

  val resultCols: Seq[String] = "id" +: Schemas.saveCols :+ "distance"

  /** One collect of `data` when it is under `budgetBytes`: the
    * optimizer's size estimate gates the collect, the collected rows'
    * heap estimate gates the snapshot. None when either is over. A
    * frame the optimizer cannot size (a checkpointed or RDD-built one,
    * reported as `Long.MaxValue`) is gated by one aggregation job that
    * computes the heap estimate instead. */
  def take(data: DataFrame, budgetBytes: Long): Option[StoreSnapshot] = {
    import data.sparkSession.implicits._
    val cols = resultCols.init
    val sized = data.queryExecution.optimizedPlan.stats.sizeInBytes
    val preBytes =
      if (sized < Long.MaxValue) sized
      else BigInt(data.select(coalesce(sum(
        lit(RowOverheadBytes) +
          when(col("vector").isNull, 0).otherwise(size(col("vector")) * 4) +
          cols.tail.map(c => coalesce(length(col(c)) * 2, lit(0)))
            .reduce(_ + _)), lit(0L))).head.getLong(0))
    if (preBytes >= budgetBytes) return None
    // vectors decode straight to float arrays, the payload to rows
    val payloadSchema = StructType(cols.map(data.schema(_)))
    val (payload, vecs) = data
      .select(struct(cols.map(col): _*), col("vector"))
      .as(Encoders.tuple(Encoders.row(payloadSchema),
        implicitly[Encoder[Array[Float]]]))
      .collect().unzip
    val bytes = payload.iterator.zip(vecs.iterator).map { case (r, v) =>
      RowOverheadBytes + (if (v == null) 0L else 4L * v.length) +
        (1 until r.length).iterator.map(i =>
          if (r.isNullAt(i)) 0L else 2L * r.getString(i).length).sum
    }.sum
    if (bytes >= budgetBytes) None
    else Some(new StoreSnapshot(payload, vecs,
      payloadSchema.add(StructField("distance", DoubleType,
        nullable = data.schema("vector").nullable))))
  }
}
