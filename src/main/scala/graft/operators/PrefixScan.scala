package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Distributed prefix scan and the sequence-packing operator built on
  * it — the "concatenate the corpus and cut it into fixed-size context
  * windows" step of a pretraining data pipeline.
  *
  * The naive formulation is `sum(len) OVER (ORDER BY ...)` — a GLOBAL
  * window, which Catalyst plans as a single-partition sort: one task
  * owns 100 TB. This operator instead range-partitions by the order
  * key (`orderBy` — globally ordered partitions), computes each
  * partition's local running sum, collects only the PER-PARTITION
  * totals (numPartitions longs) to prefix-add on the driver, and
  * broadcasts the offsets back into a second narrow pass — the
  * textbook two-phase scan, same shape as
  * [[graft.store.Ingest.withSequentialIds]].
  */
object PrefixScan {

  /** Append `outCol` = inclusive running sum of `valueCol` in
    * `orderCols` order (ties resolved by the order columns given —
    * pass a unique tiebreaker for full determinism). `valueCol` must
    * be integral; nulls count as 0.
    *
    * `materialize` (default true, the always-safe mode) eagerly
    * `localCheckpoint`s the result so pass-2 rows are guaranteed to
    * match the pass-1 partition totals even when the input lineage is
    * NONDETERMINISTIC (rand-derived columns, tie-arbitrary
    * first-wins). That guarantee costs a full materialization of the
    * output — at corpus scale that is the whole corpus written to
    * executor-local storage. Pass `materialize = false` when the input
    * lineage is deterministic (reads storage, no rand/shuffle-order
    * dependence): the result stays lazy and the sort may be recomputed
    * per action, but nothing is ever materialized. */
  def runningSum(df: DataFrame, orderCols: Seq[String], valueCol: String,
      outCol: String = "running_total",
      materialize: Boolean = true): DataFrame =
    runningSumBy(df, orderCols.map(col), valueCol, outCol, materialize)

  /** [[runningSum]] with arbitrary order expressions (e.g. a `desc`
    * priority with an id tiebreak). */
  def runningSumBy(df: DataFrame, orderBy: Seq[Column], valueCol: String,
      outCol: String = "running_total",
      materialize: Boolean = true): DataFrame = {
    require(orderBy.nonEmpty, "order columns required")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' collides — rename one")
    val spark = df.sparkSession
    val sorted = df.orderBy(orderBy: _*)
      .withColumn("__v", coalesce(col(valueCol).cast(LongType), lit(0L)))
    val vIdx = sorted.schema.fieldIndex("__v")
    val rdd = sorted.rdd
    // The cache only matters on the materializing path, where pass 2 is
    // evaluated once (by the checkpoint) while pass 1's totals must see
    // the SAME rows. On the lazy path the contract is deterministic
    // lineage, so recomputation is exact and a corpus-sized cache would
    // be pure memory pressure.
    if (materialize) rdd.cache()
    try {
      // pass 1: one long per partition crosses to the driver
      val partTotals = rdd
        .mapPartitionsWithIndex { (i, it) =>
          var s = 0L
          it.foreach(r => s += r.getLong(vIdx))
          Iterator((i, s))
        }
        .collect().sortBy(_._1).map(_._2)
      val offsets = partTotals.scanLeft(0L)(_ + _) // exclusive prefix
      // pass 2: narrow map adding the partition offset
      val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
      val out = rdd.mapPartitionsWithIndex { (i, it) =>
        var run = offsets(i)
        it.map { r =>
          run += r.getLong(vIdx)
          Row.fromSeq(r.toSeq :+ run)
        }
      }
      val result = spark.createDataFrame(out, outSchema).drop("__v")
      // Materialize BEFORE releasing the cache: createDataFrame is
      // lazy, and the cache is what guarantees pass-2 rows match the
      // pass-1 partition totals when upstream lineage is
      // nondeterministic. localCheckpoint is eager and truncates
      // lineage, so the caller never re-runs the sort with the cache
      // gone.
      if (materialize) result.localCheckpoint() else result
    } finally { if (materialize) { rdd.unpersist(); () } }
  }

  /** Per-KEY inclusive running sum WITHOUT a partitioned window: the
    * two-phase scan generalized to groups. `sum() OVER (PARTITION BY
    * key ORDER BY …)` puts EVERY row of a key in one task — fine for
    * many small keys, a scale-killer the moment one key holds half
    * the corpus (the `en` slice of a multilingual crawl). Here rows
    * are range-partitioned by (key, orderBy) — a hot key simply spans
    * ADJACENT partitions — pass 1 ships one (key → partition total)
    * list per partition to the driver (total entries ≤ #keys +
    * #partitions, because each partition holds a contiguous key
    * range), the driver prefix-adds per key across partitions, and
    * pass 2 adds each partition's per-key offsets in one narrow map
    * (the offset table rides a BROADCAST — one transfer per executor,
    * and each task touches only its own partition's entry, never a
    * per-task copy of every partition's map in the closure).
    * Same `materialize` contract as [[runningSumBy]].
    *
    * Contract: LOW-CARDINALITY keys (languages, sources, splits). The
    * driver holds one offset entry per (partition, key-run) —
    * ≤ #keys + #partitions by contiguity — so a high-cardinality key
    * silently degrades into a driver-sized structure. `maxKeyEntries`
    * makes that failure LOUD: pass-1 aborts with a pointed error the
    * moment the entry count exceeds it (raise it only when the driver
    * is provisioned for the key space; for per-row keys use a plain
    * groupBy/join rank instead — there is nothing to scan). */
  /** Test-only handle on the most recent offsets broadcast of
    * [[runningSumByKey]], so the spec can assert the materialize=true
    * path destroys it (the r14 leak: one broadcast block per call
    * survived until ContextCleaner GC). Never read by product code. */
  private[graft] var lastOffsetsBroadcastForTest:
    Option[org.apache.spark.broadcast.Broadcast[_]] = None

  def runningSumByKey(df: DataFrame, keyCols: Seq[String],
      orderBy: Seq[Column], valueCol: String,
      outCol: String = "running_total",
      materialize: Boolean = true,
      maxKeyEntries: Long = 1L << 20): DataFrame = {
    require(keyCols.nonEmpty, "key columns required")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' collides — rename one")
    val spark = df.sparkSession
    val sorted = df.orderBy(keyCols.map(col) ++ orderBy: _*)
      .withColumn("__v", coalesce(col(valueCol).cast(LongType), lit(0L)))
    val kIdx = keyCols.map(sorted.schema.fieldIndex)
    val vIdx = sorted.schema.fieldIndex("__v")
    val rdd = sorted.rdd
    if (materialize) rdd.cache()
    try {
      // pass 1: per-partition per-key totals (keys are contiguous in
      // a (key, order)-sorted layout, so this is small by construction)
      val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap[Seq[Any], Long]()
        it.foreach { r =>
          val k = kIdx.map(r.get)
          m.update(k, m.getOrElse(k, 0L) + r.getLong(vIdx))
        }
        Iterator((i, m.toSeq))
      }.collect().sortBy(_._1)
      val nEntries = partTotals.iterator.map(_._2.size.toLong).sum
      if (nEntries > maxKeyEntries)
        throw new IllegalArgumentException(
          s"runningSumByKey: pass-1 produced $nEntries (partition, key) " +
            s"offset entries > maxKeyEntries=$maxKeyEntries — the grouped " +
            "two-phase scan contracts LOW-cardinality keys (languages/" +
            "sources/splits); a per-row or near-unique key makes the " +
            "driver-side offset table data-sized. Use a groupBy rank or " +
            "join for high-cardinality keys, or raise maxKeyEntries if " +
            "the driver is provisioned for this key space.")
      val running = scala.collection.mutable.HashMap[Seq[Any], Long]()
      val offsets: Array[Map[Seq[Any], Long]] = partTotals.map {
        case (_, kvs) =>
          val off = kvs.map { case (k, _) =>
            k -> running.getOrElse(k, 0L) }.toMap
          kvs.foreach { case (k, v) =>
            running.update(k, running.getOrElse(k, 0L) + v) }
          off
      }
      // broadcast, NOT closure capture: a captured Array[Map] ships
      // EVERY partition's offsets with every task; the broadcast moves
      // once per executor and each task indexes its own entry
      val offsetsBc = spark.sparkContext.broadcast(offsets)
      lastOffsetsBroadcastForTest = Some(offsetsBc)
      val outSchema = sorted.schema.add(outCol, LongType, nullable = false)
      val out = rdd.mapPartitionsWithIndex { (i, it) =>
        val off = offsetsBc.value(i)
        var curKey: Seq[Any] = null
        var run = 0L
        it.map { r =>
          val k = kIdx.map(r.get)
          if (k != curKey) { curKey = k; run = off.getOrElse(k, 0L) }
          run += r.getLong(vIdx)
          Row.fromSeq(r.toSeq :+ run)
        }
      }
      val result = spark.createDataFrame(out, outSchema).drop("__v")
      if (materialize) {
        // localCheckpoint computes the partitions eagerly, so the
        // offsets broadcast is consumed here and can be destroyed —
        // without this every call leaked one broadcast block on the
        // driver and executors until ContextCleaner GC (a long-lived
        // service calling per-batch accumulates them indefinitely).
        val ck = result.localCheckpoint()
        offsetsBc.destroy()
        ck
      } else {
        // lazy path: the broadcast must outlive this call because the
        // returned plan re-reads it on every action; its lifecycle is
        // pinned to ContextCleaner GC of the plan. Callers that loop
        // should pass materialize=true (the default) precisely so the
        // eager path above can reclaim it deterministically.
        result
      }
    } finally { if (materialize) { rdd.unpersist(); () } }
  }

  /** Token-budget selection — "fill an N-token training budget with
    * the best documents first": rows are ranked by `orderBy` (pass a
    * priority desc + unique id tiebreak for determinism) and kept
    * greedily while the inclusive running sum of `valueCol` stays
    * within `budget`. Returns the kept rows plus `outCol` (tokens used
    * through this row). Same two-phase scan shape as [[runningSum]] —
    * no global window, no driver-side data. */
  def takeByBudget(df: DataFrame, valueCol: String, budget: Long,
      orderBy: Seq[Column], outCol: String = "budget_used",
      materialize: Boolean = true): DataFrame = {
    require(budget > 0, "budget must be positive")
    runningSumBy(df, orderBy, valueCol, outCol, materialize)
      .filter(col(outCol) <= budget)
  }

  /** Per-key sequence packing: one concatenated stream PER KEY (e.g.
    * one pretraining stream per language), each cut into `chunkSize`
    * windows. Rides [[runningSumByKey]] (r13) — the earlier
    * `PARTITION BY key` window serialized each key's whole stream
    * into one task, which is fine for many small keys and a
    * scale-killer for the hot one (the `en` slice); the grouped
    * two-phase scan lets a hot key span adjacent partitions. Output
    * and values are identical (exclusive prefix = inclusive − len).
    *
    * `materialize` follows [[runningSumByKey]]'s contract and DEFAULT
    * (true, the always-safe mode): the two-phase scan runs pass 1 and
    * pass 2 as separate jobs, so a NONDETERMINISTIC input lineage
    * (sample(), unstable shuffle order, tie-arbitrary first-wins) can
    * land rows in different partitions between the passes and make
    * start_offset/chunk_id silently inconsistent — the old window form
    * was self-consistent within one job regardless of lineage. Pass
    * `materialize = false` ONLY when the input lineage is
    * deterministic (reads storage, no rand/shuffle-order dependence). */
  def packSequencesByKey(df: DataFrame, keyCols: Seq[String],
      lenCol: String, chunkSize: Long, orderCols: Seq[String],
      materialize: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "key columns required")
    require(chunkSize > 0, "chunkSize must be positive")
    val reserved = Seq("__graft_len", "__graft_incl")
    require(reserved.forall(r => !df.columns.contains(r)),
      s"reserved columns $reserved present — rename them")
    runningSumByKey(
      df.withColumn("__graft_len",
        coalesce(col(lenCol).cast(LongType), lit(0L))),
      keyCols, orderCols.map(col), "__graft_len", "__graft_incl",
      materialize = materialize)
      .withColumn("start_offset", col("__graft_incl") - col("__graft_len"))
      .withColumn("chunk_id",
        expr(s"start_offset div ${chunkSize}L").cast(LongType))
      .drop("__graft_len", "__graft_incl")
  }

  /** Sequence packing: lay the corpus out as one concatenated token
    * stream in `orderCols` order and assign every document the chunk
    * (context window) its FIRST token falls into — exactly the
    * "concatenate and cut every `chunkSize` tokens" layout pretraining
    * uses (documents spanning a boundary belong to the chunk they
    * start in; the trainer's loader handles the spill). Returns the
    * input plus `start_offset` (0-based position of the doc's first
    * token in the stream) and `chunk_id`. */
  def packSequences(df: DataFrame, lenCol: String, chunkSize: Long,
      orderCols: Seq[String], materialize: Boolean = true): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    runningSum(df, orderCols, lenCol, outCol = "__cum", materialize)
      .withColumn("start_offset",
        col("__cum") - coalesce(col(lenCol).cast(LongType), lit(0L)))
      // integral division — a double floor() would lose exactness once
      // the stream position passes 2^53 tokens
      .withColumn("chunk_id",
        expr(s"start_offset div ${chunkSize}L").cast(LongType))
      .drop("__cum")
  }

  /** Augment a [[packSequences]]/[[packSequencesByKey]] result with
    * the BOUNDARY-SPAN columns a loader needs to handle documents
    * crossing chunk cuts: `last_pack` (the chunk the doc's LAST token
    * falls into — equal to `chunk_id` for zero-length docs, which
    * occupy no tokens) and `n_packs_spanned`. Same exact integer
    * arithmetic as the placement itself; a narrow projection, no new
    * shuffle. */
  def packSpans(packed: DataFrame, lenCol: String,
      chunkSize: Long): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    val len = coalesce(col(lenCol).cast(LongType), lit(0L))
    packed
      .withColumn("last_pack",
        when(len <= 0L, col("chunk_id"))
          .otherwise(expr(
            s"(start_offset + ${lenColExpr(lenCol)} - 1) div ${chunkSize}L")
            .cast(LongType)))
      .withColumn("n_packs_spanned",
        col("last_pack") - col("chunk_id") + lit(1L))
  }

  private def lenColExpr(lenCol: String): String =
    s"coalesce(cast(`$lenCol` as bigint), 0L)"

  /** Length-bucketed training-batch assembly: bucket documents by
    * power-of-two length (bucket b holds 2^b ≤ len < 2^(b+1); len ≤ 0
    * lands in bucket 0), order each bucket by (len DESC, id), and cut
    * into fixed `batchDocs`-document batches — the dynamic-batching
    * layout that minimizes padding waste when a trainer pads every
    * batch to its longest member. Returns the input ids with
    * (length_bucket, batch_id); aggregate per (bucket, batch) for the
    * padding-waste report.
    *
    * Scale shape: ONE two-phase [[runningSumBy]] rank over
    * (bucket, len DESC, id) — never a per-bucket global window (the
    * ≤64 power-of-two buckets would each funnel into one task); the
    * per-bucket start offsets ride a broadcast ≤64-row cumulative
    * self-join. The bucket is the exact integer bit length
    * (`length(bin(len)) − 1` — no floating log2), so any engine
    * replays it. */
  def packByLength(df: DataFrame, idCol: String, lenCol: String,
      batchDocs: Int, materialize: Boolean = true): DataFrame = {
    require(batchDocs >= 1, "batchDocs must be >= 1")
    val reserved = Seq("__lb", "__one", "__pos", "__n", "__start")
    require(reserved.forall(r => !df.columns.contains(r)),
      s"reserved columns $reserved present — rename them")
    val withB = df.withColumn("__lb",
      when(col(lenCol) <= 0L, lit(0L))
        .otherwise((length(bin(col(lenCol))) - 1).cast("long")))
    val pos = runningSumBy(withB.withColumn("__one", lit(1L)),
      Seq(col("__lb").asc, col(lenCol).desc, col(idCol).asc),
      "__one", "__pos", materialize).drop("__one")
    val counts = withB.groupBy("__lb").agg(count(lit(1)).as("__n"))
    val starts = counts.as("x")
      .join(broadcast(counts.as("y")),
        col("y.__lb") < col("x.__lb"), "left")
      .groupBy(col("x.__lb").as("__lb"))
      .agg(coalesce(sum(col("y.__n")), lit(0L)).as("__start"))
    pos.join(broadcast(starts), Seq("__lb"))
      .withColumn("batch_id",
        expr(s"(__pos - __start - 1) div ${batchDocs}L").cast("long"))
      .withColumn("length_bucket", col("__lb"))
      .drop("__lb", "__pos", "__start")
  }
}
