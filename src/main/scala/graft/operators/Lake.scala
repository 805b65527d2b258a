package graft.operators

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parquet-lake file maintenance. Streaming ingest, per-trigger
  * appends, and fine-grained partitioning all accrete SMALL FILES, and
  * at 100 TB the file count — not the byte count — becomes the
  * scheduler/namenode bottleneck: a million 1 MB files cost a million
  * task launches and a million metadata entries for one node's worth
  * of data. These helpers measure the problem and rewrite a directory
  * to target-sized files. (The bucketed [[graft.store.VectorStore]]
  * has its own bucket-preserving variant, `compactBuckets` — this is
  * the generic layout-free form.)
  */
object Lake {

  /** One row per data file under `path`, recursively: (file, bytes).
    * The LISTING is driver-side — file counts are driver-sized even
    * when the data is not (it is the rows that scale, not the files;
    * if the listing itself is too big, that IS the finding). Hidden
    * and metadata files (`_SUCCESS`, checksums) are excluded. */
  def fileStats(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(path), true)
    val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        buf += ((f.getPath.toString, f.getLen))
    }
    import spark.implicits._
    buf.toSeq.toDF("file", "bytes")
  }

  /** Small-file health summary of a directory:
    * (n_files, total_bytes, avg_bytes, n_small) where `n_small` counts
    * files under `smallBytes`. */
  final case class LakeHealth(nFiles: Long, totalBytes: Long,
      avgBytes: Double, nSmall: Long)

  def health(spark: SparkSession, path: String,
      smallBytes: Long = 32L << 20): LakeHealth = {
    // aggregate on the stats frame, don't collect it: a 100 TB lake
    // with millions of small files (the exact pathology health
    // diagnoses) must not round-trip its whole inventory to compute
    // three scalars
    val agg = fileStats(spark, path).agg(
      count(lit(1)).as("n"),
      coalesce(sum("bytes"), lit(0L)).as("total"),
      coalesce(sum(when(col("bytes") < smallBytes, 1L).otherwise(0L)),
        lit(0L)).as("n_small")).head
    val n = agg.getLong(0)
    val total = agg.getLong(1)
    LakeHealth(n, total, if (n == 0L) 0.0 else total.toDouble / n,
      agg.getLong(2))
  }

  /** Write a `_graft_manifest.json` beside a parquet dataset — the
    * handoff contract between pipeline stages (and the cheap
    * did-anything-change probe for downstream consumers): exact row
    * count, schema DDL, and the file inventory with sizes. One count
    * job + the driver-side listing; rewriting is atomic per the
    * filesystem's single-file rename semantics. Returns the manifest
    * path. */
  def writeManifest(spark: SparkSession, path: String): String = {
    val stats = fileStats(spark, path)
    // scalars via aggregation; the file list STREAMS through
    // toLocalIterator (one partition in driver memory at a time) —
    // the manifest keeps its full inventory without the driver ever
    // holding it whole
    val agg = stats.agg(count(lit(1)).as("n"),
      coalesce(sum("bytes"), lit(0L)).as("total")).head
    val df = spark.read.parquet(path)
    val nRows = df.count()
    val out = new Path(path, "_graft_manifest.json")
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(out, true)
    try {
      def w(s: String): Unit = os.write(s.getBytes("UTF-8"))
      w("{\n")
      w(s"""  "n_rows": $nRows,\n""")
      w(s"""  "n_files": ${agg.getLong(0)},\n""")
      w(s"""  "total_bytes": ${agg.getLong(1)},\n""")
      w(s"""  "schema": ${ujsonEscape(df.schema.toDDL)},\n""")
      w("  \"files\": [\n")
      val it = stats.orderBy("file").toLocalIterator()
      var first = true
      while (it.hasNext) {
        val r = it.next()
        if (!first) w(",\n")
        first = false
        w(s"""    {"file": ${ujsonEscape(r.getString(0))}, "bytes": ${r.getLong(1)}}""")
      }
      w("\n  ]\n}\n")
    } finally os.close()
    out.toString
  }

  /** Morton (z-order) interleave of `bits`-wide non-negative integer
    * columns: bit i of column c lands at position `i·|cols| + c`. The
    * classic multi-dimensional locality key — rows close in EVERY
    * dimension get close keys, so a range-partitioned, sorted layout
    * gives every file a tight bounding box in all z-ordered columns at
    * once and parquet min/max stats can skip files for predicates on
    * ANY of them (a single-column sort only skips on that column).
    * Plain shift/and/or integer arithmetic — codegen'd, and exactly
    * reproducible in any engine. */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, "z-order needs >= 2 columns")
    require(bits >= 1 && bits * cols.size <= 62,
      s"${cols.size} cols x $bits bits must fit a long")
    val n = cols.size
    val terms = for {
      (c, ci) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast(LongType), i).bitwiseAND(lit(1L)), i * n + ci)
    terms.reduce(_ bitwiseOR _)
  }

  /** Quantize a numeric column to `[0, 2^bits)` given its inclusive
    * data bounds — exact long arithmetic (floor division), no float
    * rounding anywhere, so the bucket of a value is engine-portable.
    * CONTRACT: values must lie within `[minV, maxV]` (as
    * [[zorderLayout]]'s own min/max bounds guarantee) — out-of-range
    * values produce out-of-range buckets, they are not clamped.
    * Degenerate bounds (min == max) quantize everything to 0. */
  def quantize(colName: String, minV: Long, maxV: Long,
      bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits in [1, 31]")
    require(maxV >= minV, s"bad bounds [$minV, $maxV]")
    val levels = (1L << bits) - 1L
    expr(s"((cast(`$colName` as bigint) - ${minV}L) * ${levels}L) div " +
      s"greatest(1L, ${maxV - minV}L)")
  }

  /** Rewrite a frame into a z-ordered layout: quantized Morton key →
    * range repartition into `numFiles` → sort within partitions. One
    * range exchange (sampled bounds, no global single-task sort); each
    * output file covers a contiguous z interval, which is a tight
    * multi-dimensional bounding box. Bounds per column come from one
    * driver-tiny min/max aggregate. Writes nothing itself — compose
    * with a writer so the caller owns layout and atomicity. */
  def zorderLayout(df: DataFrame, zCols: Seq[String], bits: Int,
      numFiles: Int): DataFrame = {
    require(numFiles >= 1, "numFiles must be >= 1")
    require(zCols.nonEmpty, "z-order columns required")
    require(!df.columns.contains("__z"), "column '__z' collides")
    val bounds = df.agg(
      zCols.flatMap(c => Seq(min(col(c)).cast(LongType),
        max(col(c)).cast(LongType))).head,
      zCols.flatMap(c => Seq(min(col(c)).cast(LongType),
        max(col(c)).cast(LongType))).tail: _*).head()
    val qs = zCols.zipWithIndex.map { case (c, i) =>
      quantize(c, bounds.getLong(2 * i), bounds.getLong(2 * i + 1), bits)
    }
    df.withColumn("__z", zorderKey(qs, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
  }

  private def ujsonEscape(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Z-order (Morton-curve) value over `cols` — the multi-column
    * data-skipping layout (the technique behind Delta/Iceberg
    * `OPTIMIZE ZORDER BY`): each column maps to a `bitsPerCol`-bit
    * quantile bucket (boundaries from one sampled `approxQuantile`
    * pass, so skewed columns still split evenly) and the buckets'
    * bits interleave into one long. Files written in z order carry
    * TIGHT min/max ranges on EVERY z column simultaneously, so
    * parquet row-group / file skipping prunes filters on any of them
    * — a plain sort gives that for the leading column only.
    *
    * The bucket lookup is a codegen'd array fold over the boundary
    * literals; the interleave is static bit arithmetic — both narrow.
    * Nulls bucket to 0 (they sort first, as with a plain sort). */
  def zorderValue(df: DataFrame, cols: Seq[String], bitsPerCol: Int = 8,
      relativeError: Double = 0.01): Column = {
    require(cols.nonEmpty, "need at least one z-order column")
    require(bitsPerCol >= 1 && bitsPerCol * cols.size <= 63,
      s"bitsPerCol × columns must fit a long, got ${bitsPerCol}×${cols.size}")
    val buckets = 1 << bitsPerCol
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(cols.toArray, probs, relativeError)
    val bucketCols = cols.zip(bounds).map { case (c, bnds) =>
      // bucket = #boundaries <= value (0 for null): an array fold over
      // the boundary literals, evaluated inside codegen
      aggregate(typedLit(bnds.toSeq), lit(0),
        (acc, b) => acc + when(col(c).cast("double") >= b, 1).otherwise(0))
    }
    val n = cols.size
    val terms = for {
      i <- 0 until bitsPerCol
      (b, c) <- bucketCols.zipWithIndex
    } yield shiftleft(
      shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), i * n + c)
    terms.reduce(_ + _)
  }

  /** Rewrite `df` into `dest` as `nFiles` z-ordered parquet files:
    * range-partition on the z value (equal-count file splits), sort
    * within each file so row groups inherit the tight ranges too. */
  def writeZordered(df: DataFrame, dest: String, cols: Seq[String],
      nFiles: Int, bitsPerCol: Int = 8): Unit = {
    require(nFiles >= 1, "need at least one output file")
    require(!df.columns.contains("__graft_z"),
      "reserved column '__graft_z' present — rename it")
    df.withColumn("__graft_z", zorderValue(df, cols, bitsPerCol))
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("overwrite").parquet(dest)
  }

  /** Snapshot diff (CDC between two table versions): one full-outer
    * join on `keyCols`, emitting only rows that CHANGED —
    * `op` ∈ insert (key only in `after`), delete (only in `before`),
    * update (both sides, any `compareCols` differs under null-safe
    * equality). Unchanged rows are dropped — the output is the change
    * set a downstream incremental consumer replays, not a copy of the
    * table. Each compared column comes back as `<c>_before` /
    * `<c>_after`.
    *
    * Scale shape: ONE key-hash shuffle of each side (the join), a
    * codegen'd null-safe comparison, and a filter — no window, no
    * collect. AQE's skew-join split handles hot keys. At 100 TB the
    * change set is usually ≪ the table, so everything downstream of
    * the filter is small. */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      keyCols: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "key columns required")
    // physical renames, not plan aliases: before/after are routinely
    // two versions OF THE SAME source and aliased self-joins resolve
    // ambiguously there
    val b = before.select(
      keyCols.map(c => col(c).as(s"__bk_$c")) ++
        compareCols.map(c => col(c).as(s"__bv_$c")) :+ lit(1).as("__b"): _*)
    val a = after.select(
      keyCols.map(c => col(c).as(s"__ak_$c")) ++
        compareCols.map(c => col(c).as(s"__av_$c")) :+ lit(1).as("__a"): _*)
    val joined = b.join(a,
      keyCols.map(k => col(s"__bk_$k") <=> col(s"__ak_$k")).reduce(_ && _),
      "full_outer")
    val changed = compareCols
      .map(c => !(col(s"__bv_$c") <=> col(s"__av_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(col("__b").isNull, "insert")
      .when(col("__a").isNull, "delete")
      .when(changed, "update")
    val keys =
      keyCols.map(k => coalesce(col(s"__bk_$k"), col(s"__ak_$k")).as(k))
    val vals = compareCols.flatMap(c => Seq(
      col(s"__bv_$c").as(s"${c}_before"), col(s"__av_$c").as(s"${c}_after")))
    joined.withColumn("op", op)
      .where(col("op").isNotNull)
      .select(keys ++ vals :+ col("op"): _*)
  }

  /** MERGE INTO (Delta/Iceberg upsert semantics) as one full-outer
    * key join: source rows update matched targets and insert
    * unmatched ones; matched source rows satisfying `deleteWhen`
    * (evaluated over the SOURCE row) delete the target row;
    * target-only rows always survive. `updateMatched = false` keeps
    * the target version of matched rows (insert-only merge);
    * `insertUnmatched = false` drops source-only rows (update-only
    * merge). Deletes still apply in both.
    *
    * Schema contract: source and target share the same columns
    * (align first with [[readEvolved]] if generations differ).
    * Duplicate-key source rows are a caller error exactly as in Delta
    * MERGE (which rows win would be nondeterministic); dedupe with
    * [[graft.operators.Dedup.exactFirstWins]] upstream.
    *
    * Shape: ONE hash-partitioned full-outer join on the key — no
    * window, no collect; AQE broadcasts a small source side on its
    * own. The CASE selection is a narrow codegen'd projection over
    * the joined row. */
  def merge(target: DataFrame, source: DataFrame, keyCols: Seq[String],
      deleteWhen: Option[Column] = None,
      updateMatched: Boolean = true,
      insertUnmatched: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty, "key columns required")
    require(target.columns.sameElements(source.columns),
      s"schema mismatch: target ${target.columns.toSeq} vs source " +
        s"${source.columns.toSeq} — align schemas before merging")
    val cols = target.columns.toSeq
    // physical renames (same reasoning as snapshotDiff: target and
    // source are routinely two versions of one table)
    val t = target.select(
      keyCols.map(c => col(c).as(s"__tk_$c")) :+
        struct(cols.map(col): _*).as("__t"): _*)
    val del = deleteWhen.getOrElse(lit(false))
    val s = source.select(
      keyCols.map(c => col(c).as(s"__sk_$c")) ++
        Seq(struct(cols.map(col): _*).as("__s"),
          coalesce(del, lit(false)).as("__del")): _*)
    val joined = t.join(s,
      keyCols.map(k => col(s"__tk_$k") <=> col(s"__sk_$k")).reduce(_ && _),
      "full_outer")
    val keep = when(col("__t").isNull,
        if (insertUnmatched) col("__s") else lit(null))
      .when(col("__s").isNull, col("__t"))
      .when(col("__del"), lit(null))
      .otherwise(if (updateMatched) col("__s") else col("__t"))
    joined.select(keep.as("__r")).where(col("__r").isNotNull)
      .select(cols.map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Versioned snapshot table — the TIME-TRAVEL slice of the Delta
    * feature family ([[snapshotDiff]] is the CDC slice, [[merge]] the
    * upsert slice): commits append generation-stamped parquet
    * directories (`root/gen=N/`), and [[readAsOf]] reconstructs the
    * table AS OF any past generation. The registry is the partition
    * layout itself — self-describing, no sidecar transaction log to
    * corrupt. Each commit goes through [[commitGeneration]], which
    * claims its `gen=N` with an exclusive create before writing: two
    * writers, threads or processes, never share a generation, and both
    * commits land in distinct ones. A writer dying after its claim
    * leaves a directory with no `_SUCCESS` marker; readers
    * ([[snapshotGenerations]], [[readAsOf]]) skip it, and the next
    * commit numbers past it (recovery = delete it, or just leave it —
    * it stays invisible). The claim orders commits, not the reads that
    * produced them: two writers deriving upserts from one as-of state
    * both land, later generation winning per key.
    *
    * A commit carries upserts (full rows) and deletes (key rows) —
    * deletes persist as TOMBSTONES, the standard MVCC trick: dropping
    * a key must be visible to later as-of reads without rewriting
    * history. A key written twice in ONE commit is a caller error
    * (Delta MERGE's same rule — which row wins would be
    * nondeterministic); dedupe upstream.
    *
    * Scale shape: a commit writes O(changes) — never touches prior
    * generations; [[readAsOf]] is one partition-pruned scan
    * (`gen <= g` prunes directories, plan-asserted in the spec) and
    * ONE hash aggregate per key (`max_by(row, gen)` — latest write
    * wins), so reconstruction costs one shuffle of the LIVE key set
    * regardless of how many generations exist. Compact old
    * generations with [[compactTo]] + a fresh base commit when the
    * tombstone ratio grows. */
  def commitSnapshot(spark: SparkSession, root: String,
      upserts: DataFrame, keyCols: Seq[String],
      deletes: Option[DataFrame] = None): Long = {
    require(keyCols.nonEmpty, "key columns required")
    require(keyCols.forall(upserts.columns.contains),
      s"upserts must carry the key columns $keyCols")
    deletes.foreach(d => require(keyCols.forall(d.columns.contains),
      s"deletes must carry the key columns $keyCols"))
    val gens = snapshotGenerations(spark, root)
    val dataCols = upserts.columns.toSeq.filterNot(_ == "__deleted")
    // schema drift guard: a later commit with different columns would
    // silently null-fill under the plain (non-mergeSchema) read that
    // readAsOf uses — fail loudly instead (evolve via a fresh base
    // table + readEvolved, like any other layout change)
    gens.filter(_.nonEmpty).foreach { gs =>
      val existing = spark.read.parquet(s"$root/gen=${gs.head}")
        .columns.toSeq.filterNot(_ == "__deleted")
      require(existing == dataCols,
        s"snapshot schema drift: table has $existing, commit carries " +
          s"$dataCols — time travel needs one schema per table root")
    }
    val up = upserts.select(dataCols.map(col): _*)
      .withColumn("__deleted", lit(false))
    val full = deletes.fold(up) { d =>
      val tomb = d.select(dataCols.map(c =>
        (if (keyCols.contains(c)) col(c)
         else lit(null).cast(up.schema(c).dataType)).as(c)): _*)
        .withColumn("__deleted", lit(true))
      up.unionByName(tomb)
    }
    commitGeneration(spark, root, full)
  }

  /** Writes `df` as the next generation `root/gen=N` and returns N.
    * N starts one past every listed `gen=` directory, committed or
    * torn, and the writer claims it with an exclusive create, moving on
    * to N+1 while another writer holds it — so each generation has one
    * writer, across threads and processes. A `file:` root claims with
    * `Files.createDirectory`; other schemes create a `_CLAIMED` marker
    * with `overwrite = false`, atomic on HDFS. (Hadoop's `mkdirs`
    * succeeds on an existing directory, and a `rename` onto one moves
    * the source inside it: neither can claim.) The write lands in the
    * claimed directory, and Spark's `_SUCCESS`, written last by the
    * output committer, marks the commit. A failed write deletes the
    * claimed directory and rethrows its error.
    *
    * `at` claims that one generation instead, for a writer whose commit
    * is only valid directly after the state it read: if another writer
    * holds it, nothing is written and an IllegalStateException names the
    * conflict. `marker` is an empty file created in the claimed
    * directory before the data, so whatever it marks is fixed before the
    * generation can commit. */
  private[graft] def commitGeneration(spark: SparkSession, root: String,
      df: DataFrame, at: Option[Long] = None,
      marker: Option[String] = None): Long = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(rootPath)
    def dirOf(g: Long) = new Path(rootPath, s"gen=$g")
    val gen = at match {
      case Some(g) =>
        if (!claim(fs, dirOf(g))) throw new IllegalStateException(
          s"concurrent write: $root/gen=$g was claimed by another writer " +
            "after this one read the generation before it")
        g
      case None =>
        var g = genDirs(spark, root).flatMap(_.lastOption).fold(0L)(_._1 + 1L)
        while (!claim(fs, dirOf(g))) g += 1L
        g
    }
    val dir = dirOf(gen)
    try {
      marker.foreach(m => fs.create(new Path(dir, m), false).close())
      df.write.mode("append").parquet(dir.toString)
    } catch { case NonFatal(e) => fs.delete(dir, true); throw e }
    gen
  }

  /** Creates `dir` exclusively; false when it already exists. */
  private def claim(fs: FileSystem, dir: Path): Boolean =
    try {
      if (fs.getUri.getScheme == "file")
        Files.createDirectory(Paths.get(fs.makeQualified(dir).toUri))
      else fs.create(new Path(dir, "_CLAIMED"), false).close()
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
          _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }

  /** COMMITTED generation numbers under `root`, ascending; None when
    * the root directory does not exist, Some(empty) when it exists
    * but holds no commits. A generation counts as committed only when
    * its `_SUCCESS` marker exists (Spark's output committer writes it
    * last) — a writer dying mid-commit leaves a marker-less torn
    * directory that readers must never treat as a commit. Driver-side
    * directory listing — generation counts are registry-sized, not
    * data-sized. */
  def snapshotGenerations(spark: SparkSession,
      root: String): Option[Seq[Long]] =
    genDirs(spark, root).map(_.filter(_._2).map(_._1))

  /** Every `gen=N` directory under `root` with its committed flag
    * (`_SUCCESS` present), ascending by generation. */
  private[graft] def genDirs(spark: SparkSession,
      root: String): Option[Seq[(Long, Boolean)]] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .map(s => (s.getPath.getName.stripPrefix("gen=").toLong,
        fs.exists(new Path(s.getPath, "_SUCCESS"))))
      .sortBy(_._1))
  }

  /** The table AS OF generation `gen`: for every key, the row from
    * the latest commit ≤ `gen` that wrote it — dropped if that write
    * was a tombstone. One pruned scan + one keyed `max_by` aggregate.
    * `gen` beyond the newest commit reads the current state (Delta's
    * `versionAsOf` rejects that instead; here the registry is cheap
    * to consult via [[snapshotGenerations]] when strictness
    * matters). */
  def readAsOf(spark: SparkSession, root: String, keyCols: Seq[String],
      gen: Long): DataFrame = {
    require(keyCols.nonEmpty, "key columns required")
    // scan COMMITTED generations only (explicit paths + basePath keeps
    // the gen partition column): a torn, marker-less directory from a
    // writer that died mid-commit must stay invisible to readers
    val visible = snapshotGenerations(spark, root)
      .getOrElse(Seq.empty).filter(_ <= gen)
    require(visible.nonEmpty,
      s"no committed generation <= $gen under $root")
    val all = spark.read.option("basePath", root)
      .parquet(visible.map(g => s"$root/gen=$g"): _*)
      .where(col("gen") <= gen)
    val dataCols = all.columns.toSeq
      .filterNot(c => c == "gen" || c == "__deleted")
    val latest = all
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct((dataCols.filterNot(keyCols.contains).map(col) :+
          col("__deleted")): _*), col("gen")).as("__r"))
    latest.where(!col("__r.__deleted"))
      .select(keyCols.map(col) ++
        dataCols.filterNot(keyCols.contains).map(c => col(s"__r.$c").as(c)): _*)
  }

  /** Schema-evolution read: one frame over parquet directories
    * spanning SCHEMA VERSIONS — the normal state of a long-lived
    * lake, where ingest v1 wrote (id, text), v2 added a column, v3
    * widened a type. Each path (one ingest generation — version
    * boundaries are path boundaries, the standard layout) is scanned
    * with ITS OWN schema and projected to `target` by name: present →
    * cast (widening int→long, float→double — exactly the conflicts
    * that make a naive `mergeSchema` footer union FAIL outright),
    * absent in older generations → null (parquet's missing-column
    * semantics). Columns `target` does not name are dropped — the
    * contract is "give me THIS schema over everything ever written".
    * The result is a union of per-generation scans, so filter
    * pushdown and partition pruning apply per scan (plan-asserted). */
  def readEvolved(spark: SparkSession, paths: Seq[String],
      target: org.apache.spark.sql.types.StructType): DataFrame = {
    require(paths.nonEmpty, "at least one path")
    paths.map { p =>
      val df = spark.read.parquet(p)
      val present = df.columns.toSet
      df.select(target.fields.toIndexedSeq.map { f =>
        if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }.reduce(_ unionByName _)
  }

  /** Incremental aggregate maintenance (materialized-view delta
    * update): refresh a (count, sum) rollup from a [[snapshotDiff]]
    * change set WITHOUT rescanning the base table — the O(changes)
    * refresh that keeps a 100 TB table's rollup current when the
    * daily delta is a few GB. Count and sum are abelian-group
    * aggregates, so deletes retract (−1, −v) and inserts contribute
    * (+1, +v); an update whose row moved groups retracts from the old
    * group and contributes to the new. Groups whose count reaches 0
    * disappear (exactly as a full recompute would drop them). Min/max
    * are NOT maintainable this way (a delete can expose an unknown
    * runner-up) — recompute those.
    *
    * `agg` must be the (keyCol, cnt, sum_<valueCol>) frame a previous
    * [[groupRollup]] produced; `changes` a [[snapshotDiff]] output
    * whose compareCols included `keyCol` and `valueCol`. Null values
    * aggregate as 0 in sums and count normally — matching
    * [[groupRollup]].
    *
    * INVARIANT (spec- and oracle-asserted):
    * `maintainRollup(groupRollup(before), snapshotDiff(before, after))
    *  == groupRollup(after)`. */
  def maintainRollup(agg: DataFrame, changes: DataFrame,
      keyCol: String, valueCol: String): DataFrame = {
    val vB = coalesce(col(s"${valueCol}_before").cast(LongType), lit(0L))
    val vA = coalesce(col(s"${valueCol}_after").cast(LongType), lit(0L))
    val retract = changes.where(col("op").isin("delete", "update"))
      .select(col(s"${keyCol}_before").as(keyCol),
        lit(-1L).as("cnt"), (-vB).as(s"sum_$valueCol"))
    val add = changes.where(col("op").isin("insert", "update"))
      .select(col(s"${keyCol}_after").as(keyCol),
        lit(1L).as("cnt"), vA.as(s"sum_$valueCol"))
    agg.unionByName(retract).unionByName(add)
      .groupBy(keyCol)
      .agg(sum("cnt").cast(LongType).as("cnt"),
        sum(s"sum_$valueCol").cast(LongType).as(s"sum_$valueCol"))
      .where(col("cnt") > 0L)
  }

  /** The (count, sum) rollup [[maintainRollup]] maintains: one
    * partial-aggregated shuffle on the key. */
  def groupRollup(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame =
    df.groupBy(keyCol)
      .agg(count(lit(1)).cast(LongType).as("cnt"),
        sum(coalesce(col(valueCol).cast(LongType), lit(0L)))
          .cast(LongType).as(s"sum_$valueCol"))

  /** Data-contract validation — the ingest gate that splits a feed
    * into clean rows and a quarantine WITH REASONS: each rule is a
    * (name, predicate) pair that must AFFIRMATIVELY pass (a null
    * predicate — e.g. `col > 0` over a null — is a violation, not a
    * pass: unknown is not clean). Appends `outCol` = comma-joined
    * names of the failed rules, null when every rule passes, so
    * `where(outCol.isNull)` is the clean feed and the rest goes to
    * the dead-letter path with its diagnosis attached.
    *
    * One narrow codegen'd projection (when/concat_ws over the rule
    * predicates) — no shuffle, no UDF; at 100 TB this is a free rider
    * on the ingest scan. */
  def validate(df: DataFrame, rules: Seq[(String, Column)],
      outCol: String = "violations"): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "rule names must be unique")
    require(!df.columns.contains(outCol),
      s"output column '$outCol' collides — rename one")
    val flags = rules.map { case (name, pred) =>
      when(!coalesce(pred, lit(false)), lit(name))
    }
    df.withColumn(outCol, concat_ws(",", flags: _*))
      .withColumn(outCol,
        when(col(outCol) === "", lit(null)).otherwise(col(outCol)))
  }

  /** Compaction planner — assign every file (or any sized work item)
    * to a target-sized output bin by cumulative size in `orderBy`
    * order: bin = exclusive-running-sum div `targetBytes`, the
    * standard sorted bin-packing OPTIMIZE planners use (each bin
    * reaches the target and may overshoot by at most one file).
    * Ordering by the layout key keeps each output file's key range
    * contiguous, so a compaction of a sorted/z-ordered lake preserves
    * its clustering.
    *
    * The running sum is the two-phase [[PrefixScan]] — range
    * partitions + per-partition totals — never a single-task global
    * window, so the plan holds when the inventory is a billion files.
    * Returns the input plus `running_bytes` (inclusive) and `bin`. */
  def compactionPlan(files: DataFrame, sizeCol: String, targetBytes: Long,
      orderBy: Seq[Column], materialize: Boolean = true): DataFrame = {
    require(targetBytes > 0, "targetBytes must be positive")
    PrefixScan.runningSumBy(files, orderBy, sizeCol,
        outCol = "running_bytes", materialize = materialize)
      .withColumn("bin",
        expr(s"(running_bytes - coalesce(cast(`$sizeCol` as bigint), 0L)) " +
          s"div ${targetBytes}L"))
  }

  /** Rewrite the parquet directory at `src` into `dest` with
    * ~`targetBytesPerFile` files (parquet→parquet, so on-disk sizes
    * are comparable before/after; the split is by current compressed
    * bytes, an estimate good to the compression-ratio drift between
    * layouts). One job: a scan + round-robin repartition to
    * ceil(total/target) + write — no shuffle keys, so AQE cannot
    * collapse it back into few oversized tasks. `dest` must differ
    * from `src`: the caller owns the atomic swap (rename/catalog
    * pointer flip), because "overwrite the directory I am reading"
    * is not crash-safe on any object store. */
  def compactTo(spark: SparkSession, src: String, dest: String,
      targetBytesPerFile: Long = 128L << 20): Long = {
    require(targetBytesPerFile > 0, "target size must be positive")
    require(new Path(src) != new Path(dest),
      "compact to a NEW directory, then swap — in-place is not crash-safe")
    val total = health(spark, src, smallBytes = 0L).totalBytes
    val nFiles =
      math.max(1L, (total + targetBytesPerFile - 1) / targetBytesPerFile)
    require(nFiles <= Int.MaxValue, "file target overflows partitioning")
    spark.read.parquet(src)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(dest)
    nFiles
  }
}
