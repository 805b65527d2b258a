package graft.sources

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** ORC ingest/egress — the third columnar lake format next to parquet
  * and JSONL (Hive-ecosystem pipelines hand off ORC as often as
  * parquet; Spark's native vectorized ORC reader makes it a
  * first-class scan source with the same pushdown/pruning behavior the
  * plan audits assert for parquet).
  *
  * Same shape discipline as [[CsvSource]]/[[JsonlSource]]: reads pin
  * the schema explicitly when the caller knows it — schema inference
  * over a 100 TB directory is a full footer-listing job, and a drifted
  * file silently widening a column is exactly the bug a pinned schema
  * turns into a loud read error.
  */
object OrcSource {

  /** Read an ORC directory; pass `schema` to pin column types (else
    * Spark merges footers — fine for dev, not for 100 TB). */
  def read(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.format("orc")
    schema.fold(r)(s => r.schema(s)).load(path)
  }

  /** Hive-style partitioned ORC layout (`col=value/` directories) —
    * the layout that makes downstream partition pruning work. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partition columns required")
    df.write.mode("overwrite").option("compression", "zlib")
      .partitionBy(partitionCols: _*).orc(path)
  }
}
