package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every entry point (`Bench`, `Verify`,
  * `Harness`, `StreamSoak`, the specs) gets its session here, so the
  * measured, verified and tested configurations cannot drift apart.
  * Idempotent: `getOrCreate` returns the running session. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else 4: the local core count of the harness
    * mains. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** A `local[cores]` session with one shuffle partition per core.
    * Explicit here, not inherited from build.sbt javaOptions: bench,
    * verify and specs must agree on timestamp semantics whatever
    * launches them. */
  def local(cores: Int = envCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has TIMESTAMP(NANOS), which Spark rejects by
      // default; read as long (epoch nanos) and convert where needed
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // PER-PROCESS warehouse: bucketed-table queries write managed
      // tables; a shared ./spark-warehouse let a concurrent process
      // (another Verify tier, a spec run) overwrite them mid-read —
      // observed once as a bucketed_join count mismatch at sf1.
      .config("spark.sql.warehouse.dir", WarehouseDir.path)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
