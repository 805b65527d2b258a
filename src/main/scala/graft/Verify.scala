package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB compare (`SPARK_GRAFT_ONLY` limits
  * both to a subset, see [[Harness]]).
  *
  * Failures are loud: every query that throws is named, with its error,
  * in `<outDir>/failed.json` (written on every run, `{}` when all
  * succeed), and the process exits 1 after the dump completes. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failed = Harness.queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
    def json(kvs: Iterable[(String, String)]): String = kvs
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      json(SparkEntry.oracleSql.filter(kv => Harness.selected(kv._1))))
    Files.writeString(Paths.get(s"$outDir/failed.json"), json(failed))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}
