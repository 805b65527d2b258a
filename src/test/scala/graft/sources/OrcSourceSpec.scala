package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class OrcSourceSpec extends SparkSpec {
  import spark.implicits._

  test("write → schema-pinned read round-trips rows and types") {
    val dir = Files.createTempDirectory("orc_spec").toString
    val src = Seq((1L, "a", 10), (2L, "b", 20), (3L, null, 30))
      .toDF("id", "name", "v")
    src.write.mode("overwrite").orc(dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType), StructField("v", IntegerType)))
    val back = OrcSource.read(spark, dir, Some(schema))
      .orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      === Seq((1L, "a", 10), (2L, "b", 20), (3L, null, 30)))
  }

  test("partitioned layout prunes: a partition filter reads one " +
      "directory, and null partition values round-trip as null") {
    val dir = Files.createTempDirectory("orc_part").toString
    val src = Seq((1L, "en"), (2L, "de"), (3L, null.asInstanceOf[String]))
      .toDF("id", "lang")
    OrcSource.writePartitioned(src, dir, Seq("lang"))
    val back = OrcSource.read(spark, dir)
    assert(back.count() === 3L)
    assert(back.where(col("lang").isNull).select("id").as[Long].collect()
      .toSeq === Seq(3L))
    val plan = back.where(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("isnotnull(lang"),
      s"partition filter not pushed:\n$plan")
  }
}
