package graft.operators

import org.apache.spark.sql.SparkSession

/** Parquet persistence for the small driver-side index parameters
  * (centroid matrices, PQ codebooks, rotations) that the fit-offline /
  * search-online split must carry alongside the big codes tables. Each
  * helper writes plain parquet, so an artifact lands on whatever shared
  * filesystem the cluster uses and a separate search job can reopen the
  * WHOLE index from one root path — no in-memory arrays smuggled across
  * jobs (the gap that made `PqIndex.load`-style constructors
  * fit-process-only).
  *
  * Row shapes: a matrix is `(i, values array<float>)`, a codebook set
  * is `(sub, code, values array<float>)` — both driver-tiny by
  * construction (nClusters × dim, m × codesPerBook × subDim).
  */
private[operators] object IndexArtifacts {

  def writeMatrix(spark: SparkSession, m: Array[Array[Float]],
      path: String): Unit = {
    import spark.implicits._
    m.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
      .toDF("i", "values").write.mode("overwrite").parquet(path)
  }

  def readMatrix(spark: SparkSession, path: String): Array[Array[Float]] =
    spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("i")),
        r.getSeq[Float](r.fieldIndex("values")).toArray))
      .sortBy(_._1).map(_._2)

  def writeBooks(spark: SparkSession,
      books: Array[Array[Array[Float]]], path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cent, c) => (s, c, cent.toSeq) }
    }.toSeq.toDF("sub", "code", "values")
      .write.mode("overwrite").parquet(path)
  }

  def readBooks(spark: SparkSession,
      path: String): Array[Array[Array[Float]]] =
    spark.read.parquet(path).collect()
      .map(r => (r.getInt(r.fieldIndex("sub")),
        r.getInt(r.fieldIndex("code")),
        r.getSeq[Float](r.fieldIndex("values")).toArray))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
}
