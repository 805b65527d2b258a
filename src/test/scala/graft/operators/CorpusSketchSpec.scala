package graft.operators

import graft.SparkSpec

class CorpusSketchSpec extends SparkSpec {
  import spark.implicits._

  test("exactOverlapPairs: hand-checked intersection, jaccard, containments") {
    val d = Seq(
      ("x", "w1 w2 w3 w4"),       // shingles: {w1 w2 w3, w2 w3 w4}
      ("y", "w1 w2 w3"),          // shingles: {w1 w2 w3}
      ("z", "q1 q2 q3 q4")        // disjoint
    ).toDF("src", "text")
    val rows = CorpusSketch.exactOverlapPairs(d, "src", "text")
      .collect()
    assert(rows.length === 1) // only (x, y) share anything
    val r = rows.head
    assert(r.getString(0) === "x" && r.getString(1) === "y")
    assert(r.getLong(2) === 1L)           // n_inter
    assert(r.getLong(3) === 2L)           // n_a (x)
    assert(r.getLong(4) === 1L)           // n_b (y)
    assert(r.getDouble(5) === 0.5)        // jaccard 1/(2+1-1)
    assert(r.getDouble(6) === 0.5)        // cont x in y = 1/2
    assert(r.getDouble(7) === 1.0)        // cont y in x = 1/1 — swallowed
  }
}
