package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {

  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "spark shuffle join spark spark"), // tf(spark)=3, short
      (2L, "spark hash join and the table scan plan"), // tf(spark)=1
      (3L, "rows and columns and the batch"), // no query terms
      (4L, "spark spark"), // tf=2, very short doc
      (5L, "quantum flux")) // rare terms only
      .toDF("doc_id", "text")
  }

  test("bm25: higher tf wins at similar length, non-matching docs absent") {
    val idx = Bm25.fit(corpus, "doc_id", "text")
    val got = Bm25.search(idx, Seq("spark"), k = 10).collect()
    val ids = got.map(_.getLong(0))
    assert(!ids.contains(3L) && !ids.contains(5L))
    // doc 4 (tf 2 over dl 2) outranks doc 2 (tf 1 over dl 8)
    val score = got.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(score(1L) > score(2L))
    assert(score(4L) > score(2L))
  }

  test("bm25: rare query term contributes more than a stopword-like one") {
    val idx = Bm25.fit(corpus, "doc_id", "text")
    // "quantum" appears in 1/5 docs, "and" in 2/5 — doc 5's single
    // rare term must outscore doc 3's single common term
    val got = Bm25.search(idx, Seq("quantum", "and"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(5L) > got(3L))
  }

  test("bm25 score is partitioning-independent (decimal contributions)") {
    import spark.implicits._
    val docs = (1 to 300).map { i =>
      (i.toLong, ("w" + i % 17 + " ") * (i % 9 + 1) + "spark merge sort")
    }.toDF("doc_id", "text")
    val a = Bm25.search(Bm25.fit(docs, "doc_id", "text"),
      Seq("spark", "w3", "w9"), k = 20).collect().toSeq
    val b = Bm25.search(Bm25.fit(docs.repartition(13), "doc_id", "text"),
      Seq("spark", "w3", "w9"), k = 20).collect().toSeq
    assert(a == b)
  }

  test("bm25 search plans broadcast idf join + TakeOrderedAndProject") {
    val idx = Bm25.fit(corpus, "doc_id", "text")
    val plan = Bm25.search(idx, Seq("spark", "join"), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no top-k plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), s"idf side not broadcast:\n$plan")
  }

  test("bm25: null-text docs contribute dl=0, never poison avgdl") {
    import spark.implicits._
    val docs = Seq((1L, Some("spark join spark")), (2L, None),
      (3L, Some("spark"))).toDF("doc_id", "text")
    val idx = Bm25.fit(docs, "doc_id", "text")
    assert(idx.nDocs == 3L)
    // avgdl = (3 + 0 + 1) / 3 — the null doc counts as zero tokens
    assert(math.abs(idx.avgdl - 4.0 / 3.0) < 1e-12, s"avgdl ${idx.avgdl}")
    val got = Bm25.search(idx, Seq("spark"), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
  }

  test("bm25 degenerate inputs: empty corpus, empty query") {
    import spark.implicits._
    val emptyIdx = Bm25.fit(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text")
    assert(Bm25.search(emptyIdx, Seq("x"), 5).count() == 0L)
    val idx = Bm25.fit(corpus, "doc_id", "text")
    assert(Bm25.search(idx, Seq.empty, 5).count() == 0L)
    assert(Bm25.search(idx, Seq("zzz_absent"), 5).count() == 0L)
  }

  test("searchBatch parity: each query's rows equal single-query search") {
    import spark.implicits._
    val idx = Bm25.fit(corpus, "doc_id", "text")
    val queries = Seq(
      ("q1", Seq("spark", "hash")),
      ("q2", Seq("QUANTUM", "and", "and")), // case-folds, dedups
      ("q3", Seq("nosuchterm"))).toDF("qid", "terms")
    val batch = Bm25.searchBatch(idx, queries, "qid", "terms", k = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
      .groupBy(_._1)
    for ((qid, terms) <- Seq("q1" -> Seq("spark", "hash"),
        "q2" -> Seq("quantum", "and"))) {
      val single = Bm25.search(idx, terms, k = 3).collect().zipWithIndex
        .map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), r.getDouble(2), i + 1L) }
      assert(batch(qid).sortBy(_._5).toSeq == single.toSeq, qid)
    }
    // a query with no indexed terms yields no rows
    assert(!batch.contains("q3"))
  }

  test("searchBatch ranks within each query and cuts at k") {
    import spark.implicits._
    val idx = Bm25.fit(corpus, "doc_id", "text")
    val queries = Seq(("q", Seq("spark", "and", "the"))).toDF("qid", "terms")
    val rows = Bm25.searchBatch(idx, queries, "qid", "terms", k = 2)
      .collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(4)).sorted.toSeq == Seq(1L, 2L))
  }

  test("searchBatch plans WindowGroupLimit, no global sort of postings") {
    import spark.implicits._
    val idx = Bm25.fit(corpus, "doc_id", "text")
    val queries = Seq(("q1", Seq("spark"))).toDF("qid", "terms")
    val plan = Bm25.searchBatch(idx, queries, "qid", "terms", k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("save/load roundtrip: reopened index answers identically") {
    val idx = Bm25.fit(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25-save").toString
    Bm25.save(idx, s"$dir/idx")
    val re = Bm25.load(spark, s"$dir/idx")
    assert(re.nDocs == idx.nDocs && re.totalDl == idx.totalDl)
    val terms = Seq("spark", "hash", "and")
    assert(Bm25.search(re, terms, 10).collect().toSeq ==
      Bm25.search(idx, terms, 10).collect().toSeq)
  }

  test("searchBatch without broadcast answers identically (corpus-scale query path)") {
    import spark.implicits._
    val idx = Bm25.fit(corpus, "doc_id", "text")
    val queries = Seq(("q1", Seq("spark", "hash")),
      ("q2", Seq("quantum", "and"))).toDF("qid", "terms")
    val bc = Bm25.searchBatch(idx, queries, "qid", "terms", k = 5)
      .orderBy("qid", "rank").collect().toSeq
    val sh = Bm25.searchBatch(idx, queries, "qid", "terms", k = 5,
      broadcastQueries = false).orderBy("qid", "rank").collect().toSeq
    assert(bc == sh)
  }

  test("phraseQuery finds only consecutive in-order matches, counts " +
      "overlapping occurrences, and normalizes case") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big data is big data"),        // 2 occurrences
      (2L, "data big"),                    // reversed: no match
      (3L, "big red data"),                // gap: no match
      (4L, "Big Data rocks"),              // case-insensitive: 1
      (5L, "ha ha ha"),                    // overlap fixture
      (6L, "nothing here")).toDF("doc_id", "text")
    val out = Bm25.phraseQuery(docs, "doc_id", "text",
      Seq("big", "data")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 4L -> 1L))
    // overlapping matches each count ("ha ha" twice inside "ha ha ha")
    val ov = Bm25.phraseQuery(docs, "doc_id", "text", Seq("ha", "ha"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ov === Map(5L -> 2L))
    // single-term phrase counts term occurrences
    val single = Bm25.phraseQuery(docs, "doc_id", "text", Seq("big"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(single === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    intercept[IllegalArgumentException] {
      Bm25.phraseQuery(docs, "doc_id", "text", Nil)
    }
  }

  test("prfSearch: fbTerms=0 equals plain search; expansion pulls in " +
      "documents sharing only feedback-doc vocabulary; seed terms are " +
      "never expansion candidates") {
    import spark.implicits._
    // seed 'spark' matches docs 1/2; doc 2 also says 'hash plan';
    // doc 6 shares ONLY the feedback vocabulary ('join', 'shuffle') —
    // invisible to the seed query, reachable after expansion
    val docs = Seq(
      (1L, "spark shuffle join spark"),
      (2L, "spark hash join plan"),
      (3L, "rows and columns batch"),
      (6L, "shuffle join shuffle join")).toDF("doc_id", "text")
    val idx = Bm25.fit(docs, "doc_id", "text")
    val plain = Bm25.search(idx, Seq("spark"), k = 10)
      .collect().map(_.toSeq).toSeq
    val noExp = Bm25.prfSearch(idx, Seq("spark"), k = 10, fbDocs = 2,
      fbTerms = 0).collect().map(_.toSeq).toSeq
    assert(noExp == plain, "fbTerms=0 must degenerate to plain search")
    assert(!plain.exists(_.head == 6L))
    val expanded = Bm25.prfSearch(idx, Seq("spark"), k = 10,
      fbDocs = 2, fbTerms = 3)
    val ids = expanded.collect().map(_.getLong(0)).toSet
    assert(ids.contains(6L),
      "expansion must surface the feedback-vocabulary-only doc")
    // a doc matching nothing stays absent
    assert(!ids.contains(3L))
    intercept[IllegalArgumentException] {
      Bm25.prfSearch(idx, Seq("spark"), k = 10, fbDocs = 0)
    }
  }
}
