package graft.operators

import graft.SparkSpec

import scala.util.Random

class DedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("dropRepeatedLinesInDoc keeps first occurrences in order, " +
      "later duplicates drop, distinct lines untouched") {
    import spark.implicits._
    val df = Seq(
      (1L, "a\nb\na\nc\nb\nd"),
      (2L, "x\nx\nx"),
      (3L, "only")
    ).toDF("id", "t")
    val got = df.select($"id",
      Dedup.dropRepeatedLinesInDoc($"t").as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "a\nb\nc\nd")
    assert(got(2L) === "x")
    assert(got(3L) === "only")
    // narrow plan: no shuffle, no join
    val plan = df.select(Dedup.dropRepeatedLinesInDoc($"t"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.toLowerCase.contains("join"),
      plan)
  }

  test("exactFirstWins keeps lowest-order row per key") {
    import spark.implicits._
    val df = Seq((1L, "k1", "a"), (2L, "k1", "b"), (3L, "k2", "c"),
      (4L, "k2", "d"), (5L, "k3", "e")).toDF("id", "key", "payload")
    val out = Dedup.exactFirstWins(df, Seq("key"), Seq("id"))
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    assert(out.map(_.getString(2)).toSeq == Seq("a", "c", "e"))
  }

  test("minhash signature of an empty shingle set is null even for " +
      "non-nullable literal input (codegen regression)") {
    import graft.functions.TextFunctions._
    import spark.implicits._
    // "a b" has < 3 tokens → empty shingle array → null signature;
    // literal input makes the child non-nullable, exercising the
    // nullable-override codegen path
    val row = Seq(1).toDF("x")
      .select(Dedup.minhashSignature(shingles(lit("a b"), 3), 8).as("sig"))
      .collect()(0)
    assert(row.isNullAt(0))
    val ok = Seq(1).toDF("x")
      .select(Dedup.minhashSignature(shingles(lit("a b c d"), 3), 8))
      .head.getSeq[Int](0)
    assert(ok.length == 8)
  }

  test("removeRepeatedLines drops corpus-frequent lines (trimmed key, " +
      "distinct-doc frequency), keeps order, empties all-boilerplate docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "keep me one\nSUBSCRIBE NOW\nunique tail one"),
      // trailing space: the trimmed key still matches the boilerplate
      (2L, "different body\nSUBSCRIBE NOW \nanother line"),
      (3L, "SUBSCRIBE NOW"),
      // within-doc repetition is ONE distinct doc -> never dropped
      (4L, "self repeat\nself repeat\nclosing")
    ).toDF("id", "text")
    val out = Dedup.removeRepeatedLines(docs, "id", "text",
      delimiter = "\n", minDocFreq = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("keep me one\nunique tail one", 3L, 2L)))
    assert(out(2L) == (("different body\nanother line", 3L, 2L)))
    assert(out(3L) == (("", 1L, 0L)))
    assert(out(4L) == (("self repeat\nself repeat\nclosing", 3L, 3L)))
  }

  // Deterministic corpus: 30 base docs of 40 words; every third doc
  // gets a planted near-duplicate with 2 words substituted.
  private def plantedCorpus: (Seq[(Long, String)], Set[(Long, Long)]) = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu", "nu",
      "xi", "omicron", "pi", "rho", "sigma", "tau", "upsilon")
    val rnd = new Random(7)
    val base = (0 until 30).map { i =>
      i.toLong -> Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val dups = base.collect { case (id, text) if id % 3 == 0 =>
      val words = text.split(" ")
      words(5) = "changed"
      words(25) = "words"
      (id + 100L) -> words.mkString(" ")
    }
    val expected = dups.map { case (dupId, _) => (dupId - 100L, dupId) }.toSet
    (base ++ dups, expected)
  }

  test("MinHash LSH finds planted near-duplicates, no false positives") {
    import spark.implicits._
    val (docs, expected) = plantedCorpus
    val df = docs.toDF("id", "text")
    val pairs = Dedup.nearDupPairsMinHash(df, "id", "text",
      shingleWidth = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pairs intersect expected).size.toDouble / expected.size
    assert(recall >= 0.9, s"recall $recall over ${expected.size} planted pairs")
    // verification step guarantees precision: every reported pair has
    // exact jaccard >= threshold, so unrelated random docs never pair
    assert((pairs -- expected).isEmpty, s"false positives: ${pairs -- expected}")
  }

  test("jaccardPairsExact equals brute force at a non-dyadic threshold " +
      "(prefix-filter completeness + floor-robust cuts)") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val (docs, _) = plantedCorpus
    val df = docs.toDF("id", "text")
    // 0.3: t·n is inexact in doubles (the ceil-overestimate trap), and
    // low enough that random 20-word-vocab docs create incidental
    // qualifying pairs beyond the planted ones
    val got = Dedup.jaccardPairsExact(df, "id", "text",
      shingleWidth = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // brute force: every pair, exact set jaccard over the same shingles
    val sh = df.select(col("id"),
      array_distinct(shingles(col("text"), 3)).as("sh"))
    val brute = sh.select(col("id").as("id_a"), col("sh").as("sha"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("shb")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb")))).as("j"))
      .where(col("j") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(brute.nonEmpty, "test corpus produced no qualifying pairs")
    assert(got == brute,
      s"missed: ${brute -- got}\nextra: ${got -- brute}")
  }

  test("jaccardProbeExact flags exactly the brute-force cross matches") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val (docs, _) = plantedCorpus
    val df = docs.toDF("id", "text")
    val got = Dedup.jaccardProbeExact(
      df.filter(col("id") >= 100), df.filter(col("id") < 100),
      "id", "text", shingleWidth = 3, threshold = 0.3)
      .collect().map(_.getLong(0)).toSet
    val sh = df.select(col("id"),
      array_distinct(shingles(col("text"), 3)).as("sh"))
    val brute = sh.filter(col("id") >= 100)
      .select(col("id").as("idp"), col("sh").as("shp"))
      .crossJoin(sh.filter(col("id") < 100)
        .select(col("sh").as("shc")))
      .select(col("idp"),
        (size(array_intersect(col("shp"), col("shc"))).cast("double") /
          size(array_union(col("shp"), col("shc")))).as("j"))
      .where(col("j") >= 0.3)
      .select("idp").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(brute.nonEmpty, "no planted cross matches")
    assert(got == brute, s"missed: ${brute -- got}, extra: ${got -- brute}")
  }

  test("dedupNearMinHash drops the higher id of each pair") {
    import spark.implicits._
    val (docs, expected) = plantedCorpus
    val df = docs.toDF("id", "text")
    val kept = Dedup.dedupNearMinHash(df, "id", "text", threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val dropped = docs.map(_._1).toSet -- kept
    // dropped ids are exactly (modulo LSH recall) the planted dup ids
    assert(dropped.subsetOf(expected.map(_._2)))
    assert(dropped.size >= (expected.size * 0.9).toInt)
  }

  test("SimHash pairs identical and near-identical docs") {
    import spark.implicits._
    // longer doc: one-word edits move few bits (vote margins ~sqrt(n))
    val base = Seq("the quick brown fox jumps over the lazy dog",
      "a stitch in time saves nine every single day",
      "pack my box with five dozen liquor jugs now",
      "how vexingly quick daft zebras jump around here",
      "sphinx of black quartz judge my vow tonight").mkString(" ")
    val df = Seq(
      1L -> base,
      2L -> base, // identical → hamming 0
      3L -> base.replace("today", "tomorrow").replace("zebras", "horses"),
      4L -> "completely unrelated text about spark catalyst optimizer internals rules"
    ).toDF("id", "text")
    val pairs = Dedup.nearDupPairsSimHash(df, "id", "text",
      maxHamming = 12, bands = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("simhash maxHamming beyond the band guarantee is rejected") {
    import spark.implicits._
    val df = Seq(1L -> "a b c").toDF("id", "text")
    intercept[IllegalArgumentException] {
      Dedup.nearDupPairsSimHash(df, "id", "text", maxHamming = 10)
    }
  }

  test("dedupNearMinHash chain semantics: A~B~C with A!~C keeps A and C " +
      "(independent-set policy)") {
    import spark.implicits._
    // 3-shingle Jaccards by construction: J(a,b) = J(b,c) = 7/9 ≈ 0.78
    // (one token substituted at opposite ends), J(a,c) = 6/10 = 0.6 —
    // so at threshold 0.7 the verified pairs are exactly A~B and B~C
    val a = "one two three four five six seven eight nine ten"
    val b = "one two three four five six seven eight nine eleven"
    val c = "zero two three four five six seven eight nine eleven"
    val df = Seq(1L -> a, 2L -> b, 3L -> c).toDF("id", "text")
    val pairs = Dedup.nearDupPairsMinHash(df, "id", "text", threshold = 0.7)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 2L), (2L, 3L)))
    val kept = Dedup.dedupNearMinHash(df, "id", "text", threshold = 0.7)
      .collect().map(_.getLong(0)).toSet
    // B is a near-dup of kept A → dropped; C's only near-dup B was
    // dropped and C !~ A → C is kept
    assert(kept == Set(1L, 3L))
    // stricter cluster-collapse policy: one representative per component
    val keptCc = Dedup.dedupNearMinHash(df, "id", "text", threshold = 0.7,
      policy = Dedup.NearDupPolicy.ComponentRep)
      .collect().map(_.getLong(0)).toSet
    assert(keptCc == Set(1L))
  }

  /** `dedupNearMinHash`'s output columns and kept ids (as sorted
    * strings) on the Spark side and the in-process side of the gate. */
  private def keptOnBothSides(df: org.apache.spark.sql.DataFrame,
      threshold: Double, policy: Dedup.NearDupPolicy)
      : ((Seq[String], Seq[String]), (Seq[String], Seq[String])) = {
    def kept(budget: Long) = {
      val out = Dedup.dedupNearMinHashWithin(df, "id", "text", 3, 64, 16,
        threshold, policy, budget)
      (out.columns.toSeq,
        out.select("id").collect().map(r => String.valueOf(r.get(0))).toSeq.sorted)
    }
    (kept(0L), kept(Long.MaxValue))
  }

  test("dedupNearMinHash keeps the same ids on both sides of the " +
      "collect gate, under both policies") {
    import spark.implicits._
    val (docs, _) = plantedCorpus
    val a = "one two three four five six seven eight nine ten"
    val b = "one two three four five six seven eight nine eleven"
    val c = "zero two three four five six seven eight nine eleven"
    val hot = "the same boilerplate page repeated across a crawl"
    val fixtures = Seq(
      "planted" -> (docs.toDF("id", "text").repartition(3), 0.5),
      "chain" -> (Seq(1L -> a, 2L -> b, 3L -> c).toDF("id", "text"), 0.7),
      // null and empty text never pair; a null id never pairs and is kept
      "null/empty text" -> (Seq[(Option[Long], String)](Some(1L) -> null,
        Some(2L) -> "", Some(3L) -> "a b", Some(4L) -> a, Some(5L) -> b,
        None -> b, Some(6L) -> null, Some(7L) -> c).toDF("id", "text"), 0.7),
      "empty frame" -> (Seq.empty[(Long, String)].toDF("id", "text"), 0.7),
      // 1 001 identical docs fill one bucket per band past the prune
      // bound, so none of them pairs; the chain beside them still does
      "hot bucket" -> (((0 until 1001).map(i => (i.toLong + 10L, hot)) ++
        Seq(1L -> a, 2L -> b, 3L -> c)).toDF("id", "text"), 0.7))
    var droppedSomewhere = 0
    for ((name, (df, t)) <- fixtures;
         policy <- Seq(Dedup.NearDupPolicy.IndependentSet,
           Dedup.NearDupPolicy.ComponentRep)) {
      val (viaSpark, local) = keptOnBothSides(df, t, policy)
      assert(local == viaSpark, s"$name / $policy")
      assert(local._1.head == "id", s"$name: ${local._1}")
      droppedSomewhere += (df.count() - local._2.length).toInt
    }
    assert(droppedSomewhere > 0)
    val (_, hotKept) = keptOnBothSides(fixtures.last._2._1, 0.7,
      Dedup.NearDupPolicy.IndependentSet)
    assert(hotKept._2.length == 1001 + 2, "hot bucket pruned, B dropped")
  }

  test("dedupNearMinHash under the gate runs the collect and the " +
      "result's own job") {
    import spark.implicits._
    val (docs, _) = plantedCorpus
    // a materialized input, as a pipeline stage hands it over
    val df = docs.toDF("id", "text").repartition(3).localCheckpoint(true)
    val (n, jobs) = jobsOf(Dedup.dedupNearMinHash(df, "id", "text",
      threshold = 0.5).count())
    assert(n < docs.length)
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("connectedComponents labels chains, triangles and singleton pairs") {
    import spark.implicits._
    // components: {1,2,3,4} (path), {10,11,12} (triangle), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (11L, 12L), (10L, 12L), (20L, 21L)).toDF("idA", "idB")
    val comp = Dedup.connectedComponents(edges, "idA", "idB")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents handles a long path in O(log n) rounds") {
    import spark.implicits._
    val n = 64
    val edges = (0 until n).map(i => (i.toLong, i + 1L)).toDF("idA", "idB")
    val comp = Dedup.connectedComponents(edges, "idA", "idB").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(comp.length == n + 1)
    assert(comp.forall(_._2 == 0L))
  }

  test("connectedComponents fails loud instead of returning unconverged labels") {
    import spark.implicits._
    val edges = (0 until 64).map(i => (i.toLong, i + 1L)).toDF("idA", "idB")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, "idA", "idB", maxRounds = 1)
    }
  }

  test("cosine LSH band amplification keeps recall at the threshold") {
    import spark.implicits._
    val rnd = new Random(5)
    val dim = 32
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    // pairs engineered at cosine ≈ 0.96 — NOT near-identical, the
    // regime where a single 12-bit code collapses to ~30% recall
    val cos = 0.96f
    val pairs = (0 until 40).map { i =>
      val aRaw = unit(Array.fill(dim)(rnd.nextGaussian().toFloat))
      val o = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val proj = aRaw.zip(o).map { case (x, y) => x * y }.sum
      val orth = unit(o.zip(aRaw).map { case (y, x) => y - proj * x })
      val bVec = aRaw.zip(orth).map { case (x, y) =>
        cos * x + math.sqrt(1 - cos * cos).toFloat * y
      }
      (i.toLong, aRaw, i.toLong + 1000L, bVec)
    }
    val df = pairs.flatMap { case (ia, va, ib, vb) =>
      Seq((ia, va), (ib, vb))
    }.toDF("id", "vec")
    val found = Dedup.nearDupPairsCosine(df, "id", "vec", dim,
      threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = pairs.map { case (ia, _, ib, _) => (ia, ib) }.toSet
    val recall = (found intersect expected).size.toDouble / expected.size
    assert(recall >= 0.7, s"recall $recall with 4x8 amplified tables")
  }

  test("cosine LSH finds near-identical embeddings") {
    import spark.implicits._
    val rnd = new Random(11)
    val dim = 16
    val base = (0 until 20).map { i =>
      i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val dups = base.take(5).map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.01f
      (id + 100L) -> w
    }
    val df = (base ++ dups).toDF("id", "vec")
    val pairs = Dedup.nearDupPairsCosine(df, "id", "vec", dim,
      threshold = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = dups.map { case (dupId, _) => (dupId - 100L, dupId) }.toSet
    // hyperplane LSH is probabilistic; near-identical vectors land in
    // the same bucket unless a plane splits the tiny angle
    assert((pairs intersect expected).size >= 4,
      s"found ${pairs intersect expected} of $expected")
    assert((pairs -- expected).isEmpty)
  }

  test("semanticDedupPairs: true duplicates always meet (co-located " +
      "cells), distinct vectors never pair") {
    import spark.implicits._
    val rnd = new Random(7)
    val dim = 16
    // 30 well-separated base vectors + near-identical twins of 8
    val base = (0 until 30).map { i =>
      i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val dups = base.take(8).map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.005f
      (id + 100L) -> w
    }
    val df = (base ++ dups).toDF("id", "vec")
    val pairs = Dedup.semanticDedupPairs(df, "id", "vec", nClusters = 4,
      threshold = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = dups.map { case (d, _) => (d - 100L, d) }.toSet
    // identical-to-epsilon vectors share a nearest centroid by
    // construction — recall on true twins is exact, not probabilistic
    assert(expected.subsetOf(pairs),
      s"missed ${expected -- pairs} of $expected")
    assert((pairs -- expected).isEmpty, s"spurious ${pairs -- expected}")
  }

  test("semanticDedupPairsWithCentroids: caller centroids reproduce the " +
      "in-cell selection; twins still always meet") {
    import spark.implicits._
    val rnd = new Random(11)
    val dim = 16
    val base = (0 until 24).map { i =>
      i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    val dups = base.take(6).map { case (id, v) =>
      val w = v.clone(); w(0) = w(0) + 0.004f
      (id + 100L) -> w
    }
    val df = (base ++ dups).toDF("id", "vec")
    // bring-your-own centroids: 4 of the base vectors — the offline-
    // fit/online-dedup split; twins co-locate under ANY centroid set
    // because nearest-centroid is deterministic in the vector
    val cents = base.take(4).map(_._2).toArray
    val pairs = Dedup.semanticDedupPairsWithCentroids(df, "id", "vec",
      cents, threshold = 0.99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = dups.map { case (d, _) => (d - 100L, d) }.toSet
    assert(expected.subsetOf(pairs),
      s"missed ${expected -- pairs} of $expected")
    assert((pairs -- expected).isEmpty, s"spurious ${pairs -- expected}")
  }

  test("semanticDedup keeps one representative per duplicate group") {
    import spark.implicits._
    val rnd = new Random(13)
    val dim = 12
    val base = (0 until 20).map { i =>
      i.toLong -> Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    // ids 0 and 1 get two twins each → groups {0,100,200}, {1,101,201}
    val dups = base.take(2).flatMap { case (id, v) =>
      Seq(id + 100L, id + 200L).map { nid =>
        val w = v.clone(); w(1) = w(1) + 0.003f * (nid % 7 + 1); nid -> w
      }
    }
    val df = (base ++ dups).toDF("id", "vec")
    val kept = Dedup.semanticDedup(df, "id", "vec", nClusters = 3,
      threshold = 0.99).select("id").collect().map(_.getLong(0)).toSet
    // lowest id of each group survives, twins drop, everyone else stays
    assert(kept.contains(0L) && kept.contains(1L))
    assert(Set(100L, 200L, 101L, 201L).forall(!kept.contains(_)),
      s"twins survived: $kept")
    assert((2 until 20).forall(i => kept.contains(i.toLong)))
  }

  test("dupSpanStats: cross-doc shared substring merges into one span, " +
      "hand-checked; short docs drop out") {
    import spark.implicits._
    // shared run "abcde" (5 chars) at doc1[1..5] and doc2[3..7], k=4:
    // dup grams abcd+bcde → doc1 positions {1,2}, doc2 positions {3,4}
    val df = Seq(
      (1L, "abcdefgh"),
      (2L, "xxabcdexx"),
      (3L, "zz") // shorter than k → dropped
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpanStats(df, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(out.length == 2)
    // doc1: 5 positions, dup {1,2} → span [1,5] = "abcde"
    assert(out(0) == ((1L, 5L, 2L, 1L, 5L, 5L, 0.4)))
    // doc2: 6 positions, dup {3,4} → span [3,7] = "abcde"
    assert(out(1) == ((2L, 6L, 2L, 1L, 5L, 5L, 2.0 / 6.0)))
  }

  test("dupSpanStats: WITHIN-doc repetition counts (Lee et al. " +
      "self-repetition) and distant repeats form separate spans") {
    import spark.implicits._
    // "abcabcabc": k=3 grams abc(1,4,7) bca(2,5) cab(3,6) — all dup
    val rep = Seq((1L, "abcabcabc")).toDF("doc_id", "text")
    val r = Dedup.dupSpanStats(rep, "doc_id", "text", k = 3).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5)) == ((7L, 7L, 1L, 9L, 9L)))
    // two distant copies of one gram, gap > k → two spans
    val far = Seq((1L, "abcd0123456789abcd")).toDF("doc_id", "text")
    val f = Dedup.dupSpanStats(far, "doc_id", "text", k = 4).head()
    assert((f.getLong(2), f.getLong(3), f.getLong(4), f.getLong(5)) ==
      ((2L, 2L, 8L, 4L)))
  }

  test("benchmarkOverlap: contaminated positions hand-checked; " +
      "clean docs report zero; hashed equals literal") {
    import spark.implicits._
    val benchmark = Seq((100L, "abcdefghij")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "xxcdefghxx"), // grams cdef, defg, efgh hit the benchmark
      (2L, "zzzzzzzzzz"), // no overlap
      (3L, "ab")          // shorter than k → dropped
    ).toDF("doc_id", "text")
    val out = Dedup.benchmarkOverlap(corpus, benchmark, "doc_id", "text",
      k = 4, hashGrams = false).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      (1L, 7L, 3L, 3.0 / 7.0),
      (2L, 7L, 0L, 0.0)))
    val hashed = Dedup.benchmarkOverlap(corpus, benchmark, "doc_id",
      "text", k = 4, hashGrams = true).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(hashed.toSeq == out.toSeq)
  }

  test("dupSpanStats: hashed-gram variant equals the literal-gram " +
      "variant on a mixed corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val docs = (0 until 40).map { i =>
      val body = Array.fill(60)(('a' + rnd.nextInt(6)).toChar).mkString
      val boiler = if (i % 3 == 0) " subscribe to our newsletter today" else ""
      i.toLong -> (body + boiler)
    }.toDF("doc_id", "text")
    val lit = Dedup.dupSpanStats(docs, "doc_id", "text", k = 8,
      hashGrams = false).orderBy("doc_id").collect().map(_.toSeq)
    val hsh = Dedup.dupSpanStats(docs, "doc_id", "text", k = 8,
      hashGrams = true).orderBy("doc_id").collect().map(_.toSeq)
    assert(lit.toSeq == hsh.toSeq)
  }

  test("nearDupProbeMinHash flags cross-side near-dups only, asymmetrically") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different corpus content about spark plans"))
      .toDF("doc_id", "text")
    val probe = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (11L, "the quick brown fox jumps over the lazy cat today"), // near dup of 1
      (12L, "unrelated new document with fresh tokens entirely"),
      (13L, "unrelated new document with fresh tokens entirely")) // dup WITHIN probe
      .toDF("doc_id", "text")
    val flagged = Dedup.nearDupProbeMinHash(probe, corpus,
      "doc_id", "text", threshold = 0.5)
      .as[Long].collect().sorted.toSeq
    assert(flagged == Seq(10L, 11L))
    val kept = Dedup.dedupAgainstCorpus(probe, corpus, "doc_id", "text",
      threshold = 0.5).select("doc_id").as[Long].collect().sorted.toSeq
    // within-probe duplicates survive: the probe is asymmetric by contract
    assert(kept == Seq(12L, 13L))
  }

  test("nearDupProbeMinHash agrees with the symmetric operator's cross pairs") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 40)
    val probe = docs.filter(col("doc_id") >= 40 && col("doc_id") < 80)
    val probeFlag = Dedup.nearDupProbeMinHash(probe, corpus,
      "doc_id", "text", threshold = 0.4)
      .as[Long].collect().toSet
    val crossPairs = Dedup.nearDupPairsMinHash(docs.filter(col("doc_id") < 80),
      "doc_id", "text", threshold = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a < 40) != (b < 40) }
      .flatMap { case (a, b) => Seq(a, b) }.filter(_ >= 40).toSet
    assert(probeFlag == crossPairs)
  }

  test("keepBestByComponent keeps the top-scoring member per cluster " +
      "(ties → smallest id), passes untouched rows through, and never " +
      "drops a whole unscored cluster") {
    import spark.implicits._
    // clusters {1,2,3} (transitive via 1-2, 2-3) and {4,5}; 6 untouched
    val pairs = Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("idA", "idB"), "idA", "idB")
    val df = Seq(
      (1L, 0.1), (2L, 0.9), (3L, 0.5),   // 2 wins cluster 1
      (4L, 0.7), (5L, 0.7),              // tie → 4 wins
      (6L, 0.0)).toDF("id", "score")
    val kept = Dedup.keepBestByComponentFrom(df, "id", "score", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 4L, 6L))
    // an all-null-score cluster keeps its smallest id, not nothing
    val dfn = Seq(
      (1L, Option(0.1)), (2L, Option(0.9)), (3L, Option(0.5)),
      (4L, None: Option[Double]), (5L, None: Option[Double]),
      (6L, Option(0.0))).toDF("id", "score")
    val keptN = Dedup.keepBestByComponentFrom(dfn, "id", "score", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(keptN === Set(2L, 4L, 6L))
    // a null score LOSES to any scored member, whatever the ids
    val dfm = Seq((1L, None: Option[Double]), (2L, Option(-5.0)),
      (3L, Option(-9.0)), (4L, Option(1.0)), (5L, Option(2.0)),
      (6L, Option(0.0))).toDF("id", "score")
    val keptM = Dedup.keepBestByComponentFrom(dfm, "id", "score", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(keptM === Set(2L, 5L, 6L))
  }

  test("removeDupSpans cuts later cross-doc occurrences, merges " +
      "overlapping covered spans, keeps first occurrence intact") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "short doc")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 is the first occurrence of "a b c" and "b c d" — untouched
    assert(out(1L) === (("a b c d e", 5L, 0L)))
    // doc 2's grams at pos 1 ("a b c") and pos 2 ("b c d") duplicate
    // doc 1 — covered {1..3} ∪ {2..4} merge to {1..4}
    assert(out(2L) === (("x y", 6L, 4L)))
    // below k words: no grams, untouched
    assert(out(3L) === (("short doc", 2L, 0L)))
  }

  test("removeDupSpans collapses in-doc repetition to the first " +
      "period and empties an exact later duplicate") {
    import spark.implicits._
    val df = Seq(
      (1L, "p q r p q r p q r"),
      (2L, "m n o z"),
      (3L, "m n o z")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "p q r" first at 0 (dups at 3, 6), "q r p" first at 1 (dup 4),
    // "r p q" first at 2 (dup 5): covered = {3..8} → one clean period
    assert(out(1L) === (("p q r", 9L, 6L)))
    assert(out(2L) === (("m n o z", 4L, 0L)))
    // doc 3 duplicates doc 2 entirely: grams at 0 and 1 both covered
    assert(out(3L) === (("", 4L, 4L)))
  }

  test("verifyPairsEditDistance: thresholded accept set and distances " +
      "match plain levenshtein; prefixLen screens on prefixes") {
    import spark.implicits._
    val payload = Seq(
      (1L, "kitten"), (2L, "sitting"), (3L, "kitten"), (4L, "zzzzzz")
    ).toDF("id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("idA", "idB")
    val got = Dedup.verifyPairsEditDistance(pairs, payload, "id", "text",
      maxDist = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // kitten→sitting is the textbook distance 3; exact dup is 0;
    // kitten→zzzzzz (distance 6) is filtered
    assert(got === Map((1L, 2L) -> 3L, (1L, 3L) -> 0L))
    // tighter threshold drops the distance-3 pair
    val tight = Dedup.verifyPairsEditDistance(pairs, payload, "id",
      "text", maxDist = 2).collect().map(_.getLong(2))
    assert(tight.toSeq === Seq(0L))
    // prefix screen: first-3-char prefixes "kit"/"sit" differ by 1
    val pref = Dedup.verifyPairsEditDistance(pairs, payload, "id",
      "text", maxDist = 1, prefixLen = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pref === Map((1L, 2L) -> 1L, (1L, 3L) -> 0L))
  }

  test("containmentPairsExact equals brute force at a non-dyadic " +
      "threshold, oriented smaller-set-first; catches the subset dup " +
      "Jaccard misses") {
    import spark.implicits._
    import graft.functions.TextFunctions._
    val (docs0, _) = plantedCorpus
    // plant a short doc that is a verbatim span of doc 1: full
    // containment, but Jaccard ~ |A|/|B| stays far below 0.5
    val span = docs0.find(_._1 == 1L).get._2.split(" ").slice(4, 16)
      .mkString(" ")
    val docs = docs0 :+ (500L -> span)
    val df = docs.toDF("id", "text")
    val got = Dedup.containmentPairsExactFromTokens(
      df.select(col("id"), explode(shingles(col("text"), 3)).as("tok"))
        .distinct(), "id", "tok", threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val sh = df.select(col("id"),
      array_distinct(shingles(col("text"), 3)).as("sh"))
    val brute = sh.select(col("id").as("x"), col("sh").as("shx"))
      .crossJoin(sh.select(col("id").as("y"), col("sh").as("shy")))
      .where(col("x") < col("y"))
      .select(col("x"), col("y"), size(col("shx")).as("nx"),
        size(col("shy")).as("ny"),
        size(array_intersect(col("shx"), col("shy"))).as("ninter"))
      .collect().map { r =>
        val (x, y, nx, ny, ni) = (r.getLong(0), r.getLong(1),
          r.getInt(2), r.getInt(3), r.getInt(4))
        val (a, b, na) = if (nx < ny || (nx == ny && x < y)) (x, y, nx)
          else (y, x, ny)
        (a, b, ni.toDouble / na)
      }.filter(_._3 >= 0.6).toSet
    assert(brute.nonEmpty, "corpus produced no qualifying pairs")
    assert(got == brute, s"missed: ${brute -- got}\nextra: ${got -- brute}")
    assert(got.exists { case (a, b, c) => a == 500L && b == 1L && c == 1.0 },
      s"planted span pair missing from $got")
    val jac = Dedup.jaccardPairsExact(df, "id", "text",
      shingleWidth = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 500L)) && !jac.contains((500L, 1L)),
      "subset dup unexpectedly visible to the Jaccard audit")
  }

  test("goldenRecord picks per-field majority with smallest-value " +
      "tiebreak; null-only fields stay null; reserved names rejected") {
    import spark.implicits._
    val df = Seq(
      ("c1", Option("en"), Option(10L)),
      ("c1", Option("en"), Option(20L)),
      ("c1", Option("de"), Option(20L)),
      ("c2", Option.empty[String], Option.empty[Long]),
      ("c2", Option("fr"), Option.empty[Long]),
      ("c3", Option.empty[String], Option.empty[Long])
    ).toDF("cluster", "lang", "n")
    val out = Dedup.goldenRecord(df, "cluster", Seq("lang", "n"))
      .orderBy("cluster").collect()
    assert(out(0).getString(0) == "c1" && out(0).getLong(1) == 3L &&
      out(0).getString(2) == "en" && out(0).getLong(3) == 20L)
    assert(out(1).getString(0) == "c2" && out(1).getLong(1) == 2L &&
      out(1).getString(2) == "fr" && out(1).isNullAt(3))
    assert(out(2).isNullAt(2) && out(2).isNullAt(3))
    val tie = Seq(("t", "b"), ("t", "a")).toDF("cluster", "v")
    val w = Dedup.goldenRecord(tie, "cluster", Seq("v")).collect()(0)
    assert(w.getString(2) == "a", "count tie must break to smallest value")
    intercept[IllegalArgumentException] {
      Dedup.goldenRecord(df.withColumnRenamed("n", "n_members"),
        "cluster", Seq("n_members"))
    }
  }

  test("misDropped: in-process and distributed rounds drop identical ids " +
      "(chain, star, triangle, chain longer than maxRounds)") {
    import spark.implicits._
    def dropped(edges: Seq[(Long, Long)], maxRounds: Int,
        localBound: Int): Set[Long] = {
      val pairs = edges.toDF("idA", "idB")
      Dedup.misDropped(pairs, maxRounds, localBound)
        .collect().map(_.getLong(0)).toSet
    }
    val chain = (1L to 5L).sliding(2).map(p => (p(0), p(1))).toSeq
    val star = (2L to 6L).map(1L -> _) ++ (7L to 9L).map(_ -> 10L)
    val triangle = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L)
    val longChain = (1L to 30L).sliding(2).map(p => (p(0), p(1))).toSeq
    val cases = Seq(
      ("chain", chain, 50, Set(2L, 4L)),
      ("star", star, 50, (2L to 6L).toSet + 10L),
      ("triangle", triangle, 50, Set(2L, 3L)),
      // 5 rounds settle ids 1..6; 7..30 stay undecided and are KEPT
      ("long chain", longChain, 5, Set(2L, 4L, 6L)))
    for ((name, edges, rounds, want) <- cases) {
      val local = dropped(edges, rounds, Dedup.LocalPairBound)
      val distributed = dropped(edges, rounds, localBound = 0)
      assert(local == distributed, s"$name: $local vs $distributed")
      assert(local == want, s"$name: $local")
    }
    // non-long ids take the same in-process path
    val strPairs = Seq("a" -> "b", "a" -> "c", "b" -> "c").toDF("idA", "idB")
    assert(Dedup.misDropped(strPairs).collect().map(_.getString(0)).toSet ==
      Set("b", "c"))
  }

  test("misDropped computes the pair frame once on the distributed side") {
    import spark.implicits._
    val evals = spark.sparkContext.longAccumulator("pair evaluations")
    val tap = udf { (id: Long) => evals.add(1); id }.asNondeterministic()
    val edges = (1L to 40L).sliding(2).map(p => (p(0), p(1))).toSeq
    val pairs = edges.toDF("idA", "idB").repartition(4)
      .select(tap(col("idA")).as("idA"), col("idB"))
    // 39 pairs over a bound of 5 (a bound of 0 would let Spark's limit-1
    // rewrite of the distinct evaluate a single row)
    val dropped = Dedup.misDropped(pairs, localBound = 5)
      .collect().map(_.getLong(0)).toSet
    assert(dropped == (2L to 40L by 2).toSet)
    assert(evals.sum == edges.length)
  }
}
