package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Specs for the round-8 corpus-tooling family: key-sampled join-size
  * estimation (q123), temperature mixture sampling (q124), the BPE
  * merge-candidate step (q125), and MOSS winnowing fingerprints (q126).
  */
class CorpusToolingSpec extends SparkSpec {

  // ---- q123 join-size estimate -------------------------------------------

  test("join-size estimate: exact term is Σ c², estimate reconstructs from the md5 sample") {
    import spark.implicits._
    val fact = Seq.tabulate(300)(i => (i % 40).toLong).toDF("k")
    val row = Scale.joinSizeEstimate(fact, "k").collect().head
    val (nKeys, nSampled, exact, est) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nKeys == 40)
    // independent recomputation of both sums from the raw counts
    val counts = fact.groupBy($"k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == counts.values.map(c => c * c).sum)
    val sampledKeys = spark.createDataset(counts.keys.toSeq)
      .select(col("value").as("k"),
        (substring(md5(col("value").cast("string")), 1, 1) === "0").as("s"))
      .collect().filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(nSampled == sampledKeys.size)
    assert(est == 16L * sampledKeys.toSeq.map(k => counts(k) * counts(k)).sum)
    assert(est % 16 == 0)
  }

  test("join-size estimate: rel_err is the exact ratio of the integer fields") {
    val row = Scale.joinSizeEstimate(Tables.lineitem(spark, sf0001), "l_partkey")
      .collect().head
    val (exact, est, relErr) = (row.getLong(2), row.getLong(3), row.getDouble(4))
    assert(relErr == (est.toDouble - exact.toDouble) / exact.toDouble)
    assert(exact > 0 && est >= 0)
  }

  // ---- q124 temperature mixture ------------------------------------------

  test("temperature mixture: sqrt weights flatten a skewed corpus, draws are capped by targets") {
    import spark.implicits._
    def doc(id: Long, src: String) = (id, src, "w " * 10 + "end")
    val docs = ((1L to 16L).map(doc(_, "big")) ++
      (17L to 20L).map(doc(_, "mid")) ++ Seq(doc(21L, "tiny")))
      .toDF("doc_id", "source", "text")
    val got = Sampling.temperatureMixture(docs, budget = 7)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // weights: sqrt(16)=4e6, sqrt(4)=2e6, sqrt(1)=1e6; budget 7 over 7e6
    assert(got("big") == ((16L, 4000000L, 4L, 4L)))
    assert(got("mid") == ((4L, 2000000L, 2L, 2L)))
    assert(got("tiny") == ((1L, 1000000L, 1L, 1L)))
    // the flattening property: big's sampled share (4/7) is below its raw
    // share (16/21); tiny's (1/7) is above (1/21)
    assert(4.0 / 7 < 16.0 / 21 && 1.0 / 7 > 1.0 / 21)
  }

  test("temperature mixture: budget is respected and membership is deterministic") {
    val a = Sampling.temperatureMixture(Tables.documents(spark, sf0001), 50).collect()
    val b = Sampling.temperatureMixture(Tables.documents(spark, sf0001), 50).collect()
    assert(a.toSeq == b.toSeq, "hash-ranked draw must be run-independent")
    assert(a.map(_.getLong(3)).sum <= 50, "floor allocation never exceeds the budget")
    assert(a.forall(r => r.getLong(4) <= r.getLong(3)), "draws capped by target")
    assert(a.forall(r => r.getLong(4) == math.min(r.getLong(3), r.getLong(1))),
      "each source draws min(target, n_docs)")
  }

  // ---- q125 BPE merge step ------------------------------------------------

  test("bpe merge step: pair counts weight by word frequency, ties order by pair") {
    import spark.implicits._
    val docs = Seq((1L, "s", "abab ab"), (2L, "s", "ab zz zz")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.bpeMergeTop(docs, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // vocabulary: abab×1 → ab,ba,ab ; ab×2 → ab ; zz×2 → zz
    // totals: ab=4, zz=2, ba=1
    assert(got.toSeq == Seq(("ab", 4L, 1), ("zz", 2L, 2), ("ba", 1L, 3)))
  }

  test("bpe merge step: single-char words contribute nothing; k bounds output") {
    import spark.implicits._
    val docs = Seq((1L, "s", "a b c ab")).toDF("doc_id", "source", "text")
    val got = TextAnalysis.bpeMergeTop(docs, 10).collect()
    assert(got.map(_.getString(0)).toSeq == Seq("ab"))
    val top5 = TextAnalysis.bpeMergeTop(Tables.documents(spark, sf0001), 5).collect()
    assert(top5.length == 5)
    assert(top5.map(_.getInt(2)).toSeq == Seq(1, 2, 3, 4, 5))
    val c = top5.map(_.getLong(1))
    assert(c.zip(c.tail).forall { case (x, y) => x >= y }, "not descending")
  }

  // ---- q126 winnowing ------------------------------------------------------

  test("winnowing guarantee: docs sharing a >= 6-token run share a fingerprint") {
    import spark.implicits._
    // w=4 windows over k=3 shingles detect any common substring of
    // >= w+k-1 = 6 tokens (Schleimer et al. 2003, the winnowing theorem).
    // The shared run below is "a common run of six tokens" — exactly six
    // shared tokens = 4 shared shingles = one full window inside the
    // shared region on both sides, the minimal case the theorem covers
    // (a 5-token run would leave the intersection to md5 luck — r8
    // review catch)
    val docs = Seq(
      (1L, "s", "p q r a common run of six tokens t u"),
      (2L, "s", "x y z a common run of six tokens m n o")).toDF("doc_id", "source", "text")
    val fps = TextAnalysis.winnowingFingerprints(docs).collect()
      .groupBy(_.getLong(0)).map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert(fps(1L).intersect(fps(2L)).nonEmpty,
      "shared 6-token run must surface at least one shared fingerprint")
  }

  test("winnowing stats: window accounting and density bounds on the real corpus") {
    val rows = TextAnalysis.winnowingStats(Tables.documents(spark, sf0001)).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nSh, nWin, nFp, density) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(nWin == nSh - 3, s"doc ${r.getLong(0)}: windows must be shingles-3")
      assert(nFp >= 1 && nFp <= nWin)
      assert(density > 0.0 && density <= 1.0)
      assert(density == nFp.toDouble / nWin.toDouble)
    }
    // realized corpus-wide density sits near the theoretical 2/(w+1) = 0.4
    val overall = rows.map(_.getLong(3)).sum.toDouble / rows.map(_.getLong(2)).sum
    assert(overall > 0.2 && overall < 0.8, s"corpus density $overall off the expected band")
  }

  // ---- q127 quality × duplication lift ------------------------------------

  test("quality-dup lift: partitions reconcile and dup mass is reason-invariant") {
    val rows = Dedup.qualityDupLift(Tables.documents(spark, sf0001), 8).collect()
    assert(rows.length == 4)
    val nDocs = Tables.documents(spark, sf0001).count()
    val dupTotals = rows.map { r =>
      assert(r.getLong(1) + r.getLong(3) == nDocs,
        s"${r.getString(0)}: flagged + clean must partition the corpus")
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(4) <= r.getLong(3))
      r.getLong(2) + r.getLong(4)
    }
    assert(dupTotals.distinct.length == 1,
      "total near-dup membership must not depend on which flag partitions it")
    for (r <- rows if r.getLong(1) > 0)
      assert(r.getDouble(5) == r.getLong(2).toDouble / r.getLong(1).toDouble)
  }

  test("quality-dup lift: flagged-only duplication nulls the clean rate's lift") {
    import spark.implicits._
    // the two near-identical docs are also the only SHORT ones (< 20
    // tokens); every clean doc is unique → dup_clean = 0 → lift null
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, "s", "alpha beta gamma delta", 22L),
      (2L, "s", "alpha beta gamma delta", 22L),
      (3L, "s", long, 200L),
      (4L, "s", long.replace("tok1 ", "one "), 200L))
      .toDF("doc_id", "source", "text", "n_chars")
    val got = Dedup.qualityDupLift(docs, 8).collect()
      .map(r => r.getString(0) -> r).toMap
    val short = got("short")
    assert(short.getLong(2) == 2, "both short docs are near-dups")
    // pin the fixture property itself — a drifted fixture must FAIL here,
    // not silently skip the null-lift assertion this test exists for
    assert(short.getLong(4) == 0, "fixture: clean side must have zero dups")
    assert(short.isNullAt(7), "lift null when clean side has no dups")
  }

  // ---- q128 ANN recall ----------------------------------------------------

  test("ann recall: bounded, and reconstructs from the two top-k sets") {
    val emb = Tables.embeddings(spark, sf0001)
    val ids = Seq(0L, 100L, 200L)
    val got = Similarity.annRecall(emb, ids, 10).collect()
    assert(got.map(_.getLong(0)).toSeq == ids.sorted)
    for (r <- got) {
      assert(r.getLong(1) == 10L)
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 10)
      assert(r.getDouble(3) == r.getLong(2).toDouble / 10.0)
    }
    // independent reconstruction from the same public helpers
    val exact = Similarity.bruteForceTopK(emb, ids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, ids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ids.map(q => q -> (exact.filter(_._1 == q) & ann.filter(_._1 == q)).size).toMap
    assert(got.forall(r => r.getLong(2) == want(r.getLong(0)).toLong))
  }

  // ---- q129 template prefixes ---------------------------------------------

  test("template prefixes: head-sharing docs group, singletons drop, full dups counted") {
    import spark.implicits._
    val head = "H" * 90 // 90 chars — identical 80-char prefix
    val docs = Seq(
      (1L, "a", head + " tail one"),
      (2L, "b", head + " tail two"),
      (3L, "a", head + " tail one"), // exact dup of doc 1
      (4L, "a", "unique document body")).toDF("doc_id", "source", "text")
    val out = docs.groupBy(substring(col("text"), 1, 80).as("prefix"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("min_doc_id"))
      .filter(col("n_docs") >= 2).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 3 && r.getLong(2) == 2 && r.getLong(3) == 2 &&
      r.getLong(4) == 1L)
  }

  test("template prefixes: real corpus groups satisfy the count invariants") {
    val rows = graft.SparkEntry.queries("q129_template_prefixes")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getString(0).length <= 80)
      assert(r.getLong(1) >= 2)
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(2) >= 1)
      assert(r.getLong(3) >= 1)
    }
  }

  // ---- q130 bigram LM -----------------------------------------------------

  test("bigram LM: rare transitions of common words score above common transitions") {
    import spark.implicits._
    // every unigram is common; doc 9 chains them in never-seen orders —
    // the exact case unigram scoring (q103) cannot separate
    val common = (1 to 8).map(i => (i.toLong, "s", "x y x y x y x y"))
    val salad = Seq((9L, "s", "y x y x y x y x"))
    val docs = (common ++ salad).toDF("doc_id", "source", "text")
    val got = TextAnalysis.bigramLmScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(9L) > got(1L),
      "reversed-transition doc must be more surprising under the bigram LM")
  }

  test("bigram LM: scores are non-negative and every multi-token doc is scored") {
    val rows = TextAnalysis.bigramLmScore(Tables.documents(spark, sf0001)).collect()
    assert(rows.length == Tables.documents(spark, sf0001).count())
    for (r <- rows) {
      assert(r.getLong(2) > 0)
      assert(r.getDouble(3) >= 0.0,
        s"c(w1) >= c(w1 w2) forces a non-negative quantized score: $r")
    }
  }

  test("winnowing fingerprints are a subset of the doc's shingle hashes") {
    import spark.implicits._
    val docs = Seq((1L, "s", "one two three four five six seven eight nine"))
      .toDF("doc_id", "source", "text")
    val mins = TextAnalysis.winnowedMins(docs).collect()
    val hashes = mins.map(r => r.getAs[Long]("h")).toSet
    val fps = TextAnalysis.winnowingFingerprints(docs).collect().map(_.getLong(1)).toSet
    assert(fps.subsetOf(hashes))
    assert(fps.nonEmpty)
  }

  // ---- q140 adaptive quality gate ----------------------------------------

  test("adaptive gate: every source keeps exactly ceil(0.75·n) docs") {
    val got = TextAnalysis.adaptiveQualityGate(Tables.documents(spark, sf001))
      .collect()
    assert(got.nonEmpty)
    for (r <- got) {
      val n = r.getLong(1); val kept = r.getLong(2)
      assert(kept == math.ceil(n * 0.75).toLong,
        s"source ${r.getString(0)}: kept $kept of $n")
      assert(math.abs(r.getDouble(3) - kept.toDouble / n) < 1e-12)
      assert(!r.isNullAt(4), "a source with kept docs must report its threshold")
    }
  }

  test("adaptive gate: thresholds are per-source — a noisy source keeps its own 75%") {
    import spark.implicits._
    // 'common' docs repeat corpus-frequent words (low NLL); every 'rare'
    // doc is made of corpus-unique words (cnt = 1 → avg_nll = ln T, the
    // maximum). A GLOBAL 75% cut would keep all of 'common' and nearly
    // none of 'rare'; the per-source gate must keep 6 of 8 in EACH.
    val common = (0 until 8).map(i =>
      (i.toLong, "common", "the cat sat on the mat again"))
    val rare = (0 until 8).map(i =>
      (100L + i, "rare", s"zyx${i}a qwv${i}b mnl${i}c pqr${i}d"))
    val docs = (common ++ rare).toDF("doc_id", "source", "text")
    val got = TextAnalysis.adaptiveQualityGate(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(got.keySet == Set("common", "rare"))
    assert(got("common")._1 == 8 && got("common")._2 == 6)
    assert(got("rare")._1 == 8 && got("rare")._2 == 6)
    assert(got("rare")._3 > got("common")._3,
      "rare-word source must carry the higher effective threshold")
  }
}
