package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Specs for the round-9 corpus-assembly family: concat-and-chunk context
  * packing (q145), the Lloyd k-means assignment step (q146), and pairwise
  * source Jensen-Shannon divergence (q147).
  */
class CorpusAssemblySpec extends SparkSpec {

  // ---- q145 context packing ----------------------------------------------

  test("context packing: two-level prefix sum equals the naive global window") {
    val docs = Tables.documents(spark, sf0001)
    val out = Sampling.contextPacking(docs, windowTokens = 512, bucketDocs = 64)
      .collect()
    // naive single-partition reference: one global running sum
    val naive = docs
      .select(col("doc_id"), Sampling.nTokens(col("text")).as("n_tok"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tok")).over(
          Window.orderBy(col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .orderBy(col("doc_id")).collect()
    assert(out.length == naive.length)
    out.zip(naive).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0), "doc_id order")
      assert(a.getLong(2) == b.getLong(2), s"offset mismatch at doc ${a.getLong(0)}")
    }
  }

  test("context packing: bucket granularity cannot change the result") {
    val docs = Tables.documents(spark, sf0001)
    val fine = Sampling.contextPacking(docs, 512, bucketDocs = 3).collect()
    val one = Sampling.contextPacking(docs, 512, bucketDocs = 100000).collect()
    assert(fine.toSeq == one.toSeq)
  }

  test("context packing: span fields are consistent and fragmentation is exercised") {
    val rows = Sampling.contextPacking(
      Tables.documents(spark, sf0001), 512, 64).collect()
    var prevEnd = 0L
    for (r <- rows) {
      val (nTok, off, s0, e0, nw, frag) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))
      assert(s0 == off / 512 && e0 == (off + nTok - 1) / 512)
      assert(nw == e0 - s0 + 1 && frag == (e0 > s0))
      assert(s0 == prevEnd || s0 == prevEnd + 1) // contiguous stream
      prevEnd = e0
    }
    assert(rows.exists(_.getBoolean(6)), "no fragmented doc at sf0.001")
    assert(rows.exists(r => !r.getBoolean(6)))
    // offsets partition the token stream exactly: last offset + last n_tok
    // equals the total token count
    val last = rows.last
    val total = rows.map(_.getLong(1)).sum
    assert(last.getLong(2) + last.getLong(1) == total)
  }

  // ---- q146 Lloyd step ----------------------------------------------------

  test("lloyd step: every vector is counted once and seeds stay non-empty") {
    val emb = Tables.embeddings(spark, sf0001)
    val out = Similarity.lloydStep(emb, k = 8).collect()
    assert(out.map(_.getLong(0)).toSeq == (0L until 8L))
    assert(out.map(_.getLong(1)).sum == emb.count())
    // each seed vector is at distance 0 of itself, so its own cluster exists
    assert(out.forall(_.getLong(1) >= 1))
    out.foreach { r =>
      assert(math.abs(r.getDouble(3) -
        r.getLong(2).toDouble / r.getLong(1).toDouble / 1e6) < 1e-12)
    }
  }

  test("lloyd step: in-row argmin matches a brute-force reassignment") {
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 120)
    val out = Similarity.lloydStep(emb, k = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // brute force on the driver (test-only collect)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val cents = vecs.filter(_._1 < 4)
    def d2micro(v: Array[Float], c: Array[Float]): Long = {
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var s = 0.0d; var i = 0
        while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
        s
      }
      val d2 = dot(v, v) - 2d * dot(v, c) + dot(c, c)
      math.floor(BigDecimal(d2).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble * 1e6).toLong
    }
    val manual = vecs.map { case (_, v) =>
      cents.map { case (cid, c) => (d2micro(v, c), cid) }.min
    }.groupBy(_._2).map { case (cid, xs) =>
      cid -> (xs.length.toLong, xs.map(_._1).sum)
    }
    assert(out == manual)
  }

  // ---- q148 PCA power step ------------------------------------------------

  test("pca power step: matches a driver-side exact-integer recomputation") {
    val emb = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 100)
    val out = Similarity.pcaPowerStep(emb).collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val vecs = emb.collect().map(_.getSeq[Float](1).toArray)
    val dims = vecs.head.length
    // same integer ledger, in plain Scala with BigInt (exact)
    val q = vecs.map(_.map(x => math.floor(x.toDouble * 1e6).toLong))
    val s = q.map(_.sum)
    val y = (0 until dims).map { j =>
      q.zip(s).map { case (row, sv) => BigInt(row(j)) * BigInt(sv) }.sum
    }
    val tot = y.map(_.abs).sum
    for (j <- 0 until dims) {
      val (comp, share) = out(j)
      assert(math.abs(comp - y(j).toDouble * 1e-12 / 8) < 1e-9 * math.max(1, math.abs(comp)))
      assert(math.abs(share - y(j).abs.toDouble / tot.toDouble) < 1e-12)
    }
  }

  test("pca power step: shares form a distribution over all 64 dims") {
    val rows = Similarity.pcaPowerStep(Tables.embeddings(spark, sf0001)).collect()
    assert(rows.length == 64)
    assert(rows.map(_.getInt(0)).toSeq == (0 until 64))
    val shareSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0d) < 1e-9, s"shares sum to $shareSum")
    assert(rows.forall(_.getDouble(2) >= 0))
  }

  // ---- q149 DoReMi reweighting step --------------------------------------

  test("doremi step: hard (rare-token) sources gain weight, easy ones lose it") {
    import spark.implicits._
    // sHard's tokens are rare in the corpus; sEasy's are the common mass
    val docs = (
      (1 to 20).map(i => (i.toLong, "the of and the of and", "en", "sEasy", 0L)) ++
      Seq((100L, "xylophone quixotic zephyr vortex", "en", "sHard", 0L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextAnalysis.doremiStep(docs).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(5))).toMap
    val (excessHard, wHard) = rows("sHard")
    val (excessEasy, wEasy) = rows("sEasy")
    assert(excessHard > 0 && excessEasy < 0,
      s"excess: hard=$excessHard easy=$excessEasy")
    assert(wHard > 0.5 && wEasy < 0.5, s"weights: hard=$wHard easy=$wEasy")
  }

  test("doremi step: weights renormalize to 1 and respect the exp-boost ratio") {
    val rows = TextAnalysis.doremiStep(Tables.documents(spark, sf0001)).collect()
    val wSum = rows.map(_.getDouble(5)).sum
    assert(math.abs(wSum - 1.0d) < 1e-9, s"weights sum to $wSum")
    for (r <- rows) {
      val (excess, boost) = (r.getDouble(3), r.getLong(4))
      assert(boost == math.floor(math.exp(excess) * 1e6).toLong)
      assert(r.getDouble(5) > 0)
    }
  }

  // ---- q150 bitext margin mining -----------------------------------------

  test("bitext margin: single-list run matches an exact driver-side recomputation") {
    import spark.implicits._
    // 3 en + 3 es vectors in 4 dims; nlist = 1 → candidates are the full
    // cross product, so every stage is hand-checkable
    val vecs = Seq(
      0L -> Array(1.0f, 0.1f, 0.0f, 0.0f),
      1L -> Array(0.0f, 1.0f, 0.2f, 0.0f),
      2L -> Array(0.0f, 0.0f, 1.0f, 0.3f),
      3L -> Array(0.9f, 0.2f, 0.1f, 0.0f),
      4L -> Array(0.1f, 0.8f, 0.1f, 0.1f),
      5L -> Array(0.4f, 0.4f, 0.4f, 0.4f))
    val emb = vecs.map { case (id, v) => (id, v.toSeq, 0) }
      .toDF("vec_id", "embedding", "label")
    val docs = Seq(
      (0L, "a", "en", "s", 0L), (1L, "b", "en", "s", 0L),
      (2L, "c", "en", "s", 0L), (3L, "d", "es", "s", 0L),
      (4L, "e", "es", "s", 0L), (5L, "f", "es", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Similarity.bitextMarginMining(emb, docs, "en", "es",
        k = 4, nlist = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // driver-side recomputation with the same integer-micro ledger
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val m = vecs.toMap
    def cosMicro(x: Long, y: Long): Long =
      BigDecimal(dot(m(x), m(y)) /
        (math.sqrt(dot(m(x), m(x))) * math.sqrt(dot(m(y), m(y)))) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val en = Seq(0L, 1L, 2L); val es = Seq(3L, 4L, 5L)
    val ax = en.map(x => x -> es.map(y => cosMicro(x, y))).toMap // all 3 ≤ k
    val ay = es.map(y => y -> en.map(x => cosMicro(x, y))).toMap
    val manual = en.map { x =>
      val best = es.map { y =>
        val margin = cosMicro(x, y).toDouble /
          ((ax(x).sum.toDouble / ax(x).size + ay(y).sum.toDouble / ay(y).size) / 2d)
        (margin, y)
      }.maxBy { case (mg, y) => (mg, -y) } // margin DESC, dst ASC ties
      x -> (best._2, best._1)
    }.toMap
    for (x <- en) {
      assert(out(x)._1 == manual(x)._1, s"best dst mismatch for src $x")
      assert(math.abs(out(x)._2 - manual(x)._2) < 1e-12,
        s"margin mismatch for src $x")
    }
  }

  test("bitext margin: real-corpus output is one best es candidate per en doc") {
    val docs = Tables.documents(spark, sf0001)
    val out = Similarity.bitextMarginMining(
      Tables.embeddings(spark, sf0001), docs, "en", "es", k = 4).collect()
    val enIds = docs.filter(col("lang") === "en")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val esIds = docs.filter(col("lang") === "es")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).distinct.length == out.length, "one row per src")
    assert(out.forall(r => enIds.contains(r.getLong(0))))
    assert(out.forall(r => esIds.contains(r.getLong(1))))
    for (r <- out) {
      assert(r.getBoolean(5) == (r.getDouble(3) >= 1.05d))
      assert(r.getLong(4) >= 1)
      assert(r.getDouble(2) >= -1.000001 && r.getDouble(2) <= 1.000001)
    }
  }

  // ---- q151 k-anonymity ---------------------------------------------------

  test("k-anonymity: classes conserve every document and respect the k threshold per level") {
    val docs = Tables.documents(spark, sf0001)
    val rows = graft.SparkEntry.queries("q151_k_anonymity")(spark, sf0001)
      .collect()
    assert(rows.map(_.getLong(4)).sum == docs.count(), "docs lost or duplicated")
    for (r <- rows) {
      val (bucket, level, size) = (r.getLong(2), r.getInt(3), r.getLong(4))
      level match {
        case 3 => assert(size >= 5 && bucket >= 0)
        case 2 => assert(size >= 5 && bucket == -1L)
        case 0 => assert(size < 5 && bucket == -1L)
        case l => fail(s"unexpected level $l")
      }
    }
    // the generalization step must be exercised in all three outcomes
    assert(Set(0, 2, 3).subsetOf(rows.map(_.getInt(3)).toSet))
  }

  test("k-anonymity: level-3 classes are exactly the full-QI groups of size >= k") {
    val docs = Tables.documents(spark, sf0001)
    val want = docs.groupBy(col("lang"), col("source"),
        expr("n_chars div 256").cast("bigint").as("b"))
      .count().filter(col("count") >= 5)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val got = graft.SparkEntry.queries("q151_k_anonymity")(spark, sf0001)
      .filter(col("level") === 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(4))
      .toMap
    assert(got == want)
  }

  // ---- q152 split balance -------------------------------------------------

  test("split balance: counts conserve and the chi-square matches a manual recompute") {
    val rows = graft.SparkEntry.queries("q152_split_balance")(spark, sf0001)
      .collect()
    val (gt, gv, gs, gn) = (rows.map(_.getLong(1)).sum, rows.map(_.getLong(2)).sum,
      rows.map(_.getLong(3)).sum, rows.map(_.getLong(4)).sum)
    assert(gn == Tables.embeddings(spark, sf0001).count())
    for (r <- rows) {
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) == r.getLong(4))
      val chi = Seq((r.getLong(1), gt), (r.getLong(2), gv), (r.getLong(3), gs))
        .map { case (obs, share) =>
          val exp = r.getLong(4).toDouble * share / gn
          (obs.toDouble - exp) * (obs.toDouble - exp) / exp
        }.sum
      assert(math.abs(r.getDouble(5) - chi) < 1e-9)
      assert(r.getDouble(5) >= 0)
    }
  }

  // ---- q153 tombstone cascade ---------------------------------------------

  test("tombstone cascade: legs reconcile with independent recomputations") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
    val out = Dedup.tombstoneCascade(docs, Tables.embeddings(spark, sf0001))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def tomb(id: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      f"${md(0) & 0xff}%02x".charAt(0) < '2'
    }
    val ids = docs.select($"doc_id").collect().map(_.getLong(0))
    val origTomb = ids.count(tomb)
    val twinTomb = ids.count(i => tomb(i + 1000000L))
    val bothTomb = ids.count(i => tomb(i) && tomb(i + 1000000L))
    assert(out("documents") == (origTomb + twinTomb, 2L * ids.length))
    // corpus has no natural exact dups, so each doubled group is a twin
    // pair: erased == both twins drawn; recanonicalized == original drawn
    // but twin not (min id is always the original)
    assert(out("dup_groups_erased") == (bothTomb, ids.length.toLong))
    assert(out("dup_groups_recanonicalized") ==
      (origTomb - bothTomb, ids.length.toLong))
    assert(out("embeddings") == (origTomb, ids.length.toLong))
    val (aw, tw) = out("packed_windows")
    assert(aw > 0 && aw <= tw)
    // all three group outcomes must be exercised at this scale
    assert(bothTomb > 0 && origTomb - bothTomb > 0)
  }

  // ---- q154 quality survivors ---------------------------------------------

  test("quality survivors: same clusters as q81, elections well-formed, flips exercised") {
    val docs = Tables.documents(spark, sf0001)
    val q81 = Dedup.nearDupSurvivors(docs, maxHamming = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val out = Dedup.qualitySurvivors(docs, maxHamming = 8).collect()
    assert(out.map(_.getLong(0)).toSet == q81.keySet, "cluster sets diverged")
    for (r <- out) {
      val (comp, n, sLen, sTtr, flip) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getBoolean(4))
      assert((n, sLen) == q81(comp), "by-length election diverged from q81")
      assert(flip == (sLen != sTtr))
    }
    // both outcomes must be exercised, or the comparison is vestigial
    assert(out.exists(_.getBoolean(4)) && out.exists(!_.getBoolean(4)))
  }

  // ---- q155 hard negatives ------------------------------------------------

  test("hard negatives: separated clusters yield non-confusable pairs (the branch the corpus never hits)") {
    import spark.implicits._
    // two tight, well-separated clusters: positives ~0.99 cosine,
    // negatives ~0 — every query's positive must outrank its negative
    val vecs = Seq(
      (0L, Seq(1.0f, 0.01f, 0f, 0f), 0), (1L, Seq(1.0f, 0.02f, 0f, 0f), 0),
      (2L, Seq(1.0f, 0.03f, 0f, 0f), 0), (3L, Seq(0f, 0.01f, 1.0f, 0f), 1),
      (4L, Seq(0f, 0.02f, 1.0f, 0f), 1), (5L, Seq(0f, 0.03f, 1.0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vecs, queryStride = 1, k = 1)
      .collect()
    assert(out.length == 6)
    for (r <- out) {
      assert(r.getDouble(3) > 0.9, "positive should be in-cluster")
      assert(r.getDouble(5) < 0.1, "negative should be cross-cluster")
      assert(!r.getBoolean(8), "separated clusters must not be confusable")
    }
  }

  test("hard negatives: real-corpus rows are well-formed") {
    val out = Similarity.hardNegatives(
      Tables.embeddings(spark, sf0001), queryStride = 50).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      assert(r.getLong(0) % 50 == 0)
      assert(r.getLong(2) != r.getLong(0) && r.getLong(4) != r.getLong(0))
      assert(r.getDouble(3) >= -1.000001 && r.getDouble(3) <= 1.000001)
      assert(r.getBoolean(8) == (r.getDouble(5) > r.getDouble(3)))
      assert(r.getLong(6) >= 1 && r.getLong(7) >= 1)
    }
  }

  // ---- q156 dataset datasheet ---------------------------------------------

  test("datasheet: every number reconciles with its source-of-truth query") {
    val docs = Tables.documents(spark, sf0001)
    val m = Dedup.datasetDatasheet(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.size == 9)
    assert(m("n_docs") == docs.count().toDouble)
    assert(m("flagged_docs") == TextAnalysis.gateFlags(docs)
      .filter(col("f_short") || col("f_low_ttr") || col("f_bad_len")
        || col("f_dup")).count().toDouble)
    val q129docs = graft.SparkEntry.queries("q129_template_prefixes")(
        spark, sf0001)
      .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    assert(m("template_docs") == q129docs.toDouble)
    assert(m("mean_tokens_per_doc") == m("n_tokens") / m("n_docs"))
    assert(m("neardup_member_docs") > 0 && m("vocab_size") > 0)
    assert(m("n_langs") == 5 && m("n_sources") == 20)
  }

  // ---- q157 containment pairs ---------------------------------------------

  test("containment pairs: asymmetric measure dominates jaccard, both flag outcomes live") {
    val out = Dedup.containmentPairs(
      Tables.documents(spark, sf0001), minContain = 0.2).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val (c, j, p) = (r.getDouble(4), r.getDouble(5), r.getBoolean(6))
      assert(c >= 0.2 && c <= 1.0000001)
      assert(c >= j - 1e-12, "containment can never be below jaccard")
      assert(p == (c - j >= 0.1))
    }
    assert(out.exists(_.getBoolean(6)) && out.exists(!_.getBoolean(6)),
      "both partial-containment outcomes must be exercised")
    // the measure's reason to exist: at least one asymmetric pair is
    // invisible to q33's symmetric 0.3 gate (a high-jaccard pair can be
    // BOTH partial and symmetric-visible — that overlap is fine)
    val q33 = graft.SparkEntry.queries("q33_ngram_jaccard")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val partials = out.filter(_.getBoolean(6))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(partials.nonEmpty && partials.exists(!q33.contains(_)),
      "every partial-containment pair was already symmetric-visible")
  }

  // ---- q158 window provenance ---------------------------------------------

  test("window provenance: occupancy reconciles with the packing spans") {
    val packed = Sampling.contextPacking(
      Tables.documents(spark, sf0001), 512, 64).collect()
    val out = graft.SparkEntry.queries("q158_window_provenance")(
      spark, sf0001).collect()
    assert(out.length == packed.map(_.getLong(4)).max + 1,
      "every window up to the last end_window must appear")
    // each doc occupies exactly n_windows windows
    assert(out.map(_.getLong(1)).sum == packed.map(_.getLong(5)).sum)
    for (r <- out) {
      assert(r.getLong(2) >= 1 && r.getLong(2) <= r.getLong(1))
      assert(r.getBoolean(3) == (r.getLong(2) > 1))
      assert(r.getLong(4) <= r.getLong(5))
    }
    assert(out.exists(_.getBoolean(3)), "mixed-source windows must exist")
  }

  // ---- q159 language-ID confusion -----------------------------------------

  test("langid confusion: rows reconcile with class totals and the q30 marginals") {
    val out = graft.SparkEntry.queries("q159_langid_confusion")(
      spark, sf0001).collect()
    val byLang = out.groupBy(_.getString(0))
    for ((_, rows) <- byLang) {
      val tot = rows.head.getLong(3)
      assert(rows.map(_.getLong(2)).sum == tot, "cells must sum to the class total")
      assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
      rows.foreach(r =>
        assert(r.getBoolean(5) == (r.getString(0) == r.getString(1))))
    }
    assert(out.exists(_.getBoolean(5)) && out.exists(!_.getBoolean(5)))
    // predicted marginals equal q30's table (one predictor definition)
    val q30 = graft.SparkEntry.queries("q30_lang_id")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val marginals = out.groupBy(_.getString(1))
      .map { case (p, rows) => p -> rows.map(_.getLong(2)).sum }
    assert(marginals == q30)
  }

  // ---- q160 token waterfill -----------------------------------------------

  test("waterfill: allocations sum exactly to the budget and respect capacities") {
    val docs = Tables.documents(spark, sf0001)
    val out = Sampling.tokenWaterfill(docs, budget = 25000L).collect()
    assert(out.map(_.getLong(2)).sum == 25000L, "integer budget identity")
    for (r <- out) {
      val (cap, alloc, sat) = (r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(alloc <= cap, "allocation can never exceed capacity")
      if (sat) assert(alloc == cap,
        "saturated sources keep exactly their capacity")
    }
    // the saturated set itself, recomputed from first principles in plain
    // Scala (rank prefix in (capacity, source) order where
    // capacity·(sources remaining) fits the remaining budget)
    val ranked = out.sortBy(r => (r.getLong(1), r.getString(0)))
    var prefix = 0L
    val expectSat = ranked.zipWithIndex.map { case (r, idx) =>
      val cap = r.getLong(1); prefix += cap
      r.getString(0) -> (cap * (ranked.length - idx) <= 25000L - (prefix - cap))
    }.toMap
    for (r <- out)
      assert(r.getBoolean(3) == expectSat(r.getString(0)),
        s"saturated-set membership for ${r.getString(0)}")
    assert(out.exists(_.getBoolean(3)) && out.exists(!_.getBoolean(3)))
    // unsaturated allocations differ by at most 1 (level + remainder)
    val unsat = out.filter(!_.getBoolean(3)).map(_.getLong(2))
    assert(unsat.max - unsat.min <= 1)
    // every saturated capacity is below every unsaturated allocation
    val satCaps = out.filter(_.getBoolean(3)).map(_.getLong(1))
    assert(satCaps.forall(_ <= unsat.min))
  }

  test("waterfill: a budget above total capacity saturates everyone") {
    val docs = Tables.documents(spark, sf0001)
    val out = Sampling.tokenWaterfill(docs, budget = 10000000L).collect()
    assert(out.forall(_.getBoolean(3)))
    assert(out.forall(r => r.getLong(2) == r.getLong(1)))
  }

  // ---- q147 source JS divergence -----------------------------------------

  test("js divergence: identical sources diverge by (at most) quantization noise") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha", "en", "sA", 0L),
      (2L, "beta beta delta", "en", "sA", 0L),
      (3L, "alpha beta gamma alpha", "en", "sB", 0L),
      (4L, "beta beta delta", "en", "sB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.sourceJsDivergence(docs).collect()
    assert(r.length == 1)
    assert(r.head.getString(0) == "sA" && r.head.getString(1) == "sB")
    assert(math.abs(r.head.getDouble(5)) < 2e-6,
      s"JS of identical distributions = ${r.head.getDouble(5)}")
    assert(r.head.getLong(2) == r.head.getLong(3)) // full vocab overlap
  }

  test("js divergence: disjoint vocabularies land at ln 2") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma", "en", "sA", 0L),
      (2L, "delta epsilon zeta", "en", "sB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.sourceJsDivergence(docs).collect().head
    assert(r.getLong(3) == 0) // nothing shared
    assert(math.abs(r.getDouble(5) - math.log(2d)) < 1e-4,
      s"JS of disjoint distributions = ${r.getDouble(5)}")
  }

  test("js divergence: real corpus rows stay inside [0, ln 2] and cover all pairs") {
    val srcs = Tables.documents(spark, sf0001)
      .select(col("source")).distinct().count()
    val rows = TextAnalysis.sourceJsDivergence(Tables.documents(spark, sf0001))
      .collect()
    assert(rows.length == srcs * (srcs - 1) / 2)
    for (r <- rows) {
      val js = r.getDouble(5)
      assert(js >= -2e-6 && js <= math.log(2d) + 2e-6, s"JS out of range: $js")
      assert(r.getLong(3) <= r.getLong(2))
    }
  }

  test("js divergence: the micro-nat ledger survives past the int64 wrap bound") {
    // Two identical sources of 5e5 tokens each over ONE vocab term:
    // the mixture weight w = a*tb + b*ta = 2*(5e5)^2 = 5e11, whose
    // micro-nat product w*floor(ln(w)*1e6) ~ 1.3e19 exceeds
    // Long.MaxValue (9.2e18) — an int64 ledger would wrap SILENTLY here
    // and js_nats would come out garbage. The decimal(38,0) ledger must
    // keep the identical-distribution divergence at quantization noise.
    val T = 500L * 1000L // tokens per source: 1000 docs x 500 tokens
    val w = BigInt(2) * BigInt(T) * BigInt(T)
    val wlnw = w * BigInt(math.floor(math.log(w.toDouble) * 1e6).toLong)
    assert(wlnw > BigInt(Long.MaxValue),
      s"fixture must sit past the int64 bound, got $wlnw")
    val txt = Array.fill(500)("tok").mkString(" ")
    val docs = spark.range(2000).select(
      col("id").as("doc_id"), lit(txt).as("text"), lit("en").as("lang"),
      when(col("id") % 2 === 0, "sA").otherwise("sB").as("source"),
      lit(0L).as("n_chars"))
    val r = TextAnalysis.sourceJsDivergence(docs).collect()
    assert(r.length == 1)
    val js = r.head.getDouble(5)
    assert(math.abs(js) < 2e-6,
      s"identical distributions past the wrap bound: js = $js (wrapped ledger?)")
    // the exact expected value, recomputed from first principles with
    // BigInt ledgers and the operator's own quantization formula
    val sa = BigInt(T) * BigInt(math.floor(math.log(T.toDouble) * 1e6).toLong)
    val dtt = 2.0 * T.toDouble * T.toDouble
    def leg(tot: Double, ledger: BigInt): Double =
      math.floor(math.log(tot) * 1e6) * 1e-6 - (ledger.toDouble * 1e-6) / tot
    val expected = leg(dtt, wlnw) - 0.5 * leg(T.toDouble, sa) -
      0.5 * leg(T.toDouble, sa)
    assert(math.abs(js - expected) < 1e-12,
      s"ledger value drifted from the BigInt recomputation: $js vs $expected")
  }
}
