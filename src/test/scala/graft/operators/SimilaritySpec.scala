package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {

  private val queryIds = Seq(0L, 100L, 200L)

  test("brute-force top-k: k rows per query, descending cosine, no self") {
    val got = Similarity.bruteForceTopK(Tables.embeddings(spark, sf0001), queryIds, 10)
      .collect()
    assert(got.length == queryIds.size * 10)
    assert(!got.exists(r => r.getLong(0) == r.getLong(1)), "self match leaked")
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cos = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, "not descending")
    }
  }

  test("ANN LSH top-k recall vs brute force is usable") {
    val e = Tables.embeddings(spark, sf0001)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = asSet(Similarity.bruteForceTopK(e, queryIds, 10))
    val ann = asSet(Similarity.annTopK(e, queryIds, 10))
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall too low: $recall")
    // and the ANN result must itself be correctly ranked within buckets
    assert(ann.size <= exact.size)
  }

  test("int8-quantized top-k nearly reproduces the exact float ranking") {
    val e = Tables.embeddings(spark, sf0001)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = asSet(Similarity.bruteForceTopK(e, queryIds, 10))
    val quant = asSet(Similarity.quantizedTopK(e, queryIds, 10))
    val recall = exact.count(quant.contains).toDouble / exact.size
    // 8 bits per component loses very little cosine precision — demand
    // far more than the bucketed-ANN bounds
    assert(recall >= 0.9, s"quantized recall too low: $recall")
  }

  test("IVF top-k recall vs brute force is usable and candidates shrink") {
    val e = Tables.embeddings(spark, sf0001)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = asSet(Similarity.bruteForceTopK(e, queryIds, 10))
    val ivf = asSet(Similarity.ivfTopK(e, queryIds, 10))
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("kmeans centroids: k lists, every vector assigned, dims preserved") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf0001)
    val c = Similarity.kmeansCentroids(e, k = 8, iters = 2)
    assert(c.count() == 8)
    assert(c.select(size(col("cvec"))).distinct().head().getInt(0) == 64)
  }

  test("hot-list split: partition preserved, children bounded, flags and remap exact") {
    val e = Tables.embeddings(spark, sf0001)
    val nlist = 8
    val (cents, lists) = Similarity.ivfIndex(e, nlist, iters = 3)
    val base = lists.select(col("cid"), col("vec_id"), col("v"))
      .localCheckpoint(true)
    val n = base.count()
    val maxList = math.ceil(n.toDouble / nlist).toInt
    val hot = base.groupBy(col("cid")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxList)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hot.nonEmpty, "fixture must exercise a real split at the mean cut")
    val (newCents, newLists) =
      Similarity.splitHotLists(base, cents, nlist, maxList, iters = 3)
    val nl = newLists.localCheckpoint(true)
    // the rebalanced index still partitions the corpus: every vector in
    // exactly one list
    assert(nl.count() == n, "split must not add or drop members")
    assert(nl.select(col("vec_id")).distinct().count() == n)
    // cold lists untouched, flags exact; children remap parent+child*nlist
    val perNew = nl.groupBy(col("cid"), col("from_split"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getInt(0), r.getBoolean(1), r.getLong(2)))
    perNew.foreach { case (cid, split, cnt) =>
      val parent = cid % nlist
      assert(split == hot.contains(parent),
        s"from_split flag wrong for cid $cid (parent $parent)")
      if (!split) assert(cid < nlist && cnt <= maxList)
      else {
        // each child is a strict subset of its parent unless the sibling
        // died (the documented empty-child convention)
        assert(cnt <= hot(parent), s"child $cid larger than its parent")
      }
    }
    // the two children of each hot parent partition the parent's members
    hot.foreach { case (parent, parentN) =>
      val kids = perNew.filter { case (cid, split, _) =>
        split && cid % nlist == parent }
      assert(kids.map(_._3).sum == parentN,
        s"children of $parent must hold exactly its $parentN members")
    }
    // every child list has a centroid to serve from
    val centIds = newCents.select(col("cid")).collect().map(_.getInt(0)).toSet
    perNew.foreach { case (cid, _, _) =>
      assert(centIds.contains(cid), s"list $cid has no centroid")
    }
  }

  test("allPairsNearDup guard: refuses big input, names the replacements, override works") {
    val e = Tables.embeddings(spark, sf0001)
    val err = intercept[IllegalArgumentException] {
      Similarity.allPairsNearDup(e, 0.3, maxRows = 10L)
    }
    assert(err.getMessage.contains("O(n²)"), err.getMessage)
    assert(err.getMessage.contains("q34") && err.getMessage.contains("q39"),
      s"remediation text must point at the bucketed families: ${err.getMessage}")
    // explicit opt-in bypasses the count entirely and still computes pairs
    val ok = Similarity.allPairsNearDup(e, 0.3, allPairsOk = true, maxRows = 10L)
    assert(ok.count() > 0)
    // under the cap it runs without the flag (the oracle-query path)
    assert(Similarity.allPairsNearDup(e.limit(50), 0.9).columns.toSeq ==
      Seq("d1", "d2", "cosine"))
  }

  test("quantized: all-zero embedding yields zero codes, not NaN") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, -2.0f, 0.5f))).toDF("vec_id", "embedding")
    val q = Similarity.quantized(df, "embedding", "qv")
      .select(col("vec_id"), col("qv")).orderBy("vec_id").collect()
    val zeroCodes = q(0).getSeq[Double](1)
    assert(zeroCodes == Seq(0.0, 0.0, 0.0), s"zero vector quantized to $zeroCodes")
    assert(!q(1).getSeq[Double](1).exists(_.isNaN))
  }

  test("literal-matrix signatures equal the per-row-hash formulation bit-for-bit") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    // the ORIGINAL formulation (one hash expression per row × plane × dim),
    // kept here as the semantic pin for the precomputed sign-matrix literals
    def oldStyle(v: Column, planes: Int, sign: (Int, Column) => Column): Column = {
      val dv = transform(v, _.cast("double"))
      val bits = (0 until planes).map { p =>
        val proj = aggregate(
          zip_with(dv, transform(sequence(lit(0), size(v) - 1), j => sign(p, j)),
            _ * _),
          lit(0.0d), _ + _)
        when(proj > 0, lit(1L << p)).otherwise(lit(0L))
      }
      bits.reduce((x, y) => x.bitwiseOR(y))
    }
    val md5Sign = (p: Int, j: Column) =>
      when(conv(substring(md5(concat(lit(s"$p|"), j.cast("string"))), 1, 1), 16, 10)
            .cast("int") % 2 === 0, 1.0d)
        .otherwise(-1.0d)
    val e = Tables.embeddings(spark, sf0001).limit(100)
    val cmp = e.select(
      graft.functions.VectorOps.hyperplaneSignature(col("embedding"), 8).as("nm"),
      oldStyle(col("embedding"), 8, md5Sign).as("om"))
    assert(cmp.filter(col("nm") =!= col("om")).count() == 0)
  }

  test("oversized vector fails loud instead of a null-poisoned signature") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val big = Seq((1L, (0 until 2000).map(_.toFloat))).toDF("vec_id", "embedding")
    val err = intercept[Exception] {
      big.select(graft.functions.VectorOps.hyperplaneSignature(col("embedding"), 4))
        .collect()
    }
    assert(err.getMessage.contains("1024"), err.getMessage)
  }

  test("hyperplane signature is deterministic across evaluations") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf0001).limit(50)
    val s1 = e.select(col("vec_id"),
      graft.functions.VectorOps.hyperplaneSignature(col("embedding"), 4).as("sig"))
    val s2 = e.repartition(7).select(col("vec_id"),
      graft.functions.VectorOps.hyperplaneSignature(col("embedding"), 4).as("sig"))
    assert(s1.except(s2).isEmpty && s2.except(s1).isEmpty)
  }

  test("mmr: distinct picks, top-1 is the relevance argmax, scores non-increasing") {
    val got = Similarity.mmrTopK(Tables.embeddings(spark, sf0001),
        Seq(0L, 10L), k = 4, fromN = 10)
      .collect()
      .groupBy(_.getLong(0))
    assert(got.keySet == Set(0L, 10L))
    for ((q, rows) <- got) {
      val byStep = rows.sortBy(_.getInt(2))
      assert(byStep.map(_.getLong(1)).distinct.length == 4, s"q$q repeated a pick")
      // step 1 has no penalty: it is the plain relevance argmax
      val top1 = Similarity.bruteForceTopK(
          Tables.embeddings(spark, sf0001), Seq(q), 1)
        .collect().head.getLong(1)
      assert(byStep.head.getLong(1) == top1, s"q$q step-1 != relevance top-1")
      // candidate pool only shrinks and penalties only grow → the greedy
      // argmax score is non-increasing across steps
      val scores = byStep.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"q$q scores increased: ${scores.mkString(",")}")
    }
  }

  test("rrf: fused scores reconstruct from the two input rankings") {
    val e = Tables.embeddings(spark, sf0001)
    val ids = Seq(0L, 10L)
    val exact = Similarity.bruteForceTopK(e, ids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val ann = Similarity.annTopK(e, ids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val fused = Similarity.rrfFuse(e, ids, k = 5, fromN = 10).collect()
    assert(fused.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(1)).sorted
      .sameElements(1 to 5)), "each query must carry ranks 1..5")
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val expected =
        exact.get(key).map(rn => 1.0 / (60.0 + rn)).getOrElse(0.0) +
        ann.get(key).map(rn => 1.0 / (60.0 + rn)).getOrElse(0.0)
      assert(r.getDouble(3) == expected, s"score mismatch for $key")
      val nr = Seq(exact.contains(key), ann.contains(key)).count(identity)
      assert(r.getInt(4) == nr, s"n_rankers mismatch for $key")
      assert(nr >= 1, "fused doc must come from at least one ranker")
    }
  }

  test("mmr diversifies: a tight near-dup cluster cannot fill the page") {
    val spark0 = spark
    import spark0.implicits._
    // cluster A: four near-identical vectors very close to the query;
    // B: one moderately relevant but distant vector. Plain top-3 is all
    // A; at lambda=0.3 the redundancy penalty must admit B.
    def vec(theta: Double) = Array(math.cos(theta).toFloat, math.sin(theta).toFloat)
    val rows = Seq(
      (0L, vec(0.0), 0),            // query
      (1L, vec(0.080), 0), (2L, vec(0.081), 0),
      (3L, vec(0.082), 0), (4L, vec(0.083), 0), // cluster A
      (5L, vec(1.05), 1))            // B: ~60 degrees off
      .toDF("vec_id", "embedding", "label")
    val plain = Similarity.bruteForceTopK(rows, Seq(0L), 3)
      .collect().map(_.getLong(1)).toSet
    assert(!plain.contains(5L), "fixture: plain top-3 must be all cluster A")
    val mmr = Similarity.mmrTopK(rows, Seq(0L), k = 3, fromN = 5, lambda = 0.3)
      .collect().map(_.getLong(1)).toSet
    assert(mmr.contains(5L), s"MMR must admit the distant vector, got $mmr")
  }

  test("knn hubness: star fixture — the hub is everyone's nearest neighbor") {
    val spark0 = spark
    import spark0.implicits._
    // hub = e1; satellite i = e1 + 0.5·e_i (orthogonal offsets), so
    // cos(sat, hub) = 1/sqrt(1.25) ≈ .894 beats cos(sat_i, sat_j) = 0.8
    // for every pair — with k = 1 all six satellites pick the hub, the
    // hub's own tie among satellites breaks to the smallest dst (1).
    def vec(i: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(0) = 1.0f
      if (i > 0) v(i) = 0.5f
      v
    }
    val rows = (0 to 6).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val got = Similarity.knnHubness(rows, k = 1, nlist = 1, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 5L, 1L -> 1L, 6L -> 1L),
      s"expected in-degree histogram {0:5, 1:1, 6:1}, got $got")
  }

  test("knn hubness: auto nlist holds the oracle's 8 lists at verify scale, grows with n") {
    assert(Similarity.autoNlist(500) == 8,
      "500 vectors must run the exact 8-list chain the DuckDB twin unrolls")
    assert(Similarity.autoNlist(1) == 8, "floor keeps tiny corpora at 8")
    assert(Similarity.autoNlist(5000) == 80)
    assert(Similarity.autoNlist(25000) == 397,
      "5x bench corpus: per-list size stays ~63, pair mass n·B not n²/8")
  }

  test("knn hubness: histogram partitions the corpus, edges bounded by n*k") {
    val e = Tables.embeddings(spark, sf0001)
    val n = e.count()
    val h = Similarity.knnHubness(e, k = 10).collect()
    assert(h.map(_.getLong(1)).sum == n, "every vector must land in one bucket")
    val edges = h.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(edges > 0 && edges <= n * 10, s"edge count $edges out of [1, ${n * 10}]")
  }

  test("ivf probe-recall curve: monotone, anchored at exactly 1.0 / n-1 at full probe") {
    val e = Tables.embeddings(spark, sf0001)
    val rows = Similarity
      .ivfProbeRecallCurve(e, queryIds, k = 10)
      .collect()
    assert(rows.length == 8, "one row per nprobe value")
    assert(rows.map(_.getInt(0)).toSeq == (1 to 8))
    val rec = rows.map(_.getDouble(1))
    // superset candidates under the SAME total score order can only add
    // true-top-k members, never displace one — recall is monotone
    assert(rec.zip(rec.tail).forall { case (a, b) => b >= a }, "recall dipped")
    assert(rec.last == 1.0, "full probe must reproduce the exact top-k")
    val cands = rows.map(_.getDouble(2))
    assert(cands.zip(cands.tail).forall { case (a, b) => b > a },
      "every extra probe admits a non-empty list on this corpus")
    assert(cands.last == (e.count() - 1).toDouble,
      "full probe scores every non-self vector exactly once")
  }

  test("ivf list stats: shares/skew reconcile; sizes match the q112 lists") {
    val e = Tables.embeddings(spark, sf0001)
    val st = Similarity.ivfListStats(e).collect()
    assert(st.length == 8, "all 8 lists populated on this corpus")
    assert(st.map(_.getLong(1)).sum == e.count())
    assert(math.abs(st.map(_.getDouble(2)).sum - 1.0) < 1e-9, "shares sum to 1")
    assert(math.abs(st.map(_.getDouble(3)).sum / st.length - 1.0) < 1e-9,
      "mean skew is 1 when every list is non-empty")
    assert(st.forall(r => r.getDouble(4) >= -1.000001 && r.getDouble(4) <= 1.000001))
    // the same coarse quantizer q112 accounts with — list sizes must agree
    val sd = Similarity.semanticDedup(e, threshold = 0.3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(st.map(r => (r.getInt(0), r.getLong(1))).toMap == sd,
      "ivfListStats and semanticDedup disagree on the list partition")
  }

  test("bm25: hand-computed fixture scores; hybrid fusion = checkable sum of both legs") {
    val spark0 = spark
    import spark0.implicits._
    // tiny corpus with a hand-checkable geometry: query doc 0 shares
    // "apple" with docs 1 and 2 (doc 1 twice -> higher tf) and "pear"
    // with doc 2; doc 3 shares nothing and must never surface
    val docs = Seq(
      (0L, "apple pear"),
      (1L, "apple apple banana"),
      (2L, "apple pear plum"),
      (3L, "cherry cherry cherry")
    ).toDF("doc_id", "text")
    val page = Similarity.bm25TopK(docs, Seq(0L), k = 10)
      .orderBy(col("rn")).collect()
    assert(page.map(_.getLong(1)).toSeq == Seq(2L, 1L),
      s"doc 2 (two shared terms incl. rarer pear) must outrank doc 1; " +
      s"doc 3 (no shared term) must be absent: ${page.mkString(",")}")
    // hand recompute doc 1's score: N=4, df(apple)=3, dl=3, avgdl=11/4
    def idfMicros(n: Long, df: Long): Long =
      math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1) * 1e6).toLong
    def termMicros(lnq: Long, tf: Long, dl: Long, avgdl: Double): Long = {
      val t = (lnq * 1e-6) * (tf * 2.2) /
        (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
      math.floor(BigDecimal(t).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6).toLong
    }
    val avgdl = 11.0 / 4.0
    val wantDoc1 = termMicros(idfMicros(4, 3), 2, 3, avgdl) * 1e-6
    val gotDoc1 = page.find(_.getLong(1) == 1L).get.getDouble(2)
    assert(math.abs(gotDoc1 - wantDoc1) < 1e-12,
      s"doc 1 bm25: got $gotDoc1 want $wantDoc1")
    val wantDoc2 = (termMicros(idfMicros(4, 3), 1, 3, avgdl)
      + termMicros(idfMicros(4, 2), 1, 3, avgdl)) * 1e-6
    val gotDoc2 = page.find(_.getLong(1) == 2L).get.getDouble(2)
    assert(math.abs(gotDoc2 - wantDoc2) < 1e-12,
      s"doc 2 bm25: got $gotDoc2 want $wantDoc2")

    // hybrid fusion over the real corpus: every fused score must be the
    // exact sum of its legs' reciprocal ranks, and a doc surfaced by
    // both legs must carry n_rankers = 2
    val corpus = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val emb = graft.Tables.embeddings(spark, sf0001)
    val ids = Seq(0L, 100L, 200L)
    val lex = Similarity.bm25TopK(corpus, ids, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val den = Similarity.bruteForceTopK(emb, ids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    val fused = Similarity.hybridRrfTopK(corpus, emb, ids, k = 10,
      fromN = 10).collect()
    assert(fused.groupBy(_.getLong(0)).forall(_._2.map(_.getInt(1)).sorted
      .sameElements(1 to 10)), "each query must carry ranks 1..10")
    fused.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val expected =
        lex.get(key).map(rn => 1.0 / (60.0 + rn)).getOrElse(0.0) +
        den.get(key).map(rn => 1.0 / (60.0 + rn)).getOrElse(0.0)
      assert(r.getDouble(3) == expected, s"hybrid score mismatch for $key")
      val nr = Seq(lex.contains(key), den.contains(key)).count(identity)
      assert(r.getInt(4) == nr, s"n_rankers mismatch for $key")
    }
    // the fixture must exercise genuine hybridity: some doc fused from
    // both legs somewhere, and some from exactly one
    val nrs = fused.map(_.getInt(4)).toSet
    assert(nrs.contains(1), "no single-leg doc — fixture vacuous")
  }

  test("phrase match: hand-computed fixture — contiguity, repeated-token " +
      "phrase, occurrence counts, tie order") {
    val spark0 = spark
    import spark0.implicits._
    // query 0's phrase = its first three tokens "a b a" — the repeated
    // token is the trap the (start, qpos) vote trick must survive
    val docs = Seq(
      (0L, "a b a b a"),      // the query
      (1L, "x a b a b a y"),  // two overlapping occurrences (starts 1, 3)
      (2L, "a b a"),          // one occurrence
      (3L, "b a b a"),        // one (start 1)
      (4L, "a a b"),          // bag matches, phrase does NOT
      (5L, "b a x b a")       // pieces, never contiguous
    ).toDF("doc_id", "text")
    val got = Similarity.phraseMatchTopK(docs, Seq(0L), k = 10)
      .orderBy(col("rn"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq((1L, 2L, 1), (2L, 1L, 2), (3L, 1L, 3)),
      s"phrase page diverged: $got")
  }

  test("proximity match: hand-computed fixture — anchor-pair derivation, " +
      "window bound, per-anchor dedup, counts, tie order") {
    val spark0 = spark
    import spark0.implicits._
    // query 0's anchor pair: t1 = its leading token "a", t2 = the
    // first DIFFERING token "b" (the repeated leading "a" must be
    // skipped, not taken as t2)
    val docs = Seq(
      (0L, "a a b"),     // the query
      (1L, "a x x x b"), // distance 4 > window 3 — no hit
      (2L, "a x x b"),   // distance exactly 3 — one hit
      (3L, "b a"),       // t2 BEFORE t1, distance 1 — one hit
      (4L, "a a b"),     // anchors at 0 (d=2) and 1 (d=1) — two hits
      (5L, "a b b b a"), // two anchors, each with b's crowding the
                         // window — semi-join dedup must count TWO, not
                         // one per (anchor, neighbor) pair
      (6L, "a a a"),     // t1 only, no t2 — no hit
      (7L, "b b b")      // t2 only, no anchor — no hit
    ).toDF("doc_id", "text")
    val got = Similarity.proximityTopK(docs, Seq(0L), window = 3, k = 10)
      .orderBy(col("rn"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got == Seq((4L, 2L, 1), (5L, 2L, 2), (2L, 1L, 3), (3L, 1L, 4)),
      s"proximity page diverged: $got")
  }

  test("densest passage: hand-computed fixture — window votes, argmax " +
      "start tie to the smallest, clamp at zero, rank order") {
    val spark0 = spark
    import spark0.implicits._
    // query 0's term set: distinct tokens of its first three positions
    // "a b a" -> {a, b}
    val docs = Seq(
      (0L, "a b a c"),         // the query
      (1L, "a x x x b"),       // no width-4 window holds both: best 1,
                               // start ties to 0 (a@0's window)
      (2L, "x a b x"),         // both terms in the start-0 window: 2
      (3L, "a a b b"),         // all four positions hit: 4
      (4L, "c c c"),           // no query term — absent
      (5L, "b x x a x b"),     // 2 in window at starts 0, 2, 3 — the
                               // smallest start must win
      (6L, "x x x x a b a")    // dense passage mid-document: 3 from
                               // start 3 (start 4 ties, 3 is smaller)
    ).toDF("doc_id", "text")
    val got = Similarity.passageTopK(docs, Seq(0L), width = 4, k = 10)
      .orderBy(col("rn")).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))).toSeq
    assert(got == Seq((3L, 4L, 0, 1), (6L, 3L, 3, 2), (2L, 2L, 0, 3),
      (5L, 2L, 0, 4), (1L, 1L, 0, 5)),
      s"passage page diverged: $got")
  }
}
