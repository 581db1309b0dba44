package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Properties of the round-10 curation operators (q161–q166): internal
  * consistency each table must satisfy regardless of corpus. */
class CurationOpsSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf001)

  test("savings curve: cumulative, bounded, and anchored to the pair set") {
    val rows = Dedup.dedupSavingsCurve(docs, maxHamming = 8).collect()
    assert(rows.length == 9)
    val de = rows.sortBy(_.getInt(0)).map(_.getLong(1))
    assert(de.zip(de.tail).forall { case (a, b) => a <= b },
      "docs_exposed must be non-decreasing in the threshold")
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    // the h=8 endpoint counts exactly the distinct pair members
    val members = Dedup.simhashNearDupPairsCapped(docs, 8, Dedup.DefaultMaxBucket)
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct().count()
    assert(de.last == members,
      s"curve endpoint ${de.last} != distinct pair members $members")
  }

  test("split leakage: cells are ordered, pair mass reconciles") {
    val m = Dedup.splitLeakageMatrix(docs, maxHamming = 8).collect()
    m.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "cells must be s1 <= s2")
      assert(r.getBoolean(4) == (r.getString(0) != r.getString(1)))
    }
    val totalPairs = Dedup.simhashNearDupPairsCapped(docs, 8, Dedup.DefaultMaxBucket)
      .count()
    assert(m.map(_.getLong(2)).sum == totalPairs,
      "matrix pair mass must equal the pair-set size")
  }

  test("curriculum grid partitions the corpus; token shares sum to 1") {
    val g = TextAnalysis.curriculumGrid(docs).collect()
    assert(g.map(_.getLong(2)).sum == docs.count(),
      "grid cells must partition the documents")
    val shares = g.map(_.getDouble(4)).sum
    assert(math.abs(shares - 1.0) < 1e-9, s"token shares sum to $shares")
    assert(g.forall(r => r.getInt(0) >= 0 && r.getInt(0) <= 4))
  }

  test("epoch plan: grants cover the budget up to floor loss; flags consistent") {
    val budget = 26500L
    val p = Sampling.epochPlan(docs, budget).collect()
    val granted = p.map(_.getLong(3)).sum
    assert(granted <= budget && budget - granted < p.length,
      s"integer floor loss must be < n_sources: granted=$granted")
    p.foreach { r =>
      assert(r.getBoolean(5) == (r.getLong(3) > r.getLong(1)))
      assert(r.getBoolean(5) == (r.getDouble(4) > 1.0))
    }
    assert(p.exists(_.getBoolean(5)) && p.exists(!_.getBoolean(5)),
      "verify scale must exercise both the upsampled and undersampled regimes")
  }

  test("knn label eval: scored within vecs, accuracy bounded, corpus covered") {
    val e = Similarity.knnLabelEval(Tables.embeddings(spark, sf001), k = 5).collect()
    assert(e.map(_.getLong(1)).sum == Tables.embeddings(spark, sf001).count())
    e.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_scored <= n_vecs")
      assert(r.getLong(3) <= r.getLong(2), "n_correct <= n_scored")
      if (!r.isNullAt(4))
        assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("knn label eval auto-scales nlist (the q138/q112 contract)") {
    // fixed nlist=8 measured 2.0x wall-clock on 5x data during round-10
    // bring-up; q165's default (nlist = 0) routes through the ONE
    // resolveNlist definition, pinned here: above the floor it opens
    // autoNlist(n) lists, and at verify scale it floors to the oracle's 8
    val base = Tables.embeddings(spark, sf001)
    val big = (0 until 4).map(k =>
        base.withColumn("vec_id", col("vec_id") + lit(k * 1000000L)))
      .reduce(_ unionAll _)
    val n = big.count()
    assert(Similarity.autoNlist(n) > 8)
    assert(Similarity.resolveNlist(big, 0) == Similarity.autoNlist(n))
    assert(Similarity.resolveNlist(base, 0) == 8,
      "verify scale must replay the oracle's 8-list chain")
    assert(Similarity.resolveNlist(big, 3) == 3, "explicit nlist wins")
    // and the big-corpus eval still partitions the corpus under auto
    val rows = Similarity.knnLabelEval(big, k = 5).collect()
    assert(rows.map(_.getLong(1)).sum == n)
    assert(rows.map(_.getLong(2)).sum > 0)
  }

  test("oracle-side nlist resolves through the SAME autoNlist as the engine") {
    // The round-13 residual: the auto-nlist oracles pinned 8 lists, so
    // the oracle stopped proving the registered form exactly where
    // auto-nlist grows (sf0.1). Now Verify publishes the corpus count
    // (OracleCtx) and the oracle builders embed autoNlist(count) — ONE
    // sizing rule on both sides. Pin the resolver and its fallback.
    try {
      graft.OracleCtx.setEmbeddingsCount(5000L)
      assert(Similarity.oracleNlist == Similarity.autoNlist(5000L))
      assert(Similarity.oracleNlist > 8, "must scale past the floor")
      graft.OracleCtx.setEmbeddingsCount(500L)
      assert(Similarity.oracleNlist == 8, "gate scale floors to 8")
    } finally graft.OracleCtx.clear()
    assert(Similarity.oracleNlist == 8,
      "no Verify context: historical 8 (tests/Bench never consume oracle SQL)")
  }

  test("overlap chunks: full coverage, strictly advancing ends, no contained tails") {
    val W = 32; val S = 24
    val ch = Sampling.overlapChunks(docs, W, S).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    val nts = docs.select(col("doc_id"),
        org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ch.keySet == nts.keySet, "every document must be chunked")
    ch.foreach { case (id, rows) =>
      val nt = nts(id)
      assert(rows.head.getLong(2) == 0, "first chunk starts at 0")
      assert(rows.last.getLong(3) == nt, "last chunk ends at the doc end")
      rows.foreach { r =>
        assert(r.getLong(3) - r.getLong(2) == r.getLong(4))
        assert(r.getLong(3) <= nt && r.getLong(4) > 0)
      }
      // consecutive chunks: starts advance by the stride, ends strictly
      // advance (no fully-contained tail chunks)
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getLong(2) - a.getLong(2) == S)
          assert(b.getLong(3) > a.getLong(3), s"contained tail in doc $id")
        case _ =>
      }
    }
  }

  test("formatting variants: fixture groups carry the byte-twin and the perturbed copy") {
    // the registered fixture shape, built OUTSIDE the operator: the
    // operator itself must fingerprint the corpus it is handed
    val base = docs.select(col("text"))
    val fixture = base.unionAll(base)
      .unionAll(base.select(org.apache.spark.sql.functions.concat(col("text"),
        org.apache.spark.sql.functions.lit(" .")).as("text")))
    val h = Dedup.formattingVariants(fixture).collect()
    assert(h.nonEmpty)
    h.foreach { r =>
      // fixture = original + byte twin + ' .' variant per doc: every
      // group holds at least one full triple and at least 2 raw variants
      assert(r.getLong(0) >= 3, s"group size ${r.getLong(0)} < fixture triple")
      assert(r.getLong(1) >= 2 && r.getBoolean(3),
        "the perturbed copy must register as a raw variant")
      assert(r.getLong(1) <= r.getLong(0))
    }
    // group mass reconciles with the distinct normalized fingerprints
    val nFp = docs.select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.trim(regexp_replace(lower(col("text")),
          "[^a-z0-9]+", " "))).as("fp"))
      .distinct().count()
    assert(h.map(_.getLong(2)).sum == nFp,
      "every normalized fingerprint must land in exactly one histogram cell")
  }

  test("formatting variants: a dup-free corpus yields an honestly empty audit") {
    // the operator must not fabricate its own dup mass (the fixture
    // lives in the registration body, not in the operator). The corpus
    // is PROVABLY dup-free by construction — one distinct alphanumeric
    // token per row, so every normalized fingerprint is unique — not
    // gated on the shared sf0.01 fixture staying duplicate-free (a
    // conditional assert would silently skip the moment that fixture
    // gained a natural dup, and this guard would be gone).
    val clean = spark.range(10)
      .selectExpr("id AS doc_id", "concat('uniquetoken', id) AS text")
    assert(Dedup.exactDedup(clean).count() == 10,
      "fixture self-check: the inline corpus must be dup-free")
    assert(Dedup.formattingVariants(clean).collect().isEmpty,
      "formattingVariants invented duplicate mass on a clean corpus")
  }

  test("band planner: candidates shrink as rows-per-band grows; r=2 row = q34") {
    val p = Dedup.minhashBandPlanner(docs, k = 8).collect().sortBy(_.getInt(1))
    assert(p.map(_.getInt(1)).toSeq == Seq(1, 2, 4, 8))
    val cands = p.map(_.getLong(2))
    assert(cands.zip(cands.tail).forall { case (a, b) => a >= b },
      s"candidate count must be non-increasing in r: ${cands.toSeq}")
    // capture probability is monotone in s for every config, and the
    // r=1 config dominates every other at each s
    p.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(5))
    }
    val q34 = Dedup.minhashCandidatesCapped(docs, k = 8, rowsPerBand = 2,
      maxBucket = Dedup.DefaultMaxBucket).count()
    assert(p.find(_.getInt(1) == 2).get.getLong(2) == q34,
      "the (4,2) planner row must equal q34's candidate count")
  }

  test("repeated passages: spans disjoint, internally consistent, merge correctly") {
    import spark.implicits._
    // d0/d1 share "alpha beta gamma delta" (two overlapping repeated
    // 3-grams -> ONE merged 4-token span); d0/d2 share a separate
    // passage far inside d0; d3 is all-unique -> no rows
    val docs = Seq(
      (0L, "alpha beta gamma delta u1 u2 u3 u4 red green blue cyan end0"),
      (1L, "x1 x2 alpha beta gamma delta y1 y2 y3"),
      (2L, "z1 z2 z3 red green blue cyan z4"),
      (3L, "only unique words appear in this document")
    ).toDF("doc_id", "text")
    val spans = TextAnalysis.repeatedPassages(docs, dfMin = 2).collect()
    // d0: [0,3] (alpha..delta) and [8,11] (red..cyan); gap of 4 > 3 so
    // they must NOT merge. d1: [2,5]. d2: [3,6]. d3: nothing.
    val byDoc = spans.groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq).toMap
    assert(byDoc.keySet == Set(0L, 1L, 2L),
      s"unexpected docs with spans: ${byDoc.keySet}")
    assert(byDoc(0L) == Seq((0L, 3L, 4L, 2L), (8L, 11L, 4L, 2L)),
      s"d0 spans: ${byDoc(0L)}")
    assert(byDoc(1L) == Seq((2L, 5L, 4L, 2L)), s"d1 spans: ${byDoc(1L)}")
    assert(byDoc(2L) == Seq((3L, 6L, 4L, 2L)), s"d2 spans: ${byDoc(2L)}")
    // generic invariants on the real corpus: disjoint ordered spans,
    // width identity, gram count bounded by the shingle positions
    val real = TextAnalysis.repeatedPassages(
      Tables.documents(spark, sf001), dfMin = 2).collect()
    assert(real.nonEmpty, "sf0.01 corpus must contain repeated passages")
    real.groupBy(_.getLong(0)).foreach { case (id, rows) =>
      val s = rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      s.sliding(2).foreach {
        case Array((_, e1), (s2, _)) =>
          assert(s2 > e1 + 1, s"doc $id spans touch or overlap — must merge")
        case _ =>
      }
      rows.foreach { r =>
        assert(r.getLong(3) == r.getLong(2) - r.getLong(1) + 1)
        assert(r.getLong(3) >= 3 && r.getLong(4) <= r.getLong(3) - 2)
      }
    }
  }

  test("dedup-aware epochs: a fully-duplicated source stays in the table at zero") {
    import spark.implicits._
    // every 'mirror' doc duplicates an 'a' doc at a HIGHER doc_id, so
    // mirror loses every keeper election — the pathological case the
    // replan exists to surface must appear at zero, not vanish
    val a = Seq(
      (1L, "a", "alpha beta gamma delta epsilon"),
      (2L, "a", "one two three four five six")).toDF("doc_id", "source", "text")
    val corpus = a.unionAll(a.select((col("doc_id") + 100).as("doc_id"),
      lit("mirror").as("source"), col("text")))
    val p = Sampling.dedupAwareEpochPlan(corpus, budget = 1000L).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet == Set("a", "mirror"), s"sources: ${p.keySet}")
    val m = p("mirror")
    assert(m.getLong(2) == 0L, "mirror's unique capacity must be 0")
    assert(m.getLong(3) == m.getLong(1), "mirror is ALL duplicate mass")
    assert(m.getLong(7) == 0L, "a zero-capacity source gets a zero grant")
    assert(m.isNullAt(6) && m.isNullAt(8),
      "epoch ratios over zero unique capacity must be NULL, not an error")
    // and 'a' keeps its full mass: it wins every election
    assert(p("a").getLong(2) == p("a").getLong(1))
  }

  test("passage cut apply: reconciles with the q169 report; untouched docs keep their text") {
    import spark.implicits._
    val fix = Seq(
      (0L, "alpha beta gamma delta u1 u2 u3 u4 red green blue cyan end0"),
      (1L, "x1 x2 alpha beta gamma delta y1 y2 y3"),
      (2L, "z1 z2 z3 red green blue cyan z4"),
      (3L, "only unique words appear in this document")
    ).toDF("doc_id", "text")
    val cut = TextAnalysis.passageCutApply(fix, dfMin = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    // d0 loses [0,3] and [8,11] (8 of 13 tokens); d3 is untouched
    assert(cut(0L)._1 == 13 && cut(0L)._2 == 8 && cut(0L)._3 == 5)
    assert(cut(0L)._4 == org.apache.commons.codec.digest.DigestUtils.md5Hex(
      "u1 u2 u3 u4 end0"), "d0's reassembled text must be the kept tokens")
    assert(cut(3L)._2 == 0 && cut(3L)._4 ==
      org.apache.commons.codec.digest.DigestUtils.md5Hex(
        "only unique words appear in this document"),
      "an untouched doc must fingerprint its full text")
    // every document appears exactly once, with consistent accounting
    val real = TextAnalysis.passageCutApply(docs, dfMin = 2).collect()
    assert(real.length == docs.count())
    real.foreach(r => assert(r.getLong(1) == r.getLong(2) + r.getLong(3)))
    // THE reconciliation: per doc, tokens cut == the q169 report's span
    // mass (spans are disjoint and tile exactly the covered positions)
    val spans = TextAnalysis.repeatedPassages(docs, dfMin = 2).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    real.foreach { r =>
      assert(r.getLong(2) == spans.getOrElse(r.getLong(0), 0L),
        s"doc ${r.getLong(0)}: n_cut ${r.getLong(2)} != q169 span mass")
    }
  }

  test("lexical-semantic agreement: planted twins land in BOTH; identities hold") {
    // twin every doc AND its embedding at +1e6: each (id, id+1e6) pair
    // is hamming-0 lexically AND cosine-1.0 semantically (identical
    // vectors assign to the same cluster), so the 'both' cell must
    // count at least every planted twin
    val d0 = docs.select(col("doc_id"), col("text"))
    val e0 = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"), col("label"))
    val d2 = d0.unionAll(d0.select((col("doc_id") + 1000000).as("doc_id"),
      col("text")))
    val e2 = e0.unionAll(e0.select((col("vec_id") + 1000000).as("vec_id"),
      col("embedding"), col("label")))
    val n = d0.count()
    val r = Similarity.lexicalSemanticAgreement(d2, e2).collect().head
    assert(r.getLong(2) >= n,
      s"both=${r.getLong(2)} must cover the $n planted twin pairs")
    // contingency identities + jaccard definition
    assert(r.getLong(0) == r.getLong(2) + r.getLong(3), "lex = both + lex_only")
    assert(r.getLong(1) == r.getLong(2) + r.getLong(4), "sem = both + sem_only")
    val union = r.getLong(2) + r.getLong(3) + r.getLong(4)
    assert(r.getDouble(5) == r.getLong(2).toDouble / union.toDouble)
  }

  test("soft dedup sample: n=1 anchors at 1.0; realized rates track 1/n; identities hold") {
    val base = docs.select(col("doc_id"), col("text"))
    val corpus = base
      .unionAll(base.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionAll(base.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
    val rows = Sampling.softDedupSample(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), s"sizes: ${rows.keySet}")
    rows.values.foreach { r =>
      assert(r.getLong(2) == r.getLong(1) * r.getLong(0),
        "n_docs must equal n_clusters * n_copies")
      assert(r.getLong(3) <= r.getLong(2))
      assert(r.getDouble(5) == 1.0 / r.getLong(0))
    }
    assert(rows(1L).getDouble(4) == 1.0,
      "singletons must ALL be kept (u < 2^48 unconditionally)")
    // ~250 clusters of size 2 and ~125 of size 3: the realized rate is
    // binomial around 1/n with sd < 0.05 — a loose band catches a
    // broken hash or comparison without flaking
    assert(math.abs(rows(2L).getDouble(4) - 0.5) < 0.15,
      s"size-2 kept_rate ${rows(2L).getDouble(4)} far from 1/2")
    assert(math.abs(rows(3L).getDouble(4) - 1.0 / 3) < 0.15,
      s"size-3 kept_rate ${rows(3L).getDouble(4)} far from 1/3")
    // deterministic: a second evaluation is bit-identical
    val again = Sampling.softDedupSample(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows.keys.forall(k => again(k) == rows(k).getLong(3)),
      "the sampler must be a pure function of (doc_id, n_copies)")
  }

  test("soft dedup sample: a cluster past 2^15 copies keeps exactly the BigInt-rule docs") {
    import spark.implicits._
    // 40000 copies of one document: u * n_copies would exceed int64
    // (2^48 * 40000 ≈ 2^63.3) — the registered quotient form must
    // match the overflow-free BigInt product rule doc for doc
    val n = 40000
    val corpus = spark.range(1, n + 1)
      .select(col("id").as("doc_id"), lit("overflow cluster payload").as("text"))
    val row = Sampling.softDedupSample(corpus).collect().head
    assert(row.getLong(0) == n.toLong && row.getLong(2) == n.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = (1 to n).count { id =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      BigInt(hex, 16) * n < (BigInt(1) << 48)
    }
    assert(row.getLong(3) == expected.toLong,
      s"n_kept ${row.getLong(3)} != BigInt ground truth $expected")
    assert(row.getLong(3) >= 1, "≈1 expected survivor; zero suggests a broken rule")
  }

  test("cross-source passages: fixture cells exact; pair mass reconciles with C(k,2)") {
    import spark.implicits._
    // A and B share one 4-token passage (2 shingles); C repeats a
    // 3-token phrase in two of its own docs (1 diagonal shingle);
    // nothing else collides
    val fix = Seq(
      (1L, "A", "alpha beta gamma delta qa1 qa2 qa3"),
      (2L, "B", "qb1 qb2 alpha beta gamma delta qb3"),
      (3L, "C", "red green blue qc1 qc2 qc3"),
      (4L, "C", "qc4 qc5 red green blue qc6")
    ).toDF("doc_id", "source", "text")
    val m = TextAnalysis.crossSourcePassages(fix).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3))).toMap
    assert(m == Map(("A", "B") -> (2L, true), ("C", "C") -> (1L, false)),
      s"fixture matrix: $m")
    // real corpus: cross-cell mass == sum over hashes of C(k,2) where k
    // is the hash's distinct-source count — an independent derivation
    // of the same quantity through a different aggregation shape
    val real = TextAnalysis.crossSourcePassages(docs).collect()
    val crossMass = real.filter(_.getBoolean(3)).map(_.getLong(2)).sum
    val expected = TextAnalysis.shingleHashStream(
        docs.select(col("doc_id"), col("source"), col("text")),
        riders = Seq("source"))
      .select(col("h"), col("source")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("k"))
      .select(sum(expr("k * (k - 1) div 2"))).collect().head.getLong(0)
    assert(crossMass == expected,
      s"cross-cell mass $crossMass != sum of C(k,2) = $expected")
    real.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "cells must be s1 <= s2")
      assert(r.getBoolean(3) == (r.getString(0) != r.getString(1)))
    }
  }

  test("dedup-aware epochs: identities hold; nominal grant always upsamples unique content") {
    val base = docs.select(col("doc_id"), col("source"), col("text"))
    val corpus = base.unionAll(base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("source"),
        col("text")))
    val p = Sampling.dedupAwareEpochPlan(corpus, budget = 26500L).collect()
    assert(p.nonEmpty)
    p.foreach { r =>
      val (cap, ucap, dup) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ucap <= cap && dup == cap - ucap && ucap > 0,
        "unique capacity must be positive and bounded by raw capacity")
      assert(dup > 0, "the shifted-third fixture must duplicate every source")
      // same numerator, smaller denominator: the nominal grant repeats
      // unique content strictly more than the raw-capacity ratio admits
      assert(r.getDouble(6) > r.getDouble(5),
        "epochs_on_unique must exceed epochs_nominal")
      assert(r.getDouble(8) ==
        r.getLong(7).toDouble / ucap.toDouble, "replanned epoch identity")
    }
    // both planner legs keep the q164 floor-loss bound
    val gn = p.map(_.getLong(4)).sum; val gu = p.map(_.getLong(7)).sum
    assert(gn <= 26500L && 26500L - gn < p.length)
    assert(gu <= 26500L && 26500L - gu < p.length)
    // when the ORIGINAL corpus is exact-dup-free (it is at sf0.01 —
    // checked through the SAME keeper definition the operator uses,
    // never a hand-copied normalization), every shifted copy loses its
    // keeper election to the original doc_id, so unique capacity ==
    // original source mass exactly
    val nFp = Dedup.exactDedup(base).count()
    if (nFp == base.count()) {
      val orig = base.select(col("source"),
          org.apache.spark.sql.functions.size(split(col("text"), " "))
            .cast("long").as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("cap"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      p.foreach { r =>
        assert(r.getLong(2) == orig(r.getString(0)),
          s"unique capacity of ${r.getString(0)} must equal its original mass")
      }
    }
  }

  // ---- q179 sample extrapolation -----------------------------------------

  test("sample extrapolation: the three sampling regimes surface as signed bias") {
    val base = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    // the registered fixture: every 3rd doc doubled under a shifted id,
    // so the dup row is provably non-zero
    val corpus = base.unionAll(base.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val rows = Sampling.sampleExtrapolation(corpus).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("n_docs", "n_tokens", "vocab_size", "dup_docs"))
    // structural identities on every row
    rows.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "sample can never exceed exact")
      assert(r.getLong(3) == 16L * r.getLong(2), "extrapolated = 16 x sample")
      if (r.getLong(1) > 0)
        assert(math.abs(r.getDouble(4) -
          (16.0 * r.getLong(2) - r.getLong(1)) / r.getLong(1)) < 1e-12)
    }
    // the n_docs row recomputed from first principles: sample membership
    // is md5(doc_id) first hex char '0', through java's MessageDigest,
    // never the operator's own expression
    val ids = corpus.select(col("doc_id")).collect().map(_.getLong(0))
    val md = java.security.MessageDigest.getInstance("MD5")
    def inSample(id: Long): Boolean =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.startsWith("0")
    val nd = rows("n_docs")
    assert(nd.getLong(1) == ids.length.toLong)
    assert(nd.getLong(2) == ids.count(inSample).toLong)
    // the LINEAR rows: a 1/16 block sample extrapolates n_docs/n_tokens
    // to within sampling noise of the truth
    assert(math.abs(rows("n_docs").getDouble(4)) < 0.5)
    assert(math.abs(rows("n_tokens").getDouble(4)) < 0.5)
    // the SUBLINEAR row (Heaps' law): the sample already holds most of
    // the vocabulary, so x16 over-extrapolates hard — the biased row
    // this table exists to surface
    assert(rows("vocab_size").getDouble(4) > 2.0,
      s"vocab over-extrapolation = ${rows("vocab_size").getDouble(4)}")
    // the SUPERLINEAR row: a dup pair survives sampling only when BOTH
    // members do (p^2 = 1/256), so x16 under-extrapolates — the dup
    // mass is real (fixture) but the sampled estimate collapses
    assert(rows("dup_docs").getLong(1) > 0, "fixture dup mass must exist")
    assert(rows("dup_docs").getDouble(4) < -0.5,
      s"dup under-extrapolation = ${rows("dup_docs").getDouble(4)}")
  }
}
