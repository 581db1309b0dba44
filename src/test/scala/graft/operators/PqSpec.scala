package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** Product-quantization family (q175 codebook report, q176 ADC recall).
  *
  * The load-bearing pin is keyed-chain ≡ per-subspace-loop: pqStage
  * trains all m codebooks in ONE keyed Lloyd chain (the scale design —
  * one shuffle per iteration at any m); this spec proves it computes
  * bit-identically what m independent kmeansCentroids runs on the
  * sliced corpus would (the semantics PQ is defined by). */
class PqSpec extends SparkSpec {

  private val queryIds = Seq(0L, 100L, 200L)

  test("keyed PQ chain == m independent kmeans runs on the sliced corpus") {
    val e = Tables.embeddings(spark, sf0001)
    val (codebooks, _) = Similarity.pqStage(e, m = 4, ksub = 16, iters = 3)
    val keyed = codebooks.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toVector)
      .toMap
    (0 until 4).foreach { s =>
      val sliced = e.select(col("vec_id"),
        slice(graft.functions.VectorOps.asDouble(col("embedding")),
          s * 16 + 1, 16).as("embedding"))
      val solo = Similarity.kmeansCentroids(sliced, k = 16, iters = 3).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toVector).toMap
      val ofSub = keyed.collect { case ((`s`, cid), v) => cid -> v }.toMap
      assert(ofSub.keySet == solo.keySet,
        s"sub $s: codeword ids differ (keyed ${ofSub.keySet}, solo ${solo.keySet})")
      ofSub.foreach { case (cid, v) =>
        assert(v == solo(cid),
          s"sub $s codeword $cid drifted between keyed chain and solo run")
      }
    }
  }

  test("codes cover every (vector, subspace) exactly once; codebook bounded") {
    val e = Tables.embeddings(spark, sf0001)
    val (codebooks, codes) = Similarity.pqStage(e, m = 4, ksub = 16,
      iters = 3)
    val n = e.count()
    assert(codes.count() == n * 4, "one code per (vector, subspace)")
    assert(codes.select(col("vec_id"), col("sub")).distinct().count() == n * 4)
    val cb = codebooks.collect()
    assert(cb.length <= 4 * 16, "at most m*ksub codewords")
    assert(cb.forall(_.getSeq[Double](2).length == 16),
      "every codeword has subDim dims")
    // every assigned code points at a live codeword
    val live = cb.map(r => (r.getInt(0), r.getInt(1))).toSet
    val used = codes.select(col("sub"), col("cid")).distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(used.subsetOf(live), "codes reference dropped codewords")
  }

  test("q175 report: identities hold, distortion non-negative, deterministic") {
    val rep = Similarity.pqCodebookReport(Tables.embeddings(spark, sf0001),
      m = 4, ksub = 16).collect()
    assert(rep.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    rep.foreach { r =>
      assert(r.getLong(2) <= 16, "codes_used <= ksub")
      assert(r.getLong(3) <= r.getLong(1), "top code bounded by corpus")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getDouble(5) >= 0.0, "squared error cannot be negative")
    }
    assert(rep.map(_.getLong(1)).distinct.length == 1,
      "every subspace quantizes the same corpus")
    val again = Similarity.pqCodebookReport(Tables.embeddings(spark, sf0001),
      m = 4, ksub = 16).collect()
    assert(rep.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "the report must be a pure function of the corpus")
  }

  test("ADC reconstruction is the sub-ordered concatenation of the codewords") {
    val e = Tables.embeddings(spark, sf0001)
    val (codebooks, codes) = Similarity.pqStage(e, m = 4, ksub = 16,
      iters = 3)
    val cb = codebooks.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val someCodes = codes.filter(col("vec_id") === 0L).collect()
      .map(r => r.getInt(1) -> r.getInt(3)).toMap
    val manual = (0 until 4).flatMap(s => cb((s, someCodes(s))))
    // rebuild through the same join+flatten the operator uses
    val recon = codes.join(broadcast(codebooks), Seq("sub", "cid"))
      .filter(col("vec_id") === 0L)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cvec")))).as("sc"))
      .select(flatten(expr("transform(sc, s -> s.cvec)")).as("rv"))
      .collect().head.getSeq[Double](0)
    assert(recon.length == 64)
    assert(recon == manual, "reconstruction must concatenate codewords in sub order")
  }

  test("q176 recall: every query scored, bounds hold, ADC beats zero on this corpus") {
    val rows = Similarity.pqAdcRecall(Tables.embeddings(spark, sf0001),
      queryIds, k = 10, m = 4, ksub = 16).collect()
    assert(rows.map(_.getLong(0)).toSeq == queryIds)
    rows.foreach { r =>
      assert(r.getLong(1) == 10L)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 10L)
      assert(r.getDouble(3) == r.getLong(2).toDouble / 10.0)
    }
    // 16 bits of a 2048-bit vector is lossy, but on 250 vectors the
    // ADC ranking must retain SOME of the exact top-10 across the three
    // queries — zero everywhere means the reconstruction path is broken
    assert(rows.map(_.getLong(2)).sum > 0, "ADC retrieved nothing at all")
  }

  test("q177 code bands: identities hold; planted twins are all candidates AND semantic") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val base = Similarity.pqCodeNearDup(e, threshold = 0.3).collect().head
    assert(base.getLong(1) <= base.getLong(0), "semantic mass bounded by candidates")
    if (base.getLong(0) > 0) {
      assert(base.getDouble(2) ==
        base.getLong(1).toDouble / base.getLong(0).toDouble)
      assert(math.abs(base.getDouble(3)) <= 1.0, "mean cosine out of range")
    }
    // twin every vector at +10000: identical subvectors → identical codes
    // (Lloyd means are invariant under uniform duplication — decimal sums
    // and counts both double), so every (v, twin) pair agrees on both
    // bands and scores cosine 1.0: candidates AND semantic mass must each
    // grow by at least the n planted pairs
    val n = e.count()
    val twinned = e.unionAll(e.select((col("vec_id") + 10000).as("vec_id"),
      col("embedding")))
    val t = Similarity.pqCodeNearDup(twinned, threshold = 0.3).collect().head
    assert(t.getLong(0) >= base.getLong(0) + n,
      s"candidates ${t.getLong(0)} must cover the $n planted twin pairs")
    assert(t.getLong(1) >= base.getLong(1) + n,
      s"semantic ${t.getLong(1)} must count every cosine-1.0 twin pair")
  }
}
