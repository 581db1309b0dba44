package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** The maintained LSH index: persisted signatures must equal the batch
  * signing of every delivered vector — across restarts, replays, and
  * in-batch duplicates — and the state-served search must equal the
  * one-shot batch annTopK over the same corpus with the same planes. */
class LshStateStreamSpec extends SparkSpec {

  private def embSlice(pred: org.apache.spark.sql.Column) =
    Tables.embeddings(spark, sf0001)
      .filter(pred)
      .select(col("vec_id"), col("embedding"), col("label"))

  /** Batch twin of the fold: the signed corpus as a pure function. */
  private def batchSigned(emb: org.apache.spark.sql.DataFrame) =
    emb.select(col("vec_id"),
      graft.functions.VectorOps.hyperplaneSignature(col("embedding"), 8)
        .as("sig"))

  test("drain + restart: persisted signatures equal the batch signing") {
    val root = Files.createTempDirectory("graft-lshstate").toString
    val embDir = s"$root/emb"; val stateDir = s"$root/state"
    val ckpt = s"$root/ckpt"

    embSlice(col("vec_id") % 10 < 8).write.parquet(embDir)
    LshStateStream.start(spark, embDir, stateDir, ckpt,
      availableNow = true).awaitTermination()

    val st1 = LshStateStream.sigState(spark, stateDir)
      .select(col("vec_id"), col("sig"))
    val b1 = batchSigned(embSlice(col("vec_id") % 10 < 8))
    assert(st1.exceptAll(b1).isEmpty && b1.exceptAll(st1).isEmpty,
      "wave-1 signatures diverged from batch signing")

    embSlice(col("vec_id") % 10 >= 8).write.mode("append").parquet(embDir)
    LshStateStream.start(spark, embDir, stateDir, ckpt,
      availableNow = true).awaitTermination()

    val st = LshStateStream.sigState(spark, stateDir)
      .select(col("vec_id"), col("sig"))
    val all = batchSigned(embSlice(lit(true)))
    assert(st.exceptAll(all).isEmpty && all.exceptAll(st).isEmpty,
      "post-restart signatures diverged from batch signing")
    assert(LshStateStream.sigState(spark, stateDir).count() ==
      embSlice(lit(true)).count(), "one sig row per delivered vector")
  }

  test("replayed micro-batch is a state no-op; in-batch dup vec_ids collapse") {
    val root = Files.createTempDirectory("graft-lshstate-replay").toString
    val stateDir = s"$root/state"
    val batch = embSlice(col("vec_id") < 50)
      .unionAll(embSlice(col("vec_id") < 10))
    LshStateStream.update(stateDir)(batch, 0L)
    assert(LshStateStream.sigState(spark, stateDir).count() == 50,
      "dup vec_ids in one trigger must collapse")
    LshStateStream.update(stateDir)(batch, 0L) // crash-replay shape
    assert(LshStateStream.sigState(spark, stateDir).count() == 50,
      "a replayed batch must be a state no-op")
  }

  test("sigs compaction shrinks files without changing the served search") {
    // the IVF lists have this proof (IvfStateStreamSpec); the LSH sigs
    // table delegates to the same compactState but q189's served read is
    // the consumer that would break — pin it: file count drops, the
    // signed corpus is row-identical, and topKFromState is byte-equal
    val root = Files.createTempDirectory("graft-lshstate-compact").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    (0 until 4).foreach { i =>
      LshStateStream.update(stateDir)(
        emb.filter(col("vec_id") % 4 === i), i.toLong)
    }
    val qids = Seq(0L, 1L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rn"))
        .collect().map(_.toString).toSeq
    val sigsBefore = LshStateStream.sigState(spark, stateDir)
      .collect().map(_.toString).sorted
    val topBefore = rows(LshStateStream.topKFromState(spark, stateDir, qids, 10))
    val (nb, na) = CorpusStateStream.compactState(spark, stateDir, "sigs")
    assert(na < nb, s"compaction did not shrink files: $nb -> $na")
    val sigsAfter = LshStateStream.sigState(spark, stateDir)
      .collect().map(_.toString).sorted
    assert(sigsBefore.sameElements(sigsAfter),
      "compaction changed the signed corpus")
    assert(topBefore == rows(
        LshStateStream.topKFromState(spark, stateDir, qids, 10)),
      "compaction changed the served search result")
  }

  test("state-served top-k equals the batch annTopK over the same corpus") {
    val root = Files.createTempDirectory("graft-lshstate-topk").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    LshStateStream.update(stateDir)(
      emb.filter(col("vec_id") % 2 === 0), 0L)
    LshStateStream.update(stateDir)(
      emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val qids = Seq(0L, 1L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rn"))
        .collect().map(_.toString).toSeq
    assert(rows(LshStateStream.topKFromState(spark, stateDir, qids, 10)) ==
      rows(Similarity.annTopK(emb, qids, 10)),
      "state-served LSH top-k diverged from the batch operator")
  }

  test("forget erases tombstoned ids; served search == batch over survivors; replay no-op") {
    val root = Files.createTempDirectory("graft-lshstate-forget").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    LshStateStream.update(stateDir)(
      emb.filter(col("vec_id") % 2 === 0), 0L)
    LshStateStream.update(stateDir)(
      emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val tombPred = col("vec_id") % 7 === 3
    LshStateStream.forget(spark, stateDir,
      emb.select(col("vec_id")).filter(tombPred))
    // complete erasure: no trace of a tombstoned id anywhere in state
    val sigs = LshStateStream.sigState(spark, stateDir)
    assert(sigs.filter(tombPred).isEmpty, "tombstoned sigs survived forget")
    assert(sigs.count() == emb.filter(!tombPred).count(),
      "forget disturbed a surviving row")
    // the served search equals a batch sign-and-search over survivors
    // (query ids 0/1/2 are not tombstoned: 0,1,2 % 7 != 3)
    val qids = Seq(0L, 1L, 2L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("query_id"), col("rn"))
        .collect().map(_.toString).toSeq
    val served = rows(LshStateStream.topKFromState(spark, stateDir, qids, 10))
    assert(served == rows(Similarity.annTopK(emb.filter(!tombPred), qids, 10)),
      "post-forget served search diverged from batch over survivors")
    // re-deleting already-absent keys is a state no-op
    LshStateStream.forget(spark, stateDir,
      emb.select(col("vec_id")).filter(tombPred))
    assert(served == rows(LshStateStream.topKFromState(spark, stateDir, qids, 10)),
      "replayed forget changed the index")
  }
}
