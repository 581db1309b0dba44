package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The incremental corpus-state twin: the persisted shingle/signature
  * tables a streaming ingest maintains must equal what a batch
  * recomputation over all delivered documents derives — including across
  * a stream restart and a replayed micro-batch. */
class CorpusStateStreamSpec extends SparkSpec {

  private def docsSlice(pred: org.apache.spark.sql.Column) =
    Tables.documents(spark, sf0001)
      .filter(pred)
      .select(col("doc_id"), col("text"), col("source"))

  private def batchShingles(docs: org.apache.spark.sql.DataFrame) =
    docs.select(explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
      .distinct()

  private def batchSigs(docs: org.apache.spark.sql.DataFrame) = {
    import graft.functions.TextFunctions.{md5TokenHex, tokenHashesFromHex}
    docs.select(col("doc_id"),
      graft.expressions.SimHash64(tokenHashesFromHex(md5TokenHex(col("text"))))
        .as("sig"))
  }

  test("drain + restart: persisted state equals the batch recomputation") {
    val root = Files.createTempDirectory("graft-corpstate").toString
    val docsDir = s"$root/docs"; val stateDir = s"$root/state"
    val ckpt = s"$root/ckpt"

    // wave 1 arrives; drain it
    docsSlice(col("doc_id") % 10 < 8).write.parquet(docsDir)
    CorpusStateStream.start(spark, docsDir, stateDir, ckpt,
      availableNow = true).awaitTermination()

    val wave1 = docsSlice(col("doc_id") % 10 < 8)
    assert(CorpusStateStream.shingleState(spark, stateDir)
      .exceptAll(batchShingles(wave1)).isEmpty)
    assert(batchShingles(wave1)
      .exceptAll(CorpusStateStream.shingleState(spark, stateDir)).isEmpty)

    // wave 2 arrives; RESTART from the same checkpoint (new query, same
    // log — the FileWatch recovery path); only new files are processed
    docsSlice(col("doc_id") % 10 >= 8).write.mode("append").parquet(docsDir)
    CorpusStateStream.start(spark, docsDir, stateDir, ckpt,
      availableNow = true).awaitTermination()

    val all = docsSlice(lit(true))
    val st = CorpusStateStream.shingleState(spark, stateDir)
    assert(st.exceptAll(batchShingles(all)).isEmpty &&
      batchShingles(all).exceptAll(st).isEmpty,
      "post-restart shingle state diverged from batch recomputation")
    // no duplicate shingle rows: distinct == total
    assert(st.count() == st.distinct().count(), "shingle state has duplicates")

    val sg = CorpusStateStream.sigState(spark, stateDir)
    assert(sg.exceptAll(batchSigs(all)).isEmpty &&
      batchSigs(all).exceptAll(sg).isEmpty,
      "signature state diverged from batch recomputation")
    assert(sg.count() == all.count(), "one signature per delivered document")
  }

  test("a replayed micro-batch is a state no-op (restart recovery contract)") {
    val root = Files.createTempDirectory("graft-corpstate-replay").toString
    val stateDir = s"$root/state"
    val batch = docsSlice(col("doc_id") < 20)

    CorpusStateStream.update(stateDir)(batch, 0L)
    val sh1 = CorpusStateStream.shingleState(spark, stateDir).collect().sortBy(_.getLong(0))
    val sg1 = CorpusStateStream.sigState(spark, stateDir).collect().sortBy(_.getLong(0))

    // the crash-replay shape: same batch delivered again
    CorpusStateStream.update(stateDir)(batch, 0L)
    val sh2 = CorpusStateStream.shingleState(spark, stateDir).collect().sortBy(_.getLong(0))
    val sg2 = CorpusStateStream.sigState(spark, stateDir).collect().sortBy(_.getLong(0))
    assert(sh1.toSeq == sh2.toSeq, "replay appended duplicate shingles")
    assert(sg1.toSeq == sg2.toSeq, "replay appended duplicate signatures")
  }

  test("a doc delivered twice in ONE batch appends one signature (at-least-once)") {
    val root = Files.createTempDirectory("graft-corpstate-dupbatch").toString
    val stateDir = s"$root/state"
    val batch = docsSlice(col("doc_id") < 10)
    // the at-least-once shape: original + re-uploaded copy in one trigger
    CorpusStateStream.update(stateDir)(batch.union(batch), 0L)
    val sg = CorpusStateStream.sigState(spark, stateDir)
    assert(sg.count() == batch.count(),
      "within-batch duplicate doc must not append a second signature row")
    assert(sg.groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
  }

  test("compaction collapses per-batch files without changing state content") {
    val root = Files.createTempDirectory("graft-corpstate-compact").toString
    val stateDir = s"$root/state"
    // several small batches → several parquet files per state table
    for (b <- 0 until 4)
      CorpusStateStream.update(stateDir)(
        docsSlice(col("doc_id") % 4 === b), b.toLong)
    val shBefore = CorpusStateStream.shingleState(spark, stateDir)
      .collect().map(_.getLong(0)).sorted
    val sgBefore = CorpusStateStream.sigState(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val (sb, sa) = CorpusStateStream.compactState(spark, stateDir, "shingles")
    val (gb, ga) = CorpusStateStream.compactState(spark, stateDir, "sigs")
    assert(sb >= 4 && gb >= 4, s"expected >=4 per-batch files, got $sb/$gb")
    assert(sa == 1 && ga == 1, s"expected 1 compacted file, got $sa/$ga")
    assert(CorpusStateStream.shingleState(spark, stateDir)
      .collect().map(_.getLong(0)).sorted.sameElements(shBefore))
    assert(CorpusStateStream.sigState(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.sameElements(sgBefore))
    // the maintenance loop keeps working against the compacted table
    CorpusStateStream.update(stateDir)(docsSlice(col("doc_id") < 1000), 9L)
    val all = docsSlice(lit(true))
    assert(CorpusStateStream.sigState(spark, stateDir).count() == all.count())
  }

  test("novelty served from state matches the q118-style split computation") {
    val root = Files.createTempDirectory("graft-corpstate-novelty").toString
    val stateDir = s"$root/state"
    val existing = docsSlice(col("doc_id") % 10 < 8)
    val arrivals = docsSlice(col("doc_id") % 10 >= 8)
    CorpusStateStream.update(stateDir)(existing, 0L)

    val fromState = CorpusStateStream.noveltyAgainstState(stateDir, arrivals)
      .orderBy(col("source")).collect()
    // q118's same-query formulation over the identical split
    val exSh = batchShingles(existing)
    val arrSh = arrivals
      .select(col("source"),
        explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
      .distinct()
    val expected = arrSh
      .join(exSh.withColumn("seen", lit(1)), Seq("h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .orderBy(col("source")).collect()
    assert(fromState.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      expected.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
      "state-served novelty diverged from the batch split computation")
    // arrivals folded in afterwards: everything becomes seen
    CorpusStateStream.update(stateDir)(arrivals, 1L)
    val post = CorpusStateStream.noveltyAgainstState(stateDir, arrivals)
      .agg(sum(col("n_novel"))).collect().head.getLong(0)
    assert(post == 0L, "after folding the batch into state nothing is novel")
  }

  test("contamination served from state matches the q80 batch operator") {
    val root = Files.createTempDirectory("graft-corpstate-contam").toString
    val stateDir = s"$root/state"
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val split = graft.operators.Sampling.splitOf(col("doc_id"))
    CorpusStateStream.update(stateDir)(docs.filter(split === "train"), 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect().map(_.toString).toSeq
    assert(rows(CorpusStateStream.contaminationAgainstState(stateDir,
        docs.filter(split === "test"))) ==
      rows(graft.operators.Dedup.contamination(
        graft.Tables.documents(spark, sf0001))),
      "state-served contamination diverged from the q80 batch operator")
  }

  test("arrival cut list served from state: batch-twin equal, state-only by design") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-corpstate-cutlist").toString
    val stateDir = s"$root/state"
    val existing = docsSlice(col("doc_id") % 10 < 8)
    CorpusStateStream.update(stateDir)(existing, 0L)

    val arrivals = docsSlice(col("doc_id") % 10 >= 8)
    val served = CorpusStateStream.arrivalCutList(spark, stateDir, arrivals)
    // batch twin: arriving positions whose shingle lives in the OLD
    // corpus's distinct set, merged by the same rule
    val rep = arrivals.select(col("doc_id"),
        posexplode(graft.expressions.ShingleHash64.all(col("text"), 3))
          .as(Seq("pos", "h")))
      .join(batchShingles(existing), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val twin = graft.operators.TextAnalysis.mergeCoveredSpans(rep)
    assert(served.exceptAll(twin).isEmpty && twin.exceptAll(served).isEmpty,
      "state-served cut list diverged from the batch twin")
    // the read is state-only BY CONTRACT: two arriving docs repeating
    // each other but nothing in the corpus produce no spans (that is
    // the batch q169's job once they fold in)
    val intra = Seq(
      (900001L, "zq1 zq2 zq3 zq4 zq5", "s"),
      (900002L, "zq1 zq2 zq3 zq4 zq5", "s")).toDF("doc_id", "text", "source")
    assert(CorpusStateStream.arrivalCutList(spark, stateDir, intra).count() == 0,
      "intra-batch repeats must not produce spans from a state-only probe")
    // after folding, the same pair IS covered end to end
    CorpusStateStream.update(stateDir)(intra.limit(1), 1L)
    val post = CorpusStateStream.arrivalCutList(spark, stateDir,
      intra.filter(col("doc_id") === 900002L)).collect()
    assert(post.length == 1 && post.head.getLong(1) == 0L &&
      post.head.getLong(2) == 4L,
      s"folded twin must cover the whole 5-token doc: ${post.toSeq}")
  }

  test("delta near-dup served from state equals the q97 batch operator") {
    val root = Files.createTempDirectory("graft-corpstate-neardup").toString
    val stateDir = s"$root/state"
    val existing = docsSlice(col("doc_id") % 10 < 8)
    val arrivals = docsSlice(col("doc_id") % 10 >= 8)
    CorpusStateStream.update(stateDir)(existing, 0L)

    val fromState = CorpusStateStream
      .nearDupAgainstState(stateDir, arrivals, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.operators.Dedup
      .incrementalNearDupPairs(docsSlice(lit(true)),
        isNew = col("doc_id") % 10 >= 8, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fromState == batch,
      "state-served delta near-dup diverged from the batch operator")
    assert(fromState.nonEmpty, "fixture must produce at least one delta pair")
  }

  private def batchVocab(docs: org.apache.spark.sql.DataFrame) =
    docs.select(
        explode(graft.expressions.Md5TokenHash64.words(lower(col("text"))))
          .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  test("vocab state: counts equal the batch recomputation; replay is a no-op") {
    val root = Files.createTempDirectory("graft-corpstate-vocab").toString
    val stateDir = s"$root/state"
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 < 8), 0L)
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 >= 8), 1L)
    // restart replay of batch 1 must not double any count
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 >= 8), 1L)
    val st = CorpusStateStream.vocabState(spark, stateDir)
    val exp = batchVocab(docsSlice(lit(true)))
    assert(st.exceptAll(exp).isEmpty && exp.exceptAll(st).isEmpty,
      "vocab counts diverged from the batch recomputation")
    // compaction folds delta files without changing the aggregate
    val (before, after) =
      CorpusStateStream.compactState(spark, stateDir, "vocab")
    assert(after <= before)
    val st2 = CorpusStateStream.vocabState(spark, stateDir)
    assert(st2.exceptAll(exp).isEmpty && exp.exceptAll(st2).isEmpty,
      "compaction changed the vocab aggregate")
  }

  test("forgetVocab nets deleted docs out; zeroed terms leave the vocabulary; replay is a no-op") {
    val root = Files.createTempDirectory("graft-corpstate-vforget").toString
    val stateDir = s"$root/state"
    val tombPred = col("doc_id") % 5 === 2
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 2 === 0), 0L)
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 2 =!= 0), 1L)
    CorpusStateStream.forgetVocab(stateDir)(docsSlice(tombPred), 2L)
    val st = CorpusStateStream.vocabState(spark, stateDir)
    val exp = batchVocab(docsSlice(!tombPred))
    assert(st.exceptAll(exp).isEmpty && exp.exceptAll(st).isEmpty,
      "post-forget vocab diverged from the survivors' batch recomputation")
    // the cnt > 0 cut: no zero or negative net count may ever serve
    assert(st.filter(col("cnt") <= 0).isEmpty,
      "vocabState served a non-positive net count")
    // a replayed forget (same batch id) is a ledger no-op
    CorpusStateStream.forgetVocab(stateDir)(docsSlice(tombPred), 2L)
    val st2 = CorpusStateStream.vocabState(spark, stateDir)
    assert(st2.exceptAll(exp).isEmpty && exp.exceptAll(st2).isEmpty,
      "replayed forget double-subtracted")
    // fold nets mixed-sign deltas without changing the read
    CorpusStateStream.foldVocab(spark, stateDir)
    val st3 = CorpusStateStream.vocabState(spark, stateDir)
    assert(st3.exceptAll(exp).isEmpty && exp.exceptAll(st3).isEmpty,
      "fold over mixed-sign vocab deltas changed the read")
    // scoring the survivors against the netted vocab equals scoring
    // them against a vocab built from scratch over the survivors
    val fresh = s"$root/fresh"
    CorpusStateStream.updateVocab(fresh)(docsSlice(!tombPred), 0L)
    val a = CorpusStateStream.lmScoreAgainstState(stateDir, docsSlice(!tombPred))
    val b = CorpusStateStream.lmScoreAgainstState(fresh, docsSlice(!tombPred))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "netted-vocab LM scores diverged from a fresh retrain over survivors")
    // sign guard (advisor catch, r15): reusing a committed ARRIVAL id
    // for a forget — or a committed FORGET id for an arrival — would
    // silently skip the deltas as a "replay"; both now fail fast
    val eF = intercept[IllegalArgumentException] {
      CorpusStateStream.forgetVocab(stateDir)(docsSlice(tombPred), 0L)
    }
    assert(eF.getMessage.contains("ARRIVAL") &&
      eF.getMessage.contains("fresh batchId"), eF.getMessage)
    val eA = intercept[IllegalArgumentException] {
      CorpusStateStream.updateVocab(stateDir)(docsSlice(tombPred), 2L)
    }
    assert(eA.getMessage.contains("FORGET"), eA.getMessage)
    // the refused calls left the served vocabulary untouched
    val st4 = CorpusStateStream.vocabState(spark, stateDir)
    assert(st4.exceptAll(exp).isEmpty && exp.exceptAll(st4).isEmpty,
      "a refused sign-collision call mutated state")
  }

  test("bigram-LM state: served score == batch bigramNll; forget == " +
      "survivors' retrain; replay/fold no-ops; sign guard wired") {
    val root = Files.createTempDirectory("graft-bigramstate").toString
    val stateDir = s"$root/state"
    val docs = docsSlice(col("doc_id") < 150).localCheckpoint()
    // two waves + a replayed wave; vocab co-maintained for V
    CorpusStateStream.updateBigrams(stateDir)(
      docs.filter(col("doc_id") % 2 === 0), 0L)
    CorpusStateStream.updateBigrams(stateDir)(
      docs.filter(col("doc_id") % 2 =!= 0), 1L)
    CorpusStateStream.updateBigrams(stateDir)(
      docs.filter(col("doc_id") % 2 =!= 0), 1L) // replay no-op
    CorpusStateStream.updateVocab(stateDir)(
      docs.filter(col("doc_id") % 2 === 0), 0L)
    CorpusStateStream.updateVocab(stateDir)(
      docs.filter(col("doc_id") % 2 =!= 0), 1L)
    val scored = docs.select(col("doc_id"), col("text"))
    def pages(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect().map(_.toString).toSeq
    val got = pages(CorpusStateStream.bigramNllAgainstState(stateDir, scored))
    val want = pages(graft.operators.TextAnalysis.bigramNll(scored))
    assert(got == want, "state-served bigram NLL diverged from batch")
    // fold both logs: reads unchanged
    CorpusStateStream.foldBigrams(spark, stateDir)
    CorpusStateStream.foldVocab(spark, stateDir)
    assert(pages(CorpusStateStream.bigramNllAgainstState(stateDir,
      scored)) == got, "fold changed the served score")
    // forget == a retrain over the survivors (both tables net)
    val tombPred = graft.operators.Sampling.tombstoned(col("doc_id"))
    val tomb = docs.filter(tombPred)
    assert(tomb.limit(1).count() > 0, "fixture vacuous")
    CorpusStateStream.forgetBigrams(stateDir)(tomb, 2L)
    CorpusStateStream.forgetBigrams(stateDir)(tomb, 2L) // replay no-op
    CorpusStateStream.forgetVocab(stateDir)(tomb, 3L)
    val survivors = scored.filter(!tombPred)
    val gotF = pages(
      CorpusStateStream.bigramNllAgainstState(stateDir, survivors))
    val wantF = pages(graft.operators.TextAnalysis.bigramNll(survivors))
    assert(gotF == wantF,
      "netted bigram LM diverged from a fresh retrain over survivors")
    // the sign guard covers the bigram ledger too
    val eF = intercept[IllegalArgumentException] {
      CorpusStateStream.forgetBigrams(stateDir)(tomb, 0L)
    }
    assert(eF.getMessage.contains("ARRIVAL"), eF.getMessage)
    val eA = intercept[IllegalArgumentException] {
      CorpusStateStream.updateBigrams(stateDir)(tomb, 2L)
    }
    assert(eA.getMessage.contains("FORGET"), eA.getMessage)
  }

  test("write-intent marks close the crash-window sign ambiguity: " +
      "deltas-without-ledger can never commit under the opposite sign") {
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft-intentmark").toString
    val docs = docsSlice(col("doc_id") < 100).localCheckpoint()
    val tombPred = graft.operators.Sampling.tombstoned(col("doc_id"))
    val tomb = docs.filter(tombPred).localCheckpoint()
    def dropLedger(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/vocab_ledger")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    // (a) ARRIVAL deltas committed, ledger row lost, id resubmitted as
    // a FORGET — the r16 code silently skipped the negative append and
    // committed a forget-signed ledger row over positive deltas
    val s1 = s"$root/s1"
    CorpusStateStream.updateVocab(s1)(docs, 0L)
    dropLedger(s1)
    val e1 = intercept[IllegalArgumentException] {
      CorpusStateStream.forgetVocab(s1)(tomb, 0L)
    }
    assert(e1.getMessage.contains("no forget-intent mark"), e1.getMessage)
    // the arrival's own replay still heals the window
    CorpusStateStream.updateVocab(s1)(docs, 0L)
    val fresh1 = s"$root/fresh1"
    CorpusStateStream.updateVocab(fresh1)(docs, 0L)
    val want1 = CorpusStateStream.vocabState(spark, fresh1)
    val got1 = CorpusStateStream.vocabState(spark, s1)
    assert(got1.exceptAll(want1).isEmpty && want1.exceptAll(got1).isEmpty,
      "healed arrival diverged")
    // (b) FORGET deltas committed, ledger lost, id resubmitted as an
    // ARRIVAL — refused (the intent mark claims the id); the forget's
    // replay heals, and the net state equals the survivors' vocabulary
    val s2 = s"$root/s2"
    CorpusStateStream.updateVocab(s2)(docs, 0L)
    CorpusStateStream.forgetVocab(s2)(tomb, 1L)
    dropLedger(s2)
    CorpusStateStream.updateVocab(s2)(docs, 0L) // batch 0 heals (unmarked)
    val e2 = intercept[IllegalArgumentException] {
      CorpusStateStream.updateVocab(s2)(docs, 1L)
    }
    assert(e2.getMessage.contains("claimed by a"), e2.getMessage)
    CorpusStateStream.forgetVocab(s2)(tomb, 1L) // the true owner heals
    val fresh2 = s"$root/fresh2"
    CorpusStateStream.updateVocab(fresh2)(docs.filter(!tombPred), 0L)
    val want2 = CorpusStateStream.vocabState(spark, fresh2)
    val got2 = CorpusStateStream.vocabState(spark, s2)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      "healed forget diverged from the survivors' vocabulary")
    // (c) intent mark only (forget crashed BEFORE its deltas): an
    // arrival under that id is refused; the forget's replay appends
    // its deltas and completes
    val s3 = s"$root/s3"
    CorpusStateStream.updateVocab(s3)(docs, 0L)
    Seq(5L).toDF("batch_id").write.mode("append")
      .parquet(s"$s3/vocab_ledger_fmarks")
    val e3 = intercept[IllegalArgumentException] {
      CorpusStateStream.updateVocab(s3)(docs, 5L)
    }
    assert(e3.getMessage.contains("claimed by a FORGET"), e3.getMessage)
    CorpusStateStream.forgetVocab(s3)(tomb, 5L)
    val got3 = CorpusStateStream.vocabState(spark, s3)
    assert(got3.exceptAll(want2).isEmpty && want2.exceptAll(got3).isEmpty,
      "mark-first forget replay diverged from the survivors' vocabulary")
  }

  test("df-counted shingle state: membership == set state; forget nets; zeroed shingles leave") {
    val root = Files.createTempDirectory("graft-corpstate-shdf").toString
    val dfDir = s"$root/dfstate"; val setDir = s"$root/setstate"
    val tombPred = col("doc_id") % 5 === 2
    // accumulate the same corpus through both layouts
    CorpusStateStream.updateShingleDf(dfDir)(docsSlice(col("doc_id") % 2 === 0), 0L)
    CorpusStateStream.updateShingleDf(dfDir)(docsSlice(col("doc_id") % 2 =!= 0), 1L)
    CorpusStateStream.update(setDir)(docsSlice(lit(true)), 0L)
    val dfKeys = CorpusStateStream.shingleDfState(spark, dfDir).select(col("h"))
    val setKeys = CorpusStateStream.shingleState(spark, setDir)
    assert(dfKeys.exceptAll(setKeys).isEmpty && setKeys.exceptAll(dfKeys).isEmpty,
      "df>0 membership diverged from the set table over the same corpus")
    // forget: membership must equal a set rebuilt over the survivors
    CorpusStateStream.forgetShingleDf(dfDir)(docsSlice(tombPred), 2L)
    val survDir = s"$root/survstate"
    CorpusStateStream.update(survDir)(docsSlice(!tombPred), 0L)
    val after = CorpusStateStream.shingleDfState(spark, dfDir).select(col("h"))
    val surv = CorpusStateStream.shingleState(spark, survDir)
    assert(after.exceptAll(surv).isEmpty && surv.exceptAll(after).isEmpty,
      "post-forget df>0 membership diverged from a set rebuilt over survivors")
    // the deletion must actually retire shingles (non-vacuous fixture)
    assert(after.count() < dfKeys.count(),
      "fixture self-check: no shingle left membership on forget")
    // replayed forget is a ledger no-op; fold nets without changing reads
    CorpusStateStream.forgetShingleDf(dfDir)(docsSlice(tombPred), 2L)
    CorpusStateStream.foldShingleDf(spark, dfDir)
    val folded = CorpusStateStream.shingleDfState(spark, dfDir).select(col("h"))
    assert(folded.exceptAll(surv).isEmpty && surv.exceptAll(folded).isEmpty,
      "replayed forget or fold changed df membership")
    // contamination probes agree across layouts on the same corpus
    val probe = docsSlice(!tombPred).limit(20)
    val a = CorpusStateStream.contaminationAgainstDfState(dfDir, probe)
    val b = CorpusStateStream.contaminationAgainstState(survDir, probe)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "df-state contamination diverged from set-state over the same corpus")
  }

  test("foldVocab: rows fold to |terms|, reads unchanged, idempotent, replay still a no-op") {
    val root = Files.createTempDirectory("graft-corpstate-vocabfold").toString
    val stateDir = s"$root/state"
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 < 8), 0L)
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 >= 8), 1L)
    val exp = batchVocab(docsSlice(lit(true)))
    val nTerms = exp.count()
    val (before, after) = CorpusStateStream.foldVocab(spark, stateDir)
    // two batches share most terms, so the delta log genuinely shrinks
    assert(before > nTerms, s"fixture vacuous: $before delta rows for $nTerms terms")
    assert(after == nTerms, s"fold must leave one snapshot row per term, got $after")
    val st = CorpusStateStream.vocabState(spark, stateDir)
    assert(st.exceptAll(exp).isEmpty && exp.exceptAll(st).isEmpty,
      "fold changed the vocab aggregate")
    // idempotent: a second fold re-aggregates the snapshot into itself
    val (b2, a2) = CorpusStateStream.foldVocab(spark, stateDir)
    assert(b2 == nTerms && a2 == nTerms, "re-fold must be a row-level no-op")
    // a replay of a folded batch short-circuits on the ledger, exactly
    // as it did pre-fold — the fold only touches ledger-committed rows
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 >= 8), 1L)
    val st2 = CorpusStateStream.vocabState(spark, stateDir)
    assert(st2.exceptAll(exp).isEmpty && exp.exceptAll(st2).isEmpty,
      "replay after fold double-counted a folded batch")
  }

  test("foldVocab keeps crash-window deltas unfolded; the heal still never double-counts") {
    val root = Files.createTempDirectory("graft-corpstate-vocabfoldcrash").toString
    val stateDir = s"$root/state"
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 < 5), 0L)
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 >= 5), 1L)
    val exp = batchVocab(docsSlice(lit(true)))
    // simulate the crash window for batch 1: its deltas are in the log
    // but its ledger row is lost
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/vocab_ledger"), true))
    spark.range(1).select(lit(0L).as("batch_id"))
      .write.mode("append").parquet(s"$stateDir/vocab_ledger")
    CorpusStateStream.foldVocab(spark, stateDir)
    // batch 1's rows must still carry batch_id = 1 (not the snapshot id):
    // the healing replay's log probe depends on it
    assert(spark.read.parquet(s"$stateDir/vocab")
      .filter(col("batch_id") === 1L).count() > 0,
      "fold swallowed a crash-window delta")
    // the healing replay finds the deltas, appends nothing, heals the ledger
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 >= 5), 1L)
    val st = CorpusStateStream.vocabState(spark, stateDir)
    assert(st.exceptAll(exp).isEmpty && exp.exceptAll(st).isEmpty,
      "heal after fold double-counted the crash-window batch")
    assert(spark.read.parquet(s"$stateDir/vocab_ledger")
      .filter(col("batch_id") === 1L).count() == 1)
  }

  test("vocab stream drain with in-stream folds: counts exact, log snapshot-sized") {
    val root = Files.createTempDirectory("graft-corpstate-vocabdrain").toString
    val docsDir = s"$root/docs"; val stateDir = s"$root/state"
    // 4 files at one per trigger → folds fire after batches 2 and 4
    docsSlice(lit(true)).repartition(4).write.parquet(docsDir)
    CorpusStateStream.startVocab(spark, docsDir, stateDir, s"$root/ckpt",
      availableNow = true, maxFilesPerTrigger = Some(1),
      foldEvery = Some(2)).awaitTermination()
    val exp = batchVocab(docsSlice(lit(true)))
    val st = CorpusStateStream.vocabState(spark, stateDir)
    assert(st.exceptAll(exp).isEmpty && exp.exceptAll(st).isEmpty,
      "stream-built vocab diverged from the batch recomputation")
    // last fold ran at batch 4 (the final one): pure snapshot rows
    assert(spark.read.parquet(s"$stateDir/vocab").count() == exp.count(),
      "vocab delta log not snapshot-sized after the in-stream fold")
  }

  test("a fold that died between its two renames recovers on the next fold") {
    val root = Files.createTempDirectory("graft-corpstate-foldswapcrash").toString
    val stateDir = s"$root/state"
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 < 8), 0L)
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 >= 8), 1L)
    val exp = batchVocab(docsSlice(lit(true)))
    // simulate the swap crash window: the table was moved aside but the
    // compacted replacement never promoted (the PackingStreamSpec
    // convention for compactState, applied to the fold)
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$stateDir/vocab"),
      new org.apache.hadoop.fs.Path(s"$stateDir/vocab.old")))
    // a read in this window must fail loudly, not report empty state
    intercept[IllegalStateException] {
      CorpusStateStream.vocabState(spark, stateDir).count()
    }
    // the next fold recovers .old and completes normally
    val (_, after) = CorpusStateStream.foldVocab(spark, stateDir)
    assert(after == exp.count(), "post-recovery fold lost rows")
    val st = CorpusStateStream.vocabState(spark, stateDir)
    assert(st.exceptAll(exp).isEmpty && exp.exceptAll(st).isEmpty,
      "recovered-then-folded vocab diverged from the batch recomputation")
  }

  test("staged-pending protocol: a half-staged .tmp is discarded, a staged " +
      "marker refuses by name, a dangling .old with no table is promoted") {
    val stateDir = Files.createTempDirectory("graft-corpstate-pending").toString
    val marker = "x_pending"
    def dir(name: String) = new java.io.File(s"$stateDir/$name")
    def refuse() = CorpusStateStream.requireNoPending(spark, stateDir, marker, "heal first")
    // a crash mid-stage leaves only <marker>.tmp: never appliable
    assert(dir(s"$marker.tmp").mkdirs())
    refuse()
    assert(!CorpusStateStream.recoverPending(spark, stateDir, marker))
    assert(!dir(s"$marker.tmp").exists(), "recovery kept a half-staged .tmp")
    refuse()
    // a published stage refuses every guarded read and names the marker
    CorpusStateStream.stagePending(spark, stateDir, marker)(tmp =>
      assert(new java.io.File(tmp, "plan").mkdirs()))
    assert(dir(s"$marker/plan").isDirectory && !dir(s"$marker.tmp").exists())
    val e = intercept[IllegalArgumentException](refuse())
    assert(e.getMessage.contains(s"$stateDir/$marker exists: heal first"), e.getMessage)
    assert(CorpusStateStream.recoverPending(spark, stateDir, marker))
    CorpusStateStream.clearPending(spark, stateDir, marker)
    refuse()
    // a swap that died between its two renames: .old IS the table
    assert(dir("t.old/part").mkdirs())
    CorpusStateStream.recoverPending(spark, stateDir, marker, Seq("t"))
    assert(dir("t/part").isDirectory && !dir("t.old").exists(), "dangling .old not promoted")
  }

  test("vocab crash window: deltas committed + ledger lost heals, never double-counts") {
    val root = Files.createTempDirectory("graft-corpstate-vocabcrash").toString
    val stateDir = s"$root/state"
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 < 5), 0L)
    val exp = batchVocab(docsSlice(col("doc_id") % 10 < 5))
    // simulate the crash between the delta append and the ledger append
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/vocab_ledger"), true))
    // the replayed batch finds its deltas in the log: counts unchanged
    CorpusStateStream.updateVocab(stateDir)(docsSlice(col("doc_id") % 10 < 5), 0L)
    val st = CorpusStateStream.vocabState(spark, stateDir)
    assert(st.exceptAll(exp).isEmpty && exp.exceptAll(st).isEmpty,
      "replay after a ledger-loss crash double-counted the batch")
    // and the ledger row was healed: the fast path now short-circuits
    assert(spark.read.parquet(s"$stateDir/vocab_ledger")
      .filter(col("batch_id") === 0L).count() == 1)
  }

  test("lm score against state: exact on a hand-computed fixture, OOV accounted") {
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft-corpstate-lm").toString
    val stateDir = s"$root/state"
    // reference corpus: 'common' appears 4 times, 'rare' once (T = 5)
    val ref = Seq((1L, "common common rare", "s"), (2L, "common common", "s"))
      .toDF("doc_id", "text", "source")
    CorpusStateStream.updateVocab(stateDir)(ref, 0L)
    val arrivals = Seq(
      (10L, "common rare", "s"),       // fully in-vocab
      (11L, "common unseen", "s"),     // half OOV
      (12L, "nothere never", "s"))     // fully OOV
      .toDF("doc_id", "text", "source")
    val got = CorpusStateStream.lmScoreAgainstState(stateDir, arrivals)
      .orderBy(col("doc_id")).collect()
    def q(x: Double) = math.floor(math.log(x) * 1e6)
    val lnT = q(5.0) * 1e-6
    // doc 10: mean over {ln 4, ln 1} quantized micro-nats
    val exp10 = lnT - ((q(4.0) + q(1.0)) * 1e-6) / 2
    assert(got(0).getDouble(3) == exp10, s"got ${got(0).getDouble(3)}, want $exp10")
    assert(got(0).getDouble(2) == 0.0)
    // doc 11: only 'common' scores; OOV fraction 1/2
    val exp11 = lnT - (q(4.0) * 1e-6) / 1
    assert(got(1).getDouble(3) == exp11)
    assert(got(1).getDouble(2) == 0.5)
    // doc 12: nothing scoreable — null score, full OOV
    assert(got(2).isNullAt(3) && got(2).getDouble(2) == 1.0)
  }
}
