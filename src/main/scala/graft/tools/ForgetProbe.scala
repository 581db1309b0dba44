// scratch right-to-be-forgotten cost probe:
//   sbt "runMain graft.tools.ForgetProbe /root/testdata/sf0.1"
// Prices each forget mechanic against the alternative a deployment
// would otherwise pay — the numbers behind the runbook's "deletion is
// an index op, not a corpus rebuild" claim:
//   - LSH:  forget (anti-join + swap over sigs) vs re-sign REBUILD of
//     the surviving corpus from scratch;
//   - IVF:  forget (lists + codes) vs re-train + re-fold rebuild;
//   - blacklist: negative-delta forget batch (a ShingleText pass over
//     the FORGOTTEN docs only) vs recount REBUILD over survivors;
//   - df-shingle: same comparison on the decontamination state.
// All timings are one-shot wall clock on a warm session — comparative
// within this run, not cross-round comparable (the TimeQ caveat).
package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.streaming._

object ForgetProbe {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-forgetprobe").toString

    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val vecTomb = emb.select(col("vec_id"))
      .filter(Sampling.tombstoned(col("vec_id")))
    val docTomb = docs.filter(Sampling.tombstoned(col("doc_id")))
    println(s"[forget] corpus: ${emb.count()} vectors, ${docs.count()} docs; " +
      s"tombstones: ${vecTomb.count()} vecs, ${docTomb.count()} docs")

    // LSH: forget vs re-sign rebuild
    val lsh = s"$root/lsh"
    LshStateStream.update(lsh)(emb, 0L)
    val (_, tLshForget) = timed(LshStateStream.forget(spark, lsh, vecTomb))
    val (_, tLshRebuild) = timed {
      LshStateStream.update(s"$root/lsh_rebuild")(
        emb.join(vecTomb, Seq("vec_id"), "left_anti"), 0L)
    }
    println(f"[forget] LSH:       forget $tLshForget%.2f s vs re-sign rebuild $tLshRebuild%.2f s (${tLshRebuild / tLshForget}%.1fx)")

    // IVF (+PQ codes): forget vs retrain + refold
    val ivf = s"$root/ivf"
    IvfStateStream.train(emb, ivf, nlist = 8)
    IvfStateStream.trainPq(emb, ivf, m = 4, ksub = 16)
    IvfStateStream.update(ivf)(emb, 0L)
    IvfStateStream.updatePq(ivf)(emb, 0L)
    val (_, tIvfForget) = timed(IvfStateStream.forget(spark, ivf, vecTomb))
    val (_, tIvfRebuild) = timed {
      val d2 = s"$root/ivf_rebuild"
      val surv = emb.join(vecTomb, Seq("vec_id"), "left_anti")
      IvfStateStream.train(surv, d2, nlist = 8)
      IvfStateStream.trainPq(surv, d2, m = 4, ksub = 16)
      IvfStateStream.update(d2)(surv, 0L)
      IvfStateStream.updatePq(d2)(surv, 0L)
    }
    println(f"[forget] IVF+PQ:    forget $tIvfForget%.2f s vs retrain+refold  $tIvfRebuild%.2f s (${tIvfRebuild / tIvfForget}%.1fx)")

    // Blacklist: negative-delta batch vs recount over survivors. The
    // fold is timed SEPARATELY — it is amortized maintenance riding the
    // regular cadence, not part of the deletion's critical path (the
    // read nets unfolded deltas correctly).
    val bp = s"$root/bp"
    BoilerplateStateStream.update(bp)(docs, 0L)
    val (_, tBpForget) = timed(BoilerplateStateStream.forget(bp)(docTomb, 1L))
    val (_, tBpFold) = timed(BoilerplateStateStream.foldDeltas(spark, bp))
    val (_, tBpRebuild) = timed {
      BoilerplateStateStream.update(s"$root/bp_rebuild")(
        docs.join(docTomb.select(col("doc_id")), Seq("doc_id"), "left_anti"), 0L)
    }
    println(f"[forget] blacklist: forget $tBpForget%.2f s (+fold $tBpFold%.2f s, amortized) vs recount rebuild $tBpRebuild%.2f s (${tBpRebuild / tBpForget}%.1fx)")

    // df-shingle decontamination state: same comparison
    val sh = s"$root/shdf"
    CorpusStateStream.updateShingleDf(sh)(docs, 0L)
    val (_, tShForget) = timed(CorpusStateStream.forgetShingleDf(sh)(docTomb, 1L))
    val (_, tShFold) = timed(CorpusStateStream.foldShingleDf(spark, sh))
    val (_, tShRebuild) = timed {
      CorpusStateStream.updateShingleDf(s"$root/shdf_rebuild")(
        docs.join(docTomb.select(col("doc_id")), Seq("doc_id"), "left_anti"), 0L)
    }
    println(f"[forget] df-shingle: forget $tShForget%.2f s (+fold $tShFold%.2f s, amortized) vs recount rebuild $tShRebuild%.2f s (${tShRebuild / tShForget}%.1fx)")

    // Packing ledger: bounded suffix repack vs full-ledger rebuild over
    // survivors (both corpus-text-free on the forget side: the repack
    // reads the 32-byte/doc ledger; the rebuild re-tokenizes survivors)
    val pk = s"$root/pack"
    PackingStream.update(pk)(docs, 0L)
    val (_, tPkForget) = timed(PackingStream.forget(spark, pk,
      docTomb.select(col("doc_id"))))
    val (_, tPkRebuild) = timed {
      PackingStream.update(s"$root/pack_rebuild")(
        docs.join(docTomb.select(col("doc_id")), Seq("doc_id"), "left_anti"), 0L)
    }
    println(f"[forget] packing:   suffix repack $tPkForget%.2f s vs retokenize rebuild $tPkRebuild%.2f s (${tPkRebuild / tPkForget}%.1fx)")

    // Packing, the case the mechanic was BUILT for: a recency-skewed
    // tombstone draw (the GDPR-typical deletion of a recent subject —
    // tombstones confined to the last ~10 % of arrival order), so the
    // untouched prefix is ~90 % of the ledger. Then the same draw at a
    // FIXED absolute tail against 5x and 25x ledgers: repack cost must
    // track the SUFFIX (flat), not the ledger (25x), while the rebuild
    // alternative re-tokenizes every survivor and scales with the
    // corpus. Ledger replicas are id-shifted corpus copies folded as
    // separate batches (arrival order preserved); ~1/16 of the tail's
    // docs tombstone under the shared md5 rule.
    def mkLedger(dir: String, copies: Int): Unit =
      (0 until copies).foreach { i =>
        PackingStream.update(dir)(
          docs.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"),
            col("text")), i.toLong)
      }
    def totalToks(dir: String): Long =
      PackingStream.ledgerState(spark, dir)
        .agg(coalesce(max(col("tok_offset") + col("n_tok")), lit(0L)))
        .collect()(0).getLong(0)
    def recentTomb(dir: String, tailTokens: Long) =
      PackingStream.ledgerState(spark, dir)
        .filter(col("tok_offset") >= totalToks(dir) - tailTokens)
        .filter(Sampling.tombstoned(col("doc_id")))
        .select(col("doc_id")).localCheckpoint(true)
    def ledgerFiles(dir: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/ledger")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(_.getPath.getName).toSeq.sorted
    }
    val pk1 = s"$root/pack_recent"
    mkLedger(pk1, 1)
    val tail = totalToks(pk1) / 10 // the fixed absolute tail, 10 % of 1x
    // capture the tombstone set ONCE (localCheckpoint), BEFORE the timed
    // forget: recentTomb re-reads the ledger, so deriving it after the
    // forget has run returns an EMPTY set (the tombstoned rows are gone)
    // and the rebuild comparator would re-tokenize every document
    // instead of the survivors; deriving it inside the timed block
    // would bill the derivation to the forget (advisor catch, r16)
    val tombs1 = recentTomb(pk1, tail)
    val (_, tPk1) = timed(PackingStream.forget(spark, pk1, tombs1))
    val (_, tPk1Rebuild) = timed {
      PackingStream.update(s"$root/pack_recent_rebuild")(
        docs.join(tombs1, Seq("doc_id"), "left_anti"), 0L)
    }
    println(f"[forget] packing/recent: suffix repack $tPk1%.2f s (tail = 10%% of ledger) vs retokenize rebuild $tPk1Rebuild%.2f s (${tPk1Rebuild / tPk1}%.1fx)")
    Seq(5, 25).foreach { c =>
      val d = s"$root/pack_recent_$c"
      mkLedger(d, c)
      val tombs = recentTomb(d, tail) // captured pre-forget (see tombs1)
      val (_, t) = timed(PackingStream.forget(spark, d, tombs))
      val kept = ledgerFiles(d).count(_.startsWith("batch-"))
      val rb = if (c == 25) {
        // the crossover comparator: the rebuild re-tokenizes EVERY
        // survivor copy, so it scales with the ledger where the repack
        // does not
        val (_, t2) = timed {
          val rbDir = s"$root/pack_recent_rebuild_$c"
          (0 until c).foreach { i =>
            PackingStream.update(rbDir)(
              docs.select((col("doc_id") + lit(i * 100000000L)).as("doc_id"),
                  col("text"))
                .join(tombs, Seq("doc_id"), "left_anti"), i.toLong)
          }
        }
        f" vs retokenize rebuild $t2%.2f s (${t2 / t}%.1fx)"
      } else ""
      println(f"[forget] packing/recent ${c}x ledger, SAME absolute tail: repack $t%.2f s (vs 1x $tPk1%.2f s -> ${t / tPk1}%.2fx; ledger grew ${c}x; $kept/$c prefix batch files retained on disk untouched)$rb")
    }

    // Datasheet: negative ledger batch + sigs swap vs full refold over
    // survivors (fold amortized, as for the other additive families)
    val dsDocs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val dsTomb = dsDocs.filter(Sampling.tombstoned(col("doc_id")))
    val ds = s"$root/ds"
    DatasheetStateStream.update(ds)(dsDocs, 0L)
    val (_, tDsForget) = timed(DatasheetStateStream.forget(ds)(dsTomb, 1L))
    val (_, tDsFold) = timed(DatasheetStateStream.foldDeltas(spark, ds))
    val (_, tDsRebuild) = timed {
      DatasheetStateStream.update(s"$root/ds_rebuild")(
        dsDocs.join(dsTomb.select(col("doc_id")), Seq("doc_id"), "left_anti"), 0L)
    }
    println(f"[forget] datasheet: forget $tDsForget%.2f s (+fold $tDsFold%.2f s, amortized) vs refold rebuild $tDsRebuild%.2f s (${tDsRebuild / tDsForget}%.1fx)")

    spark.stop()
  }
}
