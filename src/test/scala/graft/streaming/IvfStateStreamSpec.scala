package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.Similarity

/** The maintained IVF index: persisted inverted lists must equal the
  * batch assignment of every delivered vector under the frozen
  * quantizer — across restarts and replays — and the state-served reads
  * (top-k, list stats) must equal their one-shot batch twins built over
  * the same corpus with the same parameters. */
class IvfStateStreamSpec extends SparkSpec {

  private val nlist = 8

  private def embSlice(pred: org.apache.spark.sql.Column) =
    Tables.embeddings(spark, sf0001)
      .filter(pred)
      .select(col("vec_id"), col("embedding"), col("label"))

  /** Batch twin of the fold: assign a corpus under the persisted
    * quantizer (the pure function state must reproduce). */
  private def batchAssign(stateDir: String,
      emb: org.apache.spark.sql.DataFrame) = {
    val dv = emb.select(col("vec_id"),
      graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
    Similarity.assign(dv, IvfStateStream.centroidState(spark, stateDir))
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("v"))
  }

  test("drain + restart: inverted lists equal the batch assignment") {
    val root = Files.createTempDirectory("graft-ivfstate").toString
    val embDir = s"$root/emb"; val stateDir = s"$root/state"
    val ckpt = s"$root/ckpt"

    // quantizer trained ONCE on the full corpus (the seed), then the
    // corpus arrives in two waves
    IvfStateStream.train(embSlice(lit(true)), stateDir, nlist)

    embSlice(col("vec_id") % 10 < 8).write.parquet(embDir)
    IvfStateStream.start(spark, embDir, stateDir, ckpt,
      availableNow = true).awaitTermination()

    val wave1 = batchAssign(stateDir, embSlice(col("vec_id") % 10 < 8))
    val st1 = IvfStateStream.listState(spark, stateDir)
    assert(st1.exceptAll(wave1).isEmpty && wave1.exceptAll(st1).isEmpty,
      "wave-1 lists diverged from batch assignment")

    // wave 2 arrives; restart from the same checkpoint — only new files
    embSlice(col("vec_id") % 10 >= 8).write.mode("append").parquet(embDir)
    IvfStateStream.start(spark, embDir, stateDir, ckpt,
      availableNow = true).awaitTermination()

    val all = batchAssign(stateDir, embSlice(lit(true)))
    val st = IvfStateStream.listState(spark, stateDir)
    assert(st.exceptAll(all).isEmpty && all.exceptAll(st).isEmpty,
      "post-restart lists diverged from batch assignment")
    assert(st.count() == embSlice(lit(true)).count(),
      "one list row per delivered vector")
  }

  test("a replayed micro-batch is a state no-op; in-batch dup vec_ids collapse") {
    val root = Files.createTempDirectory("graft-ivfstate-replay").toString
    val stateDir = s"$root/state"
    IvfStateStream.train(embSlice(lit(true)), stateDir, nlist)

    // at-least-once: the same vector delivered twice in ONE trigger
    val batch = embSlice(col("vec_id") < 50)
      .unionAll(embSlice(col("vec_id") < 10))
    IvfStateStream.update(stateDir)(batch, 0L)
    val rows1 = IvfStateStream.listState(spark, stateDir)
      .collect().sortBy(_.getLong(0))
    assert(rows1.length == 50, s"dup vec_ids must collapse: ${rows1.length}")

    // crash-replay shape: same batch delivered again
    IvfStateStream.update(stateDir)(batch, 0L)
    val rows2 = IvfStateStream.listState(spark, stateDir)
      .collect().sortBy(_.getLong(0))
    assert(rows1.map(_.toString).sameElements(rows2.map(_.toString)),
      "replayed batch changed the inverted lists")
  }

  test("crash window healing: partial append before the sink commit") {
    val root = Files.createTempDirectory("graft-ivfstate-crash").toString
    val stateDir = s"$root/state"
    IvfStateStream.train(embSlice(lit(true)), stateDir, nlist)
    // batch 0 committed
    IvfStateStream.update(stateDir)(embSlice(col("vec_id") < 30), 0L)
    // batch 1 appended its rows, then the job died BEFORE the sink
    // commit — the file source redelivers batch 1 in full
    IvfStateStream.update(stateDir)(embSlice(col("vec_id").between(30, 59)), 1L)
    IvfStateStream.update(stateDir)(embSlice(col("vec_id").between(30, 59)), 1L)
    val st = IvfStateStream.listState(spark, stateDir)
    assert(st.count() == 60, "healed replay must not duplicate state rows")
    val twin = batchAssign(stateDir, embSlice(col("vec_id") < 60))
    assert(st.exceptAll(twin).isEmpty && twin.exceptAll(st).isEmpty)
  }

  test("state-served top-k equals the one-shot batch ivfTopK") {
    val root = Files.createTempDirectory("graft-ivfstate-topk").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    IvfStateStream.train(emb, stateDir, nlist)
    IvfStateStream.update(stateDir)(emb.filter(col("vec_id") % 2 === 0), 0L)
    IvfStateStream.update(stateDir)(emb.filter(col("vec_id") % 2 === 1), 1L)

    val qids = Seq(0L, 100L, 200L)
    val served = IvfStateStream.topKFromState(spark, stateDir, qids,
      k = 10, nprobe = 3)
    val batch = Similarity.ivfTopK(emb, qids, k = 10, nlist = nlist,
      nprobe = 3)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty,
      "state-served top-k diverged from the one-shot batch operator")
    assert(served.count() == qids.size * 10L)
  }

  test("state-served list stats equal the one-shot batch ivfListStats") {
    val root = Files.createTempDirectory("graft-ivfstate-stats").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    IvfStateStream.train(emb, stateDir, nlist)
    IvfStateStream.update(stateDir)(emb, 0L)

    val served = IvfStateStream.listStatsFromState(spark, stateDir)
    val batch = Similarity.ivfListStats(emb, nlist = nlist)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty,
      "state-served list stats diverged from the one-shot batch operator")
  }

  test("configured nlist survives an emptied cluster: stats match the batch twin") {
    // vec 1 duplicates vec 0, so seeds c0 and c1 are identical; every
    // point's similarity ties between them and the tie-break ("larger
    // cid wins") starves c0 — the Lloyd recompute then DROPS cid 0 from
    // the centroid table. skew is defined against the CONFIGURED list
    // count, so listStatsFromState must read the persisted metadata,
    // not count the surviving centroids (count/nlist drift otherwise).
    import spark.implicits._
    val emb = (0L until 40L).map { i =>
      val th = (if (i == 1) 0L else i).toDouble * 0.37
      (i, Array(math.cos(th).toFloat, math.sin(th).toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")

    val root = Files.createTempDirectory("graft-ivfstate-meta").toString
    val stateDir = s"$root/state"
    val k = 4
    IvfStateStream.train(emb, stateDir, k)
    assert(IvfStateStream.centroidState(spark, stateDir).count() < k,
      "fixture must actually empty a cluster")
    assert(IvfStateStream.storedNlist(spark, stateDir) == k)

    IvfStateStream.update(stateDir)(emb, 0L)
    val served = IvfStateStream.listStatsFromState(spark, stateDir)
    val batch = Similarity.ivfListStats(emb, nlist = k)
    assert(served.exceptAll(batch).isEmpty && batch.exceptAll(served).isEmpty,
      "state-served stats diverged from the batch twin under an emptied cluster")
  }

  test("train refuses to overwrite an existing quantizer") {
    val root = Files.createTempDirectory("graft-ivfstate-train").toString
    val stateDir = s"$root/state"
    IvfStateStream.train(embSlice(lit(true)), stateDir, nlist)
    val e = intercept[IllegalArgumentException] {
      IvfStateStream.train(embSlice(lit(true)), stateDir, nlist)
    }
    assert(e.getMessage.contains("fresh stateDir"))
  }

  test("train + trainPq persist bit-identical centroids and codebooks " +
      "under any partitioning") {
    // the crash/restart guarantee: a re-run of training over a
    // differently partitioned seed writes the same quantizer
    def trained(emb: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
      val dir = Files.createTempDirectory("graft-ivfstate-part").toString + "/state"
      IvfStateStream.train(emb, dir, nlist)
      IvfStateStream.trainPq(emb, dir, m = 4, ksub = 16)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      (rows(IvfStateStream.centroidState(spark, dir)),
        rows(IvfStateStream.codebookState(spark, dir)))
    }
    val (cents, books) = trained(embSlice(lit(true)))
    val (cents7, books7) = trained(embSlice(lit(true)).repartition(7))
    assert(cents.size == nlist && books.size == 4 * 16)
    assert(cents7 == cents, "centroids/ depend on the partitioning")
    assert(books7 == books, "codebooks/ depend on the partitioning")
  }

  test("rebalance splits hot lists in place and equals the batch split") {
    val root = Files.createTempDirectory("graft-ivfstate-rebal").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    IvfStateStream.train(emb, stateDir, nlist)
    IvfStateStream.update(stateDir)(emb.filter(col("vec_id") % 2 === 0), 0L)
    IvfStateStream.update(stateDir)(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val n = emb.count()
    val maxList = math.ceil(n.toDouble / nlist).toInt
    // batch twin over the SAME pre-rebalance state
    val lists0 = IvfStateStream.listState(spark, stateDir)
      .select(col("cid"), col("vec_id"), col("v")).localCheckpoint(true)
    val cents0 = IvfStateStream.centroidState(spark, stateDir)
      .localCheckpoint(true)
    val (wantCents, wantLists) = Similarity.splitHotLists(
      lists0, cents0, nlist, maxList, iters = 3)
    val wantL = wantLists
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("v"))
      .collect().map(_.toString).sorted
    val wantC = wantCents.select(col("cid").cast("int"), col("cvec"))
      .collect().map(_.toString).sorted

    val (before, after) =
      IvfStateStream.rebalance(spark, stateDir, maxList)
    assert(before == nlist && after > nlist,
      s"rebalance must grow the list count past $nlist (got $after)")
    // state == batch, both tables
    val gotL = IvfStateStream.listState(spark, stateDir)
      .collect().map(_.toString).sorted
    assert(gotL.sameElements(wantL), "rebalanced lists diverged from batch split")
    val gotC = IvfStateStream.centroidState(spark, stateDir)
      .collect().map(_.toString).sorted
    assert(gotC.sameElements(wantC), "rebalanced centroids diverged")
    assert(IvfStateStream.storedNlist(spark, stateDir) == after,
      "meta must advance to the new configured count")
    // the index still partitions the corpus and still serves
    assert(IvfStateStream.listState(spark, stateDir).count() == n)
    val served = IvfStateStream.topKFromState(spark, stateDir,
      Seq(0L, 1L), k = 5)
    assert(served.groupBy(col("query_id")).count()
      .collect().forall(_.getLong(1) == 5), "served top-k must still fill k")
    // arrivals after rebalance assign against the REBALANCED quantizer
    val fresh = emb.limit(3)
      .withColumn("vec_id", col("vec_id") + lit(9000000L))
    IvfStateStream.update(stateDir)(fresh, 2L)
    val newCids = IvfStateStream.listState(spark, stateDir)
      .filter(col("vec_id") >= 9000000L)
      .select(col("cid")).collect().map(_.getInt(0)).toSet
    val centIds = IvfStateStream.centroidState(spark, stateDir)
      .select(col("cid")).collect().map(_.getInt(0)).toSet
    assert(newCids.subsetOf(centIds),
      "post-rebalance arrivals must land in rebalanced lists")
  }

  /** Two-pass batch twin: splitHotLists applied twice with the engine's
    * remap rule (pass 1: the configured nlist; pass 2: max(post-pass-1
    * centroid count, 1 + max list cid) — collision-free at any
    * generation). Returns (lists, cents) after both passes. */
  private def twoPassBatch(lists0: org.apache.spark.sql.DataFrame,
      cents0: org.apache.spark.sql.DataFrame, nlist: Int, maxList: Int) = {
    val (c1, l1raw) = Similarity.splitHotLists(lists0, cents0, nlist, maxList,
      iters = 3)
    val l1 = l1raw.localCheckpoint(true)
    val l1c = l1.select(col("cid"), col("vec_id"), col("v"))
    val c1c = c1.localCheckpoint(true)
    // the engine's remap rule: max cid over BOTH tables (a dead child
    // keeps a centroid but holds no list)
    val base2 = math.max(c1c.count().toInt,
      math.max(l1c.agg(max(col("cid"))).collect()(0).getInt(0),
        c1c.agg(max(col("cid"))).collect()(0).getInt(0)) + 1)
    val (c2, l2raw) = Similarity.splitHotLists(l1c, c1c, base2, maxList,
      iters = 3)
    // a list pass 2 leaves untouched KEEPS its pass-1 flag — the lineage
    // semantics (and the q198 oracle's l.from_split pass-through)
    val f1 = l1.select(col("cid"), col("from_split").as("fs1")).distinct()
    val l2 = l2raw.join(f1, Seq("cid"), "left")
      .withColumn("from_split",
        col("from_split") || coalesce(col("fs1"), lit(false)))
      .drop("fs1")
    (l2, c2)
  }

  test("two rebalance generations: state equals the two-pass batch chain " +
      "and split health serves across generations") {
    // controlled geometry: one coarse list of 100 (80 near angle 0 + 20
    // near 0.35 — seeds 0 and 3 land one in each subcluster, so pass 1
    // splits 80/20 and the 80-child is still hot), plus cold lists of
    // 30 and 10. vec_ids 0/1/2 seed the 3-list quantizer, one per
    // cluster.
    import spark.implicits._
    def pt(th: Double) = Array(math.cos(th).toFloat, math.sin(th).toFloat)
    val pts =
      Seq((0L, pt(0.0)), (1L, pt(2.0)), (2L, pt(4.0)), (3L, pt(0.35))) ++
      (0 until 78).map(i => (10L + i, pt(0.001 + (i % 16) * 0.01))) ++
      (0 until 19).map(i => (200L + i, pt(0.36 + (i % 8) * 0.01))) ++
      (0 until 29).map(i => (300L + i, pt(2.01 + (i % 8) * 0.01))) ++
      (0 until 9).map(i => (400L + i, pt(4.01 + (i % 4) * 0.01)))
    val emb = pts.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
    val k = 3
    val root = Files.createTempDirectory("graft-ivfstate-rebal2").toString
    val stateDir = s"$root/state"
    IvfStateStream.train(emb, stateDir, k)
    IvfStateStream.update(stateDir)(emb, 0L)
    // hot at 39: the 100-list (pass 1) and its >=40-member child (pass 2)
    val maxList = 39
    val lists0 = IvfStateStream.listState(spark, stateDir)
      .select(col("cid"), col("vec_id"), col("v")).localCheckpoint(true)
    val cents0 = IvfStateStream.centroidState(spark, stateDir)
      .localCheckpoint(true)
    val (wantLists, wantCents) = twoPassBatch(lists0, cents0, k, maxList)
    val wantL = wantLists
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("v"))
      .collect().map(_.toString).sorted
    val wantC = wantCents.select(col("cid").cast("int"), col("cvec"))
      .collect().map(_.toString).sorted

    val (b1, a1) = IvfStateStream.rebalance(spark, stateDir, maxList)
    val (b2, a2) = IvfStateStream.rebalance(spark, stateDir, maxList)
    assert(a1 > b1, "pass 1 must split")
    assert(b2 == a1 && a2 > b2,
      s"fixture must genuinely split at generation 2 (got $b2 -> $a2)")
    val gotL = IvfStateStream.listState(spark, stateDir)
      .collect().map(_.toString).sorted
    assert(gotL.sameElements(wantL),
      "two-generation lists diverged from the two-pass batch chain")
    val gotC = IvfStateStream.centroidState(spark, stateDir)
      .collect().map(_.toString).sorted
    assert(gotC.sameElements(wantC),
      "two-generation centroids diverged from the two-pass batch chain")
    assert(IvfStateStream.storedNlist(spark, stateDir) == a2)

    // the health read serves across BOTH generations: from_split is
    // true exactly on the lineage's child cids (r14 refused here)
    val health = IvfStateStream.splitHealthFromState(spark, stateDir)
    val wantFlags = wantLists.select(col("cid").cast("int"), col("from_split"))
      .distinct().collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    val gotFlags = health.select(col("cid"), col("from_split"))
      .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
    assert(gotFlags == wantFlags,
      s"from_split flags diverged across generations: $gotFlags vs $wantFlags")
    assert(gotFlags.values.exists(identity) && gotFlags.values.exists(!_),
      "fixture must exercise both flag values")
  }

  test("rebalanceUntilQuiet: loops to a quiet index, health serves, re-run is a no-op") {
    // same controlled-geometry fixture as the two-generation case: the
    // 100-member list needs multiple passes at threshold 39 to quiet
    // (80/20, then ~41/39, then the last hot child)
    import spark.implicits._
    def pt(th: Double) = Array(math.cos(th).toFloat, math.sin(th).toFloat)
    val pts =
      Seq((0L, pt(0.0)), (1L, pt(2.0)), (2L, pt(4.0)), (3L, pt(0.35))) ++
      (0 until 78).map(i => (10L + i, pt(0.001 + (i % 16) * 0.01))) ++
      (0 until 19).map(i => (200L + i, pt(0.36 + (i % 8) * 0.01))) ++
      (0 until 29).map(i => (300L + i, pt(2.01 + (i % 8) * 0.01))) ++
      (0 until 9).map(i => (400L + i, pt(4.01 + (i % 4) * 0.01)))
    val emb = pts.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
    val root = Files.createTempDirectory("graft-rebal-quiet").toString
    val stateDir = s"$root/state"
    IvfStateStream.train(emb, stateDir, 3)
    IvfStateStream.update(stateDir)(emb, 0L)
    val maxList = 39
    val (first, last, passes) = IvfStateStream.rebalanceUntilQuiet(
      spark, stateDir, maxList)
    assert(first == 3 && passes >= 2 && last > first,
      s"fixture must need MULTIPLE splitting passes to quiet ($first -> $last, $passes)")
    // quiet means quiet: no list above the threshold
    val over = IvfStateStream.listState(spark, stateDir)
      .groupBy(col("cid")).count().filter(col("count") > maxList).count()
    assert(over == 0, "loop returned with a hot list remaining")
    // health serves across the generations the loop created
    assert(IvfStateStream.splitHealthFromState(spark, stateDir).count() > 0)
    // a re-run is a zero-pass no-op on the already-quiet index
    val (f2, l2, p2) = IvfStateStream.rebalanceUntilQuiet(
      spark, stateDir, maxList)
    assert(p2 == 0 && f2 == l2 && f2 == last, "re-run on a quiet index must not mutate")
  }

  /** The controlled still-hot-child geometry (the two-generation
    * fixture): one coarse list of 100 whose pass-1 split at threshold
    * 39 leaves an 80-member child STILL HOT — the multi-pass case
    * [[IvfStateStream.rebalanceUntilQuiet]] exists for. */
  private def hotGeometryEmb = {
    import spark.implicits._
    def pt(th: Double) = Array(math.cos(th).toFloat, math.sin(th).toFloat)
    val pts =
      Seq((0L, pt(0.0)), (1L, pt(2.0)), (2L, pt(4.0)), (3L, pt(0.35))) ++
      (0 until 78).map(i => (10L + i, pt(0.001 + (i % 16) * 0.01))) ++
      (0 until 19).map(i => (200L + i, pt(0.36 + (i % 8) * 0.01))) ++
      (0 until 29).map(i => (300L + i, pt(2.01 + (i % 8) * 0.01))) ++
      (0 until 9).map(i => (400L + i, pt(4.01 + (i % 4) * 0.01)))
    pts.map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
  }

  test("crash after the lists swap with a still-hot child: recovery " +
      "promotes the completed pass (the r15 heuristic's blind spot)") {
    // a COMPLETED pass can legitimately leave a still-hot child; the
    // r15 "is any list still hot" recovery heuristic read that as
    // "swaps never ran" and deleted the staged lineage — after which
    // splitHealthFromState silently served from_split = false for the
    // generation's children. The remapped-cid witness observes the
    // swap directly.
    val emb = hotGeometryEmb
    val maxList = 39
    def build(tag: String): String = {
      val dir = Files.createTempDirectory(s"graft-rebal-hotcrash-$tag")
        .toString + "/state"
      IvfStateStream.train(emb, dir, 3)
      IvfStateStream.update(dir)(emb, 0L)
      dir
    }
    def snapshot(dir: String) = (
      IvfStateStream.listState(spark, dir).collect().map(_.toString).sorted.toSeq,
      IvfStateStream.centroidState(spark, dir).collect().map(_.toString).sorted.toSeq,
      IvfStateStream.storedNlist(spark, dir),
      IvfStateStream.splitHealthFromState(spark, dir)
        .collect().map(_.toString).toSeq)
    // clean reference: the same single pass, uncrashed
    val ref = build("ref")
    IvfStateStream.rebalance(spark, ref, maxList)
    val want = snapshot(ref)

    val dir = build("crash")
    val e = intercept[IllegalStateException] {
      IvfStateStream.rebalanceImpl(spark, dir, maxList, iters = 3,
        crashAfterStep = 3)
    }
    assert(e.getMessage.contains("injected crash"))
    // the blind-spot geometry is real: the swapped lists still hold a
    // hot child at the pass's own threshold
    assert(IvfStateStream.listState(spark, dir)
      .groupBy(col("cid")).count().filter(col("count") > maxList)
      .limit(1).count() > 0,
      "fixture vacuous: no still-hot child after the completed pass")
    // heal WITHOUT running another pass: the completed pass must
    // PROMOTE — state converges to the clean single-pass reference,
    // lineage included (the r15 heuristic discarded it here)
    IvfStateStream.recoverRebalance(spark, dir)
    assert(snapshot(dir) == want,
      "crash-after-lists-swap on a still-hot child did not promote")
    assert(IvfStateStream.splitHealthFromState(spark, dir)
      .filter(col("from_split")).count() > 0,
      "promoted generation's children must serve from_split = true")
    // and the operational loop finishes the job identically on both
    IvfStateStream.rebalanceUntilQuiet(spark, dir, maxList)
    IvfStateStream.rebalanceUntilQuiet(spark, ref, maxList)
    assert(snapshot(dir) == snapshot(ref),
      "post-recovery loop diverged from the clean loop")
  }

  test("a forget or fold against a staged pending plan is refused; " +
      "healed forget + rebalance equals the survivors-only rebuild") {
    val emb = hotGeometryEmb
    val maxList = 39
    val dir = Files.createTempDirectory("graft-rebal-forgetguard")
      .toString + "/state"
    IvfStateStream.train(emb, dir, 3)
    IvfStateStream.update(dir)(emb, 0L)
    val e0 = intercept[IllegalStateException] {
      IvfStateStream.rebalanceImpl(spark, dir, maxList, iters = 3,
        crashAfterStep = 1)
    }
    assert(e0.getMessage.contains("injected crash"))
    // the interleaving window is structurally closed: a forget here
    // could shrink (r15: promote a never-run plan) or empty (new
    // witness: discard a completed one) the very lists recovery reads
    val tomb = emb.select(col("vec_id")).filter(col("vec_id") % 7 === 3)
    val e1 = intercept[IllegalArgumentException] {
      IvfStateStream.forget(spark, dir, tomb)
    }
    assert(e1.getMessage.contains("rebal_pending"))
    val e2 = intercept[IllegalArgumentException] {
      IvfStateStream.update(dir)(emb, 1L)
    }
    assert(e2.getMessage.contains("rebal_pending"))
    // heal: the swaps never ran, so the plan is discarded and the
    // lists are exactly the pre-crash fold
    IvfStateStream.recoverRebalance(spark, dir)
    assert(IvfStateStream.listState(spark, dir).count() == emb.count())
    // now the maintenance sequence proceeds: forget, then quiet the
    // index — and the result must equal a clean survivors-only build
    // (same frozen quantizer, survivors folded, same loop), proving
    // forget composes with rebalance as if the deleted vectors had
    // never arrived
    IvfStateStream.forget(spark, dir, tomb)
    IvfStateStream.rebalanceUntilQuiet(spark, dir, maxList)
    val twin = Files.createTempDirectory("graft-rebal-survtwin")
      .toString + "/state"
    IvfStateStream.train(emb, twin, 3)
    IvfStateStream.update(twin)(
      emb.filter(col("vec_id") % 7 =!= 3), 0L)
    IvfStateStream.rebalanceUntilQuiet(spark, twin, maxList)
    def core(d: String) = (
      IvfStateStream.listState(spark, d).collect().map(_.toString).sorted.toSeq,
      IvfStateStream.centroidState(spark, d).collect().map(_.toString).sorted.toSeq,
      IvfStateStream.storedNlist(spark, d))
    assert(core(dir) == core(twin),
      "forget-then-rebalance diverged from the survivors-only rebuild")
  }

  test("composed lifecycle: fold -> rebalanceUntilQuiet -> forget -> " +
      "rebalance again keeps every read green (PQ tier present)") {
    // the full maintenance sequence a deployment actually runs,
    // interleaved in the documented order — each op individually
    // crash-safe, here proven to COMPOSE: the health read, the served
    // page, and the codes tier all stay consistent at every step
    val emb = embSlice(lit(true))
    val dir = Files.createTempDirectory("graft-ivf-lifecycle")
      .toString + "/state"
    IvfStateStream.train(emb, dir, nlist)
    IvfStateStream.trainPq(emb, dir, m = 4, ksub = 16)
    IvfStateStream.updatePq(dir)(emb.filter(col("vec_id") % 2 === 0), 0L)
    IvfStateStream.updatePq(dir)(emb.filter(col("vec_id") % 2 =!= 0), 1L)
    val n = emb.count()
    val maxList = math.ceil(n.toDouble / (2 * nlist)).toInt // genuinely hot
    val (_, afterLoop, passes) = IvfStateStream.rebalanceUntilQuiet(
      spark, dir, maxList)
    assert(passes >= 1, "fixture must actually split")
    val tombPred = col("vec_id") % 7 === 3
    val tomb = emb.select(col("vec_id")).filter(tombPred)
    IvfStateStream.forget(spark, dir, tomb)
    // a further pass at a tighter threshold — rebalance AFTER forget
    // (the interleaving the guard makes safe: no pending exists here)
    val maxList2 = math.max(1, maxList / 2)
    IvfStateStream.rebalance(spark, dir, maxList2)
    // lists: every surviving vector exactly once, no tombstones
    val lists = IvfStateStream.listState(spark, dir)
    assert(lists.filter(tombPred).isEmpty, "tombstones resurfaced")
    assert(lists.count() == emb.filter(!tombPred).count(),
      "a surviving vector was lost or duplicated across the sequence")
    // every list cid resolves to a centroid (no orphaned assignment)
    assert(lists.select(col("cid")).distinct()
      .join(IvfStateStream.centroidState(spark, dir), Seq("cid"), "left_anti")
      .isEmpty, "a list cid lost its centroid")
    // the codes tier went through the same sequence (forget scrubbed it;
    // rebalance never touches codes)
    val codes = IvfStateStream.codeState(spark, dir)
    assert(codes.filter(tombPred).isEmpty && codes.count() == 4 * lists.count(),
      "codes tier inconsistent after the composed sequence")
    // health serves across all generations with exact lineage flags
    val health = IvfStateStream.splitHealthFromState(spark, dir)
    assert(health.filter(col("from_split")).count() > 0 &&
      health.count() == lists.select(col("cid")).distinct().count(),
      "health read inconsistent after the composed sequence")
    // both serving paths return full, tombstone-free pages
    Seq(IvfStateStream.topKFromState(spark, dir, Seq(0L, 100L), k = 5),
        IvfStateStream.adcTopKFromState(spark, dir, Seq(0L, 100L), k = 5))
      .foreach { page =>
        assert(page.filter(tombPred).isEmpty, "tombstone in a served page")
        assert(page.count() == 10, "short page after the composed sequence")
      }
    assert(IvfStateStream.storedNlist(spark, dir) >= afterLoop,
      "meta regressed across the sequence")
  }

  test("every rebalance crash window heals on the next run") {
    val emb = embSlice(lit(true))
    val maxList = math.ceil(emb.count().toDouble / nlist).toInt

    def freshState(tag: String): String = {
      val dir = Files.createTempDirectory(s"graft-rebal-crash-$tag")
        .toString + "/state"
      IvfStateStream.train(emb, dir, nlist)
      IvfStateStream.update(stateDir = dir)(emb, 0L)
      dir
    }
    // the uncrashed reference
    val ref = freshState("ref")
    IvfStateStream.rebalance(spark, ref, maxList)
    def snapshot(dir: String): (Seq[String], Seq[String], Int, Seq[String]) = (
      IvfStateStream.listState(spark, dir).collect().map(_.toString).sorted.toSeq,
      IvfStateStream.centroidState(spark, dir).collect().map(_.toString).sorted.toSeq,
      IvfStateStream.storedNlist(spark, dir),
      IvfStateStream.splitHealthFromState(spark, dir)
        .collect().map(_.toString).toSeq)
    val want = snapshot(ref)

    Seq(1, 2, 3).foreach { step =>
      val dir = freshState(s"s$step")
      val e = intercept[IllegalStateException] {
        IvfStateStream.rebalanceImpl(spark, dir, maxList, iters = 3,
          crashAfterStep = step)
      }
      assert(e.getMessage.contains("injected crash"))
      // every window leaves a SERVABLE index: valid centroids for every
      // list cid, correct cosines (the transitional read contract)
      val served = IvfStateStream.topKFromState(spark, dir, Seq(0L, 100L), k = 5)
      assert(served.groupBy(col("query_id")).count()
        .collect().forall(_.getLong(1) == 5),
        s"crash window $step broke serving")
      if (step == 3) {
        // lineage not yet promoted: the health read refuses loudly
        // rather than serving wrong flags
        val h = intercept[IllegalArgumentException] {
          IvfStateStream.splitHealthFromState(spark, dir)
        }
        assert(h.getMessage.contains("rebal_pending"))
      }
      // the next run heals the window (same threshold, deterministic
      // DetAgg split) — state converges to the uncrashed reference
      IvfStateStream.rebalance(spark, dir, maxList)
      assert(snapshot(dir) == want, s"crash window $step did not heal")
    }
  }

  test("lists compaction shrinks files without changing the index") {
    val root = Files.createTempDirectory("graft-ivfstate-compact").toString
    val stateDir = s"$root/state"
    IvfStateStream.train(embSlice(lit(true)), stateDir, nlist)
    (0 until 4).foreach { i =>
      IvfStateStream.update(stateDir)(
        embSlice(col("vec_id") % 4 === i), i.toLong)
    }
    val before = IvfStateStream.listState(spark, stateDir)
      .collect().map(_.toString).sorted
    val (nb, na) = CorpusStateStream.compactState(spark, stateDir, "lists")
    assert(na < nb, s"compaction did not shrink files: $nb -> $na")
    val after = IvfStateStream.listState(spark, stateDir)
      .collect().map(_.toString).sorted
    assert(before.sameElements(after), "compaction changed the index")
  }

  test("forget removes tombstoned ids from lists AND codes; replay is a no-op") {
    val root = Files.createTempDirectory("graft-ivf-forget").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    IvfStateStream.train(emb, stateDir, nlist)
    IvfStateStream.trainPq(emb, stateDir, m = 4, ksub = 16)
    IvfStateStream.update(stateDir)(emb, 0L)
    IvfStateStream.updatePq(stateDir)(emb, 0L)

    val tombPred = col("vec_id") % 7 === 3
    val tomb = emb.select(col("vec_id")).filter(tombPred)
    val (nAll, nTomb) = (emb.count(), tomb.count())
    IvfStateStream.forget(spark, stateDir, tomb)

    // lists: exactly the survivors' assignment under the UNCHANGED
    // quantizer — deletion must not disturb any surviving row
    val st = IvfStateStream.listState(spark, stateDir)
    val twin = batchAssign(stateDir, embSlice(!tombPred))
    assert(st.exceptAll(twin).isEmpty && twin.exceptAll(st).isEmpty,
      "forgotten lists diverged from the survivors' batch assignment")
    assert(st.count() == nAll - nTomb, "lists row count after forget")
    // the compressed tier honors the same deletion
    val codes = IvfStateStream.codeState(spark, stateDir)
    assert(codes.filter(tombPred).isEmpty,
      "tombstoned codes survived the forget pass")
    assert(codes.count() == (nAll - nTomb) * 4, "codes row count after forget")
    // serving: a forgotten id can never appear in a result page (query
    // ids 0 and 100 are not tombstoned: 0 % 7 = 0, 100 % 7 = 2)
    val served = IvfStateStream.topKFromState(spark, stateDir,
      Seq(0L, 100L), k = 10, nprobe = 3)
    assert(served.filter(tombPred).isEmpty,
      "a forgotten vec_id surfaced in served top-k")
    assert(served.count() == 20, "forget must not shrink the result page")
    // re-deleting already-absent keys is a state no-op (the crash-replay
    // contract every other maintenance op honors)
    val before = st.collect().map(_.toString).sorted
    IvfStateStream.forget(spark, stateDir, tomb)
    val after = IvfStateStream.listState(spark, stateDir)
      .collect().map(_.toString).sorted
    assert(before.sameElements(after), "replayed forget changed the lists")
    assert(IvfStateStream.codeState(spark, stateDir).count() ==
      (nAll - nTomb) * 4, "replayed forget changed the codes")
  }

  test("every forget crash window refuses reads, then heals (staged " +
      "pending): the codes tier can never over-count mid-window") {
    val emb = embSlice(lit(true))
    val tombPred = col("vec_id") % 7 === 3
    val tomb = emb.select(col("vec_id")).filter(tombPred)
    val nSurv = emb.count() - tomb.count()
    // 0 = staged only; 1 = lists swapped, codes not; 2 = both swapped
    (0 to 2).foreach { step =>
      val root = Files.createTempDirectory(s"graft-ivfcrash$step").toString
      val state = s"$root/state"
      IvfStateStream.train(emb, state, nlist)
      IvfStateStream.trainPq(emb, state, m = 4, ksub = 16)
      IvfStateStream.update(state)(emb, 0L)
      IvfStateStream.updatePq(state)(emb, 0L)
      intercept[IllegalStateException] {
        IvfStateStream.forgetImpl(spark, state, tomb, crashAfterSwap = step)
      }
      val e = intercept[IllegalArgumentException] {
        IvfStateStream.listState(spark, state)
      }
      assert(e.getMessage.contains("forget_pending"), e.getMessage)
      intercept[IllegalArgumentException] {
        IvfStateStream.codeState(spark, state)
      }
      intercept[IllegalArgumentException] { // mid-window fold refuses too
        IvfStateStream.update(state)(emb.limit(1), 9L)
      }
      IvfStateStream.recoverForget(spark, state)
      val lists = IvfStateStream.listState(spark, state)
      val codes = IvfStateStream.codeState(spark, state)
      assert(lists.filter(tombPred).isEmpty && codes.filter(tombPred).isEmpty,
        s"step $step: tombstoned rows survived the healed forget")
      assert(lists.count() == nSurv && codes.count() == nSurv * 4,
        s"step $step: healed counts diverged (lists ${lists.count()}, " +
          s"codes ${codes.count()})")
    }
  }

  test("pq fold: codes state equals the batch encoding; replay is a no-op") {
    val root = Files.createTempDirectory("graft-ivfpq-fold").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    IvfStateStream.train(emb, stateDir, nlist)
    IvfStateStream.trainPq(emb, stateDir, m = 4, ksub = 16)
    IvfStateStream.updatePq(stateDir)(emb.filter(col("vec_id") % 2 === 0), 0L)
    IvfStateStream.updatePq(stateDir)(emb.filter(col("vec_id") % 2 === 1), 1L)
    val st = IvfStateStream.codeState(spark, stateDir)
    val twin = Similarity.pqEncode(emb.select(col("vec_id"), col("embedding")),
        IvfStateStream.codebookState(spark, stateDir), m = 4)
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("cid").cast("int").as("cid"))
    assert(st.exceptAll(twin).isEmpty && twin.exceptAll(st).isEmpty,
      "codes state diverged from the batch encoding")
    assert(st.count() == emb.count() * 4, "one code per (vector, subspace)")
    // crash-replay: the same batch again is a no-op
    IvfStateStream.updatePq(stateDir)(emb.filter(col("vec_id") % 2 === 0), 0L)
    assert(IvfStateStream.codeState(spark, stateDir).count() == emb.count() * 4,
      "replayed pq fold duplicated code rows")
  }

  test("state-served ADC top-k verified against a driver-side recomputation") {
    val root = Files.createTempDirectory("graft-ivfpq-adc").toString
    val stateDir = s"$root/state"
    val emb = embSlice(lit(true))
    IvfStateStream.train(emb, stateDir, nlist)
    IvfStateStream.trainPq(emb, stateDir, m = 4, ksub = 16)
    IvfStateStream.updatePq(stateDir)(emb, 0L)

    val qids = Seq(0L, 100L, 200L); val k = 5; val nprobe = 3
    val served = IvfStateStream.adcTopKFromState(spark, stateDir, qids,
        k = k, nprobe = nprobe)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap

    // independent recomputation in plain Scala: same sequential fold
    // order as VecDot, same HALF_UP round-6, same tie orders
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0d; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = IvfStateStream.centroidState(spark, stateDir).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val lists = IvfStateStream.listState(spark, stateDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Double](2)))).toMap
    val cb = IvfStateStream.codebookState(spark, stateDir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
    val recon = IvfStateStream.codeState(spark, stateDir).collect()
      .groupBy(_.getLong(0))
      .map { case (vid, rows) =>
        vid -> rows.sortBy(_.getInt(1)).flatMap(r => cb((r.getInt(1), r.getInt(2)))).toSeq
      }
    qids.foreach { q =>
      val qv = lists(q)._2
      val probed = cents.toSeq
        .map { case (cid, cv) => (dot(qv, cv), cid) }
        .sortBy { case (sim, cid) => (-sim, cid) }
        .take(nprobe).map(_._2).toSet
      val expected = lists.toSeq
        .collect { case (vid, (cid, _)) if probed(cid) && vid != q =>
          (round6(dot(recon(vid), qv) /
            (math.sqrt(dot(recon(vid), recon(vid))) * math.sqrt(dot(qv, qv)))),
            vid)
        }
        .sortBy { case (c, vid) => (-c, vid) }
        .take(k).map(_._2)
      expected.zipWithIndex.foreach { case (vid, i) =>
        assert(served((q, i + 1)) == vid,
          s"query $q rank ${i + 1}: served ${served((q, i + 1))}, expected $vid")
      }
    }
  }

  test("trainPq refuses to overwrite existing codebooks") {
    val root = Files.createTempDirectory("graft-ivfpq-guard").toString
    val stateDir = s"$root/state"
    val emb = embSlice(col("vec_id") < 64)
    IvfStateStream.trainPq(emb, stateDir)
    val e = intercept[IllegalArgumentException] {
      IvfStateStream.trainPq(emb, stateDir)
    }
    assert(e.getMessage.contains("fresh stateDir"))
  }
}
