package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Incrementally maintained IVF index — the streaming answer to the ANN
  * family's per-query rebuild cost. The one-shot operators
  * (q49/q112/q138/q139/q142/q150/q155) each rerun the Lloyd chain and
  * the corpus assignment from scratch, which is the right shape for a
  * single ad-hoc query and exactly the wrong one for a SERVED index:
  * production builds the coarse quantizer once, folds arriving vectors
  * into the inverted lists per micro-batch, and answers every read from
  * that state. This object is that maintenance job — the
  * [[CorpusStateStream]] pattern (append-only parquet state, anti-join
  * idempotence, foreachBatch + checkpointed file source) applied to the
  * vector corpus, with the read paths routed through the SAME
  * `Similarity.*FromIndex` code the batch operators use, so a
  * state-served answer can never drift from its batch twin.
  *
  * State layout under `stateDir`:
  *   - `centroids/` — (cid, cvec double[]): the coarse quantizer,
  *     written ONCE by [[train]] from a seed corpus. Centroids are
  *     deliberately FROZEN between retrains: assignment must be a pure
  *     function of (vector, centroids) or the inverted lists stop being
  *     reproducible from their inputs (the q49 chain stays the
  *     retraining tool; retraining = train to a fresh stateDir and
  *     re-fold, never mutate in place under a running stream).
  *   - `lists/` — (vec_id, cid, v double[]): the inverted file. Only
  *     ever receives appends of NEW vec_ids; compaction is
  *     [[CorpusStateStream.compactState]] on "lists" (pure file-level
  *     maintenance, same contract).
  *   - `meta/` — (nlist): the CONFIGURED list count, written by
  *     [[train]] before the centroids. Kept separately because the
  *     centroid table is not a reliable witness: a Lloyd iteration that
  *     empties a cluster drops its cid from `centroids/`, while skew in
  *     the health table is defined against the configured count.
  *
  * Exactly-once story, inherited from the corpus stream: the file
  * source's checkpoint delivers each file once per committed batch; a
  * crash after the state append but before the sink commit replays the
  * batch, whose rows the vec_id anti-join then drops — the append is
  * idempotent under replay.
  *
  * Scale: per batch, cost is |batch|·nlist broadcast-centroid dots (the
  * accepted IVF assign cost, map-side only — the corpus is never
  * shuffled) plus an anti-join of the batch's vec_ids against state
  * read with pushdown on the 8-byte key. Reads scan only the lists the
  * probe selects. The old×old quadrant of any pairwise consumer is
  * never recomputed — that is the entire point. */
object IvfStateStream {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private val centroidSchema = StructType(Seq(
    StructField("cid", IntegerType),
    StructField("cvec", ArrayType(DoubleType))))

  private val listSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("cid", IntegerType),
    StructField("v", ArrayType(DoubleType))))

  private val metaSchema = StructType(Seq(
    StructField("nlist", IntegerType)))

  /** One row per split CHILD per [[rebalance]] pass: the child's cid
    * and the ORIGINAL quantizer cid it ultimately descends from (a pass
    * that splits a prior pass's child logs the root, not the immediate
    * parent — the log folds to root-parent form on every pass). Explicit
    * child rows make [[splitHealthFromState]]'s from_split flag exact at
    * ANY number of rebalance generations; the r14 cid-modulus inference
    * was exact for one and refused to serve past it. */
  private val rebalSchema = StructType(Seq(
    StructField("child_cid", IntegerType),
    StructField("root_parent", IntegerType)))

  /** Pending-pass metadata staged by [[rebalance]] before its swaps:
    * the post-pass configured list count, the threshold the pass ran
    * at, and the pass's child-remap base. The base is the recovery
    * WITNESS: every remapped child cid (>= remap_base) is new to the
    * inverted file, so its presence in `lists/` proves the lists swap
    * completed — a direct observation where the r15 "is any list still
    * hot" heuristic misread a completed pass that legitimately left a
    * still-hot child (the multi-pass case), deleting that generation's
    * staged lineage. `remap_base` reads as null on a pending dir staged
    * by the r15 layout; recovery then falls back to the heuristic
    * (documented same-maintenance-window semantics). */
  private val pendingMetaSchema = StructType(Seq(
    StructField("nlist_after", IntegerType),
    StructField("max_list", IntegerType),
    StructField("remap_base", IntegerType)))

  /** Layout version — v1 birth marker (the r17 every-family stamp);
    * the probe table is `centroids` ([[train]] always writes it first,
    * so it dates every vintage and every lifecycle stage). */
  private val FormatVersion = 1

  private def requireFmt(spark: SparkSession, stateDir: String): Unit = {
    // a forget crashed between the lists and codes swaps leaves the
    // pair inconsistent (the certificate would over-count codes) —
    // refuse every read mid-window, like the rebalance pending guard
    CorpusStateStream.requireNoPendingForget(spark, stateDir, "ivf")
    CorpusStateStream.requireFormat(spark, stateDir, "ivf",
      FormatVersion, "centroids")
  }

  /** The persisted coarse quantizer. */
  def centroidState(spark: SparkSession, stateDir: String): DataFrame = {
    requireFmt(spark, stateDir)
    CorpusStateStream.stateDf(spark, s"$stateDir/centroids", centroidSchema)
  }

  /** The persisted inverted file (vec_id, cid, v). */
  def listState(spark: SparkSession, stateDir: String): DataFrame = {
    requireFmt(spark, stateDir)
    CorpusStateStream.stateDf(spark, s"$stateDir/lists", listSchema)
  }

  /** Train the coarse quantizer from a seed corpus and persist it —
    * the one-time (per index generation) build step. Refuses to
    * overwrite an existing quantizer: lists already folded under the
    * old centroids would silently stop matching (retrain into a FRESH
    * stateDir instead). Returns the configured nlist, which is ALSO
    * persisted as index metadata (`meta/`): a Lloyd iteration can empty
    * a cluster, so the stored centroid COUNT may come out below nlist —
    * readers that need the configured list count (skew in
    * [[listStatsFromState]]) must use [[storedNlist]], never
    * `centroids.count()`, or they drift from the batch twin by exactly
    * count/nlist on every skew row. */
  def train(seed: DataFrame, stateDir: String, nlist: Int, iters: Int = 3): Int = {
    val spark = seed.sparkSession
    CorpusStateStream.stampFormat(spark, stateDir, "ivf",
      FormatVersion, "centroids")
    val dir = s"$stateDir/centroids"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p),
      s"$dir already holds a quantizer; retrain into a fresh stateDir " +
      "(in-place centroid swap would orphan every folded list)")
    // meta BEFORE centroids: a crash between the two writes leaves the
    // centroids dir absent, so a re-run of train() passes the guard and
    // overwrites the orphan meta — whereas centroids-then-meta would
    // strand a quantizer with no recorded nlist behind a guard that now
    // refuses to re-run
    spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(Integer.valueOf(nlist))), metaSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/meta")
    Similarity.kmeansCentroids(seed, nlist, iters)
      .select(col("cid").cast("int").as("cid"), col("cvec"))
      .write.mode("errorifexists").parquet(dir)
    nlist
  }

  /** The CONFIGURED nlist of the stored quantizer — index metadata
    * written by [[train]], distinct from the stored centroid count
    * (which shrinks when a Lloyd iteration empties a cluster). Fails
    * with an actionable message on a quantizer trained before the
    * metadata existed — falling back to `centroids.count()` would
    * silently reintroduce the emptied-cluster skew drift this
    * metadata exists to prevent. */
  def storedNlist(spark: SparkSession, stateDir: String): Int = {
    val meta = CorpusStateStream.stateDf(spark, s"$stateDir/meta", metaSchema)
      .take(1)
    require(meta.nonEmpty,
      s"$stateDir/meta is missing or empty — this quantizer predates the " +
      "nlist metadata. Write a one-row meta/ parquet with the CONFIGURED " +
      "nlist (NOT the stored centroid count, which undercounts when a " +
      "Lloyd iteration emptied a cluster), or retrain into a fresh stateDir")
    meta.head.getInt(0)
  }

  /** One micro-batch: assign arriving vectors against the FROZEN
    * quantizer and append exactly the new (vec_id, cid, v) rows.
    * Calling it twice with the same batch is a no-op the second time —
    * the restart-recovery contract. */
  def update(stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    requireNoPendingRebalance(spark, stateDir, "folding a batch")
    // at-least-once delivery can land a vec_id twice in ONE trigger;
    // the anti-join only protects against rows already in state
    val vecs = batch
      .select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
      .dropDuplicates("vec_id")
      .localCheckpoint()
    val assigned = Similarity.assign(vecs, centroidState(spark, stateDir))
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("v"))
    assigned
      .join(listState(spark, stateDir).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      .write.mode("append").parquet(s"$stateDir/lists")
  }

  /** Start the maintenance stream over a directory of arriving
    * embedding parquet files ([[train]] must have run first). */
  def start(
      spark: SparkSession,
      embDir: String,
      stateDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    require(centroidState(spark, stateDir).limit(1).count() > 0,
      s"no quantizer under $stateDir/centroids — run train() before " +
      "starting the fold stream")
    CorpusStateStream.startDocStream(spark, embDir, checkpointDir,
      availableNow, triggerSeconds, maxFilesPerTrigger,
      schema = embSchema)(update(stateDir) _)
  }

  /** q49-shaped IVF top-k served FROM the maintained index: no Lloyd
    * chain, no corpus assignment — one pushdown read of the lists the
    * probes select, through the exact [[Similarity.ivfTopKFromIndex]]
    * path the batch operator uses. Query vectors are looked up in the
    * index by id (the q49 convention). */
  def topKFromState(spark: SparkSession, stateDir: String,
      queryIds: Seq[Long], k: Int, nprobe: Int = 3): DataFrame = {
    val lists = listState(spark, stateDir)
    val queries = lists.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    Similarity.ivfTopKFromIndex(lists, centroidState(spark, stateDir),
      queries, k, nprobe)
  }

  /** q139-shaped index-health table served FROM the maintained index —
    * the operational read an ANN deployment polls (list skew, cohesion)
    * without ever rebuilding the index it is monitoring. */
  def listStatsFromState(spark: SparkSession, stateDir: String): DataFrame = {
    val centroids = centroidState(spark, stateDir)
    // nlist is a property of the stored quantizer, not a caller guess —
    // and it is the CONFIGURED count from the index metadata, not
    // centroids.count(): an emptied cluster drops out of the centroid
    // table, but skew is defined against the configured list count
    // (the batch twin ivfListStats(emb, nlist) uses the requested nlist)
    val nlist = storedNlist(spark, stateDir)
    Similarity.ivfListStatsFromIndex(listState(spark, stateDir), centroids, nlist)
  }

  /** The persisted rebalance lineage (child_cid, root_parent), duplicate
    * rows folded — a re-promoted pending pass appends its rows again, so
    * every reader goes through this distinct. */
  private[streaming] def rebalState(spark: SparkSession,
      stateDir: String): DataFrame =
    CorpusStateStream.stateDf(spark, s"$stateDir/rebal", rebalSchema)
      .distinct()

  private val RebalPending = "rebal_pending"

  /** Refuse any OTHER index mutation while a crashed rebalance's staged
    * plan exists — the [[splitHealthFromState]] guard applied to the
    * write paths. Without it, a forget (or fold) between crash and
    * recovery can rewrite the very lists the recovery witness reads:
    * e.g. a forget that empties every staged remapped child list makes
    * a COMPLETED pass's swap indistinguishable from an unrun one, and
    * the next rebalance then discards lineage for children that are
    * already serving (from_split silently false forever) — or, under
    * the r15 heuristic, a forget shrinking hot lists below threshold
    * promoted a NEVER-RUN pass's stale plan. Heal first; the mutation
    * is one `recoverRebalance` call away. */
  private def requireNoPendingRebalance(spark: SparkSession,
      stateDir: String, op: String): Unit =
    CorpusStateStream.requireNoPending(spark, stateDir, RebalPending,
      "a rebalance pass crashed before promoting its lineage — re-run " +
      "rebalance with the same maxList (or call recoverRebalance) to heal " +
      s"before $op")

  /** Promote a staged pending pass: append its lineage rows, swap
    * `meta/` to the post-pass configured count (two-rename protocol —
    * the r14 bare overwrite could leave meta/ empty on a crash
    * mid-write), then clear the pending dir. Every step is idempotent
    * under re-promotion: duplicate lineage rows fold in [[rebalState]],
    * the meta swap rewrites the same value. */
  private def promotePending(spark: SparkSession, stateDir: String): Unit = {
    val pend = s"$stateDir/$RebalPending"
    spark.read.schema(rebalSchema).parquet(s"$pend/lineage")
      .coalesce(1).write.mode("append").parquet(s"$stateDir/rebal")
    val m = spark.read.schema(pendingMetaSchema).parquet(s"$pend/meta")
      .take(1).head
    CorpusStateStream.swapState(spark, s"$stateDir/meta")(tmp =>
      spark.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row(Integer.valueOf(m.getInt(0)))), metaSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp))
    CorpusStateStream.clearPending(spark, stateDir, RebalPending)
  }

  /** Crash recovery for [[rebalance]] — called at the start of every
    * pass (and exposed for operators healing an index without running a
    * new pass). A pending dir witnesses a pass that crashed after
    * staging its plan; whether its SWAPS completed is decided by a
    * direct witness: every remapped child cid the pass staged
    * (lineage rows with child_cid >= the staged remap base) is NEW to
    * the inverted file, so
    *   - if any staged remapped child cid is present in `lists/`, the
    *     lists swap completed and only the promotion was lost →
    *     promote now. This holds even when the completed pass
    *     legitimately left a still-hot child (the multi-pass case the
    *     r15 still-hot heuristic misread — it deleted that
    *     generation's staged lineage, and splitHealthFromState then
    *     silently served from_split = false for its children);
    *   - otherwise the swaps never ran → discard the plan; the next
    *     pass recomputes it deterministically from the unchanged lists
    *     (same seeds, same DetAgg Lloyd rounds).
    * Degenerate caveat: if EVERY remapped child list came out empty
    * (all members assigned to child-0 — 2-means collapsing on
    * near-identical mass), a completed swap is indistinguishable from
    * an unrun one and the plan is discarded; the re-run re-splits the
    * same still-hot lists, and [[rebalanceUntilQuiet]]'s bound surfaces
    * the underlying skew pathology. A pending dir staged by the r15
    * layout has no remap base; recovery falls back to the r15
    * still-hot heuristic under its documented same-maintenance-window
    * semantics. */
  def recoverRebalance(spark: SparkSession, stateDir: String): Unit = {
    if (!CorpusStateStream.recoverPending(spark, stateDir, RebalPending,
        Seq("centroids", "lists", "meta"))) return
    val pend = s"$stateDir/$RebalPending"
    val meta = spark.read.schema(pendingMetaSchema)
      .parquet(s"$pend/meta").take(1).head
    val swapped =
      if (meta.isNullAt(2)) {
        // r15-format pending dir: the still-hot heuristic, valid only
        // inside the crashed pass's own maintenance window
        val pMaxList = meta.getInt(1)
        listState(spark, stateDir)
          .groupBy(col("cid")).agg(count(lit(1)).as("n"))
          .filter(col("n") > pMaxList).limit(1).count() == 0
      } else {
        val remapBase = meta.getInt(2)
        val staged = spark.read.schema(rebalSchema)
          .parquet(s"$pend/lineage")
          .filter(col("child_cid") >= remapBase)
          .select(col("child_cid").as("cid"))
        listState(spark, stateDir)
          .join(broadcast(staged), Seq("cid"), "left_semi")
          .limit(1).count() > 0
      }
    if (swapped) promotePending(spark, stateDir)
    else CorpusStateStream.clearPending(spark, stateDir, RebalPending)
  }

  /** OFFLINE hot-list rebalance of the maintained index — the state
    * twin of [[graft.operators.Similarity.splitHotLists]] (q197's
    * operator), and the ONE sanctioned mutation of a frozen quantizer:
    * every list above `maxList` splits by the keyed deterministic
    * 2-means over its own members, children take cids
    * parent + child·remapBase (remapBase = max(configured count,
    * 1 + max cid across the inverted file AND the promoted lineage
    * log — the log side closes the dead-child hole: an emptied child,
    * e.g. one a forget scrubbed, keeps a centroid and a lineage row
    * but holds no list, and a remap colliding with it would strand two
    * different centroids under one cid) — equal to the configured
    * nlist on a fresh index, so generation 1 matches the batch twin
    * exactly, and collision-free at EVERY later generation, where the
    * configured count alone is not: after {0..7} splits 3 → {…, 11},
    * a pass-2 split of list 2 under modulus 9 would collide with
    * list 11).
    * A quiet pass (no list above `maxList`) mutates nothing. Run it the
    * way [[CorpusStateStream.compactState]] runs — in a maintenance
    * window, no fold stream active; rerun until quiet (a child can
    * still exceed the threshold), which [[splitHealthFromState]] now
    * serves across generations.
    *
    * Crash ordering (each step leaves a SERVABLE index, and a re-run
    * with the SAME maxList recovers every window — [[recoverRebalance]]
    * runs first):
    *   0. the pass's lineage rows + post-pass meta stage to
    *      `rebal_pending/` under an atomic directory rename — no
    *      serving read consults them yet;
    *   1. `centroids/` swaps to the FULL post-split set (two-rename
    *      protocol). Transitional reads resolve every pre-swap list cid
    *      to a valid centroid — a split parent's cid is its child-0's
    *      cid, so old lists land on the child-0 mean (a real mean,
    *      correct cosines; at worst degraded probe ranking). A crash
    *      here leaves the lists still hot, and the re-run re-splits
    *      them from the same seeds — the r14 order (children append,
    *      lists swap, parents prune) lost the child-0 means in its
    *      step-2/3 crash window and its re-run saw the already-split
    *      lists as cold, silently serving the stale parent mean forever;
    *   2. `lists/` swaps to the split assignment;
    *   3. the pending pass promotes (lineage append → meta swap →
    *      pending clears). A crash anywhere in 3 re-promotes on the
    *      next run: a staged remapped child cid present in `lists/` is
    *      the recovery witness that the swaps completed — valid even
    *      when the completed pass leaves a still-hot child (the
    *      multi-pass geometry the r15 still-hot heuristic misread).
    *
    * Returns (configured count before, after) — equal iff the pass was
    * quiet. A crashed pass re-runs bit-identically: the child means
    * are DetAgg decimal sums, so the re-split reproduces the same
    * centroids on any partitioning. */
  def rebalance(spark: SparkSession, stateDir: String, maxList: Int,
      iters: Int = 3): (Int, Int) =
    rebalanceImpl(spark, stateDir, maxList, iters, crashAfterStep = Int.MaxValue)

  /** Test seam: throw after step `crashAfterStep` (1 = pending staged,
    * 2 = centroids swapped, 3 = lists swapped) so the spec can prove
    * every crash window heals on the next run. */
  private[streaming] def rebalanceImpl(spark: SparkSession, stateDir: String,
      maxList: Int, iters: Int,
      crashAfterStep: Int): (Int, Int) = {
    require(maxList >= 1, "maxList must be >= 1")
    def crash(step: Int): Unit =
      if (crashAfterStep == step)
        throw new IllegalStateException(s"injected crash after step $step")
    recoverRebalance(spark, stateDir)
    val nlist = storedNlist(spark, stateDir)
    val lists0 = listState(spark, stateDir)
      .select(col("cid"), col("vec_id"), col("v"))
      .localCheckpoint(true) // the source table is about to be swapped
    val cents0 = centroidState(spark, stateDir).localCheckpoint(true)
    val hot = lists0.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxList).select(col("cid"))
      .localCheckpoint(true) // tiny: bounded by the configured list count
    if (hot.limit(1).count() == 0) return (nlist, nlist)
    // bounded one-row metadata probes: the remap base (see scaladoc) is
    // the max cid over the inverted file AND the promoted lineage log —
    // a DEAD child (a centroid whose list emptied, e.g. scrubbed by a
    // forget) can hold the highest cid while appearing in `centroids/`
    // only, and a later pass's remapped child colliding with it would
    // leave two different centroids under one cid with dropDuplicates
    // keeping an arbitrary winner. The LOG is the dead-child witness
    // rather than the centroid table itself, deliberately: every child
    // ever PROMOTED is logged, while a crashed pass's swapped-but-
    // unpromoted centroids are not — so the crash-window-2 re-run
    // (centroids already swapped, lists not) recomputes the SAME base
    // as the crashed pass and converges bit-identically instead of
    // re-remapping its own half-applied children ever upward
    val maxCidLists = lists0.agg(max(col("cid"))).collect()(0).getInt(0)
    val logMaxRow = rebalState(spark, stateDir)
      .agg(max(col("child_cid"))).collect()(0)
    val maxCidLog = if (logMaxRow.isNullAt(0)) -1 else logMaxRow.getInt(0)
    val remapBase = math.max(nlist, math.max(maxCidLists, maxCidLog) + 1)
    val (newCents, newLists) = Similarity.splitHotLists(
      lists0, cents0, remapBase, maxList, iters)
    val listsOut = newLists
      .select(col("vec_id"), col("cid").cast("int").as("cid"), col("v"))
      .localCheckpoint(true)
    val centsOut = newCents
      .select(col("cid").cast("int").as("cid"), col("cvec"))
      // crash-after-centroid-swap re-run: cents0 already holds the
      // child-1 centroids the recomputed kids re-add (bit-identical —
      // DetAgg means — so whichever copy survives is the same row);
      // fold the duplicates so the recovered index never double-joins a
      // list. A no-op on the
      // normal path (hot parents are anti-joined out before the union).
      .dropDuplicates("cid")
      .localCheckpoint(true)
    val nNew = centsOut.count().toInt
    // lineage in root-parent form: a split of a prior pass's child logs
    // the original quantizer cid (prior log row), never the immediate
    // parent — both children of each split list get a row (child-0
    // keeps the parent's cid, child-1 remaps)
    val roots = hot
      .join(rebalState(spark, stateDir)
          .select(col("child_cid").as("cid"), col("root_parent")),
        Seq("cid"), "left")
      .select(col("cid"), coalesce(col("root_parent"), col("cid"))
        .as("root_parent"))
    val lineage = roots
      .select(col("cid").as("child_cid"), col("root_parent"))
      .unionAll(roots.select(
        (col("cid") + lit(remapBase)).cast("int").as("child_cid"),
        col("root_parent")))
    // 0. stage the pass (atomic dir rename: a half-written pending can
    //    never be mistaken for a promotable one)
    CorpusStateStream.stagePending(spark, stateDir, RebalPending) { tmp =>
      lineage.coalesce(1).write.mode("overwrite").parquet(s"$tmp/lineage")
      spark.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row(Integer.valueOf(nNew),
              Integer.valueOf(maxList), Integer.valueOf(remapBase))),
          pendingMetaSchema)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    }
    crash(1)
    // 1. centroids swap FIRST, to the full post-split set
    CorpusStateStream.swapState(spark, s"$stateDir/centroids")(t =>
      centsOut.write.mode("overwrite").parquet(t))
    crash(2)
    // 2. the inverted file swaps to the split assignment
    CorpusStateStream.swapState(spark, s"$stateDir/lists")(t =>
      listsOut.write.mode("overwrite").parquet(t))
    crash(3)
    // 3. promote: lineage append + meta swap + pending clear
    promotePending(spark, stateDir)
    (nlist, nNew)
  }

  /** The operational loop [[rebalance]]'s scaladoc prescribes, as an
    * API: rerun the split pass at the same threshold until a pass is
    * quiet (a child can still exceed `maxList` after one pass — one
    * pass halves hot lists). Bounded by `maxPasses` — the theoretical
    * worst case is ceil(log2(largest list / maxList)) passes, so a
    * deployment hitting the bound has a skew pathology to look at, not
    * a bigger budget to grant. Each pass is one keyed chain
    * (skew-proportional, never corpus-proportional) and each leaves a
    * servable index under the per-pass crash protocol; the lineage log
    * and [[splitHealthFromState]] are exact at any pass count. Returns
    * (configured count before pass 1, after the final pass, passes that
    * actually split). */
  def rebalanceUntilQuiet(spark: SparkSession, stateDir: String,
      maxList: Int, maxPasses: Int = 8, iters: Int = 3): (Int, Int, Int) = {
    require(maxPasses >= 1, "maxPasses must be >= 1")
    val first = storedNlist(spark, stateDir)
    var passes = 0
    var last = first
    var quiet = false
    while (!quiet && passes < maxPasses) {
      val (before, after) = rebalance(spark, stateDir, maxList, iters)
      if (after == before) quiet = true else { passes += 1; last = after }
    }
    require(quiet, s"$passes passes at maxList=$maxList did not quiet the " +
      "index — a list is splitting into children that stay hot, which " +
      "means near-duplicate vector mass (seeds land on twins and 2-means " +
      "degenerates); dedup the corpus or raise the threshold")
    (first, last, passes)
  }

  /** Right-to-be-forgotten EXECUTION against the maintained index —
    * the op q153's tombstone-cascade audit prices: remove the tombstoned
    * vec_ids from every serving artifact under `stateDir` (the inverted
    * lists, and the PQ codes when the compressed tier exists), via the
    * two-rename swap protocol so a crash never leaves a half-written
    * table. The quantizer and codebooks stay — they are MODELS, trained
    * on data that may include the forgotten rows; whether model
    * retraining is also required is a policy question (the audit's
    * 'recanonicalize' class), not an index operation, and retraining
    * remains train-to-a-fresh-stateDir. Re-running with the same
    * tombstones is a no-op (anti-join of an already-absent key).
    * Scale: two pushdown anti-joins on 8-byte keys against a broadcast
    * tombstone set — cost is the state scan, never the corpus.
    * Run offline, like [[rebalance]] and compaction; refuses while a
    * crashed rebalance's staged plan exists (heal it first — see
    * [[requireNoPendingRebalance]]: a forget here could forge or erase
    * the recovery witness). */
  def forget(spark: SparkSession, stateDir: String,
      tombstones: DataFrame): Unit =
    forgetImpl(spark, stateDir, tombstones, crashAfterSwap = Int.MaxValue)

  /** Test seam: throw after the n-th swap (1 = lists, 2 = codes;
    * 0 = staged only). */
  private[streaming] def forgetImpl(spark: SparkSession, stateDir: String,
      tombstones: DataFrame, crashAfterSwap: Int): Unit = {
    requireNoPendingRebalance(spark, stateDir, "executing a forget")
    // staged-pending protocol (r17): a crash between the lists and
    // codes swaps previously left a still-tombstoned codes tier next to
    // survivor lists — no serving read could resurrect a deleted vector
    // (candidates come from lists), but the certificate's codes leg
    // over-counted until an operator happened to re-run the forget;
    // reads now refuse mid-window and recoverForget heals from the
    // stored tombstones
    CorpusStateStream.stagedKeyedForget(spark, stateDir, "vec_id",
      forgetSwaps, tombstones, crashAfterSwap)
  }

  /** Crash recovery for [[forget]] — heal dangling swaps and re-apply a
    * staged pending forget from its stored tombstones. */
  def recoverForget(spark: SparkSession, stateDir: String): Unit =
    CorpusStateStream.recoverKeyedForget(spark, stateDir, "vec_id",
      forgetSwaps)

  private val forgetSwaps = Seq(CorpusStateStream.KeyedSwap("lists"),
    CorpusStateStream.KeyedSwap("codes", optional = true))

  /** The post-split health table served FROM the REBALANCED state — the
    * q182/q139 serving pattern applied to the maintenance op itself:
    * lists and centroids come from the mutated index, the from_split
    * flag from the explicit (child_cid, root_parent) lineage log — a
    * list is from_split iff its cid is a logged child, exact at ANY
    * number of rebalance generations (the r14 cid-modulus inference
    * refused to serve past one) — and skew is reported against the
    * post-split non-empty list count (the q197 convention, NOT
    * storedNlist — a dead child keeps a centroid but holds no list).
    * Nothing here re-runs the split or rescans the corpus: the read is
    * one lists-scan + broadcast joins. */
  def splitHealthFromState(spark: SparkSession, stateDir: String): DataFrame = {
    requireNoPendingRebalance(spark, stateDir, "serving split health")
    val children = rebalState(spark, stateDir)
      .select(col("child_cid")).localCheckpoint(true)
    require(children.limit(1).count() > 0,
      s"$stateDir/rebal holds no rebalance lineage — run rebalance() " +
      "before serving split health (a pass that crashed mid-run heals " +
      "on its next invocation via recoverRebalance)")
    val flagged = listState(spark, stateDir)
      .join(broadcast(children.withColumn("fs", lit(true))),
        col("cid") === col("child_cid"), "left")
      .select(col("cid"), col("v"),
        coalesce(col("fs"), lit(false)).as("from_split"))
    val mc = flagged
      .join(broadcast(centroidState(spark, stateDir)), Seq("cid"))
      .select(col("cid"), col("from_split"),
        round(graft.expressions.VecDot(col("v"), col("cvec")) /
          (sqrt(graft.expressions.VecDot(col("v"), col("v"))) *
           sqrt(graft.expressions.VecDot(col("cvec"), col("cvec")))), 6)
          .as("cc"))
    val per = mc.groupBy(col("cid"), col("from_split"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.functions.DetAgg.davg(col("cc")).as("avg_centroid_cosine"))
    val tot = per.agg(sum(col("n_vecs")).as("_t"), count(lit(1)).as("_nl"))
    per.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("_t").cast("double"))
          .as("size_share"),
        (col("n_vecs").cast("double") * col("_nl").cast("double")
          / col("_t").cast("double")).as("skew"),
        col("avg_centroid_cosine"), col("from_split"))
      .orderBy(col("cid"))
  }

  // ------------------------------------------------------------------
  // PQ tier: the maintained index as FULL IVF-PQ. The coarse quantizer
  // prunes WHICH lists a query probes; the per-subspace codebooks
  // compress HOW each member is stored and scored (q175/q176's 16-bit
  // codes instead of 2048-bit vectors). At 100 TB the `lists/` table's
  // full-precision vectors are exactly what PQ eliminates from the
  // serving path: the ADC read below touches only `codes/` (2 bytes/vec)
  // for candidate scoring — `lists/` degrades to the (vec_id, cid)
  // membership map plus the query-vector lookup, and a deployment that
  // accepts external query vectors drops its `v` column from the read
  // path entirely.

  private val codebookSchema = StructType(Seq(
    StructField("sub", IntegerType),
    StructField("cid", IntegerType),
    StructField("cvec", ArrayType(DoubleType))))

  private val codeSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("sub", IntegerType),
    StructField("cid", IntegerType)))

  private val pqMetaSchema = StructType(Seq(
    StructField("m", IntegerType),
    StructField("ksub", IntegerType)))

  /** The persisted per-subspace codebooks (sub, cid, cvec). */
  def codebookState(spark: SparkSession, stateDir: String): DataFrame = {
    requireFmt(spark, stateDir)
    CorpusStateStream.stateDf(spark, s"$stateDir/codebooks", codebookSchema)
  }

  /** The persisted PQ codes (vec_id, sub, cid). */
  def codeState(spark: SparkSession, stateDir: String): DataFrame = {
    requireFmt(spark, stateDir)
    CorpusStateStream.stateDf(spark, s"$stateDir/codes", codeSchema)
  }

  /** The CONFIGURED (m, ksub) of the stored codebooks — the
    * [[storedNlist]] rationale applied to the PQ tier (a dead codeword
    * shrinks the codebook table, so counting rows would mis-derive m). */
  def storedPqShape(spark: SparkSession, stateDir: String): (Int, Int) = {
    val meta = CorpusStateStream.stateDf(spark, s"$stateDir/pqmeta", pqMetaSchema)
      .take(1)
    require(meta.nonEmpty,
      s"$stateDir/pqmeta is missing or empty — run trainPq() before " +
      "folding or reading PQ codes")
    (meta.head.getInt(0), meta.head.getInt(1))
  }

  /** Train the per-subspace codebooks from a seed corpus and persist
    * them — the PQ sibling of [[train]], same freeze/overwrite contract
    * (codes folded under old codebooks would silently stop matching)
    * and the same meta-before-table crash ordering. `corpusKey` rides
    * through to [[Similarity.pqStage]]'s session memo: a session that
    * runs both the batch PQ trio (q175–q177) and this state build then
    * trains the per-subspace Lloyd chain ONCE, not twice. */
  def trainPq(seed: DataFrame, stateDir: String, m: Int = 4, ksub: Int = 16,
      iters: Int = 3, corpusKey: Option[String] = None): Unit = {
    val spark = seed.sparkSession
    CorpusStateStream.stampFormat(spark, stateDir, "ivf",
      FormatVersion, "centroids")
    val dir = s"$stateDir/codebooks"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(p),
      s"$dir already holds codebooks; retrain into a fresh stateDir " +
      "(an in-place swap would orphan every folded code)")
    spark.createDataFrame(
        java.util.Collections.singletonList(
          org.apache.spark.sql.Row(Integer.valueOf(m), Integer.valueOf(ksub))),
        pqMetaSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/pqmeta")
    Similarity.pqStage(seed, m, ksub, iters, corpusKey)._1
      .select(col("sub").cast("int").as("sub"), col("cid").cast("int").as("cid"),
        col("cvec"))
      .write.mode("errorifexists").parquet(dir)
  }

  /** One micro-batch of the FULL IVF-PQ fold: the coarse-list append
    * ([[update]]) plus encoding the batch against the frozen codebooks
    * and appending exactly the new (vec_id, sub, cid) rows. Idempotent
    * under replay (both appends anti-join on vec_id). */
  def updatePq(stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    update(stateDir)(batch, batchId)
    val (m, _) = storedPqShape(spark, stateDir)
    val vecs = batch.select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
    Similarity.pqEncode(vecs, codebookState(spark, stateDir), m)
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("cid").cast("int").as("cid"))
      .join(codeState(spark, stateDir).select(col("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
      .write.mode("append").parquet(s"$stateDir/codes")
  }

  /** Start the IVF-PQ maintenance stream ([[train]] AND [[trainPq]]
    * must have run first). */
  def startPq(
      spark: SparkSession,
      embDir: String,
      stateDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    require(centroidState(spark, stateDir).limit(1).count() > 0,
      s"no quantizer under $stateDir/centroids — run train() first")
    require(codebookState(spark, stateDir).limit(1).count() > 0,
      s"no codebooks under $stateDir/codebooks — run trainPq() first")
    CorpusStateStream.startDocStream(spark, embDir, checkpointDir,
      availableNow, triggerSeconds, maxFilesPerTrigger,
      schema = embSchema)(updatePq(stateDir) _)
  }

  /** IVF-PQ serving: probe `nprobe` lists through the SAME probe stage
    * as the float path ([[Similarity.ivfProbes]]), then score the
    * probed lists' members by ADC — round-6 cosine of the UNCOMPRESSED
    * query against each member's codeword reconstruction
    * ([[Similarity.pqRecon]], q176's definition) — and take the per-
    * query top-k (ties to the smaller vec_id, the family order).
    * Candidate scoring never touches `lists/.v`: the reconstruction
    * comes from 2 bytes/vec of codes plus the broadcast codebooks, the
    * membership map is (vec_id, cid), and only the QUERY vector is read
    * at full precision — the asymmetric-distance serving shape that
    * makes a 100 TB corpus scoreable from an in-memory index. */
  def adcTopKFromState(spark: SparkSession, stateDir: String,
      queryIds: Seq[Long], k: Int, nprobe: Int = 3): DataFrame = {
    val lists = listState(spark, stateDir)
    val queries = lists.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val probes = Similarity.ivfProbes(queries,
      centroidState(spark, stateDir), nprobe)
    val members = lists.select(col("vec_id"), col("cid"))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"))
    val recon = Similarity.pqRecon(codeState(spark, stateDir),
      codebookState(spark, stateDir))
    val scored = members.join(recon, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorOps.cosine(col("rv"), col("qv")).as("adc_cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_cosine").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }
}
