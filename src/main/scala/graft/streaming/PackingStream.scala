package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Sampling

/** Incremental context packing — the streaming twin of q145's
  * concat-and-chunk assignment. A production ingest appends documents
  * continuously, and the packing ledger ("which 512-token training
  * window does each doc land in") must EXTEND, never recompute: this
  * `foreachBatch` stream assigns each arriving micro-batch its global
  * token offsets continuing from the persisted ledger's high-water
  * mark, using the same two-level prefix sum (Sampling.contextPacking)
  * inside the batch.
  *
  * State layout under `stateDir`:
  *   - `ledger/` — (doc_id, n_tok, tok_offset, batch_id), ONE parquet
  *     file per committed micro-batch; window spans derive from it as a
  *     pure projection ([[windows]] → Sampling.windowSpans, the q145
  *     definition), so only 32 bytes/doc persist.
  *
  * Exactly-once story: each batch's rows are staged to a side directory
  * and promoted into the ledger with a SINGLE file rename (atomic on
  * local/HDFS; an object store needs its committer), so a partial
  * multi-file job commit can never leave a half-appended batch. The
  * committed file's presence is the batch's commit marker — a replay
  * returns immediately — and two independent guards back it: the
  * anti-join on doc_id (re-derived rows of an already-applied batch
  * fold to an EMPTY append), and the base offset re-derived from the
  * LEDGER's max rather than a separately-advanced cursor. Those guards
  * also keep replays safe after compaction has folded the per-batch
  * files away (compact only with the stream stopped, as for
  * CorpusStateStream).
  *
  * Scale: per batch, cost is |batch| tokenization + the two-level
  * prefix sum + an anti-join against the ledger keyed on doc_id (8-byte
  * probe, pushdown on the state read) + a min/max footer-stats scan for
  * the base. The single-file batch commit also bounds the small-files
  * growth to one per batch; CorpusStateStream.compactState folds them. */
object PackingStream {

  val docSchema: StructType = CorpusStateStream.docSchema

  private val ledgerSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_tok", LongType),
    StructField("tok_offset", LongType),
    StructField("batch_id", LongType)))

  /** The persisted packing ledger — read through CorpusStateStream's
    * guarded state reader (empty before the first batch; a dangling
    * compaction `.old` fails loudly instead of reading as empty), plus
    * the forget-pending guard: a [[forget]] that crashed mid-apply has
    * dropped some suffix files but not yet promoted their repacked
    * replacement, so reading through that window would silently serve
    * a ledger with missing rows — refuse loudly instead ([[
    * recoverForget]] heals every window; the splitHealthFromState
    * pattern applied to reads). */
  def ledgerState(spark: SparkSession, stateDir: String): DataFrame = {
    CorpusStateStream.requireNoPending(spark, stateDir, ForgetPending,
      "a packing forget crashed between staging and promoting its " +
      "repacked suffix — run recoverForget (or re-run forget) to heal " +
      "before reading or folding the ledger")
    CorpusStateStream.requireFormat(spark, stateDir, "packing", 1, "ledger")
    CorpusStateStream.stateDf(spark, s"$stateDir/ledger", ledgerSchema)
  }

  /** Window spans derived from the ledger — q145's output shape, via
    * the SAME Sampling.windowSpans projection the batch query uses. */
  def windows(spark: SparkSession, stateDir: String,
      windowTokens: Int = 512): DataFrame =
    Sampling.windowSpans(
      ledgerState(spark, stateDir)
        .select(col("doc_id"), col("n_tok"), col("tok_offset")),
      windowTokens)

  /** One micro-batch: assign offsets continuing from the ledger's
    * high-water mark, stage, and promote with one atomic rename.
    * Calling it twice with the same batch is a no-op the second time —
    * the restart-recovery contract. */
  def update(stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    CorpusStateStream.stampFormat(spark, stateDir, "packing", 1, "ledger")
    val hconf = spark.sparkContext.hadoopConfiguration
    val ledgerDir = new Path(s"$stateDir/ledger")
    val fs = ledgerDir.getFileSystem(hconf)
    val stageDir = new Path(f"$stateDir/ledger_stage_$batchId%09d")
    fs.delete(stageDir, true) // stale staging from a crashed attempt
    val dest = new Path(ledgerDir, f"batch-$batchId%09d.parquet")
    // the committed file IS the commit marker: replay after a completed
    // promote has nothing to do
    if (fs.exists(dest)) return
    val docs = batch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id").localCheckpoint()
    val led = ledgerState(spark, stateDir)
    val fresh = docs.join(led.select(col("doc_id")), Seq("doc_id"), "left_anti")
    // nothing new (replay of an already-applied batch whose marker was
    // compacted away): the guards make it a no-op without re-staging
    if (fresh.isEmpty) { fs.delete(stageDir, true); return }
    // bounded one-row metadata action (parquet footer min/max)
    val base = led
      .agg(coalesce(max(col("tok_offset") + col("n_tok")), lit(0L)).as("m"))
      .collect()(0).getLong(0)
    Sampling.contextPacking(fresh, windowTokens = 512, bucketDocs = 64)
      .select(col("doc_id"), col("n_tok"),
        (col("tok_offset") + lit(base)).as("tok_offset"),
        lit(batchId).as("batch_id"))
      .coalesce(1)
      .write.mode("overwrite").parquet(stageDir.toString)
    val part = fs.listStatus(stageDir).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"staged batch $batchId produced no parquet part under $stageDir"))
    fs.mkdirs(ledgerDir)
    require(fs.rename(part, dest), s"could not promote $part to $dest")
    fs.delete(stageDir, true)
  }

  private val ForgetPending = "ledger_forget_pending"

  /** The staged-forget manifest: one `dest` row (the promote target's
    * unique name) and one `drop` row per replaced file. Role-tagged —
    * row order inside a parquet file is not a contract. */
  private val manifestSchema = StructType(Seq(
    StructField("role", StringType), StructField("name", StringType)))

  /** Right-to-be-forgotten EXECUTION against the packing ledger — the
    * one maintained mutable family where deletion cannot be a plain
    * anti-join (q153 prices exactly this: offsets are order-dependent,
    * so removing a document invalidates every window from its offset
    * on). The op is therefore a bounded SUFFIX rebuild, and since r16
    * the WRITE side is suffix-bounded too, not just the compute:
    *   - the ledger PREFIX (rows strictly before the first tombstoned
    *     doc's offset) is untouched — and the prefix's FILES are now
    *     physically retained, never rewritten (per-batch files hold
    *     contiguous offset ranges, so whole-prefix files are identified
    *     by their max offset; only files containing an offset >= cut
    *     are replaced). At 100 TB with a recent deletion subject the
    *     repack touches the tail files and leaves a year of ledger
    *     history on disk untouched;
    *   - the suffix drops the tombstoned rows and recomputes offsets in
    *     the ledger's own concatenation order (old tok_offset — arrival
    *     order, NEVER a re-sort by doc_id), continuing from the
    *     prefix's token total (= `cut`: offsets ARE the running token
    *     sum; density is asserted on the touched boundary rather than
    *     recomputed over the prefix, whose non-reading is the point),
    *     via the same two-level prefix-sum shape as
    *     [[graft.operators.Sampling.contextPacking]] (per-bucket
    *     subtotals cumulated over the tiny bucket frame, then parallel
    *     within-bucket running sums) — no global window over the
    *     suffix; a rewritten straddle file's sub-cut rows ride through
    *     verbatim;
    *   - the replacement applies under a staged-pending protocol (the
    *     rebalance `rebal_pending/` design): the repacked single file
    *     and a drop manifest (the names of the files it replaces) stage
    *     under an atomic directory rename, then dropped files delete,
    *     then the repack file renames in, then the pending dir clears.
    *     Every window heals ([[recoverForget]] — each step idempotent)
    *     and [[ledgerState]] refuses to read mid-window, so a crash can
    *     never serve a ledger with silently missing rows. `batch_id`
    *     provenance rides through unchanged.
    * The repacked ledger equals the fresh pack over the survivors in
    * the original arrival order — the q145-oracle-over-survivors
    * contract q207 checks cross-engine. Re-running with the same
    * tombstones is a no-op (no tombstoned doc remains → early return).
    * Cost: one 16-byte-column ledger pass to find the cut and classify
    * files (the old path already paid this to find the cut), then
    * reads and WRITES bounded by the suffix files. Run offline, stream
    * stopped (the rebalance/compaction contract). */
  def forget(spark: SparkSession, stateDir: String,
      tombstones: DataFrame): Unit =
    forgetImpl(spark, stateDir, tombstones, crashAfterStep = Int.MaxValue)

  /** Test seam: throw after step `crashAfterStep` (1 = pending staged,
    * 2 = dropped files deleted, 3 = repack file promoted) so the spec
    * can prove every crash window heals. */
  private[streaming] def forgetImpl(spark: SparkSession, stateDir: String,
      tombstones: DataFrame, crashAfterStep: Int): Unit = {
    def crash(step: Int): Unit =
      if (crashAfterStep == step)
        throw new IllegalStateException(s"injected crash after step $step")
    recoverForget(spark, stateDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val tomb = tombstones.select(col("doc_id")).distinct()
      .localCheckpoint(true) // read once per pass below
    val led = ledgerState(spark, stateDir)
      .withColumn("f", input_file_name())
      .localCheckpoint(true)
    // bounded one-row probe: the first affected offset (parquet
    // footer-stats min over the matched rows)
    val cutRow = led.join(broadcast(tomb), Seq("doc_id"))
      .agg(min(col("tok_offset"))).collect()(0)
    if (cutRow.isNullAt(0)) return // nothing to forget — replay no-op
    val cut = cutRow.getLong(0)
    // file classification: a file is replaced iff it holds any row at
    // or past the cut (per-batch files hold contiguous offset ranges;
    // max(tok_offset), not max(tok_offset + n_tok) — a zero-token row
    // sitting exactly at the cut must still flag its file). Bounded
    // collect: one (path, hi) row per LEDGER FILE — compaction bounds
    // the file count, and only paths cross the driver
    val rewriteFiles = led.groupBy(col("f"))
      .agg(max(col("tok_offset")).as("hi"))
      .filter(col("hi") >= cut)
      .select(col("f")).collect().map(_.getString(0)).sorted
    val touched = led.filter(col("f").isin(rewriteFiles.toSeq: _*))
    val straddle = touched.filter(col("tok_offset") < cut)
    val suffix = touched.filter(col("tok_offset") >= cut)
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
    // density assertion on the touched boundary: the suffix must start
    // exactly at the cut (offsets are a running token sum by
    // construction; reading the whole prefix to recompute its total —
    // the r15 path — is exactly the I/O this path exists to avoid)
    val boundaryRow = straddle
      .agg(coalesce(max(col("tok_offset") + col("n_tok")), lit(-1L)),
        count(lit(1))).collect()(0)
    // a non-empty straddle must end EXACTLY at the cut: ending past it
    // would overlap the first tombstoned row, ending before it is a GAP
    // (base = cut would then silently preserve a non-dense ledger that
    // diverges from the fresh-pack-over-survivors oracle); only the
    // zero-straddle case (batch boundary == cut) asserts nothing
    require(boundaryRow.getLong(1) == 0L || boundaryRow.getLong(0) == cut,
      s"ledger not dense at the cut: the straddle ends at " +
        s"${boundaryRow.getLong(0)}, not $cut")
    val base = cut
    // two-level prefix sum over the suffix in arrival (old-offset) order
    val bucketTokens = 32768L
    val tok = suffix.withColumn("bkt",
      (col("tok_offset") / bucketTokens).cast("bigint"))
    val bktOff = tok.groupBy(col("bkt"))
      .agg(sum(col("n_tok")).as("bkt_tok"))
      .withColumn("bkt_off",
        coalesce(sum(col("bkt_tok")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("bkt"), col("bkt_off"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("tok_offset"))
      .rowsBetween(Long.MinValue, -1)
    val repacked = tok.join(broadcast(bktOff), "bkt")
      .withColumn("new_off",
        (coalesce(sum(col("n_tok")).over(local), lit(0L))
          + col("bkt_off") + lit(base)).cast("bigint"))
      .select(col("doc_id"), col("n_tok"), col("new_off").as("tok_offset"),
        col("batch_id"))
    val out = straddle.select(col("doc_id"), col("n_tok"), col("tok_offset"),
        col("batch_id"))
      .unionAll(repacked)
    // 0. stage the replacement: one repack parquet part + the manifest
    //    (dropped basenames + the promote-destination name, chosen
    //    UNIQUE against the current dir at stage time — a later pass
    //    can then never collide with a prior pass's surviving file),
    //    promoted to pending under an atomic dir rename (a half-written
    //    pending can never be mistaken for appliable)
    val ledgerDir = new Path(s"$stateDir/ledger")
    val fs = ledgerDir.getFileSystem(hconf)
    CorpusStateStream.stagePending(spark, stateDir, ForgetPending) { tmp =>
      out.coalesce(1).write.mode("overwrite").parquet(s"$tmp/repack")
      val part = fs.listStatus(new Path(s"$tmp/repack")).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"staged repack produced no parquet part under $tmp/repack"))
      require(fs.rename(part, new Path(tmp, "repack.parquet")),
        s"could not flatten the staged repack part under $tmp")
      fs.delete(new Path(s"$tmp/repack"), true)
      val dropBasenames = rewriteFiles
        .map(f => new Path(new java.net.URI(f)).getName)
      val taken = fs.listStatus(ledgerDir).map(_.getPath.getName)
        .filter(_.startsWith("forget-"))
        .flatMap(n => scala.util.Try(
          n.stripPrefix("forget-").stripSuffix(".parquet").toLong).toOption)
      val destName = f"forget-${if (taken.isEmpty) 0L else taken.max + 1}%06d.parquet"
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
          (org.apache.spark.sql.Row("dest", destName) +:
            dropBasenames.toSeq.map(org.apache.spark.sql.Row("drop", _))).asJava,
          manifestSchema)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/manifest")
    }
    crash(1)
    applyPendingForget(spark, stateDir, crashAfterStep)
  }

  /** Apply a staged pending forget: drop the replaced files, promote
    * the repacked file under the MANIFEST's pinned dest name, clear the
    * pending dir — each step idempotent, so [[recoverForget]] re-runs
    * it from any crash point. The dest name is a monotonic counter over
    * the dir's existing forget-* files, chosen once at STAGE time and
    * pinned in the manifest: step-2 idempotence comes from that pinned
    * name (a re-applied pending promotes to the same dest, where an
    * existing dest means a prior attempt already promoted this very
    * content), and cross-pass uniqueness from the counter advancing
    * past every surviving forget file. */
  private def applyPendingForget(spark: SparkSession, stateDir: String,
      crashAfterStep: Int): Unit = {
    def crash(step: Int): Unit =
      if (crashAfterStep == step)
        throw new IllegalStateException(s"injected crash after step $step")
    val pend = new Path(s"$stateDir/$ForgetPending")
    val fs = pend.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledgerDir = new Path(s"$stateDir/ledger")
    val manifest = spark.read.schema(manifestSchema)
      .parquet(s"$pend/manifest").collect()
    val drops = manifest.filter(_.getString(0) == "drop").map(_.getString(1))
    val dest = new Path(ledgerDir,
      manifest.find(_.getString(0) == "dest")
        .getOrElse(throw new IllegalStateException(
          s"$pend/manifest holds no dest row"))
        .getString(1))
    // 1. dropped files delete (idempotent: absent files no-op)
    drops.foreach(n => fs.delete(new Path(ledgerDir, n), false))
    crash(2)
    // 2. the repack file promotes (idempotent: an existing dest means a
    //    prior attempt already promoted this very content)
    val src = new Path(pend, "repack.parquet")
    if (fs.exists(src) && !fs.exists(dest))
      require(fs.rename(src, dest), s"could not promote $src to $dest")
    crash(3)
    // 3. the pending dir clears
    CorpusStateStream.clearPending(spark, stateDir, ForgetPending)
  }

  /** Crash recovery for [[forget]] — a staged pending dir is always
    * safe to re-apply (every step idempotent); a half-staged `.tmp` is
    * discarded. Runs at the start of every forget; exposed for
    * operators healing a ledger without deleting anything new. */
  def recoverForget(spark: SparkSession, stateDir: String): Unit =
    if (CorpusStateStream.recoverPending(spark, stateDir, ForgetPending))
      applyPendingForget(spark, stateDir, crashAfterStep = Int.MaxValue)

  /** Start the packing stream over a directory of arriving document
    * parquet files (the shared CorpusStateStream starter). */
  def start(
      spark: SparkSession,
      docsDir: String,
      stateDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    CorpusStateStream.startDocStream(spark, docsDir, checkpointDir,
      availableNow, triggerSeconds, maxFilesPerTrigger)(update(stateDir) _)
}
