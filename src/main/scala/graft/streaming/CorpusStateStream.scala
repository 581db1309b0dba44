package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental corpus-state materialization — the streaming twin of the
  * batch dedup probes. q118's arrival-novelty and q97's delta near-dup
  * both ASSUME a maintained state table ("the existing corpus compresses
  * to distinct 8-byte shingle hashes / a persisted 16-byte signature
  * table — the text is never rescanned"); this object is that
  * maintenance job: a `foreachBatch` stream over arriving document files
  * that appends exactly the NEW state rows per micro-batch, with
  * checkpoint-based restart recovery (the FileWatch.supervise pattern).
  *
  * State layout under `stateDir`:
  *   - `shingles/` — distinct 3-gram ShingleHash64 values ever seen
  *     (q118's `existing` set; 8 bytes per distinct shingle);
  *   - `sigs/`     — (doc_id, sig) SimHash64 signatures (q97's corpus
  *     band-table input; 16 bytes per document).
  *
  * Exactly-once story: the file source's checkpointed log delivers each
  * file once per committed batch; if the job dies AFTER appending state
  * but BEFORE the sink commit, the replayed batch re-derives the same
  * rows and the anti-join against existing state drops them — the append
  * is idempotent under replay. (Uncommitted task files from a crash
  * mid-append are never visible: parquet commits task output atomically
  * through the Hadoop commit protocol.)
  *
  * Scale: per batch, cost is |batch| signature/shingle derivation (one
  * compiled pass each) + an anti-join of the batch's bounded hash set
  * against state read with pushdown on the 8-byte key. The state tables
  * only ever receive appends of new keys — no rewrite, no compaction
  * needed for correctness (a production deployment would periodically
  * compact small files; the layout is append-only parquet precisely so
  * that compaction is a pure file-level operation). */
object CorpusStateStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)))

  private[streaming] def stateDf(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else {
      // a dangling .old with the table dir MISSING means compactState
      // crashed between its two renames — treating that as "empty state"
      // would silently re-admit every previously-seen document (the file
      // source never redelivers committed files). Fail loudly; the .old
      // dir IS the state, and compactState recovers it on its next run.
      val old = new org.apache.hadoop.fs.Path(dir + ".old")
      if (fs.exists(old))
        throw new IllegalStateException(
          s"$dir missing but $old exists: a state swap (compaction, rebalance, " +
          s"or forget) crashed between its two renames — re-run that op (each " +
          "recovers .old on its next invocation) before reading state")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** The persisted distinct-shingle set (q118's `existing`). */
  def shingleState(spark: SparkSession, stateDir: String): DataFrame = {
    requireFormat(spark, stateDir, "corpus", 1, "shingles")
    stateDf(spark, s"$stateDir/shingles",
      StructType(Seq(StructField("h", LongType))))
  }

  /** The persisted (doc_id, sig) signature table (q97's corpus side). */
  def sigState(spark: SparkSession, stateDir: String): DataFrame = {
    requireFormat(spark, stateDir, "corpus", 1, "shingles")
    stateDf(spark, s"$stateDir/sigs", StructType(Seq(
      StructField("doc_id", LongType), StructField("sig", LongType))))
  }

  /** One micro-batch: append exactly the state rows this batch adds.
    * Public so tests (and catch-up backfills) can drive it directly —
    * calling it twice with the same batch is a no-op the second time,
    * which IS the restart-recovery contract. */
  def update(stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    stampFormat(spark, stateDir, "corpus", 1, "shingles")
    // one materialization of the (small) batch — both derivations and
    // both anti-joins read it; without this the file source re-reads
    // the batch's files once per consumer
    val docs = batch.select(col("doc_id"), col("text")).localCheckpoint()

    val batchShingles = docs
      .select(explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
      .distinct()
    batchShingles
      .join(shingleState(spark, stateDir), Seq("h"), "left_anti")
      .write.mode("append").parquet(s"$stateDir/shingles")

    // within-batch dedupe on the state key: at-least-once delivery can
    // land the same document twice in ONE trigger (original + re-upload)
    // — the anti-join only protects against rows already in state, so
    // without this both copies would append and no later batch could
    // remove the duplicate (review catch, r9)
    val batchSigs = docs.select(col("doc_id"),
      graft.expressions.SimHash64(graft.expressions.Md5TokenHash64.words(col("text")))
        .as("sig"))
      .dropDuplicates("doc_id")
    batchSigs
      .join(sigState(spark, stateDir), Seq("doc_id"), "left_anti")
      .write.mode("append").parquet(s"$stateDir/sigs")
  }

  /** Span-granularity arrival novelty served FROM the maintained state —
    * the streaming sibling of q169's cut list. q118 answers "how novel
    * is each arriving document"; this answers "WHICH of its token
    * ranges are not": for a batch of arriving documents, the maximal
    * token intervals covered by 3-gram shingles already present in the
    * persisted distinct-shingle set, merged under q169's exact islands
    * rule ([[graft.operators.TextAnalysis.mergeCoveredSpans]] — one
    * span-merge definition across batch and stream). Deliberately
    * state-only: two arriving documents repeating EACH OTHER but
    * nothing in the corpus produce no spans here (that's the batch
    * q169's job after they fold in) — the read is "what does the
    * existing corpus already contain", the question an ingest gate
    * asks BEFORE admitting the batch.
    *
    * Scale: |batch| compiled shingle derivation + ONE semi-join of its
    * (pos, h) stream against state read with pushdown on the 8-byte
    * key — the old corpus text is never rescanned; spans merge on the
    * batch's own (doc_id) partitioning. */
  def arrivalCutList(spark: SparkSession, stateDir: String,
      batch: DataFrame): DataFrame = {
    // ShingleHash64.all, not the deduping default: posexplode indices
    // are shingle START positions only when repeats are kept
    val sh = batch.select(col("doc_id"),
      posexplode(graft.expressions.ShingleHash64.all(col("text"), 3))
        .as(Seq("pos", "h")))
    val rep = sh.join(shingleState(spark, stateDir), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    graft.operators.TextAnalysis.mergeCoveredSpans(rep)
  }

  /** Start the maintenance stream over a directory of arriving document
    * parquet files. `availableNow = true` drains the backlog and stops
    * (tests, catch-up); the default is a processing-time trigger. */
  def start(
      spark: SparkSession,
      docsDir: String,
      stateDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    startDocStream(spark, docsDir, checkpointDir, availableNow,
      triggerSeconds, maxFilesPerTrigger)(update(stateDir) _)

  /** Start the reference-vocabulary maintenance stream — the streaming
    * driver for [[updateVocab]] (q186's serving state), with the
    * standard in-stream fold schedule: `foldEvery = Some(n)` runs
    * [[foldVocab]] after every n-th committed batch, keeping the term
    * delta log at |terms| + n batches of rows during ingest. */
  def startVocab(
      spark: SparkSession,
      docsDir: String,
      stateDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None,
      foldEvery: Option[Int] = None): StreamingQuery =
    startDocStream(spark, docsDir, checkpointDir, availableNow,
      triggerSeconds, maxFilesPerTrigger, docSchema,
      foldEvery, s => { foldVocab(s, stateDir); () })(
      updateVocab(stateDir) _)

  /** Shared file-source starter for the foreachBatch maintenance
    * streams (this one and PackingStream) — one definition of the
    * reader/trigger/checkpoint wiring. */
  private[streaming] def startDocStream(
      spark: SparkSession,
      docsDir: String,
      checkpointDir: String,
      availableNow: Boolean,
      triggerSeconds: Int,
      maxFilesPerTrigger: Option[Int],
      schema: StructType = docSchema,
      foldEvery: Option[Int] = None,
      fold: SparkSession => Unit = _ => ())(
      fn: (DataFrame, Long) => Unit): StreamingQuery = {
    // one definition of the in-stream maintenance schedule: after every
    // n-th committed batch, run `fold` from the stream's own quiet
    // window — micro-batches are strictly sequential and the stream is
    // its state dir's only writer, so the fold cannot race an append
    foldEvery.foreach(n => require(n > 0, s"foldEvery must be positive: $n"))
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    reader
      .parquet(docsDir)
      .writeStream
      .trigger(
        if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fn(batch, batchId)
        if (foldEvery.exists(n => (batchId + 1) % n == 0))
          fold(batch.sparkSession)
      }
      .start()
  }

  /** Compact a state table's accumulated per-batch files — the periodic
    * maintenance the append-only layout was designed for: content is a
    * pure set of rows keyed by the probe column, so compaction is
    * re-write + atomic directory swap with NO semantic coupling to the
    * stream logic. Run it while the maintenance stream is STOPPED (or
    * from its own foreachBatch quiet window): the swap is two renames,
    * but a reader holding the old listing mid-swap would see a partial
    * table. Returns (files before, files after). */
  def compactState(
      spark: SparkSession, stateDir: String, table: String,
      targetFiles: Int = 1): (Int, Int) = {
    val dir = s"$stateDir/$table"
    val (fs, p) = recoverState(spark, dir)
    def parquetCount(d: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(d).count(_.getPath.getName.endsWith(".parquet"))
    val before = parquetCount(p)
    swapState(spark, dir)(tmp =>
      spark.read.parquet(dir).repartition(targetFiles)
        .write.mode("overwrite").parquet(tmp))
    (before, parquetCount(p))
  }

  /** Crash-recover a state table dir (promote a dangling `.old` left by
    * a swap that died between its two renames) and require it exists —
    * the shared preamble of [[compactState]] and [[foldDeltaState]]. */
  private def recoverState(spark: SparkSession, dir: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    healOld(fs, p)
    require(fs.exists(p), s"no state table at $dir")
    (fs, p)
  }

  /** The one dangling-`.old` promotion: a swap that died between its two
    * renames left `.old` as the table, so promote it back; a swap that
    * died after them left `.old` as a stale copy, which the next swap
    * drops. */
  private def healOld(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(p.toString + ".old")
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"could not recover $old to $p")
  }

  /** Write a replacement table via `writeTmp(tmpDir)`, then swap it in
    * with the two-rename protocol: crash between the renames leaves the
    * `.old` directory as the recovery copy, never a half-written table
    * ([[recoverState]] / [[stateDf]] handle both crash windows). */
  private[streaming] def swapState(spark: SparkSession, dir: String)
      (writeTmp: String => Unit): Unit = {
    val (fs, p) = recoverState(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact")
    val old = new org.apache.hadoop.fs.Path(dir + ".old")
    fs.delete(tmp, true); fs.delete(old, true)
    writeTmp(tmp.toString)
    // atomic-enough swap: two renames; crash between them leaves the
    // .old directory as the recovery copy, never a half-written table
    require(fs.rename(p, old), s"could not move $dir aside")
    require(fs.rename(tmp, p), s"could not promote compacted $tmp")
    fs.delete(old, true)
  }

  // ——— the staged-pending crash protocol (the r17 lexical protocol,
  // shared) ———
  //
  // A mutation that changes MORE THAN ONE thing has a crash window
  // between its steps: each table is individually consistent, but the
  // set is not (forgotten digests next to unforgotten signatures;
  // survivor lists next to a still-tombstoned codes tier; split lists
  // without their lineage). The lexical index closed this in r17
  // (advisor catch) by staging the mutation's inputs under a pending
  // marker before the first step and clearing it after the last —
  // reads refuse mid-window and recovery replays the idempotent body
  // from the stored inputs. Every multi-step mutation runs through the
  // helpers below: the keyed forgets (asset, IVF, lexical, the
  // datasheet's sigs half) through [[stagedKeyedForget]], and the IVF
  // rebalance (`rebal_pending`) and packing forget
  // (`ledger_forget_pending`) through [[stagePending]],
  // [[requireNoPending]] and [[recoverPending]] around their own apply.
  // On disk a stage is `<marker>.tmp` until one rename publishes it as
  // `<marker>`, so a half-written stage is never mistaken for an
  // appliable one.

  /** The pending marker of the keyed forgets. */
  private[streaming] val ForgetPending = "forget_pending"

  private def pendingPath(spark: SparkSession, stateDir: String,
      marker: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val pend = new org.apache.hadoop.fs.Path(s"$stateDir/$marker")
    (pend.getFileSystem(spark.sparkContext.hadoopConfiguration), pend)
  }

  /** Stage a mutation: `write(tmpDir)` fills `<marker>.tmp`, then one
    * rename publishes it as `<marker>`. */
  private[streaming] def stagePending(spark: SparkSession, stateDir: String,
      marker: String)(write: String => Unit): Unit = {
    val (fs, pend) = pendingPath(spark, stateDir, marker)
    val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/$marker.tmp")
    fs.delete(tmp, true)
    write(tmp.toString)
    require(fs.rename(tmp, pend), s"could not stage $tmp to $pend")
  }

  /** Read/write-path guard: refuse while a staged mutation is
    * mid-window; the message names the marker, then says `why`. */
  private[streaming] def requireNoPending(spark: SparkSession,
      stateDir: String, marker: String, why: String): Unit = {
    val (fs, pend) = pendingPath(spark, stateDir, marker)
    require(!fs.exists(pend), s"$pend exists: $why")
  }

  /** [[requireNoPending]] for the keyed forgets. */
  private[streaming] def requireNoPendingForget(spark: SparkSession,
      stateDir: String, family: String): Unit =
    requireNoPending(spark, stateDir, ForgetPending,
      s"a $family forget crashed between its table swaps — run " +
      "recoverForget (or re-run forget) to heal before reading or " +
      "writing; a mid-window read would see the tables disagree on which " +
      "keys survive")

  /** Recovery preamble: discard a half-staged `<marker>.tmp` (never
    * appliable), promote a dangling `.old` of each table the mutation
    * swaps, and tell whether a staged `<marker>` awaits its apply. */
  private[streaming] def recoverPending(spark: SparkSession,
      stateDir: String, marker: String, tables: Seq[String] = Nil): Boolean = {
    val (fs, pend) = pendingPath(spark, stateDir, marker)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/$marker.tmp"), true)
    tables.foreach(t => healOld(fs, new org.apache.hadoop.fs.Path(s"$stateDir/$t")))
    fs.exists(pend)
  }

  /** Close a window: the mutation's last step. */
  private[streaming] def clearPending(spark: SparkSession, stateDir: String,
      marker: String): Unit = {
    val (fs, pend) = pendingPath(spark, stateDir, marker)
    fs.delete(pend, true)
  }

  /** One table of a keyed forget, in swap order. Its replacement is the
    * anti-join of the staged tombstones unless `rows` derives it (from
    * tables swapped before it); an `optional` table swaps only if it
    * exists (the IVF codes tier). */
  private[streaming] case class KeyedSwap(table: String,
      optional: Boolean = false, rows: Option[() => DataFrame] = None)

  /** Stage the tombstone set, then run the idempotent multi-swap body.
    * Safe from any crash point — an already-swapped table anti-joins to
    * itself on recovery. `crashAfterSwap` is the spec seam (0 = staged
    * only, n = after the n-th swap). */
  private[streaming] def stagedKeyedForget(spark: SparkSession,
      stateDir: String, keyName: String, swaps: Seq[KeyedSwap],
      tombstones: DataFrame, crashAfterSwap: Int = Int.MaxValue): Unit = {
    recoverKeyedForget(spark, stateDir, keyName, swaps)
    stagePending(spark, stateDir, ForgetPending)(tmp =>
      tombstones.select(col(keyName)).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/tombs"))
    if (crashAfterSwap == 0)
      throw new IllegalStateException("injected crash after staging")
    applyKeyedForget(spark, stateDir, keyName, swaps, crashAfterSwap)
  }

  /** The keyed apply body: swap each table to its replacement against
    * the staged tombstones, in order, then clear the marker. */
  private[streaming] def applyKeyedForget(spark: SparkSession,
      stateDir: String, keyName: String, swaps: Seq[KeyedSwap],
      crashAfterSwap: Int = Int.MaxValue): Unit = {
    val (fs, pend) = pendingPath(spark, stateDir, ForgetPending)
    val tomb = spark.read.parquet(s"$pend/tombs").localCheckpoint(true)
    val present = swaps.filter(s => !s.optional ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/${s.table}")))
    present.zipWithIndex.foreach { case (s, i) =>
      // raw parquet read (the public readers refuse mid-window); the
      // replacement materializes BEFORE its swap
      val surv = s.rows.map(_()).getOrElse(
          spark.read.parquet(s"$stateDir/${s.table}")
            .join(broadcast(tomb), Seq(keyName), "left_anti"))
        .localCheckpoint(true)
      swapState(spark, s"$stateDir/${s.table}")(tmp =>
        surv.write.mode("overwrite").parquet(tmp))
      if (crashAfterSwap == i + 1)
        throw new IllegalStateException(s"injected crash after swap ${i + 1}")
    }
    clearPending(spark, stateDir, ForgetPending)
  }

  /** Crash recovery for [[stagedKeyedForget]]: discard a half-staged
    * `.tmp`, promote dangling `.old`s, and re-apply a staged pending
    * forget from its stored tombstones. */
  private[streaming] def recoverKeyedForget(spark: SparkSession,
      stateDir: String, keyName: String, swaps: Seq[KeyedSwap]): Unit =
    if (recoverPending(spark, stateDir, ForgetPending, swaps.map(_.table)))
      applyKeyedForget(spark, stateDir, keyName, swaps)

  /** The reserved batch_id of folded snapshot rows in an additive
    * delta-log table. Real batch ids are non-negative (the streaming
    * engine's epoch counter; the delta writers require it), so a
    * snapshot row can never collide with a replay probe. */
  val SnapshotBatchId: Long = -1L

  /** Fold an additive delta-log state table's COMMITTED rows into one
    * snapshot row per key — the LSM-style merge the delta layout exists
    * for. [[compactState]] bounds the FILE count but the row count still
    * grows as |keys|·|batches|; this bounds the rows to |keys| plus any
    * crash-window deltas. Every ledger family's tables fold through it
    * ([[foldLedger]]).
    *
    * Correctness hinges on WHICH rows fold:
    *   - rows whose batch_id is in the ledger (and prior snapshot rows,
    *     batch_id = [[SnapshotBatchId]]) are aggregate-only — every
    *     reader sums them ignoring batch_id, and every replay of their
    *     batch short-circuits on the ledger — so summing them into one
    *     row per key changes no read and breaks no replay probe;
    *   - a CRASH-WINDOW delta (log written, ledger append lost) must
    *     keep its batch_id untouched: the healing replay probes the log
    *     itself (`batch_id === batchId`), and folding the row away
    *     would make that probe miss and the replay double-count.
    * Sums are exact integers throughout the tree, so fold order cannot
    * perturb any aggregate. Idempotent; same stopped-stream contract as
    * [[compactState]]. Returns (rows before, rows after). */
  private def foldDeltaState(spark: SparkSession, stateDir: String,
      t: DeltaTable, ledgerTable: String): (Long, Long) = {
    val dir = s"$stateDir/${t.name}"
    val (schema, sumCols) = (t.schema, t.sums)
    recoverState(spark, dir)
    val sc = spark.sparkContext
    val blocksBefore = sc.getPersistentRDDs.keySet
    // ONE scan of the unfolded log — the multi-GB table whose size
    // motivated the fold must not be re-read by every branch below
    // (committed semi-join, snapshot union, pending anti-join, count)
    val deltas = stateDf(spark, dir, schema).localCheckpoint(true)
    val ledger = stateDf(spark, s"$stateDir/$ledgerTable", ledgerSchema)
      .select(col("batch_id")).distinct()
    val committed = deltas
      .join(broadcast(ledger), Seq("batch_id"), "left_semi")
      .unionByName(deltas.filter(col("batch_id") === SnapshotBatchId))
    val pending = deltas.filter(col("batch_id") =!= SnapshotBatchId)
      .join(broadcast(ledger), Seq("batch_id"), "left_anti")
    val snapshot = committed
      .groupBy(t.keys.map(k => col(k.name)): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
      // a key-less (global) fold over an empty committed set yields one
      // all-null aggregate row — drop it rather than persist null sums
      .na.drop("all", sumCols)
      .select(schema.fieldNames.toSeq.map {
        case "batch_id" => lit(SnapshotBatchId).as("batch_id")
        case f => col(f)
      }: _*)
    val before = deltas.count()
    // the write's plan reads the checkpointed deltas (never the live
    // dir), so executing it inside the swap cannot race the renames
    val folded = snapshot
      .unionByName(pending.select(schema.fieldNames.toSeq.map(col): _*))
    swapState(spark, dir)(tmp =>
      folded.repartition(1).write.mode("overwrite").parquet(tmp))
    // Dataset.unpersist does NOT free localCheckpoint blocks (they are
    // RDD-level persists, not CacheManager entries — the Bench.scala
    // lesson); release them at the RDD level, sparing substrate frames
    (sc.getPersistentRDDs.keySet -- blocksBefore --
        graft.AnnSubstrate.protectedRddIds(spark))
      .foreach(id => sc.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = false)))
    (before, stateDf(spark, dir, schema).count())
  }

  /** Fold every delta table of `fam` ([[foldDeltaState]]), then compact
    * its ledger once. The ledger keeps one ROW per batch forever (replay
    * probes need them), but without file maintenance it also keeps one
    * FILE per batch and every trigger's probe pays the listing — so the
    * fold's quiet window compacts it too (file-level only; rows
    * untouched). Guarded: a fold over pure crash-window deltas may
    * predate the ledger dir. Returns (rows before, rows after) per
    * table, in `fam.tables` order. */
  private[streaming] def foldLedger(spark: SparkSession, stateDir: String,
      fam: LedgerFamily): Seq[(Long, Long)] = {
    val rows = fam.tables.map(foldDeltaState(spark, stateDir, _, fam.ledger))
    val lp = new org.apache.hadoop.fs.Path(s"$stateDir/${fam.ledger}")
    if (lp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lp))
      compactState(spark, stateDir, fam.ledger)
    rows
  }

  /** [[foldLedger]] applied to the reference-vocabulary delta log:
    * |terms|·|batches| count deltas fold to |terms| snapshot rows. */
  def foldVocab(spark: SparkSession, stateDir: String): (Long, Long) =
    foldLedger(spark, stateDir, VocabLedger).head

  // ——— maintained BIGRAM-LM state (q231 one Markov order up) ———
  //
  // The vocab delta layout with a two-hash key: (batch_id, w1, w2,
  // delta) adjacent-pair occurrence deltas under the same ledger
  // protocol ([[appendLedgerDeltas]]) and fold. The left-slot counts c1
  // DERIVE from the bigram table (sum over w2), and the smoothing
  // denominator's V is the co-maintained vocabulary's size — so a
  // served bigram score needs exactly two maintained tables and no
  // corpus rescan, and a forget nets both like a retrain (q233's gate).

  private val Bigrams = DeltaTable("bigrams",
    Seq(StructField("w1", LongType), StructField("w2", LongType)))

  private val BigramLedger =
    LedgerFamily("bigrams", 1, "bigrams", "bigrams_ledger", Seq(Bigrams))

  /** Net adjacent-pair counts. The cnt > 0 cut is [[vocabState]]'s:
    * load-bearing only after [[forgetBigrams]] — a pair whose every
    * occurrence was deleted must leave the model (its add-one-smoothed
    * probability falls back to the unseen-pair value, exactly as a
    * retrain's would). */
  def bigramLmState(spark: SparkSession, stateDir: String): DataFrame = {
    BigramLedger.requireFormat(spark, stateDir)
    Bigrams.read(spark, stateDir)
      .groupBy(col("w1"), col("w2")).agg(sum(col("delta")).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** One bigram micro-batch: append this batch's adjacent-pair count
    * deltas exactly once ([[updateVocab]]'s ledger protocol). */
  def updateBigrams(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    appendLedgerDeltas(batch.sparkSession, stateDir, BigramLedger, batchId,
      sign = 1L) { case _ => bigramCounts(batch) }

  /** Right-to-be-forgotten against the maintained bigram LM — the
    * NEGATIVE-delta twin of [[updateBigrams]] ([[forgetVocab]]'s
    * contract verbatim, occurrence-count semantics included: pass each
    * forgotten document exactly as often as it was counted). */
  def forgetBigrams(stateDir: String)(docs: DataFrame, batchId: Long): Unit =
    appendLedgerDeltas(docs.sparkSession, stateDir, BigramLedger, batchId,
      sign = -1L) { case _ => bigramCounts(docs) }

  private def bigramCounts(batch: DataFrame): DataFrame =
    batch
      .select(graft.expressions.Md5TokenHash64.words(lower(col("text")))
        .as("hs"))
      .select(explode(
          graft.operators.TextAnalysis.adjacentPairs(col("hs"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("delta"))

  /** LSM fold for the bigram delta log ([[foldVocab]]'s contract). */
  def foldBigrams(spark: SparkSession, stateDir: String): (Long, Long) =
    foldLedger(spark, stateDir, BigramLedger).head

  /** q231's bigram-LM NLL served FROM the maintained state — the
    * production scoring shape ([[lmScoreAgainstState]] one Markov order
    * up): arrivals derive hashed adjacent pairs once and join the
    * persisted net pair counts; the left-slot counts fold from the SAME
    * table (sum over w2 — no second ledger), and the smoothing
    * denominator's V is the co-maintained vocabulary's size. Pairs
    * absent from the reference score the add-one unseen value
    * (ln(0+1) = 0 micro-nats exactly) and unseen left words the ln(V)
    * fallback — so the read is correct for true arrivals, and when the
    * reference IS the corpus (the parity gate) no fallback fires and
    * the output equals [[graft.operators.TextAnalysis.bigramNll]] to
    * the bit (hash-keyed aggregation isomorphic to the string-keyed
    * one under the family's injectivity convention). */
  def bigramNllAgainstState(stateDir: String,
      arrivals: DataFrame): DataFrame = {
    val spark = arrivals.sparkSession
    val bg = bigramLmState(spark, stateDir)
    val vRow = vocabState(spark, stateDir).agg(count(lit(1)).as("v"))
      .localCheckpoint()
    val l12 = bg.select(col("w1").as("a1"), col("w2").as("a2"),
      floor(log((col("cnt") + lit(1L)).cast("double")) * lit(1e6d))
        .cast("bigint").as("lnq12"))
    val l1 = bg.groupBy(col("w1")).agg(sum(col("cnt")).as("c1"))
      .crossJoin(broadcast(vRow))
      .select(col("w1").as("b1"),
        floor(log((col("c1") + col("v")).cast("double")) * lit(1e6d))
          .cast("bigint").as("lnq1"))
    val dbg = arrivals
      .select(col("doc_id"),
        graft.expressions.Md5TokenHash64.words(lower(col("text"))).as("hs"))
      .select(col("doc_id"),
        explode(graft.operators.TextAnalysis.adjacentPairs(col("hs")))
          .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    dbg
      .join(l12, col("w1") === col("a1") && col("w2") === col("a2"), "left")
      .join(l1, col("w1") === col("b1"), "left")
      .crossJoin(broadcast(vRow))
      .select(col("doc_id"), col("c"),
        coalesce(col("lnq12"), lit(0L)).as("q12"),
        coalesce(col("lnq1"),
          floor(log(col("v").cast("double")) * lit(1e6d)).cast("bigint"))
          .as("q1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_pairs"),
        sum(col("c") * col("q12")).as("s12"),
        sum(col("c") * col("q1")).as("s1"))
      .select(col("doc_id"), col("n_pairs"),
        (((col("s1") - col("s12")) * lit(1e-6d)) / col("n_pairs"))
          .as("avg_nll"))
  }

  /** q97's delta near-dup served FROM the maintained signature table:
    * arriving documents derive signatures once, the persisted corpus
    * signatures join in as the band-table side, and the probe/hamming
    * re-rank is the EXACT q97 code path (Dedup.incrementalNearDupFromSigs)
    * — so the stream-served answer can never drift from the batch
    * operator. Run BEFORE folding the batch into state (the corpus side
    * must be yesterday's); cost is |delta| × bucket density plus a
    * pushdown read of the 16-byte/doc signature table — the corpus text
    * is never rescanned and the old × old quadrant never recomputed. */
  def nearDupAgainstState(stateDir: String, arrivals: DataFrame,
      maxHamming: Int = 8): DataFrame = {
    val spark = arrivals.sparkSession
    val arrSigs = arrivals.select(col("doc_id"),
        graft.expressions.SimHash64(
          graft.expressions.Md5TokenHash64.words(col("text"))).as("sig"))
      .dropDuplicates("doc_id")
      .withColumn("is_new", lit(true))
      .localCheckpoint()
    val all = sigState(spark, stateDir)
      .withColumn("is_new", lit(false))
      .unionByName(arrSigs)
    graft.operators.Dedup.incrementalNearDupFromSigs(all, maxHamming)
  }

  // ------------------------------------------------------------------
  // Vocab-count state: the persisted reference LM q103 promises
  // ("swap `vocab` for the reference table"). Counts are ADDITIVE, not
  // set-like, so the shingle/sig anti-join idempotence does not apply:
  // a replayed batch re-appending its deltas would double-count. The
  // layout instead appends (batch_id, w_hash, delta) DELTA rows plus a
  // one-row-per-batch ledger; replay is dropped by probing the ledger
  // BEFORE appending, and the reader aggregates sum(delta) per term.
  // Maintenance is two-level: compactState on "vocab" bounds the FILE
  // count (pure file-level, same as the set tables), and foldVocab
  // bounds the ROW count — the LSM merge that sums ledger-committed
  // deltas into one snapshot row per term (foldDeltaState's contract).

  private val Vocab = DeltaTable("vocab", Seq(StructField("w", LongType)))

  private val VocabLedger =
    LedgerFamily("vocab", 1, "vocab", "vocab_ledger", Seq(Vocab))

  private val ledgerSchema = StructType(Seq(StructField("batch_id", LongType)))

  // ——— the additive-delta ledger protocol ———
  //
  // Every additive family (vocab, bigrams, shingle-df, boilerplate,
  // centroid, datasheet) describes itself once as a [[LedgerFamily]]
  // and appends through [[appendLedgerDeltas]]: deltas append BEFORE
  // the ledger row, so a crash between them replays the batch, the
  // ledger probe misses, each delta table's own probe finds its rows
  // and skips, and only the ledger row heals — counts never double.
  //
  // Forget-marks, the sign-collision guard for additive forgets.
  // An additive family's ledger records THAT a batchId committed, not
  // with which SIGN. A forget() accidentally reusing an arrival's
  // batchId would therefore be silently treated as a replay — the
  // negative deltas skipped entirely — while any keyed side-effects
  // (the datasheet's sigs swap) still execute, leaving the family's
  // artifacts inconsistent with no error (advisor catch, r15). Each
  // family keeps a tiny marks table of its FORGET batchIds next to the
  // ledger; a committed id whose mark disagrees with the caller's sign
  // is a hard error demanding a fresh id. Since r17 the mark is a
  // WRITE-INTENT record — a forget appends it BEFORE its deltas
  // ([[intentSignGuard]]) — which closes the r16 residual window
  // (deltas committed, ledger row lost, the id resubmitted with the
  // OPPOSITE sign: the log probe skipped the append and the ledger
  // committed the wrong sign, silently). Now every crash point leaves
  // enough evidence to classify the id's sign: deltas-with-mark = a
  // forget's, deltas-without-mark = an arrival's, mark-without-deltas
  // = a forget that crashed pre-append (an arrival reusing that id
  // fails fast). A forget committed by a pre-marks build and REPLAYED
  // under this build trips the guard (no mark exists) — the
  // loud-failure direction, never a silent wrong count; the error
  // names the manual heal.

  /** One delta table of a ledger family: rows (batch_id, keys…, sums…),
    * every sum a count that a forget negates. */
  private[streaming] case class DeltaTable(name: String,
      keys: Seq[StructField], sums: Seq[String] = Seq("delta")) {
    val schema: StructType = StructType(StructField("batch_id", LongType) +:
      (keys ++ sums.map(StructField(_, LongType))))
    def read(spark: SparkSession, stateDir: String): DataFrame =
      stateDf(spark, s"$stateDir/$name", schema)
  }

  /** An additive family: its layout marker (format, version, and the
    * table whose presence dates a populated dir), its ledger table and
    * its delta tables in write order. */
  private[streaming] case class LedgerFamily(format: String, version: Int,
      populatedProbe: String, ledger: String, tables: Seq[DeltaTable]) {
    def stampFormat(spark: SparkSession, stateDir: String): Unit =
      CorpusStateStream.stampFormat(spark, stateDir, format, version,
        populatedProbe)
    def requireFormat(spark: SparkSession, stateDir: String): Unit =
      CorpusStateStream.requireFormat(spark, stateDir, format, version,
        populatedProbe)
  }

  private def holdsBatch(spark: SparkSession, dir: String, schema: StructType,
      batchId: Long): Boolean =
    stateDf(spark, dir, schema)
      .filter(col("batch_id") === batchId).limit(1).count() > 0

  /** Is `batchId` committed in `fam`'s ledger? */
  private[streaming] def ledgerCommitted(spark: SparkSession, stateDir: String,
      fam: LedgerFamily, batchId: Long): Boolean =
    holdsBatch(spark, s"$stateDir/${fam.ledger}", ledgerSchema, batchId)

  /** Append one batch's deltas to every table of `fam` exactly once, at
    * `sign` (+1 arrival, −1 forget). `project(t)` is table t's unsigned
    * delta projection (its key and sum columns); the helper stamps the
    * batch id and the sign, so a forget subtracts exactly what the
    * arrival added. Steps: (1) refuse a negative id, (2) stamp the
    * format marker, (3) probe the ledger — a committed id only checks
    * its sign and stops, (4) probe the first-written table and run the
    * intent-mark sign guard, (5) append each table's deltas unless its
    * own probe finds the id, (6) append the ledger row. */
  private[streaming] def appendLedgerDeltas(spark: SparkSession,
      stateDir: String, fam: LedgerFamily, batchId: Long, sign: Long)(
      project: PartialFunction[DeltaTable, DataFrame]): Unit =
    ledgerGuard(spark, stateDir, fam, batchId, sign).foreach { inFirst =>
      fam.tables.zipWithIndex.foreach { case (t, i) =>
        val dir = s"$stateDir/${t.name}"
        val present =
          if (i == 0) inFirst else holdsBatch(spark, dir, t.schema, batchId)
        if (!present)
          project(t).select(lit(batchId).as("batch_id") +:
              (t.keys.map(k => col(k.name)) ++
                t.sums.map(s => (col(s) * sign).as(s))): _*)
            .write.mode("append").parquet(dir)
      }
      spark.range(1).select(lit(batchId).as("batch_id"))
        .write.mode("append").parquet(s"$stateDir/${fam.ledger}")
    }

  /** Steps 1–4 of [[appendLedgerDeltas]], also run by a forget that must
    * refuse before it stages anything: None for a committed id (a
    * genuine replay, nothing to append), else whether the first-written
    * table already holds the id (a crash leaves a prefix of the append
    * sequence, so that one probe answers "any deltas committed"). */
  private[streaming] def ledgerGuard(spark: SparkSession, stateDir: String,
      fam: LedgerFamily, batchId: Long, sign: Long): Option[Boolean] = {
    require(batchId >= 0, s"batchId $batchId: negative ids are reserved " +
      s"for folded snapshot rows (SnapshotBatchId = $SnapshotBatchId)")
    fam.stampFormat(spark, stateDir)
    if (ledgerCommitted(spark, stateDir, fam, batchId)) {
      requireLedgerSign(spark, stateDir, fam.ledger, batchId, sign)
      None
    } else {
      val first = fam.tables.head
      val inFirst = holdsBatch(spark, s"$stateDir/${first.name}",
        first.schema, batchId)
      intentSignGuard(spark, stateDir, fam.ledger, batchId, sign, inFirst)
      Some(inFirst)
    }
  }

  private def forgetMarksDir(stateDir: String, ledgerTable: String) =
    s"$stateDir/${ledgerTable}_fmarks"

  /** Called when `batchId` is already ledger-committed: require the
    * caller's sign to match the recorded one (mark present == the
    * batch was a forget); matching means a genuine replay — skip. */
  private def requireLedgerSign(spark: SparkSession,
      stateDir: String, ledgerTable: String, batchId: Long,
      sign: Long): Unit = {
    val marked = holdsBatch(spark, forgetMarksDir(stateDir, ledgerTable),
      ledgerSchema, batchId)
    require(marked == (sign < 0),
      s"batch $batchId under $stateDir/$ledgerTable was committed by " +
      s"${if (marked) "a FORGET" else "an ARRIVAL"} batch but is being " +
      s"re-submitted as ${if (sign < 0) "a forget" else "an arrival"}: " +
      "additive deltas cannot net two different signs under one ledger " +
      "id (the deltas would be silently skipped as a replay) — use a " +
      "fresh batchId for every deletion request")
  }

  /** Record a forget batchId — appended as a WRITE-INTENT mark, BEFORE
    * the negative deltas (via [[intentSignGuard]]). */
  private def markForgetBatch(spark: SparkSession,
      stateDir: String, ledgerTable: String, batchId: Long): Unit =
    spark.range(1).select(lit(batchId).as("batch_id"))
      .write.mode("append").parquet(forgetMarksDir(stateDir, ledgerTable))

  /** The NOT-ledger-committed half of the sign guard, run BEFORE any
    * delta append: verifies the intent-marks state agrees with the
    * caller's sign even when a prior attempt crashed mid-protocol, and
    * writes the intent mark for a fresh forget ahead of its deltas.
    * `deltasInLog` = the family's first-written table already holds the
    * id ([[ledgerGuard]]). Crash matrix:
    * mark-only + forget replay → heals (appends deltas); mark-only +
    * ARRIVAL under that id → fails fast (the id is claimed);
    * arrival-deltas + forget under that id → fails fast (no mark = the
    * deltas are an arrival's; the r16 code silently skipped the
    * negative append and committed a forget ledger row over positive
    * deltas); deltas-with-mark + forget replay → heals (skips the
    * append, commits the ledger). */
  private def intentSignGuard(spark: SparkSession,
      stateDir: String, ledgerTable: String, batchId: Long, sign: Long,
      deltasInLog: Boolean): Unit = {
    val marked = holdsBatch(spark, forgetMarksDir(stateDir, ledgerTable),
      ledgerSchema, batchId)
    if (sign > 0) {
      require(!marked,
        s"batch $batchId under $stateDir/$ledgerTable was claimed by a " +
        "FORGET attempt (intent mark present) but is being submitted as " +
        "an arrival — use a fresh id for the arrival, or replay the " +
        "forget to heal its crashed window first")
    } else {
      require(!deltasInLog || marked,
        s"batch $batchId's deltas under $stateDir/$ledgerTable carry no " +
        "forget-intent mark: they were committed by an ARRIVAL attempt " +
        "whose ledger row was lost (resubmit the arrival under this id " +
        "and use a FRESH id for the forget) — or by a forget from a " +
        s"pre-intent-mark build, in which case append the batch_id row " +
        s"to ${forgetMarksDir(stateDir, ledgerTable)} manually and replay")
      if (!marked) markForgetBatch(spark, stateDir, ledgerTable, batchId)
    }
  }

  // ——— layout-version markers for EVERY state family ———
  //
  // The boilerplate stream changed its within-trigger semantics in r14
  // and the datasheet changed its key tables from sets to df-deltas in
  // r15 — both were recorded as prose compatibility notes, which means
  // a deployment restarting an old checkpointed state under new code
  // failed silently-or-weirdly (the old `langs/` set rows simply read
  // as zero-delta garbage) rather than loudly. Each family stamps a
  // one-row `<family>_format/` marker into the state dir at its first
  // write and checks it on every write AND read: a populated dir with
  // a DIFFERENT version — or with NO marker at all (a pre-versioning
  // vintage, layout unknown) — fails with the rebuild instruction
  // instead of serving drift. The storedNlist pattern applied to
  // layout. Since r17 the UN-evolved families stamp a v1 birth marker
  // too (corpus/vocab/shdf here; lsh/ivf/asset/centroid/packing in
  // their objects; lexical evolved to v2 then v3 the same round), so the NEXT
  // layout evolution anywhere diffs a version instead of re-opening
  // the vintage-unknown hole this mechanic was built to close.

  private val formatSchema = StructType(Seq(StructField("version", IntegerType)))

  private def readFormat(spark: SparkSession, markerDir: String): Option[Int] =
    stateDf(spark, markerDir, formatSchema).take(1).headOption.map(_.getInt(0))

  // a marker, once verified present-and-matching, cannot change for the
  // life of the process (every writer stamps the same version) — memoize
  // successes so per-batch stamps and per-read checks cost one tiny FS
  // probe per (dir, family) per session, not one Spark job per call.
  // Failures and the fresh-dir pass are deliberately NOT cached: the
  // fresh dir is about to be stamped, and a failure must stay loud.
  private val formatChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def formatKey(stateDir: String, family: String, version: Int) =
    s"$stateDir|$family|$version"

  /** Reader-side check: a populated dir must carry the expected layout
    * marker. `populatedProbe` is the family's ledger table — present in
    * every vintage of the layout, so its existence dates the state. */
  private[streaming] def requireFormat(spark: SparkSession, stateDir: String,
      family: String, version: Int, populatedProbe: String): Unit = {
    if (formatChecked.contains(formatKey(stateDir, family, version))) return
    val markerDir = s"$stateDir/${family}_format"
    readFormat(spark, markerDir) match {
      case Some(v) =>
        require(v == version,
          s"$stateDir holds $family state in layout v$v but this build " +
          s"reads/writes v$version — rebuild the state by replaying " +
          "deliveries (the layouts are value-equivalent under pure " +
          "accumulation, so the rebuilt state serves identically)")
        formatChecked.add(formatKey(stateDir, family, version))
      case None =>
        val probe = new org.apache.hadoop.fs.Path(s"$stateDir/$populatedProbe")
        require(!probe.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .exists(probe),
          s"$stateDir holds $family state with NO layout marker — it was " +
          "written by a build that predates state-format versioning, so " +
          s"its layout cannot be trusted to be v$version (the boilerplate " +
          "within-trigger semantics changed in r14, the datasheet key " +
          "tables in r15). Rebuild by replaying deliveries; for a state " +
          "positively known to be the current layout, write the one-row " +
          s"${family}_format/ marker manually")
    }
  }

  /** Writer-side stamp: [[requireFormat]], then mark a fresh dir. */
  private[streaming] def stampFormat(spark: SparkSession, stateDir: String,
      family: String, version: Int, populatedProbe: String): Unit = {
    if (formatChecked.contains(formatKey(stateDir, family, version))) return
    requireFormat(spark, stateDir, family, version, populatedProbe)
    val markerDir = s"$stateDir/${family}_format"
    if (readFormat(spark, markerDir).isEmpty)
      spark.createDataFrame(
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row(Integer.valueOf(version))), formatSchema)
        .coalesce(1).write.mode("overwrite").parquet(markerDir)
    formatChecked.add(formatKey(stateDir, family, version))
  }

  /** The aggregated (w, cnt) reference-vocabulary view over the delta
    * log — term keys are Md5TokenHash64 word hashes (8 bytes/term, the
    * family's hash-domain trade; text never persists in state). */
  /** Net term counts. The cnt > 0 cut is load-bearing only after a
    * [[forgetVocab]] pass: a term whose occurrences were all deleted
    * nets to a zero row (additive tables keep their key domain), and it
    * must leave the vocabulary — ln(0) in the LM table would poison
    * every consumer. Under pure accumulation the filter never fires. */
  def vocabState(spark: SparkSession, stateDir: String): DataFrame = {
    VocabLedger.requireFormat(spark, stateDir)
    Vocab.read(spark, stateDir)
      .groupBy(col("w")).agg(sum(col("delta")).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** One vocab micro-batch: append this batch's term-count deltas
    * exactly once ([[appendLedgerDeltas]]). The DELTA LOG is the
    * idempotence record (rows carry their batch_id; a batch already
    * present never appends again), the ledger is the cheap fast-path
    * probe that avoids scanning the log's batch_id column on every
    * trigger. */
  def updateVocab(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    appendLedgerDeltas(batch.sparkSession, stateDir, VocabLedger, batchId,
      sign = 1L) { case _ => vocabCounts(batch) }

  /** Right-to-be-forgotten against the maintained vocabulary — the
    * NEGATIVE-delta twin of [[updateVocab]] (the BoilerplateStateStream
    * .forget design note applies verbatim: deletion is one more
    * ledger-committed batch with a minus sign, so fold, crash protocol,
    * and replay idempotence are all inherited unchanged). The caller
    * passes the forgotten documents themselves, and they must be
    * currently counted; terms whose net count reaches 0 leave the
    * served vocabulary through [[vocabState]]'s cnt > 0 cut. Unlike
    * the df-semantics tables there is deliberately NO within-batch
    * doc_id dedup on either side: term counts are OCCURRENCE counts,
    * so the forget subtracts exactly the contribution of the rows
    * passed — a doc_id the corpus counted twice (a re-upload in a
    * later batch) needs its rows passed twice to be fully forgotten,
    * and a deduped deletion set (what the builders pass) subtracts a
    * once-counted doc exactly once. */
  def forgetVocab(stateDir: String)(docs: DataFrame, batchId: Long): Unit =
    appendLedgerDeltas(docs.sparkSession, stateDir, VocabLedger, batchId,
      sign = -1L) { case _ => vocabCounts(docs) }

  private def vocabCounts(batch: DataFrame): DataFrame =
    batch
      .select(explode(
          graft.expressions.Md5TokenHash64.words(lower(col("text"))))
        .as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("delta"))

  /** q103's unigram NLL served FROM the maintained vocabulary — the
    * production scoring shape, where an arriving crawl is ranked against
    * a REFERENCE corpus LM rather than against itself. Tokens absent
    * from the reference vocab are reported as an OOV fraction per doc
    * (they carry no reference probability; a production gate reads
    * oov_frac alongside the score rather than inventing a floor).
    * Determinism is q103's: ln quantized to integer micro-nats once per
    * vocab term, exact integer sums per doc, one IEEE expression. */
  def lmScoreAgainstState(stateDir: String, arrivals: DataFrame): DataFrame = {
    val spark = arrivals.sparkSession
    val vocab = vocabState(spark, stateDir)
    val tot = vocab.agg(sum(col("cnt")).as("t"))
    val v2 = vocab.select(col("w"),
      floor(log(col("cnt").cast("double")) * lit(1e6d)).cast("bigint").as("lnq"))
    val dt = arrivals
      .select(col("doc_id"),
        explode(graft.expressions.Md5TokenHash64.words(lower(col("text"))))
          .as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    dt.join(v2, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("lnq").isNull, col("c")).otherwise(0L)).as("n_oov"),
        sum(when(col("lnq").isNotNull, col("c")).otherwise(0L)).as("n_scored"),
        sum(when(col("lnq").isNotNull, col("c") * col("lnq")).otherwise(0L))
          .as("slnq"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_frac"),
        when(col("n_scored") > 0,
          floor(log(col("t").cast("double")) * lit(1e6d)).cast("bigint") * lit(1e-6d)
            - (col("slnq") * lit(1e-6d)) / col("n_scored")).as("avg_nll"))
  }

  /** q80's contamination report served FROM the maintained state instead
    * of a same-query split: per probe document, how many of its distinct
    * 3-gram shingles are PRESENT in the persisted set (the decontamination
    * read an eval pipeline runs against the training corpus's maintained
    * shingle state before trusting a benchmark — the dual of
    * [[noveltyAgainstState]], which counts the absent side per source).
    * Only contaminated docs (n_shared > 0) are returned, q80's shape.
    * Scale: |probe| compiled shingle derivation + ONE semi-join against
    * state read with pushdown on the 8-byte key — the training corpus
    * text is never rescanned, and the probe side (an eval set) is tiny
    * by construction. */
  def contaminationAgainstState(stateDir: String, probe: DataFrame): DataFrame = {
    val spark = probe.sparkSession
    // ONE probe scan: shingle once, LEFT-join the state's membership
    // marker, and fold total + shared counts in the same aggregate (the
    // noveltyAgainstState plan shape) — a tot/hits two-branch formulation
    // would scan and shingle the probe twice (PlanSpec pins this)
    val sh = probe.select(col("doc_id"),
      explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
    sh.join(shingleState(spark, stateDir).withColumn("seen", lit(1)),
        Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") * lit(1.0d) / col("n_shingles")).as("contamination"))
      .filter(col("n_shared") > 0)
  }

  // ——— df-counted shingle state: the deletion-capable variant ———
  //
  // The `shingles/` SET table above cannot execute a forget: membership
  // cannot be un-asserted without knowing whether any SURVIVING document
  // still holds the key. This variant pays the documented +8 B/key to
  // keep a per-shingle document-frequency COUNT as an additive delta
  // table (the ledger protocol), so deletion is the same negative-
  // delta batch as everywhere else and membership is `net df > 0`. A
  // deployment that must serve right-to-be-forgotten against its
  // decontamination state runs THIS table; one that never deletes keeps
  // the cheaper set.

  private val ShingleDf = DeltaTable("shdf", Seq(StructField("h", LongType)))

  private val ShingleDfLedger =
    LedgerFamily("shdf", 1, "shdf", "shdf_ledger", Seq(ShingleDf))

  /** Net per-shingle document frequency; df > 0 IS the membership set
    * (a shingle all of whose holders were forgotten has left it). */
  def shingleDfState(spark: SparkSession, stateDir: String): DataFrame = {
    ShingleDfLedger.requireFormat(spark, stateDir)
    ShingleDf.read(spark, stateDir)
      .groupBy(col("h")).agg(sum(col("delta")).as("df"))
      .filter(col("df") > 0)
  }

  /** One micro-batch of df deltas (ledger-committed, replay-safe). */
  def updateShingleDf(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    appendLedgerDeltas(batch.sparkSession, stateDir, ShingleDfLedger, batchId,
      sign = 1L) { case _ => shingleDfCounts(batch) }

  /** Right-to-be-forgotten against the df-counted shingle state — the
    * [[forgetVocab]] contract: the forgotten documents' per-shingle df
    * contributions append negated as one more ledger-committed batch;
    * the fold nets them; zeroed shingles leave membership through the
    * df > 0 cut. Docs must be currently counted. */
  def forgetShingleDf(stateDir: String)(docs: DataFrame, batchId: Long): Unit =
    appendLedgerDeltas(docs.sparkSession, stateDir, ShingleDfLedger, batchId,
      sign = -1L) { case _ => shingleDfCounts(docs) }

  // within-trigger dedup on doc_id, then the per-doc-DISTINCT compiled
  // shingle stream (ShingleHash64 dedupes per doc), so the count IS a
  // document frequency within the batch
  private def shingleDfCounts(batch: DataFrame): DataFrame =
    batch.dropDuplicates("doc_id").select(col("text"))
      .select(explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("delta"))

  /** [[foldLedger]] applied to the shingle-df delta log. */
  def foldShingleDf(spark: SparkSession, stateDir: String): (Long, Long) =
    foldLedger(spark, stateDir, ShingleDfLedger).head

  /** [[noveltyAgainstState]] against the df-counted table — same probe
    * plan (one arrival scan, one left join, one aggregate), membership
    * = net df > 0 (value-identical to the set table under pure
    * accumulation), so a post-forget read reports novelty against
    * exactly the SURVIVING corpus: a shingle all of whose holders were
    * deleted counts as novel again, which is the correct ingest-gate
    * answer — re-admitting that text re-pays its storage, because the
    * corpus genuinely no longer contains it. */
  def noveltyAgainstDfState(stateDir: String, arrivals: DataFrame): DataFrame = {
    val spark = arrivals.sparkSession
    val arr = arrivals
      .select(col("source"),
        explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
      .distinct()
    arr.join(shingleDfState(spark, stateDir).select(col("h"))
          .withColumn("seen", lit(1)),
        Seq("h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("source"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty_frac"))
  }

  /** [[contaminationAgainstState]] against the df-counted table — same
    * probe plan (one scan, one left join, one aggregate), membership =
    * net df > 0, so a post-forget read answers against exactly the
    * SURVIVING training corpus. */
  def contaminationAgainstDfState(stateDir: String,
      probe: DataFrame): DataFrame = {
    val spark = probe.sparkSession
    val sh = probe.select(col("doc_id"),
      explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
    sh.join(shingleDfState(spark, stateDir).select(col("h"))
          .withColumn("seen", lit(1)),
        Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared") * lit(1.0d) / col("n_shingles")).as("contamination"))
      .filter(col("n_shared") > 0)
  }

  /** q118's novelty probe served FROM the maintained state instead of a
    * same-query split: per source, the fraction of an arrival batch's
    * distinct shingles absent from the persisted set. Run BEFORE folding
    * the batch into state (afterwards everything is seen by definition). */
  def noveltyAgainstState(stateDir: String, arrivals: DataFrame): DataFrame = {
    val spark = arrivals.sparkSession
    val arr = arrivals
      .select(col("source"),
        explode(graft.expressions.ShingleHash64(col("text"))).as("h"))
      .distinct()
    arr.join(shingleState(spark, stateDir).withColumn("seen", lit(1)),
        Seq("h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("source"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty_frac"))
  }
}
