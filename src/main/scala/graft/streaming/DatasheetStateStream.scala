package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.functions.TextFunctions.wsTokens

/** The release datasheet (q156) maintained incrementally — a
  * `foreachBatch` stream folds each arriving document batch into
  * additive counters, df-counted key tables, and the signature table,
  * and [[datasheetFromState]] reassembles the EXACT q156 (metric,
  * value) table from those — proven row-for-row equal to
  * `Dedup.datasetDatasheet` over all delivered documents
  * (DatasheetStreamSpec), so a data card can be quoted per micro-batch
  * without ever rescanning the corpus.
  *
  * State layout under `stateDir` (shared with [[CorpusStateStream]] —
  * this stream COMPOSES its update, so the signature/shingle tables are
  * maintained once and serve both the dedup probes and the datasheet):
  *   - `sigs/`, `shingles/` — via [[CorpusStateStream.update]];
  *   - `langs/`, `sources/` — df-counted delta tables (batch_id, key,
  *     delta): delta = documents carrying the key per batch, read as
  *     net > 0 membership. r14 stored these as anti-join distinct-key
  *     SETS (16 B/key, no deletion); the df upgrade (+8 B/key — the
  *     runbook trade q204 made for the shingle state) is what lets
  *     [[forget]] un-assert a key whose every holder died. Nulls are
  *     filtered exactly as countDistinct ignores them;
  *   - `words/` — df deltas keyed by xxhash64(lowercased word) —
  *     q156's vocab_size hash domain VERBATIM (the md5-domain `vocab/`
  *     delta table serves the LM family; the two domains collide
  *     differently, so sharing one would break state==batch
  *     bit-equality). delta = documents containing the word (per-doc
  *     distinct), so net > 0 IS vocabulary membership over survivors;
  *   - `ds_counters/` — one (batch_id, n_docs, n_tokens, n_flagged) row
  *     per batch (flags = [[graft.operators.TextAnalysis.gateFlags]],
  *     the q105 definition — per-document, hence batch-additive);
  *   - `ds_prefixes/` — (batch_id, prefix, delta) template-prefix count
  *     deltas, keyed by the RAW 80-code-point prefix (hashing the key
  *     would admit collisions the batch groupBy does not have);
  *   - `ds_ledger/` — the committed-batch ledger for ALL five delta
  *     tables ([[CorpusStateStream.appendLedgerDeltas]]: deltas append
  *     before the ledger row; a replay probes each delta log itself and
  *     only heals the ledger — counts can never double).
  *
  * State-format note: a deployment state written by the r14 layout
  * (set-table `langs`/`sources`/`words` with no batch_id/delta columns)
  * is NOT readable by this version — rebuild by replaying deliveries
  * (the layouts are value-equivalent under pure accumulation, so the
  * rebuilt sheet is identical). Since r16 this is ENFORCED, not prose:
  * a one-row `ds_format/` marker (v2) stamps every dir at first write
  * and both write and read paths refuse a populated dir whose marker
  * is absent or different — the old checkpoint fails loudly instead of
  * reading set rows as zero-delta garbage.
  *
  * Identity note: `doc_id` is the state identity key (the family
  * convention) — a re-uploaded doc_id contributes its counters and df
  * deltas again (the batch twin over the concatenated deliveries counts
  * rows too) but keeps its FIRST signature, exactly like the corpus
  * stream. [[forget]] subtracts exactly the contribution of the rows
  * passed (the forgetVocab occurrence contract): a doc counted twice
  * needs its rows passed twice to be fully forgotten; the builders pass
  * deduped deletion sets.
  *
  * Deletion: [[forget]] executes right-to-be-forgotten as one more
  * ledger-committed batch with sign = −1 (the BoilerplateStateStream /
  * forgetVocab design) across the five delta tables, plus a keyed
  * anti-join swap of the signature table. The only datasheet surface a
  * forget does NOT rewrite is the `shingles/` distinct-set table the
  * composed corpus update also maintains — no datasheet metric reads
  * it (the df-counted decontamination layout, q204, is the
  * deletion-capable shingle store); a deployment forgetting from a
  * SHARED corpus-state dir runs forgetShingleDf on that layout.
  *
  * Scale: per batch, one |batch| projection per table family, delta
  * appends guarded by the ledger, and one appended counter row; the
  * read side is counters-sum + net>0 key counts + the capped band join
  * over 16 bytes/doc of signatures + a |distinct prefixes|-key
  * aggregate — the corpus text is never rescanned. */
object DatasheetStateStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  private val Counters = CorpusStateStream.DeltaTable("ds_counters", Nil,
    Seq("n_docs", "n_tokens", "n_flagged"))
  private val Prefixes = CorpusStateStream.DeltaTable("ds_prefixes",
    Seq(StructField("prefix", StringType)))
  private val Langs = CorpusStateStream.DeltaTable("langs",
    Seq(StructField("lang", StringType)))
  private val Sources = CorpusStateStream.DeltaTable("sources",
    Seq(StructField("source", StringType)))
  private val Words = CorpusStateStream.DeltaTable("words",
    Seq(StructField("w", LongType)))

  /** Layout v2 of the five delta tables = the r15 df-counted
    * langs/sources/words (v1, never stamped, was the set layout this
    * object's own state-format note describes). Stamped at first write,
    * checked on every write and read, so an old checkpoint fails LOUDLY
    * with the rebuild instruction. Counters append FIRST, so their probe
    * answers "any deltas committed" for the intent guard. */
  private val Ledger = CorpusStateStream.LedgerFamily("ds", 2, "ds_ledger",
    "ds_ledger", Seq(Counters, Prefixes, Langs, Sources, Words))

  private def requireFormat(spark: SparkSession, stateDir: String): Unit = {
    // a forget crashed between its ledger commit and the sigs swap
    // would otherwise serve a silently inconsistent sheet (r17 guard)
    CorpusStateStream.requireNoPendingForget(spark, stateDir, "datasheet")
    Ledger.requireFormat(spark, stateDir)
  }

  /** The five delta projections of one batch — ONE definition for the
    * arrival fold (+1) and the forget (−1), so the negative batch
    * subtracts exactly what the positive one added. */
  private def appendDeltaTables(stateDir: String, docs: DataFrame,
      batchId: Long, sign: Long): Unit = {
    // df per key: nulls are dropped, as countDistinct ignores them
    def keyCounts(keys: DataFrame) = keys.na.drop()
      .groupBy(col(keys.columns.head)).agg(count(lit(1)).as("delta"))
    CorpusStateStream.appendLedgerDeltas(docs.sparkSession, stateDir, Ledger,
        batchId, sign) {
      case Counters =>
        graft.operators.TextAnalysis.gateFlags(docs)
          .select(col("nt"),
            (col("f_short") || col("f_low_ttr") || col("f_bad_len") ||
              col("f_dup")).as("f"))
          .agg(count(lit(1)).as("n_docs"), coalesce(sum(col("nt")), lit(0L))
              .as("n_tokens"),
            coalesce(sum(when(col("f"), 1L).otherwise(0L)), lit(0L))
              .as("n_flagged"))
      case Prefixes =>
        docs.groupBy(substring(col("text"), 1, 80).as("prefix"))
          .agg(count(lit(1)).as("delta"))
      case Langs => keyCounts(docs.select(col("lang")))
      case Sources => keyCounts(docs.select(col("source")))
      // document frequency: per-doc DISTINCT words, so net > 0 is
      // exactly "some surviving document holds this word"
      case Words => keyCounts(
        docs.select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("tok"))
          .select(col("doc_id"), xxhash64(col("tok")).as("w")).distinct()
          .select(col("w")))
    }
  }

  /** One micro-batch: fold the arrivals into every datasheet state
    * table. Idempotent under replay (delta tables by the ledger
    * protocol, sigs/shingles by the corpus stream's own anti-joins). */
  def update(stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // a mid-window append could land in the sigs table an unfinished
    // forget is about to swap from a pre-append read — refuse until
    // the window heals (forget itself is exempt: it IS the healer)
    CorpusStateStream.requireNoPendingForget(spark, stateDir, "datasheet")
    Ledger.stampFormat(spark, stateDir)
    val docs = batch
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .localCheckpoint()

    // shared signature/shingle maintenance — ONE definition with the
    // dedup probes (CorpusStateStream is the single writer of sigs/)
    CorpusStateStream.update(stateDir)(
      docs.select(col("doc_id"), col("text"), col("source")), batchId)

    appendDeltaTables(stateDir, docs, batchId, sign = 1L)
  }

  /** Right-to-be-forgotten against the maintained datasheet — the
    * executed form of the deletion path this object's scaladoc used to
    * only name: the tombstoned documents (passed as delivered — the
    * forgetVocab occurrence contract) append as ONE negative
    * ledger-committed delta batch across counters, prefixes, and the
    * df-counted lang/source/word tables (a key whose net reaches 0
    * leaves the served sheet through the > 0 cut), and the signature
    * table swaps to the doc_id survivors under the two-rename protocol
    * (keyed 1:1 — the q199/q202 mechanic), so the near-dup metric
    * re-serves over exactly the surviving corpus. Since r17 the two
    * halves run under a staged `forget_pending/` marker (tombstone ids
    * + the batch id, staged BEFORE the deltas): a crash between the
    * ledger commit and the sigs swap previously served a silently
    * inconsistent sheet (counters without the deleted docs, near-dup
    * pairs still counting them) until an operator happened to replay —
    * reads now refuse mid-window, and [[recoverForget]] completes the
    * swap from the stored tombstones once the deltas are
    * ledger-committed (a pre-delta crash needs the original docs, so
    * recovery names the id and instructs re-running forget).
    * Re-running with the same batchId is a no-op (ledger probe; the
    * sigs re-swap rewrites the identical survivor set). Run offline,
    * stream stopped. */
  def forget(stateDir: String)(docs: DataFrame, batchId: Long): Unit =
    forgetImpl(stateDir, docs, batchId, crashAfterStep = Int.MaxValue)

  /** Test seam: throw after step n (0 = staged only — deltas not yet
    * appended; 1 = deltas + ledger committed, sigs swap not run). */
  private[streaming] def forgetImpl(stateDir: String, docs: DataFrame,
      batchId: Long, crashAfterStep: Int): Unit = {
    val spark = docs.sparkSession
    Ledger.stampFormat(spark, stateDir)
    // heal or adopt a prior crashed window: ledger-committed completes
    // here; a pre-delta crash of THIS id is adopted (this run redoes
    // everything from the start); a pre-delta crash of ANOTHER id needs
    // its own docs — refuse with the instruction
    recoverWindow(spark, stateDir, owner = Some(batchId))
    val scrubbed = docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .localCheckpoint()
    // run the sign guards BEFORE staging: a refused call (an arrival's
    // id resubmitted as a forget, or a crashed arrival's deltas under
    // this id) must not leave a dangling pending marker behind — the
    // marker blocks every read until healed, and a sign-refused forget
    // can never heal it. For a legitimate forget this also writes the
    // write-intent mark (mark-first is the protocol); appendDeltaTables
    // re-checks idempotently below.
    CorpusStateStream.ledgerGuard(spark, stateDir, Ledger, batchId,
      sign = -1L)
    // stage the marker BEFORE the deltas: tombstone ids + the batch id
    CorpusStateStream.stagePending(spark, stateDir,
        CorpusStateStream.ForgetPending) { tmp =>
      scrubbed.select(col("doc_id")).distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/tombs")
      spark.range(1).select(lit(batchId).as("batch_id"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    }
    if (crashAfterStep == 0)
      throw new IllegalStateException("injected crash after staging")
    appendDeltaTables(stateDir, scrubbed, batchId, sign = -1L)
    if (crashAfterStep == 1)
      throw new IllegalStateException("injected crash after deltas")
    completeSigs(spark, stateDir)
  }

  /** The sigs-swap half: the keyed apply over the stored tombstones
    * (anti-join — idempotent), which then clears the marker. */
  private def completeSigs(spark: SparkSession, stateDir: String): Unit =
    CorpusStateStream.applyKeyedForget(spark, stateDir, "doc_id",
      Seq(CorpusStateStream.KeyedSwap("sigs")))

  /** Heal a staged window: one whose deltas are ledger-committed
    * completes its sigs swap; a pre-delta one cannot rebuild its deltas
    * from ids alone, so only its `owner` batch may adopt (clear) it and
    * anyone else is refused with the batch to re-run. */
  private def recoverWindow(spark: SparkSession, stateDir: String,
      owner: Option[Long]): Unit = {
    if (!CorpusStateStream.recoverPending(spark, stateDir,
        CorpusStateStream.ForgetPending, Seq("sigs"))) return
    val pend = s"$stateDir/${CorpusStateStream.ForgetPending}"
    val prior = spark.read.parquet(s"$pend/meta").collect()(0).getLong(0)
    if (CorpusStateStream.ledgerCommitted(spark, stateDir, Ledger, prior))
      completeSigs(spark, stateDir)
    else if (owner.contains(prior))
      CorpusStateStream.clearPending(spark, stateDir,
        CorpusStateStream.ForgetPending)
    else throw new IllegalStateException(
      s"$pend holds a forget (batch $prior) that crashed BEFORE its " +
      s"deltas committed — re-run forget with batch $prior's original " +
      "documents to heal it (the staged ids alone cannot rebuild the " +
      "deltas) before reading or submitting a different deletion")
  }

  /** Crash recovery for [[forget]]: a staged window whose deltas are
    * ledger-committed completes (the sigs swap from stored tombstones);
    * a pre-delta window cannot rebuild its deltas from ids alone and
    * refuses, naming the batch to re-run. */
  def recoverForget(spark: SparkSession, stateDir: String): Unit =
    recoverWindow(spark, stateDir, owner = None)

  /** Net > 0 word keys — the vocabulary membership set whose count is
    * the sheet's vocab_size metric; exposed so the deletion certificate
    * (q206) can file the datasheet's surviving vocabulary as its own
    * artifact row. */
  def vocabularyState(spark: SparkSession, stateDir: String): DataFrame = {
    requireFormat(spark, stateDir)
    Words.read(spark, stateDir)
      .groupBy(col("w")).agg(sum(col("delta")).as("n"))
      .filter(col("n") > 0)
  }

  /** The q156 datasheet table served FROM state — same metrics, same
    * (metric, value) shape, same ordering; DatasheetStreamSpec pins it
    * row-for-row equal to `Dedup.datasetDatasheet` over all delivered
    * documents. The near-dup metric runs q156's capped pair stage over
    * the persisted signatures
    * ([[graft.operators.Dedup.simhashNearDupPairsCappedFromSigs]] — the
    * same banding/cap/verify definition), so at a binding cap the
    * equality contract is the batch one: identical pair semantics over
    * identical signatures. */
  def datasheetFromState(spark: SparkSession, stateDir: String,
      maxBucket: Int = graft.operators.Dedup.DefaultMaxBucket): DataFrame = {
    requireFormat(spark, stateDir)
    def one(metric: String, v: DataFrame): DataFrame =
      v.select(lit(metric).as("metric"), col(v.columns.head).cast("double")
        .as("value"))
    def keyCount(t: CorpusStateStream.DeltaTable): DataFrame =
      t.read(spark, stateDir)
        .groupBy(col(t.keys.head.name)).agg(sum(col("delta")).as("n"))
        .filter(col("n") > 0)
        .agg(count(lit(1)).as("k"))
    val c = Counters.read(spark, stateDir)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("n_flagged")), lit(0L)).as("n_flagged"))
      .localCheckpoint(true)
    val members = graft.operators.Dedup.simhashNearDupPairsCappedFromSigs(
        CorpusStateStream.sigState(spark, stateDir), maxHamming = 8, maxBucket)
      .select(explode(array(col("d1"), col("d2"))).as("doc_id")).distinct()
      .agg(count(lit(1)).as("members"))
    val tpl = Prefixes.read(spark, stateDir)
      .groupBy(col("prefix")).agg(sum(col("delta")).as("n"))
      .filter(col("n") >= 2)
      .agg(coalesce(sum(col("n")), lit(0L)).as("tdocs"))
    one("n_docs", c.select(col("n_docs")))
      .unionByName(one("n_tokens", c.select(col("n_tokens"))))
      .unionByName(one("n_langs", keyCount(Langs)))
      .unionByName(one("n_sources", keyCount(Sources)))
      .unionByName(one("mean_tokens_per_doc", c.select(
        // guarded: an empty state reads as NULL rather than an ANSI
        // divide-by-zero (the batch twin never runs on zero docs)
        when(col("n_docs") > 0,
          col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("m"))))
      .unionByName(one("vocab_size", keyCount(Words)))
      .unionByName(one("flagged_docs", c.select(col("n_flagged"))))
      .unionByName(one("neardup_member_docs", members))
      .unionByName(one("template_docs", tpl))
      .orderBy(col("metric"))
  }

  /** Fold all five committed delta logs into snapshots —
    * [[CorpusStateStream.foldLedger]] on the per-batch counters (one
    * global snapshot row), the template-prefix counts, and the three
    * df-counted key tables, then one compaction of their shared
    * `ds_ledger`. Returns ((counters before, after), (prefixes before,
    * after)) — the two tables whose row growth is per-batch rather than
    * per-key. */
  def foldDeltas(spark: SparkSession, stateDir: String)
      : ((Long, Long), (Long, Long)) = {
    val folded = CorpusStateStream.foldLedger(spark, stateDir, Ledger)
    (folded(0), folded(1))
  }

  /** Start the maintenance stream (the CorpusStateStream wiring with the
    * lang-bearing schema). `foldEvery = Some(n)` runs [[foldDeltas]]
    * from the stream's own quiet window after every n-th committed
    * batch (the [[CentroidStateStream.start]] contract: sequential
    * micro-batches + single writer make the in-stream fold race-free),
    * bounding both delta logs at |keys| + n batches of rows; ledger
    * rows persist (replay probes) but its files compact with the fold. */
  def start(
      spark: SparkSession,
      docsDir: String,
      stateDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None,
      foldEvery: Option[Int] = None): StreamingQuery =
    CorpusStateStream.startDocStream(spark, docsDir, checkpointDir,
      availableNow, triggerSeconds, maxFilesPerTrigger, docSchema,
      foldEvery, s => { foldDeltas(s, stateDir); () })(
      update(stateDir) _)
}
