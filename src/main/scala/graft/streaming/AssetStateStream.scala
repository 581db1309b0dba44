package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal}

/** Incrementally maintained MULTIMODAL payload state — the
  * [[CorpusStateStream]] pattern applied at byte level, so arriving
  * assets dedupe against what the corpus already stores instead of
  * re-fingerprinting it. q133 (exact payload dedup) and q134 (payload
  * chunk-simhash near-dup) are one-shot corpus passes; a production
  * ingest runs their DELTA versions against persisted state — this
  * object maintains that state and serves both probes.
  *
  * State layout under `stateDir` (payloads NEVER persist in state —
  * digests and signatures only, the q134 "payloads never shuffle"
  * contract extended to "never stored twice"):
  *   - `digests/` — (doc_id, mime, fp, n_bytes): q133's md5 payload
  *     fingerprint per asset (16-byte digest + byte count);
  *   - `paysigs/` — (doc_id, sig): q134's byte-4-gram chunk SimHash64
  *     (16 bytes per asset; blobs under 4 bytes carry no signature,
  *     exactly as the batch operator filters them).
  *
  * Idempotence/exactly-once: identical to the corpus stream — per-batch
  * dropDuplicates on the state key, anti-join against existing state,
  * append-only parquet; a replayed batch re-derives the same rows and
  * appends nothing. Compaction is [[CorpusStateStream.compactState]] on
  * either table.
  *
  * Scale: per batch, one compiled digest/signature pass over |batch|
  * payloads (map-side, payload bytes never shuffle — only 16-byte
  * digests and band keys do) plus an 8-byte-key anti-join with state
  * pushdown. The old×old quadrant is never recomputed. */
object AssetStateStream {

  private val digestSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("mime", StringType),
    StructField("fp", StringType),
    StructField("n_bytes", LongType)))

  private val sigSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", LongType)))

  /** Layout version — v1 birth marker (the r17 every-family stamp). */
  private val FormatVersion = 1

  private def requireReadable(spark: SparkSession, stateDir: String): Unit = {
    CorpusStateStream.requireNoPendingForget(spark, stateDir, "asset")
    CorpusStateStream.requireFormat(spark, stateDir, "asset",
      FormatVersion, "digests")
  }

  /** The persisted (doc_id, mime, fp, n_bytes) digest table. */
  def digestState(spark: SparkSession, stateDir: String): DataFrame = {
    requireReadable(spark, stateDir)
    CorpusStateStream.stateDf(spark, s"$stateDir/digests", digestSchema)
  }

  /** The persisted (doc_id, sig) payload-simhash table. */
  def sigState(spark: SparkSession, stateDir: String): DataFrame = {
    requireReadable(spark, stateDir)
    CorpusStateStream.stateDf(spark, s"$stateDir/paysigs", sigSchema)
  }

  /** The arriving documents' asset view — ONE definition shared by the
    * fold and both probes (q133's mime derivation, utf-8 blob). */
  private def assetView(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
      Multimodal.mimeOf(col("doc_id")).as("mime"),
      to_binary(col("text"), lit("utf-8")).as("blob"))

  private def digestsOf(a: DataFrame): DataFrame =
    a.select(col("doc_id"), col("mime"), md5(col("blob")).as("fp"),
      length(col("blob")).cast("bigint").as("n_bytes"))

  private def sigsOf(a: DataFrame): DataFrame =
    a.filter(length(col("blob")) >= 4)
      .select(col("doc_id"),
        graft.expressions.SimHash64(
          graft.expressions.Md5TokenHash64.chunks(col("blob"), 4)).as("sig"))

  /** One micro-batch: append exactly the new digest and signature rows.
    * Replay-idempotent (anti-join on doc_id); within-batch duplicate
    * doc_ids collapse before the join. */
  def update(stateDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    CorpusStateStream.stampFormat(spark, stateDir, "asset",
      FormatVersion, "digests")
    val a = assetView(batch).dropDuplicates("doc_id").localCheckpoint()
    digestsOf(a)
      .join(digestState(spark, stateDir).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .write.mode("append").parquet(s"$stateDir/digests")
    sigsOf(a)
      .join(sigState(spark, stateDir).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .write.mode("append").parquet(s"$stateDir/paysigs")
  }

  /** Right-to-be-forgotten against the maintained asset state — the
    * keyed complete-erasure contract on the two 1:1 tables: tombstoned
    * doc_ids anti-join out of `digests/` and `paysigs/` under the
    * two-rename swap, so a deleted asset can neither count in a
    * reclamation group nor band in a near-dup probe. For a MEDIA corpus
    * this is the half of a deletion the index owns — the blobs
    * themselves live in the object store (state never persisted them,
    * the "never stored twice" contract above) and are deleted there;
    * this removes every fingerprint that could re-identify them. Since
    * r17 the two-table rewrite runs under the staged `forget_pending/`
    * protocol ([[CorpusStateStream.stagedKeyedForget]]): reads and
    * appends refuse mid-window (a crash between the swaps would
    * otherwise serve forgotten digests next to unforgotten signatures)
    * and [[recoverForget]] replays the idempotent body from the stored
    * tombstones. Re-running with the same tombstones is a no-op. Run
    * offline. */
  def forget(spark: SparkSession, stateDir: String,
      tombstones: DataFrame): Unit =
    forgetImpl(spark, stateDir, tombstones, crashAfterSwap = Int.MaxValue)

  /** Test seam: throw after the n-th swap (1 = digests, 2 = paysigs;
    * 0 = staged only). */
  private[streaming] def forgetImpl(spark: SparkSession, stateDir: String,
      tombstones: DataFrame, crashAfterSwap: Int): Unit =
    CorpusStateStream.stagedKeyedForget(spark, stateDir, "doc_id", swaps,
      tombstones, crashAfterSwap)

  /** Crash recovery for [[forget]] — heal dangling swaps and re-apply a
    * staged pending forget from its stored tombstones. */
  def recoverForget(spark: SparkSession, stateDir: String): Unit =
    CorpusStateStream.recoverKeyedForget(spark, stateDir, "doc_id", swaps)

  private val swaps = Seq("digests", "paysigs").map(CorpusStateStream.KeyedSwap(_))

  /** Start the maintenance stream over arriving document parquet files
    * (same source shape as [[CorpusStateStream.start]] — one landing
    * directory can feed both maintenance jobs). */
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

  /** q133's exact-dup probe served FROM state: per modality, how many
    * arriving payloads byte-duplicate an ALREADY-STORED asset, and the
    * bytes ingest can skip (every dup arrival is fully reclaimable — a
    * persisted copy exists). Run BEFORE folding the batch into state.
    * Within-batch self-duplication is q133's batch job, not this probe:
    * against state, each arrival answers only "have we stored these
    * bytes before". */
  /** q133's storage-reclamation report served FROM the persisted digest
    * table — the full-corpus accounting read (the delta probes below
    * answer per-arrival questions), through the SAME
    * [[graft.operators.Multimodal.payloadDedupReport]] stage as the
    * batch query, so the served report cannot drift from it. Payloads
    * are digested once at arrival; the read touches |assets| rows of
    * (mime, 16-byte fp, n_bytes) and never the blobs. */
  def payloadDedupFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.Multimodal.payloadDedupReport(
      digestState(spark, stateDir)
        .select(col("mime"), col("fp"), col("n_bytes")))

  def exactDupAgainstState(stateDir: String, arrivals: DataFrame): DataFrame = {
    val spark = arrivals.sparkSession
    val arr = digestsOf(assetView(arrivals).dropDuplicates("doc_id"))
    val seen = digestState(spark, stateDir)
      .select(col("fp")).distinct().withColumn("stored", lit(true))
    arr.join(seen, Seq("fp"), "left")
      .groupBy(col("mime"))
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("stored"), 1L).otherwise(0L)).cast("bigint")
          .as("n_dup_assets"),
        sum(when(col("stored"), col("n_bytes")).otherwise(0L)).cast("bigint")
          .as("bytes_reclaimable"))
      .orderBy(col("mime"))
  }

  /** q134's near-dup probe served FROM state: arriving payloads derive
    * chunk signatures ONCE, the persisted signature table is the corpus
    * band side, and candidate/hamming verification is the exact shared
    * path (Dedup.incrementalNearDupFromSigs — the q97 delta shape at
    * byte level). Emits new×old and new×new pairs, never old×old. Run
    * BEFORE folding the batch into state. */
  def nearDupAgainstState(stateDir: String, arrivals: DataFrame,
      maxHamming: Int = 8): DataFrame = {
    val spark = arrivals.sparkSession
    val arrSigs = sigsOf(assetView(arrivals).dropDuplicates("doc_id"))
      .withColumn("is_new", lit(true))
      .localCheckpoint()
    val all = sigState(spark, stateDir)
      .withColumn("is_new", lit(false))
      .unionByName(arrSigs)
    Dedup.incrementalNearDupFromSigs(all, maxHamming)
  }
}
