package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Incrementally maintained hyperplane-LSH index — the on-disk twin of
  * the in-session signature memo the q39/q128/q137 retrieval trio
  * shares, and the LSH sibling of [[IvfStateStream]]: production
  * signs each arriving vector once at ingest and answers every search
  * from the persisted table; nothing at read time recomputes a
  * signature. Unlike IVF there is NO training step to freeze — the
  * planes are a pure deterministic function of (plane, dim) (md5
  * parity, [[graft.functions.VectorOps.hyperplaneSignature]]), so the
  * index has no generation to retrain and the fold starts on an empty
  * dir.
  *
  * State layout under `stateDir`:
  *   - `sigs/` — (vec_id, sig, embedding float[]): the signed corpus.
  *     Only ever receives appends of NEW vec_ids; compaction is
  *     [[CorpusStateStream.compactState]] on "sigs" (pure file-level
  *     maintenance). The embedding rides at its ORIGINAL float width —
  *     parquet round-trips it exactly and [[graft.expressions.VecDot]]
  *     widens per element, so the exact re-rank over state is bit-equal
  *     to the batch operator's over the source table. A deployment that
  *     keeps vectors in a separate store would drop the column and join
  *     candidates back by vec_id; it rides here so a search read touches
  *     exactly one table.
  *
  * Exactly-once story, inherited from the corpus stream: the file
  * source's checkpoint delivers each file once per committed batch; a
  * crash after the state append but before the sink commit replays the
  * batch, whose rows the vec_id anti-join then drops.
  *
  * Scale: per batch, cost is |batch| signature derivation (the per-row
  * multiply-add over driver-baked sign literals) plus an anti-join of
  * the batch's vec_ids against state read with pushdown on the 8-byte
  * key. A search read derives band keys from the PERSISTED sigs (a
  * shift-and-mask projection, not a signature recompute) and probes
  * them with the bounded query set — |corpus|·nBands fixed-size keys,
  * never all pairs, never a corpus re-sign. */
object LshStateStream {

  val embSchema: StructType = IvfStateStream.embSchema

  private val sigSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("sig", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Layout version — v1 birth marker (r17: every family stamps at
    * first write so the next evolution diffs a version, never prose). */
  private val FormatVersion = 1

  /** The persisted signed corpus (vec_id, sig, embedding). */
  def sigState(spark: SparkSession, stateDir: String): DataFrame = {
    CorpusStateStream.requireFormat(spark, stateDir, "lsh",
      FormatVersion, "sigs")
    CorpusStateStream.stateDf(spark, s"$stateDir/sigs", sigSchema)
  }

  /** One micro-batch: sign arriving vectors and append exactly the new
    * (vec_id, sig, embedding) rows. Calling it twice with the same
    * batch is a no-op the second time — the restart-recovery contract. */
  def update(stateDir: String, planes: Int = 8)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    CorpusStateStream.stampFormat(spark, stateDir, "lsh",
      FormatVersion, "sigs")
    // at-least-once delivery can land a vec_id twice in ONE trigger;
    // the anti-join only protects against rows already in state
    val signed = batch.select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
      .select(col("vec_id"),
        graft.functions.VectorOps.hyperplaneSignature(col("embedding"), planes)
          .as("sig"),
        col("embedding"))
    signed
      .join(sigState(spark, stateDir).select(col("vec_id")),
        Seq("vec_id"), "left_anti")
      .write.mode("append").parquet(s"$stateDir/sigs")
  }

  /** Right-to-be-forgotten against the maintained LSH index — the
    * [[IvfStateStream.forget]] contract on the signature table: the
    * layout is keyed 1:1 by vec_id, so deletion is ONE broadcast
    * anti-join over state (never the corpus) under the two-rename swap,
    * and a deleted vector can neither band (generate candidates) nor
    * score. Unlike IVF there is no model to keep or retrain — the
    * planes are a pure function, so deletion here is COMPLETE erasure.
    * Re-running with the same tombstones is a no-op. Run offline, like
    * compaction. */
  def forget(spark: SparkSession, stateDir: String,
      tombstones: DataFrame): Unit = {
    val tomb = tombstones.select(col("vec_id")).distinct()
      .localCheckpoint(true) // read after the swap deletes its source
    val survivors = sigState(spark, stateDir)
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // materialize before the swap
    CorpusStateStream.swapState(spark, s"$stateDir/sigs")(tmp =>
      survivors.write.mode("overwrite").parquet(tmp))
  }

  /** Start the maintenance stream over a directory of arriving
    * embedding parquet files. */
  def start(
      spark: SparkSession,
      embDir: String,
      stateDir: String,
      checkpointDir: String,
      planes: Int = 8,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    CorpusStateStream.startDocStream(spark, embDir, checkpointDir,
      availableNow, triggerSeconds, maxFilesPerTrigger,
      schema = embSchema)(update(stateDir, planes) _)

  /** q39-shaped LSH top-k served FROM the maintained index: band keys
    * derive from persisted signatures (shift-and-mask — no signature is
    * ever recomputed at read time), the probe and exact re-rank are the
    * EXACT [[Similarity.annTopKFromSigned]] path the batch operator
    * uses, and query vectors are looked up in the index by id (the
    * q49/q182 convention). */
  def topKFromState(spark: SparkSession, stateDir: String,
      queryIds: Seq[Long], k: Int, planes: Int = 8,
      bandBits: Int = 2): DataFrame =
    Similarity.annTopKFromSigned(sigState(spark, stateDir), queryIds, k,
      planes, bandBits)
}
