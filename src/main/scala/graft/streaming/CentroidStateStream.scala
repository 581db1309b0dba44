package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Incremental embedding-centroid monitoring — q108's drift matrix and
  * the crawl-over-crawl drift alarm served from maintained state.
  *
  * Why this state is EXACT rather than approximate: q108 quantizes each
  * component to integer micro-units before summing, so the per
  * (source, dim) state is a pair of exact integers (Σq, n) that is
  * batch-ADDITIVE — sums over the union of all deliveries equal the sum
  * of per-batch sums, with no float reassociation anywhere. The state
  * layout is therefore an additive ledger family
  * ([[CorpusStateStream.appendLedgerDeltas]]): (batch_id, source, dim,
  * sq, n) delta rows plus a one-row-per-batch ledger; replay probes the
  * delta log before appending, so counts can never double; compaction
  * folds delta files without changing any aggregate.
  *
  * Two reads, both pure functions of the state composed from q108's own
  * factored stages (`Similarity.centroidFromSums` /
  * `centroidDriftFromCent` — the registered query's code, not a copy):
  *   - [[driftMatrixFromState]]: the q108 cross-source matrix, pinned
  *     row-for-row equal to the batch recompute over all deliveries;
  *   - [[arrivalDriftAgainstState]]: per arriving source, the cosine
  *     between the HISTORICAL centroid (state) and the arrival batch's
  *     centroid — the production "this crawl drifted from the corpus"
  *     alarm q108's scaladoc promises ("compares this week's crawl
  *     centroid to last week's"); run BEFORE folding the batch in.
  *     Sources with no history surface with a null cosine (the q138
  *     orphan convention), never silently drop.
  *
  * Deletion: [[forget]] executes right-to-be-forgotten as one more
  * ledger-committed delta batch with sign = −1 (the forgetVocab
  * mechanic — the layout is exactly the runbook's additive-ledger row,
  * so deletion inherits fold, crash protocol, and replay idempotence),
  * and the exact-integer design makes the netted sums the survivors'
  * sums to the BIT; q213 serves the forgotten matrix under the hash
  * gate and q206 files it as a certificate leg.
  *
  * Scale: per batch, one |batch|·64 posexplode into a map-side-combined
  * (source, dim)-key aggregate and one append; state size is
  * |sources|·64·|batches| delta rows (compaction folds to |sources|·64);
  * reads aggregate the delta log at |sources|·64 keys — corpus vectors
  * are never rescanned or pairwise-joined. */
object CentroidStateStream {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("source", StringType)))

  private val Cent = CorpusStateStream.DeltaTable("cent",
    Seq(StructField("source", StringType), StructField("dim", IntegerType)),
    Seq("sq", "n"))

  private val Ledger = CorpusStateStream.LedgerFamily("centroid", 1, "cent",
    "cent_ledger", Seq(Cent))

  /** One micro-batch: append this batch's (source, dim) micro-unit sum
    * deltas exactly once (the ledger protocol). */
  def update(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    appendCentDeltas(stateDir, batch, batchId, sign = 1L)

  /** Right-to-be-forgotten against the maintained centroid sums — the
    * NEGATIVE-delta twin of [[update]] (the
    * [[CorpusStateStream.forgetVocab]] design verbatim: the state is an
    * additive (source, dim, sq, n) delta ledger, so deletion is one
    * more ledger-committed batch with a minus sign; fold, crash
    * protocol, and replay idempotence are all inherited unchanged).
    * The caller passes the forgotten vectors THEMSELVES (vec_id,
    * embedding, source — they must be currently folded in), and because
    * the per-component quantization is exact-integer, the netted sums
    * are the survivors' sums to the BIT, not within epsilon: every
    * historical centroid the drift alarm serves loses exactly the
    * forgotten vectors' mass. A (source, dim) whose every contributor
    * was forgotten nets n = 0 and leaves the served matrix through
    * [[centroidSumsState]]'s n > 0 cut (a zero-vector source must not
    * divide by zero in the mean). Cost: one |forgotten|·64 posexplode
    * aggregate + a bounded append — the corpus is never rescanned. */
  def forget(stateDir: String)(vecs: DataFrame, batchId: Long): Unit =
    appendCentDeltas(stateDir, vecs, batchId, sign = -1L)

  private def appendCentDeltas(stateDir: String, batch: DataFrame,
      batchId: Long, sign: Long): Unit =
    CorpusStateStream.appendLedgerDeltas(batch.sparkSession, stateDir,
        Ledger, batchId, sign) { case _ =>
      graft.operators.Similarity.centroidSums(
        batch.select(col("source"), col("embedding")))
    }

  /** The aggregated (source, dim, sq, n) view over the delta log. The
    * n > 0 cut is load-bearing only after a [[forget]] pass: a
    * (source, dim) whose every contributing vector was deleted nets to
    * a zero row (additive tables keep their key domain), and it must
    * leave the served sums — a mean over zero vectors would otherwise
    * divide by zero in [[driftMatrixFromState]]. Under pure
    * accumulation the filter never fires. */
  def centroidSumsState(spark: SparkSession, stateDir: String): DataFrame = {
    Ledger.requireFormat(spark, stateDir)
    Cent.read(spark, stateDir)
      .groupBy(col("source"), col("dim"))
      .agg(sum(col("sq")).as("sq"), sum(col("n")).as("n"))
      .filter(col("n") > 0)
  }

  /** q108's cross-source drift matrix served FROM state — the registered
    * query's centroid/drift stages over the maintained sums. */
  def driftMatrixFromState(spark: SparkSession, stateDir: String): DataFrame =
    graft.operators.Similarity.centroidDriftFromCent(
      graft.operators.Similarity.centroidFromSums(
        centroidSumsState(spark, stateDir)))

  /** The crawl-over-crawl alarm: per source present in `arrivals`, the
    * cosine between its historical centroid (state) and the arrival
    * batch's centroid. Run BEFORE folding the batch into state. A
    * source with no history reports a null cosine; a degenerate all-zero
    * centroid on either side reports null rather than tripping the ANSI
    * divide-by-zero (both surfaced, never dropped). */
  def arrivalDriftAgainstState(stateDir: String, arrivals: DataFrame): DataFrame = {
    val spark = arrivals.sparkSession
    val hist = graft.operators.Similarity.centroidFromSums(
        centroidSumsState(spark, stateDir))
      .select(col("source"), col("dim"), col("c").as("ch"))
    val arr = graft.operators.Similarity.centroidFromSums(
        graft.operators.Similarity.centroidSums(
          arrivals.select(col("source"), col("embedding"))))
      .select(col("source"), col("dim"), col("c").as("cb"))
    arr.join(hist, Seq("source", "dim"), "left")
      .groupBy(col("source"))
      .agg(sum(col("cb") * col("ch")).as("sab"),
        sum(col("ch") * col("ch")).as("saa"),
        sum(col("cb") * col("cb")).as("sbb"),
        count(col("ch")).as("n_hist_dims"))
      .select(col("source"),
        (col("n_hist_dims") > 0).as("has_history"),
        when(col("saa") > 0 && col("sbb") > 0,
          col("sab").cast("double") /
            (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))))
          .as("drift_cosine"))
      .orderBy(col("source"))
  }

  /** Fold the committed centroid-sum deltas into one snapshot row per
    * (source, dim) — [[CorpusStateStream.foldLedger]] on the delta
    * log, bounding state to |sources|·64 rows (plus crash-window
    * deltas) no matter how many crawls have folded in. Sums are exact
    * integers (the quantize-then-sum design), so no read changes. */
  def foldDeltas(spark: SparkSession, stateDir: String): (Long, Long) =
    CorpusStateStream.foldLedger(spark, stateDir, Ledger).head

  /** Start the maintenance stream over arriving embedding parquet files
    * (the CorpusStateStream wiring with the vector schema).
    * `foldEvery = Some(n)` runs [[foldDeltas]] from the stream's OWN
    * quiet window after every n-th committed batch — foreachBatch
    * micro-batches are strictly sequential and this stream is the
    * state dir's only writer, so the in-stream fold never races an
    * append; the stopped-stream caveat on [[foldDeltas]] is about
    * OTHER processes, which holds here by construction. The DELTA log
    * is then bounded at |sources|·64 + n batches of rows at all times;
    * the ledger necessarily keeps one 8-byte row per batch forever
    * (replay probes need them) but the fold window compacts its FILES,
    * so the per-trigger ledger probe reads one file, not |batches|. */
  def start(
      spark: SparkSession,
      vecsDir: String,
      stateDir: String,
      checkpointDir: String,
      availableNow: Boolean = false,
      triggerSeconds: Int = 10,
      maxFilesPerTrigger: Option[Int] = None,
      foldEvery: Option[Int] = None): StreamingQuery =
    CorpusStateStream.startDocStream(spark, vecsDir, checkpointDir,
      availableNow, triggerSeconds, maxFilesPerTrigger, vecSchema,
      foldEvery, s => { foldDeltas(s, stateDir); () })(
      update(stateDir) _)
}
