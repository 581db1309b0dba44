package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The C4-style boilerplate phrase table (q106) maintained incrementally —
  * the removal blacklist AS MAINTAINED STATE, which is how a production
  * curation stack actually runs it: document frequency per cross-document
  * word-3-gram accumulates as arriving batches fold in, and the reviewed
  * blacklist (df >= 2, hottest first) serves from the persisted counts
  * without ever rescanning the corpus. The phrase TEXT is the state key —
  * the blacklist is a human-reviewed artifact, so hashing the key away
  * would defeat its purpose (and admit collisions the batch groupBy does
  * not have); the key domain is the corpus's 3-gram vocabulary, which the
  * df >= 2 read-side cut keeps reviewable.
  *
  * State layout under `stateDir` (the additive-delta ledger protocol,
  * [[CorpusStateStream.appendLedgerDeltas]] — df counts are ADDITIVE,
  * not set-like, so anti-join idempotence does not apply and replay
  * safety comes from the ledger):
  *   - `bp_phrases/`  — (batch_id, phrase, delta) per-batch df deltas;
  *   - `bp_counters/` — (batch_id, n_docs) per-batch corpus-size deltas
  *     (the df_share denominator);
  *   - `bp_ledger/`   — one row per committed batch. Deltas append
  *     BEFORE the ledger row: a crash between the appends replays the
  *     batch, the ledger probe misses, each delta-log probe finds its
  *     rows already present and skips, and only the ledger heals —
  *     counts can never double.
  * [[foldDeltas]] is [[CorpusStateStream.foldLedger]] on both tables
  * (LSM merge to one snapshot row per phrase + one global counter row);
  * [[CorpusStateStream.compactState]] handles files.
  *
  * Identity note: like the datasheet counters, a re-uploaded doc_id
  * contributes its phrases again IN A LATER BATCH — the q106 batch twin
  * over the concatenated deliveries counts every row too, so state ==
  * batch holds under exactly the delivery the file source makes (each
  * file once). WITHIN one trigger, duplicates of a doc_id are dropped
  * before shingling (the CorpusStateStream sig-path hardening), so
  * at-least-once delivery inside a batch cannot double-count df.
  *
  * Scale: per batch, ONE |batch| compiled ShingleText pass into a
  * map-side-combined (phrase, count) aggregate — the q106 shape over the
  * batch instead of the corpus — plus two bounded probes and appends;
  * the read side is a |phrase-vocabulary|-key sum with the df >= 2 cut
  * applied before anything is ordered or collected. */
object BoilerplateStateStream {

  val docSchema: StructType = CorpusStateStream.docSchema

  private val Phrases = CorpusStateStream.DeltaTable("bp_phrases",
    Seq(StructField("phrase", StringType)))

  private val Counters =
    CorpusStateStream.DeltaTable("bp_counters", Nil, Seq("n_docs"))

  /** Layout v2 = the r14 within-trigger doc_id dedup (v1, never
    * stamped, counted intra-batch duplicates — see the state-format
    * compatibility note in [[appendDeltas]]). Stamped at first write,
    * checked on every write and read, so a pre-r14 checkpoint fails
    * LOUDLY instead of replaying into drift. Phrases append FIRST, so
    * their probe answers "any deltas committed" for the intent guard. */
  private val Ledger = CorpusStateStream.LedgerFamily("bp", 2, "bp_ledger",
    "bp_ledger", Seq(Phrases, Counters))

  /** One micro-batch: append this batch's per-phrase df deltas and its
    * doc-count delta exactly once (the ledger crash protocol).
    * Calling it twice with the same batch is a no-op the second time. */
  def update(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    appendDeltas(stateDir, batch, batchId, sign = 1L)

  /** Right-to-be-forgotten against the maintained blacklist — the
    * NEGATIVE-delta twin of [[update]], which is the whole point of
    * keeping the state as additive deltas rather than materialized
    * counts: deleting documents is just one more ledger-committed batch
    * whose phrase-df and doc-count contributions carry a minus sign, so
    * the same fold, the same crash protocol, and the same replay
    * idempotence apply unchanged, and the read side ([[
    * phraseTableFromState]]) nets the deletion out with zero new code.
    * The caller passes the forgotten documents themselves (a deletion
    * request names its subjects; re-reading exactly those rows is an
    * id-pushdown scan bounded by |forgotten|, never the corpus) and they
    * must be currently counted — forgetting a never-delivered doc would
    * drive its phrases' net df negative, which the fold preserves
    * faithfully and the df >= 2 cut hides, but the n_docs denominator
    * would be silently wrong. A phrase whose net df reaches 0 stays in
    * the folded snapshot as a zero row (additive tables keep their key
    * domain); it can never serve — the df >= 2 cut runs before anything
    * is ordered — and the next fold carries it at |key| cost, the
    * documented residue trade. */
  def forget(stateDir: String)(docs: DataFrame, batchId: Long): Unit =
    appendDeltas(stateDir, docs, batchId, sign = -1L)

  private def appendDeltas(stateDir: String, batch: DataFrame,
      batchId: Long, sign: Long): Unit = {
    // within-trigger dedup on doc_id (the CorpusStateStream sig-path
    // hardening): an at-least-once source delivering a doc twice in
    // ONE trigger must not double its df/n_docs contribution — only a
    // genuine re-upload in a LATER batch counts again (identity note
    // above, matching the batch twin over concatenated deliveries).
    // State-format compatibility: this dedup landed in r14 — a state
    // whose history includes a pre-r14 batch that DID carry duplicate
    // doc_id rows in one file was counted under the old convention,
    // and replaying that same delivery now yields different deltas;
    // mixing such a persisted deployment state with post-change
    // batches drifts from both conventions. The parity/range builders
    // never produce intra-batch dupes, so every gated state is
    // unaffected; a real deployment migrating across r14 rebuilds by
    // replay (the layouts are otherwise unchanged).
    lazy val docs = batch.dropDuplicates("doc_id").select(col("text"))
      .localCheckpoint()
    CorpusStateStream.appendLedgerDeltas(batch.sparkSession, stateDir,
        Ledger, batchId, sign) {
      // ShingleText dedupes per doc (the ShingleHash64 convention), so
      // the count IS a document frequency within the batch
      case Phrases => docs
        .select(explode(graft.expressions.ShingleText(col("text"), 3))
          .as("phrase"))
        .groupBy(col("phrase")).agg(count(lit(1)).as("delta"))
      case Counters => docs.agg(count(lit(1)).as("n_docs"))
    }
  }

  /** The q106 phrase table served FROM state — same columns, same
    * df >= 2 cut, same (df DESC, phrase) order; BoilerplateStreamSpec
    * pins it row-for-row equal to the batch operator over all delivered
    * documents, and q191's oracle (q106's SQL verbatim) re-proves it
    * cross-engine every round. */
  /** Net corpus size (the df_share denominator) — counts minus any
    * [[forget]] batches; the number q206's certificate audits. */
  def docCountFromState(spark: SparkSession, stateDir: String): DataFrame = {
    Ledger.requireFormat(spark, stateDir)
    Counters.read(spark, stateDir)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"))
  }

  def phraseTableFromState(spark: SparkSession, stateDir: String): DataFrame = {
    val nd = docCountFromState(spark, stateDir)
    Phrases.read(spark, stateDir)
      .groupBy(col("phrase")).agg(sum(col("delta")).as("df"))
      .filter(col("df") >= 2)
      .crossJoin(broadcast(nd))
      .select(col("phrase"), col("df"),
        (col("df").cast("double") / col("n_docs").cast("double")).as("df_share"))
      .orderBy(col("df").desc, col("phrase"))
  }

  /** Fold both committed delta logs into snapshots, then compact their
    * shared `bp_ledger` once. Returns ((phrases before, after),
    * (counters before, after)). */
  def foldDeltas(spark: SparkSession, stateDir: String)
      : ((Long, Long), (Long, Long)) = {
    val folded = CorpusStateStream.foldLedger(spark, stateDir, Ledger)
    (folded(0), folded(1))
  }

  /** Start the maintenance stream; `foldEvery = Some(n)` folds from the
    * stream's own quiet window after every n-th committed batch. */
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
