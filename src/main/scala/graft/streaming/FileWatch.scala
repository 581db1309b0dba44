package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Audit, IngestPipeline, Metadata, SchemaRegistry, Sinks}

/** Streaming shell: watch a directory for new CSV/JSON files and run the
  * ingest pipeline per micro-batch, re-expressing
  * /root/reference/code/Main.py:44-186.
  *
  * Differences from the reference (deliberate fixes, SURVEY.md §4.3):
  *  - no `dropDuplicates` over all history: the file source's own
  *    checkpointed log already guarantees exactly-once file delivery, so
  *    the reference's unbounded dedup state is simply unnecessary;
  *  - `maxFilesPerTrigger` bounds batch size so one trigger can't OOM on
  *    a backlog (at 100 TB the watch dir can hold millions of files);
  *  - per-batch work runs against a cached frame (see IngestPipeline).
  */
object FileWatch {

  final case class Config(
      dataDir: String,
      schemaDir: String,
      processedDir: String,
      quarantineFileDir: String,
      pipeline: IngestPipeline.Config,
      triggerSeconds: Int = 10,
      checkpointDir: String = "/tmp/graft-checkpoints",
      maxFilesPerTrigger: Int = 1000)

  /** One row per newly arrived file: its plain Hadoop path, no content
    * (file arrival is the event, Main.py:44-49). `binaryFile` with only
    * `path` selected lists the files without opening them. */
  def fileArrivals(spark: SparkSession, cfg: Config): DataFrame =
    spark.readStream
      .format("binaryFile")
      .schema(BinaryFileFormat.schema)
      .option("pathGlobFilter", "*.{csv,json}")
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
      .load(cfg.dataDir)
      .select(col("path").as("file_path"))

  /** Process one micro-batch of file arrivals: group by extension, load
    * each group with its registered schema, run the ingest pipeline, and
    * move sources to processed/ or quarantine/. */
  def processBatch(spark: SparkSession, cfg: Config)(batch: DataFrame, batchId: Long): Unit = {
    val paths = batch.select("file_path")
      .collect().map(_.getString(0)).distinct.toSeq // bounded by maxFilesPerTrigger
    if (paths.nonEmpty) {
      IngestPipeline.groupByExtension(paths).foreach { case (fmt, groupPaths) =>
        val label = groupPaths.map(_.split('/').last).sorted.mkString(",")
        try {
          val schema = SchemaRegistry.load(spark, cfg.schemaDir, groupPaths.head)
          val raw = IngestPipeline.readBatchFiles(spark, groupPaths, fmt, schema)
          IngestPipeline.processGroup(spark, raw, label, cfg.pipeline)
          groupPaths.foreach(Sinks.moveFile(spark, _, cfg.processedDir))
        } catch {
          case e: Exception =>
            // failure path (Main.py:160-170): audit FAILURE + quarantine
            // files. Both are BEST-EFFORT — a failed move (e.g. the file
            // vanished) must not kill the stream; the checkpointed source
            // log already guarantees the batch won't be re-delivered.
            val failed = IngestPipeline.BatchResult(Metadata.deriveTableName(label), 0L, 0L, 0L,
              s"FAILURE: ${e.getClass.getName}" + Option(e.getMessage).fold("")(": " + _))
            scala.util.Try(Audit.write(spark, cfg.pipeline.auditDir, failed, label, Instant.now()))
            groupPaths.foreach(p =>
              scala.util.Try(Sinks.moveFile(spark, p, cfg.quarantineFileDir)))
        }
      }
    }
  }

  /** Materialize the directory layout the watcher expects (the
    * reference provisions its bucket folders out of band,
    * config.py bucket paths + Main.py's assumption they exist).
    * Idempotent, and goes through Hadoop FS so the same call works on
    * file:// in tests and s3a:///hdfs:// in production. */
  def bootstrap(spark: SparkSession, cfg: Config): Unit = {
    import org.apache.hadoop.fs.Path
    val dirs = Seq(cfg.dataDir, cfg.schemaDir, cfg.processedDir,
      cfg.quarantineFileDir, cfg.pipeline.auditDir, cfg.pipeline.quarantineDir,
      cfg.checkpointDir)
    dirs.foreach { d =>
      val p = new Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    }
  }

  /** Restart supervisor, re-expressing the reference's forever loop
    * (Main.py:175-186: `while True: start; awaitTermination` with a 10 s
    * sleep on failure) with two deliberate fixes:
    *   - restarts are BOUNDED — an unbounded loop turns a permanent
    *     failure (corrupt checkpoint, revoked credentials) into a silent
    *     hot loop the platform never sees; after `maxRestarts` the error
    *     propagates so systemd/k8s/YARN can act on it;
    *   - the delay backs off exponentially (shares [[graft.pipeline.Retry]]
    *     with every other external-I/O path) instead of a fixed 10 s.
    * Transient failures (executor loss mid-batch, a flaky sink) restart
    * from the checkpoint exactly like the reference; the stream resumes
    * at the first unprocessed file. Returns when the query terminates
    * without error (e.g. an AvailableNow drain finishing). */
  def supervise(
      startQuery: () => StreamingQuery,
      maxRestarts: Int = 5,
      initialDelay: scala.concurrent.duration.FiniteDuration =
        scala.concurrent.duration.DurationInt(10).seconds,
      onRestart: (Throwable, Int) => Unit = (_, _) => ()): Unit =
    graft.pipeline.Retry(
      attempts = maxRestarts + 1, delay = initialDelay, onFailure = onRestart) {
      startQuery().awaitTermination()
    }

  /** Supervised watcher: bootstrap + start + bounded-restart loop — the
    * full Main.py:175-186 entry point in one call. */
  def run(spark: SparkSession, cfg: Config, maxRestarts: Int = 5): Unit = {
    bootstrap(spark, cfg)
    supervise(() => start(spark, cfg), maxRestarts)
  }

  /** Start the watcher (Main.py:178-181). `availableNow = true` drains the
    * current backlog and stops — used by tests and catch-up runs; the
    * default is the reference's fixed processing-time trigger. */
  def start(spark: SparkSession, cfg: Config, availableNow: Boolean = false): StreamingQuery =
    fileArrivals(spark, cfg).writeStream
      .trigger(
        if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(s"${cfg.triggerSeconds} seconds"))
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch(processBatch(spark, cfg) _)
      .start()
}
