package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{IngestPipeline, Validation}

/** End-to-end file-watch ingest: drop the reference fixture into a watched
  * dir, drain with AvailableNow, and check sinks + file moves + replay
  * idempotence of the streaming checkpoint. */
class FileWatchSpec extends SparkSpec {

  private def setup(): (FileWatch.Config, String) = {
    val root = Files.createTempDirectory("graft-watch").toString
    Seq("data", "schema", "processed", "qfiles", "sink", "audit", "quarantine")
      .foreach(d => Files.createDirectories(Paths.get(root, d)))
    Files.copy(
      Paths.get("/root/reference/dataset/Smart_Farming_Crop_Yield_2024.csv"),
      Paths.get(root, "data", "Smart_Farming_Crop_Yield_2024.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(
      Paths.get("/root/reference/schema/Smart_Farming_Crop_Yield_2024.json"),
      Paths.get(root, "schema", "Smart_Farming_Crop_Yield_2024.json"),
      StandardCopyOption.REPLACE_EXISTING)
    val cfg = FileWatch.Config(
      dataDir = s"$root/data",
      schemaDir = s"$root/schema",
      processedDir = s"$root/processed",
      quarantineFileDir = s"$root/qfiles",
      pipeline = IngestPipeline.Config(
        validation = Validation.Config(
          keyFields = Seq("sensor_id", "timestamp", "temperature_C"),
          numericFields = Seq("temperature_C"),
          ranges = Seq(Validation.InRange("temperature_C", -50, 50))),
        sink = IngestPipeline.ParquetSink(s"$root/sink"),
        auditDir = s"$root/audit",
        quarantineDir = s"$root/quarantine"),
      checkpointDir = s"$root/checkpoint")
    (cfg, root)
  }

  test("file arrival → ingest → sinks written → source moved to processed/") {
    val (cfg, root) = setup()
    val q = FileWatch.start(spark, cfg, availableNow = true)
    q.awaitTermination()
    val fact = spark.read.parquet(
      s"$root/sink/public_Smart_Farming_Crop_Yield_2024_transformed")
    assert(fact.count() == 500)
    val audit = spark.read.json(s"$root/audit")
    assert(audit.filter(col("status") === "SUCCESS").count() == 1)
    assert(Files.exists(Paths.get(root, "processed", "Smart_Farming_Crop_Yield_2024.csv")))
    assert(!Files.exists(Paths.get(root, "data", "Smart_Farming_Crop_Yield_2024.csv")))

    // replay: restart on the same checkpoint with no new files — the
    // checkpointed source log must not re-deliver (no duplicate audit)
    val q2 = FileWatch.start(spark, cfg, availableNow = true)
    q2.awaitTermination()
    assert(spark.read.json(s"$root/audit").count() == 1)
  }

  test("reference fixture pair drains to the reference's committed audit outcome") {
    // The strongest reference-parity claim available: the reference repo
    // COMMITS the audit row its own run produced for this exact fixture
    // (code/audit/audit_date=2025-08-19/part-*.json — 500/500/0 SUCCESS).
    // Replay the same two files through the streaming shell end to end —
    // the clean fixture in batch 0, the corrupted " - Copy" (spaced
    // filename, read and moved by its plain path) in batch 1 on
    // the SAME checkpoint — and assert OUR audit numbers equal the
    // committed record, not re-derived expectations, plus the full
    // processed/sink layout.
    val (cfg, root) = setup()
    val q1 = FileWatch.start(spark, cfg, availableNow = true)
    q1.awaitTermination()

    // the committed reference record for the clean fixture
    val ref = spark.read.json("/root/reference/code/audit")
      .filter(col("file_name").endsWith("Smart_Farming_Crop_Yield_2024.csv"))
      .select("total_rows", "good_rows", "bad_rows", "status")
      .head()
    assert((ref.getLong(0), ref.getLong(1), ref.getLong(2), ref.getString(3)) ==
      ((500L, 500L, 0L, "SUCCESS")), s"reference artifact changed: $ref")

    val mine = spark.read.json(s"$root/audit")
      .filter(col("file_name") === "Smart_Farming_Crop_Yield_2024.csv")
      .select("total_rows", "good_rows", "bad_rows", "status")
      .head()
    assert(mine == ref, s"audit outcome diverged from the reference: $mine vs $ref")
    assert(Files.exists(Paths.get(root, "processed", "Smart_Farming_Crop_Yield_2024.csv")))

    // batch 1: the corrupted copy. No schema JSON is registered for it,
    // so it takes the inference fallback and — observable reference
    // behavior, preserved (PipelineSpec golden) — sails through into its
    // own table; the file still completes the processed/ lifecycle.
    Files.copy(
      Paths.get("/root/reference/dataset/Smart_Farming_Crop_Yield_2024 - Copy.csv"),
      Paths.get(root, "data", "Smart_Farming_Crop_Yield_2024 - Copy.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    val q2 = FileWatch.start(spark, cfg, availableNow = true)
    q2.awaitTermination()

    val audit2 = spark.read.json(s"$root/audit")
    assert(audit2.count() == 2, "exactly one audit row per file batch")
    assert(audit2.filter(col("status") === "SUCCESS").count() == 2)
    val copyFact = spark.read.parquet(
      s"$root/sink/public_Smart_Farming_Crop_Yield_2024___Copy_transformed")
    assert(copyFact.count() == 500)
    assert(Files.exists(
      Paths.get(root, "processed", "Smart_Farming_Crop_Yield_2024 - Copy.csv")))
    assert(new java.io.File(s"$root/data").listFiles()
      .forall(!_.getName.endsWith(".csv")), "watched dir not drained")
  }

  test("bootstrap materializes the full directory layout, idempotently") {
    val root = Files.createTempDirectory("graft-boot").toString + "/nested"
    val cfg = FileWatch.Config(
      dataDir = s"$root/data",
      schemaDir = s"$root/schema",
      processedDir = s"$root/processed",
      quarantineFileDir = s"$root/qfiles",
      pipeline = IngestPipeline.Config(
        validation = Validation.Config(Nil, Nil, Nil),
        sink = IngestPipeline.ParquetSink(s"$root/sink"),
        auditDir = s"$root/audit",
        quarantineDir = s"$root/quarantine"),
      checkpointDir = s"$root/checkpoint")
    FileWatch.bootstrap(spark, cfg)
    FileWatch.bootstrap(spark, cfg) // second call must be a no-op, not a crash
    Seq("data", "schema", "processed", "qfiles", "audit", "quarantine", "checkpoint")
      .foreach(d => assert(Files.isDirectory(Paths.get(root, d)), s"missing $d"))
  }

  test("supervisor restarts a failed stream and the retry recovers the data") {
    val (cfg, root) = setup()
    val failFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
    val restarts = new java.util.concurrent.atomic.AtomicInteger(0)
    // first attempt: a stream whose batch throws (simulated sink outage) →
    // awaitTermination rethrows; second attempt: the real pipeline drains
    // the SAME checkpoint and must still see the file (failed batches are
    // not committed to the source log)
    def attempt() =
      if (failFirst.getAndSet(false))
        FileWatch.fileArrivals(spark, cfg).writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", cfg.checkpointDir)
          .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new RuntimeException("simulated sink outage")
          }.start()
      else FileWatch.start(spark, cfg, availableNow = true)
    FileWatch.supervise(attempt _, maxRestarts = 2,
      initialDelay = scala.concurrent.duration.DurationInt(50).millis,
      onRestart = (_, _) => { restarts.incrementAndGet(); () })
    assert(restarts.get() == 1, s"expected exactly one restart, got ${restarts.get()}")
    assert(spark.read.parquet(
      s"$root/sink/public_Smart_Farming_Crop_Yield_2024_transformed").count() == 500)
  }

  test("supervisor gives up after maxRestarts and propagates the failure") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val (cfg, _) = setup()
    def alwaysFail() = {
      attempts.incrementAndGet()
      FileWatch.fileArrivals(spark, cfg).writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cfg.checkpointDir)
        .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new RuntimeException("permanent failure")
        }.start()
    }
    val e = intercept[Exception] {
      FileWatch.supervise(alwaysFail _, maxRestarts = 2,
        initialDelay = scala.concurrent.duration.DurationInt(20).millis)
    }
    assert(attempts.get() == 3, s"expected 3 attempts (1 + 2 restarts), got ${attempts.get()}")
    assert(e.getMessage.contains("permanent failure") ||
      e.getCause != null && e.getCause.getMessage.contains("permanent failure"))
  }
}
