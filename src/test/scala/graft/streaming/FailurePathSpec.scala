package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{FarmFixture, IngestPipeline, Validation}

/** The failure branch of the micro-batch loop: a group that cannot be read
  * must write a FAILURE audit record and leave the stream able to process
  * subsequent batches — never crash the query. */
class FailurePathSpec extends SparkSpec {

  test("unreadable group → FAILURE audit, no exception escapes processBatch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fail").toString
    Seq("schema", "processed", "qfiles", "sink", "audit", "quarantine", "data")
      .foreach(d => Files.createDirectories(Paths.get(root, d)))
    val cfg = FileWatch.Config(
      dataDir = s"$root/data",
      schemaDir = s"$root/schema",
      processedDir = s"$root/processed",
      quarantineFileDir = s"$root/qfiles",
      pipeline = IngestPipeline.Config(
        validation = Validation.Config(),
        sink = IngestPipeline.ParquetSink(s"$root/sink"),
        auditDir = s"$root/audit",
        quarantineDir = s"$root/quarantine"),
      checkpointDir = s"$root/checkpoint")
    // a batch referencing a file that no longer exists (e.g. deleted
    // between listing and processing)
    val ghost = Seq(s"$root/data/ghost.csv").toDF("file_path")
    FileWatch.processBatch(spark, cfg)(ghost, 0L) // must not throw
    val audit = spark.read.json(s"$root/audit")
    assert(audit.filter(col("status").startsWith("FAILURE")).count() == 1)
    // the line names the table the group would have gone to, and the
    // error by class and message
    val row = audit.select("table_name", "file_name", "status").head()
    assert(row.getString(0) == "public.ghost" && row.getString(1) == "ghost.csv")
    assert(row.getString(2).matches("(?s)FAILURE: org\\.apache\\.spark\\.\\S+Exception: .*ghost\\.csv.*"),
      row.getString(2))
  }

  test("a failure without a message audits the exception class, never FAILURE: null") {
    val root = Files.createTempDirectory("graft-fail-null").toString
    val cfg = FileWatch.Config(
      dataDir = s"$root/data",
      schemaDir = s"$root/schema",
      processedDir = s"$root/processed",
      quarantineFileDir = s"$root/qfiles",
      pipeline = IngestPipeline.Config(
        validation = FarmFixture.validation,
        sink = new IngestPipeline.Sink {
          def writeFact(df: DataFrame, table: String): Unit = throw new IllegalStateException()
          def writeAgg(df: DataFrame, table: String): Unit = ()
        },
        auditDir = s"$root/audit",
        quarantineDir = s"$root/quarantine"),
      checkpointDir = s"$root/checkpoint")
    val file = FarmFixture.land(Paths.get(root, "data"), Paths.get(root, "schema"),
      "farm-feed 7.csv", FarmFixture.csv(FarmFixture.rows(5)))
    import spark.implicits._
    FileWatch.processBatch(spark, cfg)(Seq(file.toString).toDF("file_path"), 0L)
    val row = spark.read.json(s"$root/audit").select("table_name", "status").head()
    assert(row.getString(0) == "public.farm_feed_7")
    assert(row.getString(1) == "FAILURE: java.lang.IllegalStateException")
    assert(Files.exists(Paths.get(root, "qfiles", "farm-feed 7.csv")))
  }

  test("moveFile on a missing source returns false fast (no retry storm)") {
    val t0 = System.nanoTime()
    val moved = graft.pipeline.Sinks.moveFile(spark, "/tmp/definitely-missing-xyz.csv", "/tmp")
    assert(!moved)
    assert((System.nanoTime() - t0) / 1e9 < 2.0, "missing-file path waited on retries")
  }
}
