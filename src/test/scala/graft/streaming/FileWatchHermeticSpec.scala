package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{FarmFixture, IngestPipeline}

/** The streaming shell end to end on generated smart-farming files: a
  * `FileWatch` drain, a restart on the same checkpoint, and file names
  * that a URI-encoding path source would mangle. The twins of
  * FileWatchSpec's tests that need no external data. */
class FileWatchHermeticSpec extends SparkSpec {

  private def config(root: Path, maxFilesPerTrigger: Int = 1000): FileWatch.Config = {
    def d(s: String) = root.resolve(s).toString
    FileWatch.Config(
      dataDir = d("data"), schemaDir = d("schema"), processedDir = d("processed"),
      quarantineFileDir = d("qfiles"),
      pipeline = IngestPipeline.Config(
        validation = FarmFixture.validation,
        sink = IngestPipeline.ParquetSink(d("sink")),
        auditDir = d("audit"), quarantineDir = d("quarantine")),
      checkpointDir = d("checkpoint"),
      maxFilesPerTrigger = maxFilesPerTrigger)
  }

  private def land(root: Path, name: String, text: String): Unit =
    FarmFixture.land(root.resolve("data"), root.resolve("schema"), name, text)

  private def drain(cfg: FileWatch.Config): Unit =
    FileWatch.start(spark, cfg, availableNow = true).awaitTermination()

  private def audit(root: Path) = spark.read.json(root.resolve("audit").toString)
    .select("table_name", "file_name", "total_rows", "good_rows", "bad_rows", "status")
    .collect().map(_.toSeq).sortBy(_(1).toString).toSeq

  private def dataLeft(root: Path): Seq[String] =
    new java.io.File(root.resolve("data").toString).listFiles().map(_.getName).toSeq

  test("drain lands CSV and JSON groups, moves them, and a restart adds no audit line") {
    val root = Files.createTempDirectory("graft-watch-h")
    land(root, "farm_a.csv", FarmFixture.csv(FarmFixture.rows(20, perDefect = 1, allNull = 1)))
    land(root, "farm_b.json", FarmFixture.json(FarmFixture.rows(12, from = 200)))
    val cfg = config(root)
    FileWatch.bootstrap(spark, cfg)
    drain(cfg)
    // both files arrive in one micro-batch and form one group per format
    assert(audit(root) == Seq(
      Seq("public.farm_a", "farm_a.csv", 25L, 20L, 5L, "SUCCESS"),
      Seq("public.farm_b", "farm_b.json", 12L, 12L, 0L, "SUCCESS")))
    assert(spark.read.parquet(root.resolve("sink/public_farm_a_transformed").toString)
      .count() == 20)
    assert(spark.read.parquet(root.resolve("sink/public_farm_b_transformed").toString)
      .count() == 12)
    assert(dataLeft(root).isEmpty)
    assert(Seq("farm_a.csv", "farm_b.json").forall(f => Files.exists(root.resolve("processed").resolve(f))))

    // the checkpointed source log does not re-deliver on restart
    drain(cfg)
    assert(audit(root).size == 2)

    // and the restarted stream still picks up new arrivals
    land(root, "farm_c.csv", FarmFixture.csv(FarmFixture.rows(8, from = 300)))
    drain(cfg)
    assert(audit(root).map(_(1)) == Seq("farm_a.csv", "farm_b.json", "farm_c.csv"))
    assert(dataLeft(root).isEmpty)
  }

  test("a spaced name and a literal %20 name are read, audited and moved as plain paths") {
    val root = Files.createTempDirectory("graft-watch-names")
    val names = Seq("farm week 1.csv", "farm%20week.csv")
    names.zipWithIndex.foreach { case (n, i) =>
      land(root, n, FarmFixture.csv(FarmFixture.rows(10, perDefect = 1, from = 100 * i)))
    }
    val cfg = config(root, maxFilesPerTrigger = 1)
    FileWatch.bootstrap(spark, cfg)
    drain(cfg)
    assert(audit(root) == Seq(
      Seq("public.farm_week_1", "farm week 1.csv", 15L, 10L, 5L, "SUCCESS"),
      Seq("public.farm%20week", "farm%20week.csv", 15L, 10L, 5L, "SUCCESS")))
    assert(dataLeft(root).isEmpty)
    assert(names.forall(n => Files.exists(root.resolve("processed").resolve(n))))
    assert(spark.read.parquet(root.resolve("sink").resolve("public_farm_week_1_transformed")
      .toString).filter(col("file_path") === "farm week 1.csv").count() == 10)
  }

  test("fileArrivals yields each file's plain Hadoop path") {
    val root = Files.createTempDirectory("graft-arrivals")
    val names = Seq("a b.csv", "a%20b.csv", "plain.json")
    names.foreach(n => land(root, n, FarmFixture.csv(FarmFixture.rows(1))))
    val cfg = config(root)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    FileWatch.fileArrivals(spark, cfg).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r => seen.add(r.getString(0)))
      }.start().awaitTermination()
    val want = names.map(n => new org.apache.hadoop.fs.Path(
      "file:" + root.resolve("data").resolve(n)).toString).toSet
    assert(seen.toArray.toSet == want)
    assert(seen.toArray.map(_.toString.split('/').last).toSet == names.toSet)
  }

  /** A stream over `cfg`'s arrivals whose every batch throws `msg`. */
  private def failing(cfg: FileWatch.Config, msg: String) =
    FileWatch.fileArrivals(spark, cfg).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new RuntimeException(msg)
      }.start()

  test("supervisor restarts a failed stream and the retry recovers the data") {
    val root = Files.createTempDirectory("graft-watch-restart")
    land(root, "farm_restart.csv", FarmFixture.csv(FarmFixture.rows(20)))
    val cfg = config(root)
    val failFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
    val restarts = new java.util.concurrent.atomic.AtomicInteger(0)
    // first attempt: a stream whose batch throws (simulated sink outage) →
    // awaitTermination rethrows; second attempt: the real pipeline drains
    // the SAME checkpoint and must still see the file (failed batches are
    // not committed to the source log)
    def attempt() =
      if (failFirst.getAndSet(false)) failing(cfg, "simulated sink outage")
      else FileWatch.start(spark, cfg, availableNow = true)
    FileWatch.supervise(attempt _, maxRestarts = 2,
      initialDelay = scala.concurrent.duration.DurationInt(50).millis,
      onRestart = (_, _) => { restarts.incrementAndGet(); () })
    assert(restarts.get() == 1, s"expected exactly one restart, got ${restarts.get()}")
    assert(spark.read.parquet(root.resolve("sink/public_farm_restart_transformed").toString)
      .count() == 20)
    assert(spark.streams.active.isEmpty)
  }

  test("supervisor gives up after maxRestarts and propagates the failure") {
    val root = Files.createTempDirectory("graft-watch-giveup")
    land(root, "farm_giveup.csv", FarmFixture.csv(FarmFixture.rows(5)))
    val cfg = config(root)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def alwaysFail() = { attempts.incrementAndGet(); failing(cfg, "permanent failure") }
    val e = intercept[Exception] {
      FileWatch.supervise(alwaysFail _, maxRestarts = 2,
        initialDelay = scala.concurrent.duration.DurationInt(20).millis)
    }
    assert(attempts.get() == 3, s"expected 3 attempts (1 + 2 restarts), got ${attempts.get()}")
    assert(e.getMessage.contains("permanent failure") ||
      e.getCause != null && e.getCause.getMessage.contains("permanent failure"))
    assert(spark.streams.active.isEmpty)
  }
}
