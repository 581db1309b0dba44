package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType}

import graft.SparkSpec

/** The write path end to end on generated smart-farming files
  * ([[FarmFixture]]): one `processGroup` per file under its registered
  * schema, with exact counts, reasons and sink layouts. The twins of
  * PipelineSpec's golden tests that need no external data, plus pins on
  * what a micro-batch costs: the classes it compiles and the jobs it runs. */
class IngestHermeticSpec extends SparkSpec {

  private final case class Run(result: IngestPipeline.BatchResult, root: Path, table: String) {
    def dir(s: String): String = root.resolve(s).toString
    def fact: String = dir(s"sink/${table.replace('.', '_')}_transformed")
    def agg: String = dir(s"sink/${table.replace('.', '_')}_agg")
    def quarantine: String = dir(s"quarantine/$table")
  }

  private def run(name: String, text: String,
      root: Path = Files.createTempDirectory("graft-hermetic")): Run = {
    val file = FarmFixture.land(root.resolve("data"), root.resolve("schema"), name, text)
    val cfg = IngestPipeline.Config(
      validation = FarmFixture.validation,
      sink = IngestPipeline.ParquetSink(root.resolve("sink").toString),
      auditDir = root.resolve("audit").toString,
      quarantineDir = root.resolve("quarantine").toString)
    val schema = SchemaRegistry.load(spark, root.resolve("schema").toString, file.toString)
    assert(schema.contains(FarmFixture.schema))
    val raw = IngestPipeline.readBatchFiles(spark, Seq(file.toString), "csv", schema)
    val res = IngestPipeline.processGroup(spark, raw, name, cfg)
    Run(res, root, Metadata.deriveTableName(name))
  }

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  test("clean registered-schema CSV: all rows good, facts and stats written, no quarantine dir") {
    val r = run("farm_clean.csv", FarmFixture.csv(FarmFixture.rows(40)))
    assert(r.result == IngestPipeline.BatchResult("public.farm_clean", 40, 40, 0, "SUCCESS"))
    val fact = spark.read.parquet(r.fact)
    assert(fact.count() == 40)
    assert(fact.columns.toSeq == FarmFixture.schema.fieldNames.toSeq ++
      Seq("file_path", "ingestion_ts", "row_hash"))
    assert(fact.select("row_hash").distinct().count() == 40)
    assert(fact.filter(col("file_path") =!= "farm_clean.csv").isEmpty)
    val agg = spark.read.parquet(r.agg)
    assert(agg.count() == FarmFixture.Sensors)
    val numerics = FarmFixture.schema.fields.count(f =>
      Set[DataType](FloatType, DoubleType, IntegerType)(f.dataType))
    assert(agg.columns.count(_.startsWith("stddev_")) == numerics)
    assert(agg.filter(col("file_name") =!= "public.farm_clean_agg").isEmpty)
    // temperatures of sensor 0 are rows 0, 5, ..., 35: 15.5 + i % 20
    val want = (0 until 40 by FarmFixture.Sensors).map(i => 15.5 + i % 20).sum / 8
    val got = agg.filter(col("sensor_id") === "SENS0000").select("avg_temperature_C").head()
    assert(math.abs(got.getDouble(0) - want) < 1e-9)
    assert(!exists(r.dir("quarantine")), "an all-good file must not create a quarantine dir")
  }

  test("each defect family is quarantined under its first-error-wins reason") {
    val r = run("farm_defects.csv",
      FarmFixture.csv(FarmFixture.rows(30, perDefect = 2, allNull = 3)))
    // the all-null rows are cleaned away before counting
    assert(r.result == IngestPipeline.BatchResult("public.farm_defects", 40, 30, 10, "SUCCESS"))
    val q = spark.read.json(r.quarantine)
    val reasons = q.groupBy("error_reason").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(reasons == FarmFixture.reasons(2))
    assert(q.filter(col("file_path") =!= "farm_defects.csv").isEmpty)
    assert(q.select("quarantine_date").distinct().count() == 1)
    assert(spark.read.parquet(r.fact).count() == 30)
  }

  test("an all-bad file writes quarantine and audit only: no fact or aggregate rows") {
    val r = run("farm_bad.csv", FarmFixture.csv(FarmFixture.rows(0, perDefect = 3)))
    assert(r.result == IngestPipeline.BatchResult("public.farm_bad", 15, 0, 15, "SUCCESS"))
    assert(spark.read.json(r.quarantine).count() == 15)
    assert(!exists(r.fact) && !exists(r.agg), "no fact or aggregate output for zero good rows")
    assert(spark.read.json(r.dir("audit")).select("good_rows", "bad_rows").head().toSeq ==
      Seq(0L, 15L))
  }

  test("a file of all-null rows counts 0/0/0 and writes only its audit line") {
    val r = run("farm_empty.csv", FarmFixture.csv(FarmFixture.rows(0, allNull = 4)))
    assert(r.result == IngestPipeline.BatchResult("public.farm_empty", 0, 0, 0, "SUCCESS"))
    assert(!exists(r.dir("sink")) && !exists(r.dir("quarantine")))
    assert(spark.read.json(r.dir("audit")).count() == 1)
  }

  test("the audit line is one JSON file at audit_date=<day>/part-<uuid>.json") {
    val r = run("farm_audit.csv", FarmFixture.csv(FarmFixture.rows(6, perDefect = 1)))
    val days = new java.io.File(r.dir("audit")).listFiles().map(_.getName)
    assert(days.length == 1 && days.head.matches("audit_date=\\d{4}-\\d{2}-\\d{2}"))
    val parts = new java.io.File(r.dir("audit"), days.head).listFiles()
      .map(_.getName).filterNot(_.startsWith("."))
    assert(parts.length == 1 && parts.head.matches("part-[0-9a-f-]{36}\\.json"), parts.toSeq)
    val audit = spark.read.json(r.dir("audit"))
    assert(audit.columns.toSet == Set("table_name", "file_name", "total_rows", "good_rows",
      "bad_rows", "status", "audit_date"))
    val row = audit.select("table_name", "file_name", "total_rows", "good_rows",
      "bad_rows", "status").head()
    assert(row.toSeq == Seq("public.farm_audit", "farm_audit.csv", 11L, 6L, 5L, "SUCCESS"))
  }

  test("row hash is replay-stable and order-insensitive to partitioning") {
    val root = Files.createTempDirectory("graft-hermetic-hash")
    val file = FarmFixture.land(root.resolve("data"), root.resolve("schema"), "farm_hash.csv",
      FarmFixture.csv(FarmFixture.rows(40, perDefect = 1)))
    val df = spark.read.option("header", "true").csv(file.toString)
    val at = graft.expressions.InstantRef.column(java.time.Instant.now())
    val h1 = Metadata.addLineage(df, "f", at).select("row_hash").collect().map(_.getString(0)).sorted
    val h2 = Metadata.addLineage(df.repartition(7), "f", at)
      .select("row_hash").collect().map(_.getString(0)).sorted
    assert(h1.sameElements(h2))
  }

  test("a shifted row under inference fallback sails through (reference behavior)") {
    // no schema is registered for this file, so it is read with
    // inferSchema: the shifted row still satisfies every rule
    val root = Files.createTempDirectory("graft-hermetic-infer")
    val data = Files.createDirectories(root.resolve("data"))
    val file = Files.write(data.resolve("farm_shifted.csv"), FarmFixture.csv(
      FarmFixture.rows(30) :+ FarmFixture.defectRow(FarmFixture.ColumnShift, 30))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schemaDir = Files.createDirectories(root.resolve("schema")).toString
    val schema = SchemaRegistry.load(spark, schemaDir, file.toString)
    assert(schema.isEmpty)
    val cfg = IngestPipeline.Config(
      validation = FarmFixture.validation,
      sink = IngestPipeline.ParquetSink(root.resolve("sink").toString),
      auditDir = root.resolve("audit").toString,
      quarantineDir = root.resolve("quarantine").toString)
    val raw = IngestPipeline.readBatchFiles(spark, Seq(file.toString), "csv", schema)
    val res = IngestPipeline.processGroup(spark, raw, "farm_shifted.csv", cfg)
    assert(res.goodRows + res.badRows == res.totalRows)
  }

  test("fact, quarantine and aggregate rows of one group share one ingestion_ts") {
    val r = run("farm_ts.csv", FarmFixture.csv(FarmFixture.rows(20, perDefect = 1)))
    // to the microsecond: the JSON quarantine store keeps micros too
    val stamps = Seq(spark.read.parquet(r.fact), spark.read.json(r.quarantine),
        spark.read.parquet(r.agg))
      .map(_.select(col("ingestion_ts").cast("timestamp")))
      .reduce(_ union _).distinct().collect()
    assert(stamps.length == 1, stamps.toSeq)
    assert(!stamps.head.isNullAt(0))
  }

  test("a second group over a same-schema file compiles no new class") {
    val rows = (from: Int) => FarmFixture.csv(FarmFixture.rows(20, perDefect = 1, from = from))
    run("farm_codegen_a.csv", rows(0))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run("farm_codegen_b.csv", rows(100))
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the second micro-batch recompiled generated code")
  }

  test("one group with good and bad rows runs within its Spark job budget") {
    // the counting pass that fills the cache, the quarantine write, the
    // fact write and the stats aggregate's two stages (a map stage and the
    // write, under adaptive execution); the audit line is no job
    val budget = 5
    run("farm_jobs_warm.csv", FarmFixture.csv(FarmFixture.rows(20, perDefect = 1)))
    val jobs = jobsDuring {
      run("farm_jobs.csv", FarmFixture.csv(FarmFixture.rows(20, perDefect = 1, from = 50)))
    }
    assert(jobs <= budget, s"$jobs jobs for one group, budget $budget")
  }

  private val ProbeKey = "graft.test.jobProbe"

  /** Spark jobs started by `body`. Its jobs carry a local property; a
    * marker job after it shows when the listener bus has delivered every
    * earlier job start. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(ProbeKey))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(ProbeKey, tag)
      try body finally sc.setLocalProperty(ProbeKey, null)
      sc.setLocalProperty(ProbeKey, s"$tag-done")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(ProbeKey, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$tag-done") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$tag-done"), "listener bus did not deliver the marker job")
      seen.asScala.count(_ == tag)
    } finally sc.removeSparkListener(listener)
  }
}
