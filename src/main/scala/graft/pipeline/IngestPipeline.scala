package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.InstantRef

/** Per-batch ingest orchestration, re-expressing the reference's
  * `process_batch` (/root/reference/code/Main.py:55-170) with the
  * SURVEY.md §4.3 fixes:
  *   1. the validated frame is cached, and one pass both fills the cache
  *      and observes the total and bad counts; the writes then read the
  *      cache, not the source (the reference re-scans the source up to
  *      ~10× per batch for its counts/collects);
  *   2. lineage row_hash excludes volatile columns so the fact write can
  *      be an idempotent upsert;
  *   3. the group's rows carry one ingestion instant, handed to generated
  *      code by reference ([[graft.expressions.InstantRef]]), so a
  *      micro-batch over an already-seen schema compiles nothing new.
  *
  * The fact/agg sink is pluggable: parquet for tests and lakehouse-style
  * deployments, JDBC (fact upsert, aggregate append) for the reference's
  * Postgres topology.
  */
object IngestPipeline {

  /** Where good rows and aggregates go. */
  trait Sink {
    def writeFact(df: DataFrame, table: String): Unit
    def writeAgg(df: DataFrame, table: String): Unit
  }

  final case class ParquetSink(baseDir: String) extends Sink {
    def writeFact(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Append).parquet(s"$baseDir/${table.replace('.', '_')}")
    def writeAgg(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Append).parquet(s"$baseDir/${table.replace('.', '_')}")
  }

  /** Fact rows upsert on `row_hash`, so a replayed micro-batch adds no
    * duplicate; aggregate rows append. */
  final case class JdbcSink(cfg: Sinks.JdbcConfig) extends Sink {
    def writeFact(df: DataFrame, table: String): Unit =
      Sinks.jdbcUpsert(df, table, cfg)
    def writeAgg(df: DataFrame, table: String): Unit =
      Sinks.jdbcAppend(df, table, cfg)
  }

  final case class Config(
      validation: Validation.Config,
      sink: Sink,
      auditDir: String,
      quarantineDir: String,
      groupCol: String = "sensor_id",
      dataSource: String = "object_store")

  final case class BatchResult(
      table: String,
      totalRows: Long,
      goodRows: Long,
      badRows: Long,
      status: String)

  /** Read one format group of files with an optional explicit schema
    * (utils.py:136-165): CSV is header-aware; JSON is line-delimited;
    * missing schema falls back to inference. */
  def readBatchFiles(
      spark: SparkSession,
      paths: Seq[String],
      format: String,
      schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val reader = spark.read
    val withSchema = schema.map(reader.schema).getOrElse(
      reader.option("inferSchema", "true"))
    format.toLowerCase match {
      case "csv"  => withSchema.option("header", "true").csv(paths: _*)
      case "json" => withSchema.json(paths: _*)
      case other  => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** Group a batch's file paths by extension — driver-side, tiny
    * cardinality (replaces the reference's RDD groupBy, Main.py:76-80). */
  def groupByExtension(paths: Seq[String]): Map[String, Seq[String]] =
    paths.groupBy(p => p.split('.').last.toLowerCase)

  /** Run the clean → validate → enrich → persist → aggregate → audit
    * pipeline for one already-read file group. Spark jobs: one pass that
    * fills the cache and counts, then one write per non-empty output
    * (quarantine, fact, and the stats aggregate's two stages); the audit
    * line is a plain file create. */
  def processGroup(
      spark: SparkSession,
      raw: DataFrame,
      fileLabel: String,
      cfg: Config): BatchResult = {
    val table = Metadata.deriveTableName(fileLabel)
    val at = Instant.now()
    val ingestedAt = InstantRef.column(at)
    val cleaned = Cleaning.clean(raw)
    val (good, bad, annotated) = Validation.split(cleaned, cfg.validation)
    try {
      // one job, with no shuffle: fills the cache and counts both sides
      // as the rows go by
      val counts = Observation()
      annotated.observe(counts, count(lit(1)).as("total"),
          count(col(Validation.ErrorCol)).as("bad"))
        .write.format("noop").mode(SaveMode.Overwrite).save()
      val total = counts.get("total").asInstanceOf[Long]
      val badCount = counts.get("bad").asInstanceOf[Long]
      val goodCount = total - badCount
      if (badCount > 0)
        Sinks.writeQuarantine(
          bad.withColumn(Metadata.FilePathCol, lit(fileLabel))
             .withColumn(Metadata.IngestionTsCol, ingestedAt),
          cfg.quarantineDir, table, Sinks.partitionDate(spark, at))
      if (goodCount > 0) {
        cfg.sink.writeFact(Metadata.addLineage(good, fileLabel, ingestedAt),
          s"${table}_transformed")
        StatsAggregation.aggregate(good, cfg.groupCol, cfg.dataSource,
            s"${table}_agg", ingestedAt)
          .foreach(cfg.sink.writeAgg(_, s"${table}_agg"))
      }
      val result = BatchResult(table, total, goodCount, badCount, "SUCCESS")
      Audit.write(spark, cfg.auditDir, result, fileLabel, at)
      result
    } finally annotated.unpersist()
  }
}
