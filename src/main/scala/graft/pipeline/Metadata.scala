package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lineage metadata + row fingerprinting, re-expressing
  * /root/reference/code/helpers.py:208-221.
  *
  * Deviation (documented fix, SURVEY.md §4.3): the reference hashes AFTER
  * overwriting `ingestion_ts`, so `row_hash` embeds a wall-clock value and
  * can never serve as an idempotence key. Here the hash covers the DATA
  * columns only (stable across replays), which is what makes the JDBC
  * upsert in [[Sinks]] idempotent.
  */
object Metadata {

  val FilePathCol = "file_path"
  val IngestionTsCol = "ingestion_ts"
  val RowHashCol = "row_hash"

  /** SHA-256 over the given columns: cast to string, null→"NULL",
    * joined with "||" (helpers.py:212-215). */
  def rowHash(cols: Seq[String]): Column =
    sha2(concat_ws("||", cols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*), 256)

  /** Append file_path, ingestion_ts and a replay-stable row_hash.
    * `ingestedAt` is an [[graft.expressions.InstantRef]] column:
    * [[IngestPipeline.processGroup]] passes its group's instant, so the
    * fact, quarantine and aggregate rows share one `ingestion_ts`. */
  def addLineage(df: DataFrame, filePath: String, ingestedAt: Column): DataFrame = {
    val dataCols = df.columns.toSeq
      .filterNot(Set(FilePathCol, IngestionTsCol, RowHashCol))
    df.withColumn(FilePathCol, lit(filePath))
      .withColumn(IngestionTsCol, ingestedAt)
      .withColumn(RowHashCol, rowHash(dataCols))
  }

  /** Postgres-safe table name from a file name: `<schema>.<base>` with
    * `-`/space → `_` (helpers.py:218-221). */
  def deriveTableName(fileName: String, schema: String = "public"): String = {
    val base = fileName.split('/').last.split('.').head
    s"$schema.$base".replace("-", "_").replace(" ", "_")
  }
}
