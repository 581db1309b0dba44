package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

/** Audit-trail records (one line per processed file group per batch),
  * re-expressing /root/reference/code/utils.py:171-197.
  *
  * The store is write-only: nothing in the pipeline reads it back, so it
  * records outcomes but does not make a replayed micro-batch idempotent.
  */
final case class AuditRecord(
    table_name: String,
    file_name: String,
    total_rows: Long,
    good_rows: Long,
    bad_rows: Long,
    status: String)

object Audit {
  private val schema = Encoders.product[AuditRecord].schema

  /** Appends one JSON line at `<auditDir>/audit_date=<day of at>/part-<uuid>.json`,
    * the date-partitioned layout `spark.read.json(auditDir)` reads back
    * (utils.py:195-196). One Hadoop FS create, so no Spark job; works on
    * file:// and s3a:// alike. */
  def write(
      spark: SparkSession,
      auditDir: String,
      result: IngestPipeline.BatchResult,
      fileName: String,
      at: Instant): Unit = {
    val rec = AuditRecord(result.table, fileName, result.totalRows,
      result.goodRows, result.badRows, result.status)
    val line = (new GenericRowWithSchema(rec.productIterator.toArray, schema).json + "\n")
      .getBytes(UTF_8)
    val path = new Path(
      s"$auditDir/audit_date=${Sinks.partitionDate(spark, at)}/part-${UUID.randomUUID()}.json")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Retry() {
      val out = fs.create(path, true)
      try out.write(line) finally out.close()
    }
  }
}
