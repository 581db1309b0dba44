package graft.pipeline

import java.sql.DriverManager
import java.time.{Instant, LocalDate}
import java.util.Properties

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DateType, DecimalType,
  DoubleType, FloatType, IntegerType, LongType, ShortType, TimestampType}

/** Persistence surface, re-expressing the reference's sinks
  * (SURVEY.md §2.2): JDBC fact/agg writes, the date-partitioned JSON
  * quarantine store, and the processed/quarantine file mover. The audit
  * store is [[Audit]].
  *
  * The JDBC fact write adds what the reference lacks (SURVEY.md
  * §3.3/§4.3-3): an idempotent upsert keyed on `row_hash`, so a replayed
  * micro-batch cannot double-write. Aggregate rows append, as the
  * reference's do.
  */
object Sinks {

  final case class JdbcConfig(
      url: String,
      user: String,
      password: String,
      batchSize: Int = 5000,
      driverClass: String = "org.postgresql.Driver") {
    def properties: Properties = {
      val p = connectionProperties
      p.setProperty("driver", driverClass)
      p.setProperty("rewriteBatchedStatements", "true")
      p.setProperty("batchsize", batchSize.toString)
      p
    }

    /** Properties for a raw `DriverManager` connection: credentials ONLY.
      * `driver`/`batchsize`/`rewriteBatchedStatements` are Spark
      * reader/writer options, not JDBC driver properties — lenient engines
      * (Derby, Postgres) ignore the extras but strict ones (DuckDB)
      * reject unknown keys outright, so the executor-side connect path
      * must never see them. */
    def connectionProperties: Properties = {
      val p = new Properties()
      p.setProperty("user", user)
      p.setProperty("password", password)
      p
    }
  }

  /** How [[jdbcUpsert]] phrases "insert unless the key already exists".
    *
    * [[PostgresOnConflict]] is the production dialect for the reference's
    * Postgres target: `ON CONFLICT ... DO NOTHING` is atomic under
    * concurrent writers (parallel partitions racing on the same key cannot
    * both insert).
    *
    * [[AnsiNotExists]] is plain SQL92 (`INSERT ... SELECT ... WHERE NOT
    * EXISTS`), runnable on any JDBC database — it is what the Derby-backed
    * tests execute. It is transaction-safe within a partition (statements
    * in a batch see earlier inserts of the same transaction) but NOT atomic
    * across concurrent writers; use it for tests and single-writer jobs. */
  sealed trait UpsertDialect
  case object PostgresOnConflict extends UpsertDialect
  /** @param dualTable a one-row system table for the `SELECT ... FROM`
    *                  (Derby/DB2: SYSIBM.SYSDUMMY1). */
  final case class AnsiNotExists(dualTable: String = "SYSIBM.SYSDUMMY1")
      extends UpsertDialect

  /** JDBC type names for the explicit parameter casts [[AnsiNotExists]]
    * needs (Derby rejects untyped `?` in a SELECT list). */
  private def jdbcTypeName(dt: DataType): String = dt match {
    case LongType          => "BIGINT"
    case IntegerType       => "INTEGER"
    case ShortType         => "SMALLINT"
    case DoubleType        => "DOUBLE"
    case FloatType         => "REAL"
    case BooleanType       => "BOOLEAN"
    case TimestampType     => "TIMESTAMP"
    case DateType          => "DATE"
    case d: DecimalType    => s"DECIMAL(${d.precision},${d.scale})"
    case _                 => "VARCHAR(32672)"
  }

  /** Reference-parity JDBC append (utils.py:203-205). */
  def jdbcAppend(df: DataFrame, table: String, cfg: JdbcConfig): Unit =
    Retry() {
      df.write.mode(SaveMode.Append).jdbc(cfg.url, table, cfg.properties)
    }

  /** Idempotent upsert: insert-unless-key-exists executed per partition —
    * replays become no-ops instead of duplicate rows (or PK violations, as
    * the reference's DDL would produce). Executors connect directly (no
    * driver funnel), batched like the reference's writer. The phrasing is
    * dialect-dependent ([[UpsertDialect]]); Postgres `ON CONFLICT` by
    * default, ANSI `NOT EXISTS` for anything else (incl. the Derby tests). */
  def jdbcUpsert(df: DataFrame, table: String, cfg: JdbcConfig,
      conflictCol: String = Metadata.RowHashCol,
      dialect: UpsertDialect = PostgresOnConflict): Unit = {
    val cols = df.columns
    val keyIdx = cols.indexOf(conflictCol)
    require(keyIdx >= 0, s"conflict column $conflictCol not in ${cols.mkString(",")}")
    val insertSql = upsertSql(df, table, conflictCol, dialect)
    val extraKeyParam = dialect != PostgresOnConflict
    val url = cfg.url; val props = cfg.connectionProperties; val batch = cfg.batchSize
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val st = conn.prepareStatement(insertSql)
          var n = 0
          rows.foreach { r =>
            cols.indices.foreach(i => st.setObject(i + 1, r.get(i)))
            if (extraKeyParam) st.setObject(cols.length + 1, r.get(keyIdx))
            st.addBatch(); n += 1
            if (n % batch == 0) st.executeBatch()
          }
          st.executeBatch(); conn.commit()
        } finally conn.close()
      }
    }
  }

  /** The per-row idempotent-insert statement [[jdbcUpsert]] executes —
    * exposed so tests can pin the production (Postgres) text as a golden. */
  def upsertSql(df: DataFrame, table: String, conflictCol: String,
      dialect: UpsertDialect): String = {
    val cols = df.columns
    val keyIdx = cols.indexOf(conflictCol)
    val colList = cols.map(quoteIdent).mkString(", ")
    dialect match {
      case PostgresOnConflict =>
        s"""INSERT INTO $table ($colList)
           |VALUES (${cols.map(_ => "?").mkString(", ")})
           |ON CONFLICT (${quoteIdent(conflictCol)}) DO NOTHING""".stripMargin
      case AnsiNotExists(dual) =>
        // Derby rejects untyped ? in a SELECT list, so each parameter is
        // cast to the JDBC type derived from the DataFrame schema
        val casts = df.schema.fields
          .map(f => s"CAST(? AS ${jdbcTypeName(f.dataType)})").mkString(", ")
        val keyType = jdbcTypeName(df.schema.fields(keyIdx).dataType)
        s"""INSERT INTO $table ($colList)
           |SELECT $casts FROM $dual
           |WHERE NOT EXISTS (SELECT 1 FROM $table
           |  WHERE ${quoteIdent(conflictCol)} = CAST(? AS $keyType))""".stripMargin
    }
  }

  /** SQL identifier quoting — column names may contain `%` etc.
    * (FIXTURES.md §1.1). */
  def quoteIdent(name: String): String = "\"" + name.replace("\"", "\"\"") + "\""

  /** The `yyyy-MM-dd` partition value of the audit and quarantine
    * stores for an instant, in the session time zone (the day
    * `date_format(current_timestamp(), "yyyy-MM-dd")` would give). */
  def partitionDate(spark: SparkSession, at: Instant): String =
    LocalDate.ofInstant(at,
      DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))).toString

  /** Quarantine store: bad rows + quarantine_date partition
    * (helpers.py:229-244). Timestamps keep microseconds, as the parquet
    * fact and aggregate stores do (Spark's default JSON format keeps
    * milliseconds), so one group's `ingestion_ts` reads back equal in
    * every store. */
  def writeQuarantine(bad: DataFrame, quarantineDir: String, tableName: String,
      date: String): Unit =
    Retry() {
      bad.withColumn("quarantine_date", lit(date))
        .write.mode(SaveMode.Append)
        .partitionBy("quarantine_date")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(s"$quarantineDir/$tableName")
    }

  /** Move a source file to processed/ or quarantine/ (utils.py:48-78) via
    * Hadoop FS — works for file:// and s3a:// alike. A missing source
    * returns false immediately (already moved / vanished) instead of
    * burning the retry budget. */
  def moveFile(spark: SparkSession, src: String, destDir: String): Boolean = {
    val srcPath = new Path(src)
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(srcPath)) false
    else Retry() {
      val dest = new Path(destDir, srcPath.getName)
      fs.mkdirs(new Path(destDir))
      fs.rename(srcPath, dest)
    }
  }
}
