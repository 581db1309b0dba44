package graft.streaming

import java.net.{InetSocketAddress, Socket, URI}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.SparkSpec
import graft.pipeline.{Audit, IngestPipeline, Sinks, Validation}

/** Executes the reference's OBJECT-STORE file lifecycle (utils.py:14-46
  * bucket provisioning + utils.py:48-78 move-to-processed/quarantine,
  * boto3 against MinIO) on a REAL S3 endpoint through s3a — the same
  * availability-gated pattern as PostgresServerSpec: every missing
  * prerequisite CANCELS the test visibly (assume), never silently
  * passes, and the body is the production code path, not a mock.
  *
  * The repo's lifecycle operators (FileWatch.bootstrap, Sinks.moveFile,
  * Audit.write) are deliberately Hadoop-FS-generic — the identical
  * calls run on file:// in FailurePathSpec/FileWatchSpec and on
  * s3a://hdfs:// in production; this spec is the proof on the actual
  * wire target instead of the local filesystem.
  *
  * Sandbox prerequisites (all absent in the offline build container,
  * so this spec shows as CANCELED there — that is the documented
  * status, not a pass):
  *   - the s3a connector on the classpath (hadoop-aws + its AWS SDK
  *     bundle; the container ships Spark without them and has no
  *     artifact egress to add them),
  *   - a reachable S3 endpoint (MinIO: `minio server <dir>`), default
  *     http://127.0.0.1:9000, override via GRAFT_S3_ENDPOINT,
  *   - credentials via GRAFT_S3_ACCESS_KEY / GRAFT_S3_SECRET_KEY
  *     (default minioadmin/minioadmin — MinIO's dev default),
  *   - an EXISTING bucket named by GRAFT_S3_BUCKET (default
  *     `graft-smoke`): s3a cannot create buckets, matching the
  *     reference, whose bucket also pre-exists (config.py) while
  *     utils.py provisions only the folder keys inside it.
  */
class S3ObjectStoreSpec extends SparkSpec {

  private val endpoint =
    sys.env.getOrElse("GRAFT_S3_ENDPOINT", "http://127.0.0.1:9000")
  private val accessKey = sys.env.getOrElse("GRAFT_S3_ACCESS_KEY", "minioadmin")
  private val secretKey = sys.env.getOrElse("GRAFT_S3_SECRET_KEY", "minioadmin")
  private val bucket = sys.env.getOrElse("GRAFT_S3_BUCKET", "graft-smoke")

  private def endpointReachable: Boolean = {
    val u = URI.create(endpoint)
    // a portless URL means the SCHEME default (443/80 — real S3 and
    // any standard-port MinIO), not MinIO's dev default: falling back
    // to 9000 made the gate cancel against exactly the
    // production-shaped endpoints it exists to prove
    val port =
      if (u.getPort > 0) u.getPort
      else if (u.getScheme == "https") 443
      else 80
    val s = new Socket()
    try { s.connect(new InetSocketAddress(u.getHost, port), 1500); true }
    catch { case _: Exception => false }
    finally s.close()
  }

  test("reference file lifecycle runs end-to-end on a real S3 endpoint via s3a") {
    assume(
      try { Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem"); true }
      catch { case _: ClassNotFoundException => false },
      "hadoop-aws (s3a connector) not on the classpath — the offline " +
        "sandbox ships Spark without it; provide hadoop-aws + the AWS SDK " +
        "bundle to run this smoke")
    assume(endpointReachable,
      s"no S3 endpoint at $endpoint — start MinIO (`minio server <dir>`) " +
        "or set GRAFT_S3_ENDPOINT")

    // the hadoopConfiguration is SHARED session state: save the keys we
    // touch and restore them in the outer finally so later suites in
    // this JVM never inherit a MinIO endpoint or test credentials
    val conf = spark.sparkContext.hadoopConfiguration
    val touched = Seq("fs.s3a.endpoint", "fs.s3a.access.key",
      "fs.s3a.secret.key", "fs.s3a.path.style.access",
      "fs.s3a.connection.ssl.enabled")
    val saved = touched.map(k => k -> Option(conf.get(k)))
    conf.set("fs.s3a.endpoint", endpoint)
    conf.set("fs.s3a.access.key", accessKey)
    conf.set("fs.s3a.secret.key", secretKey)
    conf.set("fs.s3a.path.style.access", "true") // MinIO has no DNS buckets
    conf.set("fs.s3a.connection.ssl.enabled",
      String.valueOf(endpoint.startsWith("https")))
    try {

    val bucketRoot = new Path(s"s3a://$bucket/")
    val fs: FileSystem =
      try bucketRoot.getFileSystem(conf)
      catch { case e: Exception =>
        cancel(s"cannot open s3a filesystem against $endpoint: ${e.getMessage}")
      }
    assume(
      try fs.exists(bucketRoot)
      catch { case _: Exception => false },
      s"bucket s3a://$bucket does not exist or credentials are wrong — " +
        "create it first (s3a cannot create buckets; the reference's " +
        "bucket likewise pre-exists)")

    val base = s"s3a://$bucket/graft-lifecycle-${java.util.UUID.randomUUID()}"
    try {
      // 1. bucket-folder provisioning (utils.py:14-46) — the SAME
      // bootstrap call the file:// tests run
      val cfg = FileWatch.Config(
        dataDir = s"$base/landing",
        schemaDir = s"$base/schemas",
        processedDir = s"$base/processed",
        quarantineFileDir = s"$base/quarantine_files",
        pipeline = IngestPipeline.Config(
          validation = Validation.Config(),
          sink = IngestPipeline.ParquetSink(s"$base/sink"),
          auditDir = s"$base/audit",
          quarantineDir = s"$base/quarantine"),
        checkpointDir = s"$base/checkpoint")
      FileWatch.bootstrap(spark, cfg)
      assert(fs.exists(new Path(cfg.dataDir)) &&
        fs.exists(new Path(cfg.processedDir)) &&
        fs.exists(new Path(cfg.quarantineFileDir)),
        "bootstrap must provision every lifecycle folder")

      // 2. a landed object
      val landed = new Path(s"${cfg.dataDir}/reading.csv")
      val out = fs.create(landed, true)
      out.write("sensor_id,temperature_C\ns1,21.5\n"
        .getBytes(StandardCharsets.UTF_8))
      out.close()

      // 3. move to processed/ (utils.py:48-78): succeeds once, reports
      // already-moved on replay — the at-least-once trigger contract
      assert(Sinks.moveFile(spark, landed.toString, cfg.processedDir),
        "first move must succeed")
      assert(!fs.exists(landed), "source object must be gone after the move")
      assert(fs.exists(new Path(s"${cfg.processedDir}/reading.csv")),
        "object must land under processed/")
      assert(!Sinks.moveFile(spark, landed.toString, cfg.processedDir),
        "replaying the move must report already-moved, not fail")

      // 4. the quarantine leg of the same move
      val bad = new Path(s"${cfg.dataDir}/corrupt.csv")
      val out2 = fs.create(bad, true)
      out2.write("not,a,reading\n".getBytes(StandardCharsets.UTF_8))
      out2.close()
      assert(Sinks.moveFile(spark, bad.toString, cfg.quarantineFileDir))
      assert(fs.exists(new Path(s"${cfg.quarantineFileDir}/corrupt.csv")))

      // 5. the date-partitioned JSON audit append (utils.py:195-196):
      // one object created under audit_date=<day>/
      Audit.write(spark, cfg.pipeline.auditDir,
        IngestPipeline.BatchResult("public.reading", 1L, 1L, 0L, "SUCCESS"),
        "reading.csv", java.time.Instant.now())
      val parts = fs.globStatus(
        new Path(s"${cfg.pipeline.auditDir}/audit_date=*/part-*"))
      assert(parts != null && parts.nonEmpty,
        "audit append must produce a date-partitioned JSON object")
    } finally {
      fs.delete(new Path(base), true)
      // evict the cached s3a instance (keyed by scheme+authority, so a
      // later suite touching this bucket would otherwise reuse it with
      // the test credentials baked in); file:// instances untouched
      fs.close()
    }
    } finally {
      // restore the shared configuration (also runs when an inner
      // assume/cancel unwinds after the keys were set)
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
