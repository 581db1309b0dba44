package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{IngestPipeline, Validation}
import graft.streaming.FileWatch

/** The paper's write path: a backlog of smart-farming CSV/JSON files
  * drained by `FileWatch.start(availableNow = true)` into a parquet sink,
  * one file per trigger, as a closed loop. The backlog arrives in blocks
  * of four files, one of each kind, with a skewed size spread: the main
  * CSV feed under its registered schema (3,200 rows), a registered JSON
  * feed (1,600), and CSV (800) and JSON (400) files that take the
  * inference fallback, so 80 % of rows have a registered schema. The seed
  * sets the arrival order and every row. One operation is one block; the
  * traced pass drains as many blocks as the untraced one. */
final class Ingest(spark: SparkSession, o: Opts) extends Workload {
  private val root = o.workDir.resolve("ingest")
  /** (csv, registered schema, rows) per file of a block. */
  private val Slots = IndexedSeq((true, true, 3200), (false, true, 1600),
    (true, false, 800), (false, false, 400))
  private val MaxFilesPerTrigger = 1

  final case class FileGen(name: String, text: String, expect: Farm.Expect)

  def block(b: Int): IndexedSeq[FileGen] = {
    val r = Gen.rng(o.seed, 1000L + b)
    Gen.shuffle(Slots, r).zipWithIndex.map {
      case ((csv, reg, rows), i) =>
        val (text, exp) = Farm.file(rows, csv, reg, r)
        val stem = if (reg) Farm.RegisteredStem else Farm.InferredStem
        FileGen(f"$stem.b$b%04d_$i.${if (csv) "csv" else "json"}", text, exp)
    }
  }

  /** The warm-up backlog: a small file of the main feed and one that
    * takes the inference fallback, so both readers and both schema paths
    * are compiled before the measured drain. */
  private def warmBlock(): IndexedSeq[FileGen] = {
    val r = Gen.rng(o.seed, 500L)
    Seq((true, true), (false, false)).map { case (csv, reg) =>
      val (text, exp) = Farm.file(100, csv, reg, r)
      val stem = if (reg) Farm.RegisteredStem else Farm.InferredStem
      FileGen(s"$stem.warm.${if (csv) "csv" else "json"}", text, exp)
    }.toIndexedSeq
  }

  private var genNs = 0L
  private var drained = 0 // blocks written to the watched directory
  private var expect = Farm.NoRows
  private var sourceBytes = 0L
  private val landed = java.security.MessageDigest.getInstance("SHA-256")

  def generationSeconds: Double = genNs / 1e9

  private def config(dir: Path, tracer: Tracer): FileWatch.Config = {
    def d(s: String) = dir.resolve(s).toString
    FileWatch.Config(
      dataDir = d("data"), schemaDir = d("schema"), processedDir = d("processed"),
      quarantineFileDir = d("quarantine_files"),
      pipeline = IngestPipeline.Config(
        validation = Validation.Config(
          keyFields = Seq("sensor_id", "timestamp", "temperature_C"),
          numericFields = Seq("temperature_C"),
          ranges = Seq(Validation.InRange("temperature_C", -50, 50))),
        sink = TimedSink(IngestPipeline.ParquetSink(d("sink")), tracer),
        auditDir = d("audit"), quarantineDir = d("quarantine")),
      checkpointDir = d("checkpoint"),
      maxFilesPerTrigger = MaxFilesPerTrigger)
  }

  /** Writes files in arrival order: each one's mtime a second after the
    * last, so the file source hands them out in a fixed order. */
  private def land(dir: Path, files: Seq[FileGen]): Unit = {
    Files.createDirectories(dir.resolve("schema"))
    Files.write(dir.resolve("schema").resolve(s"${Farm.RegisteredStem}.json"),
      Farm.schema.json.getBytes(UTF_8))
    val base = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (f, i) =>
      val p = dir.resolve("data").resolve(f.name)
      Files.createDirectories(p.getParent)
      Files.write(p, f.text.getBytes(UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(base + i * 1000L))
    }
  }

  private def drain(cfg: FileWatch.Config): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val q = FileWatch.start(spark, cfg, availableNow = true)
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  def prepare(): Unit = ()

  def setup(): Double = {
    val dir = o.workDir.resolve("ingest-warm")
    val g0 = System.nanoTime()
    val files = warmBlock()
    genNs += System.nanoTime() - g0
    val t0 = System.nanoTime()
    val cfg = config(dir, new Tracer(false))
    FileWatch.bootstrap(spark, cfg)
    land(dir, files)
    drain(cfg)
    (System.nanoTime() - t0) / 1e9
  }

  /** Per measured pass: batch latencies (trigger to commit, which covers
    * the audit write and the file moves) and the drain's wall time. */
  private val batches = mutable.ArrayBuffer.empty[(Boolean, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private var drainNs = Map(false -> 0L, true -> 0L)
  private var rowsLanded = Map(false -> 0L, true -> 0L)
  private var passSource = Map(false -> 0L, true -> 0L)

  def measure(untilNs: Long, maxOps: Int, tracer: Tracer): Pass = {
    val cfg = config(root, tracer)
    FileWatch.bootstrap(spark, cfg)
    var blocks = 0; var wall = 0L; var files = 0L; var rows = 0L; var bytes = 0L
    val start = System.nanoTime()
    while (Main.another(blocks, maxOps, start, untilNs)) {
      val g0 = System.nanoTime()
      val fs = block(drained)
      genNs += System.nanoTime() - g0
      land(root, fs)
      fs.foreach { f => landed.update(f.name.getBytes(UTF_8)); landed.update(f.text.getBytes(UTF_8)) }
      drained += 1
      fs.foreach { f =>
        expect = expect + f.expect
        rows += f.expect.rows - f.expect.allNull
        bytes += f.text.getBytes(UTF_8).length
      }
      files += fs.size
      val t0 = System.nanoTime()
      val ps = drain(cfg)
      wall += System.nanoTime() - t0
      ps.foreach(p => batches += (tracer.enabled -> p))
      blocks += 1
    }
    drainNs += tracer.enabled -> wall
    rowsLanded += tracer.enabled -> rows
    passSource += tracer.enabled -> bytes
    sourceBytes += bytes
    Pass(blocks, files, 0L, wall)
  }

  def inputs(): (Seq[(String, Long)], String) =
    (Seq("blocks" -> drained.toLong, "files" -> drained * Slots.size.toLong,
      "rows" -> expect.rows, "defective_rows" -> expect.bad, "all_null_rows" -> expect.allNull,
      "source_bytes" -> sourceBytes),
      landed.clone().asInstanceOf[java.security.MessageDigest].digest().map(b => f"${b & 0xff}%02x").mkString)

  def regenerateHash(): String = Gen.sha256((0 until drained).iterator.flatMap(block)
    .flatMap(f => Iterator(f.name.getBytes(UTF_8), f.text.getBytes(UTF_8))))

  def outcome(untraced: Pass, traced: Option[(Pass, Tracer, EngineListener)]): Outcome = {
    val lat = batches.filter(!_._1).map(_._2.durationMs.get("triggerExecution").toDouble / 1000)
    val (tail, pct) = Stats.tail(lat.toSeq)
    val rowsPerS = rowsLanded(false) / (drainNs(false) / 1e9)

    // ---- output checks over everything drained (both passes) ----
    val audit = spark.read.json(root.resolve("audit").toString)
    val a = audit.agg(
      count(lit(1)), sum(when(col("status") === "SUCCESS", 1).otherwise(0)),
      coalesce(sum("good_rows"), lit(0L)), coalesce(sum("bad_rows"), lit(0L))).head()
    val (groups, success, good, bad) = (a.getLong(0), a.getLong(1), a.getLong(2), a.getLong(3))
    val filesDrained = untraced.attempted + traced.map(_._1.attempted).getOrElse(0L)
    // one quarantine table per feed, each date-partitioned
    val reasons = Files.list(root.resolve("quarantine")).iterator().asScala.toSeq
      .map(t => spark.read.json(t.toString).select("error_reason"))
      .reduceOption(_ union _).toSeq
      .flatMap(_.groupBy("error_reason").count().collect())
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fact = spark.read.parquet(root.resolve("sink").toString + "/*_transformed").count()
    val expGood = expect.rows - expect.allNull - expect.bad
    val checks = Seq(
      ("SUCCESS audit groups = groups attempted", success == filesDrained && groups == filesDrained,
        s"$success SUCCESS of $groups audit rows, $filesDrained attempted"),
      ("good + bad = generated rows - all-null rows", good + bad == expect.rows - expect.allNull,
        s"${good + bad} vs ${expect.rows - expect.allNull}"),
      ("quarantine reasons = injected defects", reasons == expect.reasons,
        s"got ${reasons.toSeq.sorted.mkString(", ")}; expected ${expect.reasons.toSeq.sorted.mkString(", ")}"),
      ("fact rows = good rows", fact == good && good == expGood, s"fact $fact, audit good $good, expected $expGood"))

    val endToEnd = Seq(
      "p50_s" -> Metric(Stats.median(lat.toSeq), "s", lat.size, "micro-batch: trigger to audit committed and files moved"),
      "throughput" -> Metric(rowsPerS, "1/s", lat.size, "input rows landed in fact or quarantine per second of drain"))
    val extra = Seq(
      "write_p50_s" -> Metric(Stats.median(lat.toSeq), "s", lat.size,
        lat.map(x => f"$x%.2f").mkString("batches ", " ", "")),
      "write_tail_s" -> Metric(tail, "s", lat.size, s"p$pct, ${lat.size} samples"),
      "rows_per_s" -> Metric(rowsPerS, "rows/s", lat.size))
    Outcome(endToEnd, extra, traced.map(layers).getOrElse(Layers.empty), checks,
      filesDrained, groups - success)
  }

  private def layers(t: (Pass, Tracer, EngineListener)): Seq[(String, Metric)] = {
    val (pass, tracer, l) = t
    val ps = batches.filter(_._1).map(_._2).toSeq
    val n = math.max(1, ps.size).toDouble
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble / 1000).getOrElse(0.0)
    // both passes share one checkpoint, so batch ids are unique in the run
    val batchGroups = ps.map(p => s"batch-${p.batchId}").toSet
    val jobs = l.jobs.values.filter(j => batchGroups(j.group)).toSeq
    def jobS(sites: String*): Double =
      jobs.filter(j => sites.contains(j.site)).map(j => (j.endMs - j.startMs) / 1000.0).sum / n
    val fsS = (k: String) => TracedFs.totalNs(k) / 1e9 / n
    def spanS(k: String) = tracer.all.filter(_.name == k).map(_.durNs).sum / 1e9 / n
    val src = passSource(true).toDouble
    // spans: one root per micro-batch, with the engine's own phases, its
    // jobs, the sink wrapper's calls and the watched filesystem calls
    val clock = Clock.epochOffsetNs
    ps.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - clock
      val end = start + (d(p, "triggerExecution") * 1e9).toLong
      val g = s"batch-${p.batchId}"
      val root = tracer.add("FileWatch.batch", start, end, 0L, g)
      tracer.add("FileWatch.listing", start, start + (d(p, "latestOffset") * 1e9).toLong, root, g)
      tracer.add("FileWatch.commit", end - (d(p, "commitOffsets") * 1e9).toLong, end, root, g)
      TracedFs.calls.asScala.filter(c => c._2 >= start && c._3 <= end)
        .foreach(c => tracer.add(c._1, c._2, c._3, root, g))
      tracer.addJobs(l, root, g)
    }
    val in = jobs.map(_.inputBytes).sum.toDouble
    val out = jobs.map(_.outputBytes).sum.toDouble
    Layers.fill(Seq(
      "FileWatch.batches" -> ps.size.toDouble,
      "FileWatch.files_per_batch" -> ps.map(_.numInputRows).sum / n,
      "FileWatch.listing_s" -> ps.map(d(_, "latestOffset")).sum / n,
      "FileWatch.commit_s" -> ps.map(p => d(p, "walCommit") + d(p, "commitOffsets")).sum / n,
      "FileWatch.self_s" -> ps.map(p => d(p, "triggerExecution") - d(p, "addBatch") -
        d(p, "latestOffset") - d(p, "walCommit") - d(p, "commitOffsets")).sum / n,
      "FileWatch.arrivals_s" -> jobS("FileWatch.processBatch"),
      "SchemaRegistry.load_s" -> fsS("SchemaRegistry.load"),
      "IngestPipeline.read_s" -> jobS("IngestPipeline.readBatchFiles"),
      "Validation.split_s" -> jobS("IngestPipeline.processGroup"),
      "Sinks.quarantine_s" -> jobS("Sinks.writeQuarantine"),
      "Sinks.fact_s" -> spanS("Sinks.fact"),
      "StatsAggregation.agg_s" -> spanS("StatsAggregation.agg"),
      "Audit.write_s" -> jobS("Sinks.writeAudit"),
      "Sinks.move_s" -> fsS("Sinks.move"),
      "pipeline.jobs_per_batch" -> jobs.size / n,
      "pipeline.read_amplification" -> (if (src > 0) in / src else 0.0),
      "pipeline.bytes_written_per_input_byte" -> (if (src > 0) out / src else 0.0)),
      pass, tracer, l, untracedWallNs = drainNs(false), ops = ps.size)
  }
}

/** The benchmark-side wrapper around the pipeline's sink trait: times
  * each fact and aggregate write as a span of the current micro-batch. */
final case class TimedSink(inner: IngestPipeline.Sink, tracer: Tracer) extends IngestPipeline.Sink {
  private def group = Option(org.apache.spark.SparkContext.getOrCreate().getLocalProperty(
    "streaming.sql.batchId")).map("batch-" + _).getOrElse("")
  def writeFact(df: DataFrame, table: String): Unit =
    tracer.span("Sinks.fact", 0L, group)(_ => inner.writeFact(df, table))
  def writeAgg(df: DataFrame, table: String): Unit =
    tracer.span("StatsAggregation.agg", 0L, group)(_ => inner.writeAgg(df, table))
}
