package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line options; `run.py` passes the benchmark contract's four
  * plus the work directory and core count it chose. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    workDir: Path, cores: Int)

/** A measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long = 1, note: String = "")

/** What one measured pass did: the operations it completed (the unit the
  * traced pass repeats), their failures, and its wall time. */
final case class Pass(ops: Int, attempted: Long, failed: Long, wallNs: Long)

/** Everything a workload reports after its passes and checks. */
final case class Outcome(endToEnd: Seq[(String, Metric)], extra: Seq[(String, Metric)],
    perLayer: Seq[(String, Metric)], checks: Seq[(String, Boolean, String)],
    attempted: Long, failed: Long)

/** One workload: deterministic inputs, a repeatable set-up, a closed-loop
  * measured pass, and output checks. */
trait Workload {
  /** Generates the inputs set-up needs (the rest is generated as the
    * measured passes consume it); all of it is a function of the seed. */
  def prepare(): Unit
  /** Seconds spent generating inputs so far; excluded from every metric. */
  def generationSeconds: Double
  /** Counts and SHA-256 of every input the run used. */
  def inputs(): (Seq[(String, Long)], String)
  /** SHA-256 of the same inputs generated again, for the determinism check. */
  def regenerateHash(): String
  /** The set-up (warm-up, index build), once per run in a fresh JVM, as
    * a user starting the system pays it; returns its wall seconds. */
  def setup(): Double
  /** Runs whole operations ([[Main.another]]) and reports them. */
  def measure(untilNs: Long, maxOps: Int, tracer: Tracer): Pass
  def outcome(untraced: Pass, traced: Option[(Pass, Tracer, EngineListener)]): Outcome
}

object Main {
  /** Whether a measured pass that started at `startNs` starts another
    * operation: at least one, then more while below `maxOps` and while one
    * more of the mean length so far would end by `untilNs`
    * (`Long.MaxValue`: no deadline). */
  def another(done: Int, maxOps: Int, startNs: Long, untilNs: Long): Boolean =
    done < maxOps && (done == 0 || untilNs == Long.MaxValue || {
      val now = System.nanoTime()
      now + (now - startNs) / done <= untilNs
    })

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work-dir")).toAbsolutePath,
      need("cores").toInt)
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"perfbench-${o.workload}")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.workDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[TracedFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM (kernel high-water mark), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.workDir)
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl: Workload = o.workload match {
      case "ingest" => new Ingest(spark, o)
      case "search" => new Search(spark, o)
      case "curate" => new Curate(spark, o)
      case other => sys.error(s"unknown workload $other (ingest, search, curate)")
    }
    wl.prepare()
    val setupWorkS = wl.setup()
    val setupS = sessionS + setupWorkS

    val untraced = wl.measure(System.nanoTime() + o.seconds * 1000000000L,
      Int.MaxValue, new Tracer(false))
    val traced = if (!o.trace) None else {
      val listener = new EngineListener
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(true)
      TracedFs.on = true
      spark.experimental.extraStrategies = Seq(SiteTagger)
      val p = try wl.measure(Long.MaxValue, untraced.ops, tracer) finally {
        TracedFs.on = false
        spark.experimental.extraStrategies = Nil
        org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      Some((p, tracer, listener))
    }
    val out = wl.outcome(untraced, traced)
    traced.foreach(_._2.flush(o.workDir.getParent.resolve(s"trace-${o.workload}-${o.seed}.jsonl")))
    val (counts, hash) = wl.inputs()
    val sameBytes = wl.regenerateHash() == hash
    val genS = wl.generationSeconds
    val checks = out.checks :+ ("inputs byte-identical when regenerated", sameBytes, hash.take(16))
    val failedChecks = checks.count(!_._2)
    val attempted = out.attempted + checks.size
    val failed = out.failed + failedChecks
    val rss = peakRssMb()

    val endToEnd = Seq("setup_s" -> Metric(setupS, "s", 1,
        f"session start $sessionS%.3f s + set-up $setupWorkS%.3f s")) ++ out.endToEnd
    val all = endToEnd ++ out.extra ++ Seq(
      "peak_rss_mb" -> Metric(rss, "MB", 1, "JVM VmHWM"),
      "failed_share" -> Metric(failed.toDouble / attempted, "ratio", attempted))

    println(s"[perfbench] workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} cores=${o.cores} (local[${o.cores}], " +
      s"shuffle partitions ${o.cores}, one client thread)")
    println(f"[perfbench] inputs: ${counts.map { case (k, v) => s"$k=$v" }.mkString(" ")} " +
      f"sha256=$hash generation_s=$genS%.3f (not in any metric)")
    all.foreach { case (k, m) =>
      println(f"[perfbench] $k%-22s ${fmt(m.value)}%14s ${m.unit}%-7s n=${m.n}" +
        (if (m.note.nonEmpty) s"  (${m.note})" else ""))
    }
    checks.foreach { case (k, ok, detail) =>
      println(s"[perfbench] check ${if (ok) "PASS" else "FAIL"}: $k ($detail)")
    }
    if (o.trace) out.perLayer.foreach { case (k, m) =>
      println(f"[perfbench] layer $k%-40s ${fmt(m.value)}%14s ${m.unit}%-7s" +
        (if (m.note.nonEmpty) s"  ${m.note}" else ""))
    }
    println(s"[perfbench] verdict: ${if (failed == 0) "correct" else "INCORRECT"} " +
      s"($failed failed of $attempted attempted)")
    val reported = if (o.trace) out.perLayer else endToEnd
    val metrics = reported.map { case (k, m) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}"
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
    System.out.flush()
    spark.stop()
  }

  def fmt(d: Double): String = if (d.isNaN) "nan" else f"$d%.6g"
}

/** The class-data training run that `run.py` makes after each build:
  * every workload's inputs and set-up in one JVM, which writes the
  * classes it loaded to the archive later runs start from. */
object ClassArchive {
  def main(args: Array[String]): Unit = {
    val o = Main.parse(Array("--workload", "archive", "--seed", "0", "--seconds", "0",
      "--trace", "0") ++ args)
    Files.createDirectories(o.workDir)
    val spark = Main.session(o)
    Seq[Workload](new Ingest(spark, o), new Search(spark, o), new Curate(spark, o)).foreach { w =>
      w.prepare(); w.setup()
    }
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt; val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest whole percentile with at least ten samples above it,
    * with that percentile; the maximum (p100) below 20 samples, where
    * that percentile would not reach the median. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.size
    val p = (99 to 50 by -1).find(p => n - math.ceil(n * p / 100.0) >= 10)
    p match {
      case Some(pp) => (quantile(xs, pp / 100.0), pp)
      case None => (if (xs.isEmpty) Double.NaN else xs.max, 100)
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
