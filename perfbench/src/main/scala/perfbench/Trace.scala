package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}
import org.apache.spark.scheduler._

/** One traced interval. `group` ties together every span of one request,
  * micro-batch or job pass; `parent` is the span that caused it (0 = root). */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, group: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store, written out once when the run ends. Disabled, it
  * records nothing and costs one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  def add(name: String, startNs: Long, endNs: Long, parent: Long, group: String): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.synchronized(spans += Span(id, name, startNs, endNs, parent, group))
      id
    }

  /** Time `body` as a span; the body receives the span's own id so nested
    * calls can name it as their parent. */
  def span[T](name: String, parent: Long, group: String)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally {
        val t1 = System.nanoTime()
        spans.synchronized(spans += Span(id, name, t0, t1, parent, group))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Adds one span per Spark job of `group` under `root`, then re-parents
    * the group's spans ([[reparent]]). */
  def addJobs(l: EngineListener, root: Long, group: String): Unit = {
    val clock = Clock.epochOffsetNs
    l.jobs.values.filter(_.group == group).foreach(j => add(
      s"job:${if (j.site.isEmpty) "engine" else j.site}",
      j.startMs * 1000000L - clock, j.endMs * 1000000L - clock, root, group))
    reparent(group, root)
  }

  /** Gives every span of `group` other than `root` the innermost span of
    * the group that encloses it in time and can cause work (not a job or
    * a filesystem call); `root` when none does. */
  def reparent(group: String, root: Long): Unit = spans.synchronized {
    val mine = spans.zipWithIndex.filter { case (s, _) => s.group == group && s.id != root }
    val causes = mine.map(_._1).filterNot(s => s.name.startsWith("job:") ||
      TracedFs.Watched.exists(_._2 == s.name))
    mine.foreach { case (s, i) =>
      val p = causes.filter(c => c.id != s.id && c.startNs <= s.startNs && c.endNs >= s.endNs &&
        c.durNs > s.durNs).minByOption(_.durNs).map(_.id).getOrElse(root)
      spans(i) = s.copy(parent = p)
    }
  }

  /** Self time per span: its duration minus the union of its children. */
  def selfNs: Map[Long, Long] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val cover = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - Intervals.unionNs(cover))
    }.toMap
  }

  def flush(path: java.nio.file.Path): Unit = {
    val base = all.map(_.startNs).minOption.getOrElse(0L)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.id).foreach { s =>
      w.write(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${
        (s.startNs - base) / 1e6},"end_ms":${(s.endNs - base) / 1e6},"parent":${
        s.parent},"group":${Json.str(s.group)}}""")
      w.newLine()
    } finally w.close()
  }
}

object Clock {
  /** Subtract from an epoch-nanosecond time to get the `System.nanoTime`
    * scale spans use (listener and progress times are epoch milliseconds). */
  lazy val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark engine counters for the traced run, from the public listener
  * API. Jobs are attributed to the request or micro-batch that ran them
  * (the `perfbench.group` local property, or the streaming batch id) and
  * to the engine function that planned them ([[SiteTagger]]). */
final class EngineListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, group: String,
      site: String, var inputBytes: Long = 0L, var outputBytes: Long = 0L)
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  var tasks = 0L; var taskNs = 0L; var gcMs = 0L; var inputBytes = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var outputBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("perfbench.group")))
      .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("batch-" + _))
      .getOrElse("")
    val site = p.flatMap(x => Option(x.getProperty(SiteTagger.Key))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, group, site)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
  def snapshot: (Long, Long, Long, Long, Long, Long, Long, Int) = synchronized(
    (tasks, taskNs, gcMs, inputBytes, shuffleWriteBytes, spillBytes, outputBytes, jobs.size))
}

/** A planner strategy that plans nothing: while tracing, it tags the
  * planning thread with the innermost engine function on its stack, as a
  * local property every job of that query inherits. A streaming query
  * stamps all its jobs with the `start()` call site, so the jobs' own call
  * sites cannot tell the pipeline's stages apart. */
object SiteTagger extends org.apache.spark.sql.execution.SparkStrategy {
  val Key = "perfbench.site"

  def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    if (TracedFs.on) org.apache.spark.sql.SparkSession.getActiveSession.foreach(
      _.sparkContext.setLocalProperty(Key, site(Thread.currentThread.getStackTrace)))
    Nil
  }

  /** `Object.method` of the innermost `graft.` frame, skipping the retry
    * wrapper; "" when the engine is not on the stack. */
  def site(st: Array[StackTraceElement]): String =
    st.iterator.filter(e => e.getClassName.startsWith("graft.") &&
        !e.getClassName.startsWith("graft.pipeline.Retry")).map { e =>
      val obj = e.getClassName.split('.').last.split('$').filter(_.nonEmpty).mkString(".")
      val m = e.getMethodName
      val method = if (m.contains("$anonfun$")) m.split("\\$anonfun\\$")(1).takeWhile(_ != '$') else m
      s"$obj.$method"
    }.nextOption().getOrElse("")
}

/** Local filesystem that, while tracing, times driver-side calls made
  * under the engine functions that have no Spark job of their own
  * (schema lookup, source-file moves). Installed as the `file` scheme
  * only in traced runs. */
class TracedFs extends LocalFileSystem {
  private def timed[T](body: => T): T = if (!TracedFs.on) body else {
    val t0 = System.nanoTime()
    try body finally TracedFs.record(System.nanoTime() - t0)
  }
  override def getFileStatus(f: Path): FileStatus = timed(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    timed(super.open(f, bufferSize))
  override def rename(src: Path, dst: Path): Boolean = timed(super.rename(src, dst))
  override def mkdirs(f: Path): Boolean = timed(super.mkdirs(f))
  override def listStatus(f: Path): Array[FileStatus] = timed(super.listStatus(f))
}

object TracedFs {
  /** Frames whose filesystem time is reported, by metric name. */
  val Watched: Seq[(String, String)] = Seq(
    "graft.pipeline.SchemaRegistry$.load" -> "SchemaRegistry.load",
    "graft.pipeline.Sinks$.moveFile" -> "Sinks.move")
  @volatile var on = false
  private val ns = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** (name, start, end) of each watched call, for spans. */
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  private def record(dt: Long): Unit = {
    val st = Thread.currentThread.getStackTrace
    Watched.find { case (frame, _) =>
      st.exists(e => s"${e.getClassName}.${e.getMethodName}" == frame)
    }.foreach { case (_, name) =>
      ns.computeIfAbsent(name, _ => new AtomicLong(0)).addAndGet(dt)
      val now = System.nanoTime()
      calls.add((name, now - dt, now))
    }
  }
  def totalNs(name: String): Long = Option(ns.get(name)).map(_.get).getOrElse(0L)
}
