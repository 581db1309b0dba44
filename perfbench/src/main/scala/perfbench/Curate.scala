package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, TextAnalysis}

/** The LLM-data curation batch job over an sf0.1-shaped corpus: 2,500
  * base documents with sf0.1's length and vocabulary statistics (half its
  * count, so that one pass fits a run) scaled up 2x ScaleUp-style with a
  * copy whose alphabet is rotated, then 5 % exact duplicates (verbatim text, new id) and 5 %
  * near duplicates (one word inserted) of seed-chosen documents. One pass
  * runs the fixed ordered job, each stage forced by a `noop` write; one
  * operation is one pass. */
final class Curate(spark: SparkSession, o: Opts) extends Workload {
  private val BaseDocs = 2500
  private val Copies = 2
  private val DupShare = 0.05
  /** The set-up's warm-up pass runs over the first 1,000 documents: enough
    * rows for the per-row kernels to compile, at little more than a pass's
    * fixed per-job cost. */
  private val WarmDocs = 1000
  private val MaxHamming = 3
  private val dir = o.workDir.resolve("curate")
  private var genNs = 0L
  private var corpus: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var digest = ""
  private var exactDups = 0L
  private var nearDups = 0L

  def generationSeconds: Double = genNs / 1e9

  private def generateAll(): (IndexedSeq[Gen.Doc], Long, Long) = {
    val r = Gen.rng(o.seed, 31)
    val base = (0 until BaseDocs).map(i => Gen.doc(i.toLong, r))
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val copies = (1 until Copies).flatMap { k =>
      val rot = alpha.drop(k) + alpha.take(k)
      base.map(d => d.copy(id = d.id + k * 100000000L,
        text = d.text.map(c => if (c >= 'a' && c <= 'z') rot(c - 'a') else c)))
    }
    val scaled = base ++ copies
    val nDup = math.round(scaled.size * DupShare).toInt
    val exact = (0 until nDup).map { j =>
      scaled(r.nextInt(scaled.size)).copy(id = 900000000L + j)
    }
    val near = (0 until nDup).map { j =>
      val d = scaled(r.nextInt(scaled.size))
      val ws = d.text.split(' ')
      val at = r.nextInt(ws.length + 1)
      d.copy(id = 950000000L + j, text = (ws.take(at) ++ Seq("dup") ++ ws.drop(at)).mkString(" "))
    }
    (Gen.shuffle(scaled ++ exact ++ near, r), nDup.toLong, nDup.toLong)
  }

  private def rows(ds: Seq[Gen.Doc]) =
    ds.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).asJava

  def prepare(): Unit = {
    val g0 = System.nanoTime()
    val (c, e, n) = generateAll()
    corpus = c; exactDups = e; nearDups = n
    digest = Gen.sha256(corpus.iterator.map(Gen.docBytes))
    spark.createDataFrame(rows(corpus), Gen.docSchema)
      .write.parquet(dir.resolve("corpus/documents.parquet").toString)
    spark.createDataFrame(rows(corpus.take(WarmDocs)), Gen.docSchema)
      .write.parquet(dir.resolve("warm/documents.parquet").toString)
    genNs += System.nanoTime() - g0
  }

  def inputs(): (Seq[(String, Long)], String) =
    (Seq("docs" -> corpus.size.toLong, "base_docs" -> BaseDocs.toLong, "copies" -> Copies.toLong,
      "exact_dups" -> exactDups, "near_dups" -> nearDups), digest)
  def regenerateHash(): String = Gen.sha256(generateAll()._1.iterator.map(Gen.docBytes))

  val Stages: Seq[String] = Seq("Dedup.exactDedup", "Dedup.minhashCandidates",
    "Dedup.simhashNearDupPairs", "Dedup.connectedComponents",
    "TextAnalysis.adaptiveQualityGate", "TextAnalysis.repetitionRuns",
    "TextAnalysis.passageCutApply", "TextAnalysis.bigramLmScore")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass of the ordered job; returns per-stage seconds. A pass stands
    * for one run of the job, so it starts without the checkpoint blocks
    * earlier passes left behind (they would crowd execution memory). */
  private def pass(docsDir: String, tracer: Tracer, group: String): Seq[Double] = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val docs = graft.Tables.documents(spark, docsDir)
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.group", group)
    try tracer.span("client.pass", 0L, group) { root =>
      def stage(name: String)(body: => Unit): Double = {
        val t0 = System.nanoTime()
        tracer.span(name, root, group)(_ => body)
        (System.nanoTime() - t0) / 1e9
      }
      lazy val pairs = Dedup.simhashNearDupPairs(docs, MaxHamming)
      Seq(
        stage("Dedup.exactDedup")(noop(Dedup.exactDedup(docs))),
        stage("Dedup.minhashCandidates")(noop(Dedup.minhashCandidates(docs))),
        stage("Dedup.simhashNearDupPairs")(noop(pairs)),
        stage("Dedup.connectedComponents")(noop(Dedup.connectedComponents(pairs))),
        stage("TextAnalysis.adaptiveQualityGate")(noop(TextAnalysis.adaptiveQualityGate(docs))),
        stage("TextAnalysis.repetitionRuns")(noop(TextAnalysis.repetitionRuns(docs))),
        stage("TextAnalysis.passageCutApply")(noop(TextAnalysis.passageCutApply(docs))),
        stage("TextAnalysis.bigramLmScore")(noop(TextAnalysis.bigramLmScore(docs))))
    } finally sc.setLocalProperty("perfbench.group", null)
  }

  def setup(): Double = {
    val t0 = System.nanoTime()
    pass(dir.resolve("warm").toString, new Tracer(false), "warm")
    (System.nanoTime() - t0) / 1e9
  }

  /** (traced, seconds, per-stage seconds, ok) per pass. */
  private val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Seq[Double], Boolean)]
  private var passSeq = 0

  def measure(untilNs: Long, maxOps: Int, tracer: Tracer): Pass = {
    var n = 0; var failed = 0L
    val t0 = System.nanoTime()
    while (Main.another(n, maxOps, t0, untilNs)) {
      val p0 = System.nanoTime()
      val (stages, ok) = try (pass(dir.resolve("corpus").toString, tracer, s"pass-$passSeq"), true)
        catch { case e: Exception => System.err.println(s"pass $passSeq failed: $e"); (Nil, false) }
      passSeq += 1
      passes += ((tracer.enabled, (System.nanoTime() - p0) / 1e9, stages, ok))
      if (!ok) failed += 1
      n += 1
    }
    Pass(n, n.toLong, failed, System.nanoTime() - t0)
  }

  def outcome(untraced: Pass, traced: Option[(Pass, Tracer, EngineListener)]): Outcome = {
    val mine = passes.filter(!_._1)
    val times = mine.map(_._2).toSeq
    val docsPerS = corpus.size * mine.size / (untraced.wallNs / 1e9)
    val docs = graft.Tables.documents(spark, dir.resolve("corpus").toString)
    val survivors = Dedup.exactDedup(docs).count()
    // independent recount: the fingerprint's normalization, done here
    val distinct = corpus.map(d => d.text.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").trim).distinct.size.toLong
    val checks = Seq(("exact-dedup survivors = independent distinct recount", survivors == distinct,
      s"$survivors survivors, $distinct distinct normalized texts, ${corpus.size} docs"))
    val (tail, pct) = Stats.tail(times)
    val endToEnd = Seq(
      "p50_s" -> Metric(Stats.median(times), "s", times.size, "one pass of the whole curate job"),
      "throughput" -> Metric(docsPerS, "1/s", times.size, "corpus docs through the whole job per second"))
    val extra = Seq(
      "job_tail_s" -> Metric(tail, "s", times.size, s"p$pct, ${times.size} samples"),
      "rows_per_s" -> Metric(docsPerS, "rows/s", times.size)) ++
      Stages.zipWithIndex.map { case (s, i) =>
        s"$s.p50_s" -> Metric(Stats.median(mine.filter(_._4).map(_._3(i)).toSeq), "s", mine.size)
      }
    Outcome(endToEnd, extra, traced.map(layers(_, docs, survivors)).getOrElse(Layers.empty),
      checks, untraced.attempted + traced.map(_._1.attempted).getOrElse(0L),
      untraced.failed + traced.map(_._1.failed).getOrElse(0L))
  }

  private def layers(t: (Pass, Tracer, EngineListener), docs: DataFrame,
      survivors: Long): Seq[(String, Metric)] = {
    val (p, tracer, l) = t
    val tr = passes.filter(_._1)
    tracer.all.filter(_.parent == 0L).foreach(r => tracer.addJobs(l, r.id, r.group))
    // candidates whose exact 3-shingle Jaccard reaches 0.5, the usual
    // near-duplicate threshold
    val sh = docs.select(col("doc_id"), TextFunctions.shingles(col("text"), 3).as("s"))
    val cands = Dedup.minhashCandidates(docs)
      .join(sh.select(col("doc_id").as("d1"), col("s").as("s1")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("s").as("s2")), "d2")
      .select((size(array_intersect(col("s1"), col("s2"))) /
        size(array_union(col("s1"), col("s2")))).as("j"))
      .agg(count(lit(1)), sum(when(col("j") >= 0.5, 1).otherwise(0))).head()
    val precision = if (cands.getLong(0) == 0) 0.0 else cands.getLong(1).toDouble / cands.getLong(0)
    Layers.fill(Stages.zipWithIndex.map { case (s, i) =>
      s"${s}_s" -> (if (tr.isEmpty) 0.0 else tr.map(_._3.lift(i).getOrElse(0.0)).sum / tr.size)
    } ++ Seq(
      "Dedup.candidate_precision" -> precision,
      "Dedup.survivor_share" -> survivors.toDouble / corpus.size),
      p, tracer, l, untracedWallNs = passes.filter(!_._1).map(x => (x._2 * 1e9).toLong).sum, ops = p.ops)
  }
}
