package perfbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.{IvfStateStream, LexicalStateStream}

/** The read path users hit, served from the maintained indexes. Set-up
  * builds the IVF+PQ and lexical indexes over a seed-chosen 90 % of 5,000
  * documents and 2,000 embeddings (sf0.1's row counts); one closed-loop
  * client then repeats a fixed cycle of requests in seeded order: four
  * ANN, four ADC, two BM25 and two hybrid reads by single query id (ids drawn
  * Zipf(1.1) over a seeded ranking, so repeats occur), and one index update
  * folding a held-out slice (25 documents, their vectors). One operation is
  * one cycle, so every run serves the same mix; the traced pass runs as
  * many cycles as the untraced one. */
final class Search(spark: SparkSession, o: Opts) extends Workload {
  private val NDocs = 5000
  private val NVecs = 2000
  private val SliceDocs = 25
  private val K = 10
  private val Cycle = IndexedSeq.fill(4)("topK") ++ IndexedSeq.fill(4)("adcTopK") ++
    IndexedSeq("bm25", "bm25", "hybrid", "hybrid", "update")
  private val ReadName = Map("topK" -> "IvfStateStream.topK", "adcTopK" -> "IvfStateStream.adcTopK",
    "bm25" -> "LexicalStateStream.bm25", "hybrid" -> "Similarity.hybridRrfFromState")

  private val dir = o.workDir.resolve("search")
  private var genNs = 0L
  private var digest = ""
  private var docs: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var held: Set[Long] = Set.empty
  private var slices: IndexedSeq[IndexedSeq[Long]] = IndexedSeq.empty
  private var queryIds: IndexedSeq[Long] = IndexedSeq.empty
  private var zipfCdf: Array[Double] = Array.empty
  private var heldVecs: Map[Long, Row] = Map.empty
  private var indexedDocs: Seq[Row] = Nil
  private var indexedVecs: Seq[Row] = Nil

  def generationSeconds: Double = genNs / 1e9

  private def generateAll(): (IndexedSeq[Gen.Doc], IndexedSeq[(Long, Array[Float], Int)], String) = {
    val r = Gen.rng(o.seed, 21)
    val ds = (0 until NDocs).map(i => Gen.doc(i.toLong, r))
    val vs = Gen.embeddings(NVecs, o.seed)
    (ds, vs, Gen.sha256(ds.iterator.map(Gen.docBytes) ++ vs.iterator.map(Gen.embBytes)))
  }

  private def docRows(ids: Iterable[Long]) = ids.map { i =>
    val d = docs(i.toInt); Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)
  }.toSeq

  def prepare(): Unit = {
    val g0 = System.nanoTime()
    val (ds, vs, h) = generateAll()
    docs = ds; digest = h
    val r = Gen.rng(o.seed, 22)
    val order = Gen.shuffle((0L until NDocs.toLong).toIndexedSeq, r)
    held = order.take(NDocs / 10).toSet
    slices = order.take(NDocs / 10).grouped(SliceDocs).toIndexedSeq
    queryIds = Gen.shuffle((0L until NVecs.toLong).filterNot(held), r)
    val w = queryIds.indices.map(i => 1.0 / math.pow(i + 1, 1.1))
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    val vrow = (v: (Long, Array[Float], Int)) => Row(v._1, v._2.toSeq, v._3)
    indexedDocs = docRows(docs.indices.map(_.toLong).filterNot(held))
    indexedVecs = vs.filterNot(v => held(v._1)).map(vrow)
    heldVecs = vs.filter(v => held(v._1)).map(v => v._1 -> vrow(v)).toMap
    genNs += System.nanoTime() - g0
  }

  def inputs(): (Seq[(String, Long)], String) =
    (Seq("docs" -> NDocs.toLong, "vectors" -> NVecs.toLong, "held_out_docs" -> held.size.toLong,
      "slices" -> slices.size.toLong), digest)
  def regenerateHash(): String = generateAll()._3

  private val lexDir = dir.resolve("lex").toString
  private val ivfDir = dir.resolve("ivf").toString
  private var trainS = 0.0
  private var trainPqS = 0.0

  private def timedS(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Builds both indexes over the indexed set, then serves one read of
    * each kind so the measured pass starts warm. */
  def setup(): Double = timedS {
    val vecs = spark.createDataFrame(indexedVecs.asJava, Gen.embSchema)
    trainS = timedS(IvfStateStream.train(vecs, ivfDir, Similarity.autoNlist(indexedVecs.size.toLong)))
    trainPqS = timedS(IvfStateStream.trainPq(vecs, ivfDir))
    IvfStateStream.updatePq(ivfDir)(vecs, 0L)
    LexicalStateStream.update(lexDir)(spark.createDataFrame(indexedDocs.asJava, Gen.docSchema), 0L)
    Seq("topK", "adcTopK", "bm25", "hybrid").foreach(k => read(k, queryIds.head))
  }

  private def read(kind: String, q: Long): Array[Row] = kind match {
    case "topK" => IvfStateStream.topKFromState(spark, ivfDir, Seq(q), K).collect()
    case "adcTopK" => IvfStateStream.adcTopKFromState(spark, ivfDir, Seq(q), K).collect()
    case "bm25" => LexicalStateStream.bm25FromState(spark, lexDir, Seq(q), K).collect()
    case "hybrid" => Similarity.hybridRrfFromState(spark, lexDir, ivfDir, Seq(q), K).collect()
  }

  /** (traced, kind, seconds, ok) per request. */
  private val requests = mutable.ArrayBuffer.empty[(Boolean, String, Double, Boolean)]
  private val wallNs = mutable.Map(false -> 0L, true -> 0L)
  private var reqSeq = 0L
  private var cycleSeq = 0
  private var folded = 0
  private val rq = Gen.rng(o.seed, 23)

  private def nextQuery(): Long = {
    val u = rq.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    queryIds(math.min(if (i >= 0) i else -i - 1, queryIds.size - 1))
  }

  def measure(untilNs: Long, maxOps: Int, tracer: Tracer): Pass = {
    var cycles = 0; var attempted = 0L; var failed = 0L
    val t0 = System.nanoTime()
    while (Main.another(cycles, maxOps, t0, untilNs)) {
      Gen.shuffle(Cycle, Gen.rng(o.seed, 10000L + cycleSeq)).foreach { kind =>
        attempted += 1
        if (!request(kind, tracer)) failed += 1
      }
      cycleSeq += 1
      cycles += 1
    }
    val wall = System.nanoTime() - t0
    wallNs(tracer.enabled) = wall
    Pass(cycles, attempted, failed, wall)
  }

  /** Serves one request; false when it threw. */
  private def request(kind: String, tracer: Tracer): Boolean = {
    val sc = spark.sparkContext
    val g = s"req-$reqSeq"; reqSeq += 1
    sc.setLocalProperty("perfbench.group", g)
    val r0 = System.nanoTime()
    val ok = try { serve(kind, tracer, g); true }
      catch { case e: Exception => System.err.println(s"request $g ($kind) failed: $e"); false }
    sc.setLocalProperty("perfbench.group", null)
    requests += ((tracer.enabled, kind, (System.nanoTime() - r0) / 1e9, ok))
    ok
  }

  private def serve(kind: String, tracer: Tracer, g: String): Unit =
    if (kind == "update") tracer.span("client.update", 0L, g) { p =>
      val k = folded % slices.size; folded += 1
      // a slice arrives as a small in-memory batch, as a stream's would
      val sd = spark.createDataFrame(docRows(slices(k)).asJava, Gen.docSchema)
      val sv = spark.createDataFrame(slices(k).flatMap(heldVecs.get).asJava, Gen.embSchema)
      tracer.span("LexicalStateStream.update", p, g)(_ =>
        LexicalStateStream.update(lexDir)(sd, folded.toLong))
      tracer.span("IvfStateStream.updatePq", p, g)(_ =>
        IvfStateStream.updatePq(ivfDir)(sv, folded.toLong))
    } else {
      val q = nextQuery()
      tracer.span(ReadName(kind), 0L, g)(_ => read(kind, q))
    }

  def outcome(untraced: Pass, traced: Option[(Pass, Tracer, EngineListener)]): Outcome = {
    val mine = requests.filter(!_._1)
    val reads = mine.filter(_._2 != "update").map(_._3).toSeq
    val writes = mine.filter(_._2 == "update").map(_._3).toSeq
    val (rTail, rp) = Stats.tail(reads)
    val (wTail, wp) = Stats.tail(writes)
    val reqPerS = mine.size / (wallNs(false) / 1e9)

    // served BM25 pages equal the batch operator's over the same set
    val sample = Gen.shuffle(queryIds.take(200), Gen.rng(o.seed, 24)).take(3)
    val indexed = docs.indices.map(_.toLong).filter(i => !held(i) ||
      slices.take(math.min(folded, slices.size)).exists(_.contains(i)))
    val all = spark.createDataFrame(docRows(indexed).asJava, Gen.docSchema)
    def page(df: DataFrame) = df.select(col("query_id"), col("doc_id"), col("rn"), col("bm25"))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val served = page(LexicalStateStream.bm25FromState(spark, lexDir, sample, K))
    val batch = page(Similarity.bm25TopK(all, sample, K))
    val checks = Seq(("served BM25 pages = batch bm25TopK pages", served == batch && served.nonEmpty,
      s"${served.size} rows served, ${batch.size} from the batch operator, queries ${sample.mkString(",")}"))

    val perKind = Cycle.distinct.map { k =>
      val xs = mine.filter(_._2 == k).map(_._3).toSeq
      s"p50_$k" + "_s" -> Metric(Stats.median(xs), "s", xs.size)
    }
    val endToEnd = Seq(
      "p50_s" -> Metric(Stats.median(reads), "s", reads.size, "one served read, across the read mix"),
      "throughput" -> Metric(reqPerS, "1/s", mine.size, "closed-loop requests completed per second, updates included"))
    val extra = Seq(
      "read_p50_s" -> Metric(Stats.median(reads), "s", reads.size),
      "read_tail_s" -> Metric(rTail, "s", reads.size, s"p$rp, ${reads.size} samples"),
      "write_p50_s" -> Metric(Stats.median(writes), "s", writes.size),
      "write_tail_s" -> Metric(wTail, "s", writes.size, s"p$wp, ${writes.size} samples"),
      "requests_per_s" -> Metric(reqPerS, "req/s", mine.size)) ++ perKind
    Outcome(endToEnd, extra, traced.map(layers).getOrElse(Layers.empty), checks,
      untraced.attempted + traced.map(_._1.attempted).getOrElse(0L),
      untraced.failed + traced.map(_._1.failed).getOrElse(0L))
  }

  private def layers(t: (Pass, Tracer, EngineListener)): Seq[(String, Metric)] = {
    val (pass, tracer, l) = t
    val spans = tracer.all
    def meanS(name: String) = {
      val xs = spans.filter(_.name == name).map(_.durNs / 1e9); if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val readGroups = spans.filter(s => ReadName.values.toSet(s.name)).map(_.group).toSet
    val readJobs = l.jobs.values.filter(j => readGroups(j.group)).toSeq
    val nReads = math.max(1, readGroups.size).toDouble
    spans.filter(_.parent == 0L).foreach(r => tracer.addJobs(l, r.id, r.group))
    val stateFiles = Seq(lexDir, ivfDir).flatMap(d => Files.walk(java.nio.file.Paths.get(d))
      .iterator().asScala.filter(Files.isRegularFile(_)).toSeq)
    Layers.fill(Seq(
      "IvfStateStream.topK_s" -> meanS("IvfStateStream.topK"),
      "IvfStateStream.adcTopK_s" -> meanS("IvfStateStream.adcTopK"),
      "LexicalStateStream.bm25_s" -> meanS("LexicalStateStream.bm25"),
      "Similarity.hybridRrfFromState_s" -> meanS("Similarity.hybridRrfFromState"),
      "state.jobs_per_read" -> readJobs.size / nReads,
      "state.bytes_read_per_read" -> readJobs.map(_.inputBytes).sum / nReads,
      "LexicalStateStream.update_s" -> meanS("LexicalStateStream.update"),
      "IvfStateStream.updatePq_s" -> meanS("IvfStateStream.updatePq"),
      "state.files" -> stateFiles.size.toDouble,
      "state.mb" -> stateFiles.map(Files.size(_)).sum / 1024.0 / 1024.0,
      "IvfStateStream.train_s" -> trainS,
      "IvfStateStream.trainPq_s" -> trainPqS),
      pass, tracer, l, untracedWallNs = wallNs(false), ops = pass.ops)
  }
}
