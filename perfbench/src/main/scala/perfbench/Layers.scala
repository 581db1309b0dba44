package perfbench

/** The traced run's per-layer metrics. Every workload reports every
  * metric, 0 where the workload does not use the layer; the metric, unit
  * and the end-to-end metric it should move are listed once here. */
object Layers {
  final case class Def(name: String, unit: String, moves: String)

  val Defs: Seq[Def] = Seq(
    // streaming.FileWatch, from StreamingQueryProgress.durationMs
    Def("FileWatch.batches", "count", "throughput on ingest"),
    Def("FileWatch.files_per_batch", "files", "p50_s, throughput on ingest"),
    Def("FileWatch.listing_s", "s", "p50_s, throughput on ingest"),
    Def("FileWatch.commit_s", "s", "p50_s, throughput on ingest"),
    Def("FileWatch.self_s", "s", "p50_s, throughput on ingest"),
    Def("FileWatch.arrivals_s", "s", "p50_s on ingest"),
    // pipeline: job time by call site, sink wrapper spans, watched FS calls
    Def("SchemaRegistry.load_s", "s", "p50_s, throughput on ingest"),
    Def("IngestPipeline.read_s", "s", "p50_s, throughput on ingest"),
    Def("Validation.split_s", "s", "p50_s, throughput on ingest"),
    Def("Sinks.quarantine_s", "s", "p50_s, throughput on ingest"),
    Def("Sinks.fact_s", "s", "p50_s, throughput on ingest"),
    Def("StatsAggregation.agg_s", "s", "p50_s, throughput on ingest"),
    Def("Audit.write_s", "s", "p50_s, throughput on ingest"),
    Def("Sinks.move_s", "s", "p50_s, throughput on ingest"),
    Def("pipeline.jobs_per_batch", "count", "p50_s, throughput on ingest"),
    Def("pipeline.read_amplification", "ratio", "p50_s, throughput on ingest"),
    Def("pipeline.bytes_written_per_input_byte", "ratio", "p50_s, throughput on ingest"),
    // streaming index state
    Def("IvfStateStream.topK_s", "s", "p50_s, throughput on search"),
    Def("IvfStateStream.adcTopK_s", "s", "p50_s, throughput on search"),
    Def("LexicalStateStream.bm25_s", "s", "p50_s, throughput on search"),
    Def("Similarity.hybridRrfFromState_s", "s", "p50_s, throughput on search"),
    Def("state.jobs_per_read", "count", "p50_s, throughput on search"),
    Def("state.bytes_read_per_read", "bytes", "p50_s, throughput on search"),
    Def("LexicalStateStream.update_s", "s", "write_p50_s, throughput on search"),
    Def("IvfStateStream.updatePq_s", "s", "write_p50_s, throughput on search"),
    Def("state.files", "files", "write_p50_s, read_tail_s on search"),
    Def("state.mb", "MB", "write_p50_s, read_tail_s on search"),
    Def("IvfStateStream.train_s", "s", "setup_s on search"),
    Def("IvfStateStream.trainPq_s", "s", "setup_s on search"),
    // operators: one span per curate stage
    Def("Dedup.exactDedup_s", "s", "p50_s, throughput on curate"),
    Def("Dedup.minhashCandidates_s", "s", "p50_s, throughput on curate"),
    Def("Dedup.simhashNearDupPairs_s", "s", "p50_s, throughput on curate"),
    Def("Dedup.connectedComponents_s", "s", "p50_s, throughput on curate"),
    Def("TextAnalysis.adaptiveQualityGate_s", "s", "p50_s, throughput on curate"),
    Def("TextAnalysis.repetitionRuns_s", "s", "p50_s, throughput on curate"),
    Def("TextAnalysis.passageCutApply_s", "s", "p50_s, throughput on curate"),
    Def("TextAnalysis.bigramLmScore_s", "s", "p50_s, throughput on curate"),
    Def("Dedup.candidate_precision", "ratio", "p50_s, throughput on curate"),
    Def("Dedup.survivor_share", "ratio", "p50_s, throughput on curate"),
    // Spark engine, every workload; like every rate here, per micro-batch
    // (ingest), request cycle (search) or job pass (curate)
    Def("spark.jobs", "count", "p50_s on all"),
    Def("spark.tasks", "count", "p50_s on all"),
    Def("spark.task_s", "s", "throughput on all"),
    Def("spark.gc_s", "s", "p50_s on all"),
    Def("spark.input_mb", "MB", "p50_s on all"),
    Def("spark.shuffle_write_mb", "MB", "throughput on curate"),
    Def("spark.spill_mb", "MB", "throughput on curate"),
    Def("spark.driver_s", "s", "p50_s on search and ingest most, curate less"),
    // the share of the cores' time that ran tasks: near 1 when per-row
    // work dominates, near 0 when per-job driver cost does
    Def("spark.core_share", "ratio", "throughput on curate"),
    // self time per layer, per operation, from the span tree
    Def("self.FileWatch_s", "s", "p50_s on ingest"),
    Def("self.pipeline_s", "s", "p50_s on ingest"),
    Def("self.state_s", "s", "p50_s on search"),
    Def("self.operators_s", "s", "p50_s on curate"),
    Def("self.spark_s", "s", "p50_s on all"),
    Def("self.client_s", "s", "none: benchmark-side time"),
    Def("trace.spans", "count", "none"),
    Def("trace.overhead_s", "s", "none: traced minus untraced wall time of the same work"))

  def layerOf(span: String): String = {
    val obj = span.takeWhile(_ != '.')
    if (span.startsWith("job:")) "spark"
    else if (obj == "FileWatch") "FileWatch"
    else if (Set("SchemaRegistry", "IngestPipeline", "Validation", "Sinks",
      "StatsAggregation", "Audit")(obj)) "pipeline"
    else if (Set("IvfStateStream", "LexicalStateStream", "Similarity")(obj)) "state"
    else if (Set("Dedup", "TextAnalysis")(obj)) "operators"
    else "client"
  }

  def empty: Seq[(String, Metric)] =
    Defs.map(d => d.name -> Metric(0.0, d.unit, 0, s"moves ${d.moves}"))

  /** Combines a workload's own layer values with the engine counters, the
    * per-layer self time and the tracing overhead (all per operation). */
  def fill(own: Seq[(String, Double)], traced: Pass, tracer: Tracer,
      l: EngineListener, untracedWallNs: Long, ops: Int): Seq[(String, Metric)] = {
    val n = math.max(1, ops).toDouble
    val (tasks, taskNs, gcMs, in, shuf, spill, _, nJobs) = l.snapshot
    val jobIv = l.jobs.values.map(j => (j.startMs * 1000000L, j.endMs * 1000000L)).toSeq
    val self = tracer.selfNs
    val selfBy = tracer.all.groupBy(s => layerOf(s.name))
      .map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e9 / n }
    val mb = 1024.0 * 1024.0
    val values = own.toMap ++ Map(
      "spark.jobs" -> nJobs / n, "spark.tasks" -> tasks / n, "spark.task_s" -> taskNs / 1e9 / n,
      "spark.gc_s" -> gcMs / 1e3 / n, "spark.input_mb" -> in / mb / n,
      "spark.shuffle_write_mb" -> shuf / mb / n, "spark.spill_mb" -> spill / mb / n,
      "spark.driver_s" -> math.max(0L, traced.wallNs - Intervals.unionNs(jobIv)) / 1e9 / n,
      "spark.core_share" -> taskNs.toDouble / traced.wallNs /
        org.apache.spark.SparkContext.getOrCreate().defaultParallelism,
      "trace.spans" -> tracer.all.size.toDouble,
      "trace.overhead_s" -> (traced.wallNs - untracedWallNs) / 1e9) ++
      Seq("FileWatch", "pipeline", "state", "operators", "spark", "client")
        .map(k => s"self.${k}_s" -> selfBy.getOrElse(k, 0.0))
    Defs.map(d => d.name -> Metric(values.getOrElse(d.name, 0.0), d.unit, ops,
      s"moves ${d.moves}"))
  }
}
