package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Job-count budgets for the most expensive queries. Plan assertions
  * (PlanSpec) catch SHAPE regressions, but a silently doubled checkpoint
  * or a lost exchange reuse shows up as EXTRA DRIVER JOBS with the plan
  * unchanged — q81's cost at toy scale was exactly that (two actions per
  * component round). Each bound is the count observed at sf0.001 plus
  * slack for AQE stage-count jitter; a refactor that doubles round-trips
  * trips the pin long before a bench regression is visible.
  *
  * Jobs are attributed via job groups + statusTracker (public API): the
  * group tags every job submitted by this thread inside `body`.
  */
class JobBudgetSpec extends SparkSpec {

  // The budgets below are stage-count observations, and stage counts are
  // only stable for a FIXED (parallelism, shuffle partitions, AQE) tuple.
  // Pin that tuple up front: if SparkSpec's session config ever drifts —
  // or a suite ordering change hands this spec a differently-configured
  // session — all seven budgets would trip at once with a misleading
  // "round-trip added" message. Fail on the real cause instead.
  test("session config matches what the budgets were observed under") {
    assert(spark.sparkContext.master == "local[4]",
      s"budgets observed at local[4], session is ${spark.sparkContext.master}")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
      "budgets observed at shuffle.partitions=4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "budgets observed under AQE (one job per shuffle stage)")
  }

  private def jobsFor(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, s"job budget: $tag", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    // the status store is fed asynchronously by the listener bus — read
    // until the count is stable for a beat so a lagging bus can't
    // undercount (which would make the upper-bound asserts vacuous).
    // Hard deadline: a wedged listener bus should FAIL this test, not
    // hang the suite.
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var n = sc.statusTracker.getJobIdsForGroup(tag).length
    var stableMs = 0
    while (stableMs < 300) {
      if (System.nanoTime() > deadline)
        fail(s"listener bus never stabilized within 30 s for '$tag' " +
          s"(last count $n) — the status store is wedged or starved")
      Thread.sleep(50)
      val m = sc.statusTracker.getJobIdsForGroup(tag).length
      if (m == n) stableMs += 50 else { n = m; stableMs = 0 }
    }
    n
  }

  private def queryJobs(name: String): Int =
    jobsFor(name) {
      graft.SparkEntry.queries(name)(spark, sf0001)
        .write.format("noop").mode("overwrite").save()
    }

  /** (budget, what the job count is made of at sf0.001).
    *
    * Under AQE every shuffle-stage materialization is its own Spark job
    * (the `withThreadLocalCaptured`/CompletableFuture jobs a
    * `SparkListener` sees), so these counts are STAGE budgets, several per
    * driver action; they are stable for fixed data + partitions + plan.
    * Observed at sf0.001 / local[4] / shuffle=4, bounded at ~+25%: a
    * doubled checkpoint or a lost exchange reuse blows the slack. */
  private val budgets: Map[String, (Int, String)] = Map(
    "q81_neardup_survivors" ->
      (155, "observed 128: signature checkpoint, band join, hamming re-rank, component-loop stage jobs, survivor max_by"),
    "q69_dedup_components" ->
      (30, "observed 23: pair self-join, edges checkpoint, 1 labelSum-stage group per round, isEmpty, save"),
    "q33_ngram_jaccard" -> (11, "observed 8: inverted-index self-join + agg stages"),
    "q34_minhash_lsh" -> (9, "observed 6: signature + band-bucket join stages"),
    "q49_ann_ivf_topk" ->
      (36, "observed 28: centroid seed + Lloyd iterations (stage jobs each) + assign/top-k"),
    "q38_embedding_neardup" -> (10, "observed 7: guard count + the all-pairs join"),
    "q84_bloom_pruned_join" ->
      (14, "observed 11: build-side approx-distinct + word-agg collect + pruned join"),
    "q110_boilerplate_removal" ->
      (10, "observed 8: blacklist agg, covered-start probe, doc rebuild + save"),
    "q112_semantic_dedup" ->
      (36, "observed 28: q49's centroid seed + Lloyd chain, signature checkpoint, in-cluster pair join + size aggs"),
    "q138_knn_hubness" ->
      (37, "observed 29: q49's Lloyd chain + list checkpoint, within-list kNN join + window, in-degree + histogram aggs"),
    "q139_ivf_list_stats" ->
      (35, "observed 28: q49's Lloyd chain, centroid join + cosine agg, one-row total broadcast"),
    "q150_bitext_margin" ->
      (49, "observed 39: autoNlist count, Lloyd chain, lists + pairs checkpoints, two kNN windows, best-pick join"),
    "q154_quality_survivors" ->
      (160, "observed 132: q81's chain (observed 128) + the extra max_by (same aggregate)"),
  )

  budgets.foreach { case (name, (budget, makeup)) =>
    test(s"$name stays within its job budget ($budget: $makeup)") {
      val n = queryJobs(name)
      info(s"$name ran $n jobs (budget $budget)")
      assert(n <= budget, s"$name ran $n jobs, budget $budget — a driver " +
        "round-trip or checkpoint was likely added; if deliberate, re-budget")
      assert(n > 0)
    }
  }

  test("connectedComponents costs ONE action per label round") {
    // a 4-node path (diameter 3) converges in 4 min-label rounds. With
    // the lazy checkpoint, each round is ONE driver action (the
    // convergence sum materializes the round's checkpoint) that AQE runs
    // as ~5 stage jobs — observed 22 total. The eager-checkpoint form
    // this replaced added a separate materialization action per round
    // (~+5 stage jobs here); the bound sits between the two, so a
    // regression to two-actions-per-round fails loudly.
    val spark0 = spark
    import spark0.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("d1", "d2")
    val n = jobsFor("cc-one-job-per-round") {
      val comps = Dedup.connectedComponents(pairs)
      assert(comps.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
    }
    info(s"connectedComponents(path-4) ran $n jobs")
    assert(n <= 26, s"$n jobs for a 4-round convergence — the per-round " +
      "fold (sum rides the checkpoint materialization) has regressed")
  }
}
