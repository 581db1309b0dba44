package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import graft.{SparkEntry, SparkSpec}

/** Physical-plan audits: the properties that decide whether a query
  * survives a 100× scale-up — filter pushdown into the scan, broadcast
  * joins for dims, bounded shuffle counts. These are assertions on the
  * PLAN, not the result, so a regression (e.g. a lost broadcast after a
  * refactor) fails fast at test time. */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def planOf(name: String): SparkPlan =
    executedPlan(SparkEntry.queries(name)(spark, sf001))

  private def planString(name: String): String = planOf(name).toString

  test("q02: every predicate is pushed into the parquet scan") {
    val s = planString("q02_revenue_filter")
    // the rendered PushedFilters list is truncated, so match its prefix
    assert(s.contains("PushedFilters: [IsNotNull"), "no pushdown section")
    assert(s.contains("GreaterThanOrEqual(l_shipda"), s.take(1200))
  }

  test("q05 hints only the fixed-size dims; customer join is left to AQE") {
    // exactly 2 explicit broadcast hints (nation, region) — a forced
    // broadcast(customer) would OOM at 100 TB, so its absence is asserted
    val analyzed = SparkEntry.queries("q05_region_revenue")(spark, sf001)
      .queryExecution.analyzed
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.size == 2, s"expected 2 broadcast hints (nation, region), got ${hints.size}")
    // at this SF the physical plan still broadcasts the hinted dims (and
    // AQE is free to broadcast the small customer side too)
    val bhj = planOf("q05_region_revenue").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2, s"expected >=2 broadcast joins, got ${bhj.size}")
  }

  test("q01 aggregates with map-side partial aggregation") {
    val s = planString("q01_pricing_summary")
    assert(s.contains("partial_"), "no partial aggregation phase")
  }

  test("q02 scan prunes to the referenced columns only") {
    val s = planString("q02_revenue_filter")
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("q42 range join executes as an equi-join on user_id, not a nested loop") {
    val s = planString("q42_range_join")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s.take(600))
  }

  test("q59 scan prunes to props + event_type only") {
    val s = planString("q59_json_props")
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props") && readSchema.contains("event_type"), readSchema)
    assert(!readSchema.contains("user_id") && !readSchema.contains("payload"), readSchema)
  }

  test("q60 fuzzy match: blocking filter pushed down, no cartesian/nested-loop join") {
    val s = planString("q60_fuzzy_match")
    assert(s.contains("PushedFilters: [IsNotNull(p_size), EqualTo(p_size,1)") ||
      s.contains("EqualTo(p_size,1)"), "p_size block filter not pushed to scan")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "fuzzy match must stay an equi-join on the blocking key\n" + s.take(600))
  }

  test("q68 correlated EXISTS/NOT EXISTS decorrelates to semi + anti joins") {
    val s = planString("q68_correlated_exists")
    assert(s.contains("LeftSemi"), "no semi join in:\n" + s.take(600))
    assert(s.contains("LeftAnti"), "no anti join in:\n" + s.take(600))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "subquery executed as a nested loop:\n" + s.take(600))
  }

  test("q75 histogram: tiny stats side broadcasts, counts aggregate map-side") {
    val s = planString("q75_histogram_quantiles")
    assert(s.contains("partial_"), "no partial aggregation phase")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "stats join degenerated:\n" + s.take(600))
    val bhj = planOf("q75_histogram_quantiles").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      "per-group stats (a handful of rows) must broadcast onto the scan, not shuffle it")
  }

  test("q74 KMV: typed aggregator runs with a partial (map-side) phase") {
    val s = planString("q74_kmv_distinct")
    assert(s.contains("partial_"),
      "KmvDistinct must combine map-side (ships <= k hashes per group per task):\n" +
        s.take(600))
  }

  test("q39 plan carries no per-row plane hashing (sign matrices are literals)") {
    val s = planString("q39_ann_lsh_topk")
    assert(!s.contains("xxhash64(") && !s.contains("md5("),
      "hyperplane signs must be precomputed literals, not per-row hash calls:\n" +
        s.take(800))
  }

  test("q76 simhash banding joins on (band, value) — no cartesian, no per-pair text work") {
    val s = planString("q76_simhash_neardup")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "band candidates must come from an equi-join:\n" + s.take(600))
  }

  test("q78 z-score: 5-row stats side broadcasts back onto the event scan") {
    val bhj = planOf("q78_zscore_outliers").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      "per-type stats must broadcast, not shuffle the full event stream")
    val s = planString("q78_zscore_outliers")
    assert(s.contains("partial_"), "stats must aggregate map-side")
  }

  test("q80 contamination probes train hashes via equi-join, never doc x doc") {
    val s = planString("q80_contamination_check")
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      "shingle-hash probe degenerated:\n" + s.take(600))
  }

  test("q77 EWMA folds inside the aggregate — bounded shuffles, no window") {
    val n = planOf("q77_ewma_smoothing").collect {
      case s: ShuffleExchangeLike => s
    }.size
    assert(n <= 2, s"expected (user, day) agg + output sort only, got $n shuffles")
  }

  test("q82 CMS: counts aggregate map-side; probe grid broadcasts") {
    val s = planString("q82_countmin_sketch")
    assert(s.contains("partial_"), "sketch counts must combine map-side")
    assert(!s.contains("CartesianProduct"),
      "probe expansion must not degenerate into a cartesian over data:\n" + s.take(600))
  }

  test("q83 vocab coverage: the global window runs on the bounded top-k only") {
    val s = planString("q83_vocab_coverage")
    // the single-partition window is fed by a limit, never the raw vocab
    assert(s.contains("TakeOrderedAndProject") || s.contains("GlobalLimit"),
      "top-k must bound the window input:\n" + s.take(800))
    assert(s.contains("partial_"), "term counts must combine map-side")
  }

  test("q84 bloom probe filters the fact below every exchange") {
    // the prune is gated on probe-side scan size since r18
    // (Scale.bloomPrunePays) — force it on to pin the pruned SHAPE,
    // which is what ships at production scale
    spark.conf.set("spark.graft.bloom.minProbeBytes", "0")
    try {
      val p = planOf("q84_bloom_pruned_join")
      val bloomFilters = p.collect {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("xxhash64") => f
      }
      assert(bloomFilters.nonEmpty, "bloom probe filter missing from the plan")
      // the probe must prune scan-side — a bloom above the exchange would
      // shuffle the rows it exists to eliminate
      assert(bloomFilters.exists(f =>
        f.collect { case s: ShuffleExchangeLike => s }.isEmpty),
        "bloom probe sits above an exchange")
    } finally spark.conf.unset("spark.graft.bloom.minProbeBytes")
  }

  test("q84 prune gate: off below the size threshold, identical rows either way") {
    // default gate (1 GiB) — the sf0.01 lineitem scan is KBs, so the
    // registered query plans the PLAIN join: no bloom filter, no build
    val plain = planOf("q84_bloom_pruned_join")
    assert(plain.collect {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.toString.contains("xxhash64") => f
    }.isEmpty, "prune gate failed to skip the bloom at test scale")
    // and the gate changes cost only, never rows (the exact join
    // removes false positives; the oracle is the plain join)
    val ungated = SparkEntry.queries("q84_bloom_pruned_join")(spark, sf001)
      .collect().toSeq.sortBy(_.toString)
    spark.conf.set("spark.graft.bloom.minProbeBytes", "0")
    try {
      val gated = SparkEntry.queries("q84_bloom_pruned_join")(spark, sf001)
        .collect().toSeq.sortBy(_.toString)
      assert(gated == ungated, "prune gate changed the result rows")
    } finally spark.conf.unset("spark.graft.bloom.minProbeBytes")
  }

  test("q85 claim shuffle moves chunk hashes, never document text") {
    val exchanges = planOf("q85_chunk_dedup")
      .collect { case s: ShuffleExchangeLike => s }
    val textBearing = exchanges.filter(_.child.output.exists(a =>
      a.name == "text" || a.name == "arr"))
    assert(textBearing.size <= 1,
      s"${textBearing.size} exchanges carry document text (only the doc_id-keyed reassembly join may)")
    assert(exchanges.exists(_.child.output.exists(_.name == "h")),
      "no exchange keyed on the chunk hash")
  }

  test("q89 trend: the epoch anchor broadcasts; stats aggregate map-side") {
    val p = planOf("q89_linear_trend")
    assert(p.collect { case b: org.apache.spark.sql.execution.joins
      .BroadcastNestedLoopJoinExec => b }.nonEmpty ||
      p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "min-timestamp anchor must broadcast, not shuffle")
    assert(p.toString.contains("partial_"),
      "sufficient statistics must combine map-side")
  }

  test("q92 skew profile: distributed top-k, stats row broadcast") {
    val s = planString("q92_key_skew_profile")
    assert(s.contains("TakeOrderedAndProject") || s.contains("GlobalLimit"),
      "top-5 must be a distributed TakeOrdered, not a global sort:\n" + s.take(800))
    assert(s.contains("partial_"), "per-key counts must combine map-side")
  }

  test("q93 merge: both aggregation levels have partial phases") {
    val p = planOf("q93_partial_agg_merge")
    val aggs = p.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggs.size >= 4, s"expected partial+final at both levels, got ${aggs.size}")
    assert(p.toString.contains("partial_"))
  }

  test("q19 runs WITHOUT a multi-distinct Expand and with partial aggregation") {
    // the de-expand shape: both aggregates ride a pre-distincted
    // (type, user) frame — if someone reverts to countDistinct + approx
    // in one agg, Catalyst plans an Expand (2x the scan into the
    // shuffle) and this trips
    val p = planOf("q19_approx_distinct")
    val expands = p.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.isEmpty, "q19 regressed to the Expand multi-distinct plan")
    assert(p.toString.contains("partial_"), "no map-side partial aggregation")
  }

  test("q52 joins the 9-row estimate table by broadcast, never cartesian") {
    val s = planString("q52_approx_percentile")
    assert(s.contains("BroadcastHashJoin"), s.take(600))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s.take(600))
  }

  test("q111 DSIR: 256-row bucket LM broadcasts; rank window rides the top-k") {
    val s = planString("q111_dsir_importance")
    assert(s.contains("BroadcastHashJoin"),
      "the bucket log-ratio table must broadcast onto the doc-bucket counts:\n" +
        s.take(600))
    assert(!s.contains("CartesianProduct"), s.take(600))
    // the global rank window must be fed by the distributed top-k, never
    // the full scored corpus (the q83 discipline)
    assert(s.contains("TakeOrderedAndProject") || s.contains("GlobalLimit"),
      "rank window is not bounded by a prior top-k:\n" + s.take(600))
  }

  test("q112 semantic dedup: in-cluster pairs join on cid, never all-pairs") {
    val s = planString("q112_semantic_dedup")
    assert(!s.contains("CartesianProduct"),
      "pair generation degenerated to a cartesian:\n" + s.take(600))
    // the threshold predicate must ride an equi-join keyed by cid
    assert(s.contains("cid"), s.take(600))
  }

  test("q113 outliers: centroid table broadcasts; sums combine map-side") {
    val s = planString("q113_embedding_outliers")
    assert(s.contains("partial_"), "no map-side partial aggregation")
    val bhj = planOf("q113_embedding_outliers").collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty,
      "|label|x64 centroids must broadcast onto the corpus scan, not shuffle it")
  }

  test("q114 dup accounting: fingerprint counts combine map-side") {
    val s = planString("q114_dup_cluster_sizes")
    assert(s.contains("partial_"), "no map-side partial aggregation")
    assert(!s.contains("CartesianProduct"), s.take(600))
  }

  test("q105 gate: factored flags stay one pruned scan + one aggregate") {
    // the r8->r9 check on the gateFlags extraction (shared with q127):
    // column pruning must drop the doc_id the shared definition carries,
    // and the gate must stay a single-scan single-agg plan — the 0.55 ->
    // 0.89 s swing in BENCH_r08 was bench noise, not a plan change, and
    // this pin keeps it that way
    val s = planString("q105_quality_gate")
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && readSchema.contains("source"), readSchema)
    assert(!readSchema.contains("doc_id"),
      "doc_id from the shared gateFlags definition must be pruned: " + readSchema)
    assert(s.contains("partial_"), "gate aggregate must combine map-side")
  }

  test("served reads touch state, never rescan what the state replaced") {
    // the q187–q190 serving contract made a plan property: each read's
    // executed plan scans its persisted state dir, and the corpus-sized
    // work the state replaced (tokenization, signature derivation, the
    // source table the state is FOR) is absent from the read plan — the
    // claim the scaling rows price, pinned so a refactor that quietly
    // reattaches a corpus scan fails here and not in a bench regression
    def occurrences(s: String, sub: String): Int =
      s.sliding(sub.length).count(_ == sub)
    // q187: pure projection over the packing ledger — no document scan,
    // no tokenization anywhere in the plan
    val pack = planString("q187_packing_state_served")
    assert(pack.contains("graft_pack_state"), "q187 must read the ledger state")
    assert(!pack.contains("documents.parquet") && !pack.contains("split("),
      "q187 must not rescan or retokenize the corpus:\n" + pack.take(800))
    // q188/q190: ONE documents scan (the probe side), shingle state joined in
    val nov = planString("q188_novelty_state_served")
    assert(nov.contains("graft_nov_state"), "q188 must read the shingle state")
    assert(occurrences(nov, "documents.parquet") == 1,
      "q188 reads documents exactly once (arrivals): " +
        occurrences(nov, "documents.parquet"))
    val cont = planString("q190_contamination_state_served")
    assert(cont.contains("graft_trainsh_state"), "q190 must read train state")
    assert(occurrences(cont, "documents.parquet") == 1,
      "q190 reads documents exactly once (the probe split): " +
        occurrences(cont, "documents.parquet"))
    // q189: band keys derive from PERSISTED signatures — no embeddings
    // scan and no per-row signature recompute (the zip_with/aggregate
    // HOF chain) anywhere in the read plan
    val lsh = planString("q189_lsh_topk_state_served")
    assert(lsh.contains("graft_lsh_state"), "q189 must read the LSH state")
    assert(!lsh.contains("embeddings.parquet"),
      "q189 must not rescan the embeddings table:\n" + lsh.take(800))
    assert(!lsh.contains("zip_with"),
      "q189 must not recompute signatures at read time:\n" + lsh.take(800))
    // q198: the rebalanced-index health reads the mutated state + the
    // lineage log — no embeddings rescan, no Lloyd chain at read time
    val rebal = planString("q198_rebalanced_health_state_served")
    assert(rebal.contains("graft_ivfrebal_state"),
      "q198 must read the rebalanced state")
    assert(!rebal.contains("embeddings.parquet"),
      "q198 must not rescan the embeddings table:\n" + rebal.take(800))
    // q199: search over the FORGOTTEN index — the read plan is q182's
    // (state scan only); the deletion already happened offline, so no
    // embeddings rescan and no tombstone filter at read time either
    val forg = planString("q199_forgotten_search_state_served")
    assert(forg.contains("graft_ivfforget_state"),
      "q199 must read the forgotten state")
    assert(!forg.contains("embeddings.parquet"),
      "q199 must not rescan the embeddings table:\n" + forg.take(800))
    assert(!forg.contains("md5"),
      "q199 must not re-apply the tombstone rule at read time — the " +
        "deletion is already executed in state:\n" + forg.take(800))
    // q200: the post-forget blacklist read is q191's plan — netted state
    // sums only, no document scan, no shingling, no tombstone filter
    val bpf = planString("q200_forgotten_blacklist_state_served")
    assert(bpf.contains("graft_bpforget_state"),
      "q200 must read the forgotten blacklist state")
    assert(!bpf.contains("documents.parquet"),
      "q200 must not rescan the corpus:\n" + bpf.take(800))
    assert(!bpf.contains("md5"),
      "q200 must not re-apply the tombstone rule at read time:\n" +
        bpf.take(800))
    // q201: the post-forget LM read scans documents exactly once (the
    // surviving probe side — the tombstone filter on THAT side is the
    // read's own predicate, not a deletion re-execution) and the netted
    // vocab state; the reference corpus is never rescanned
    val lmf = planString("q201_forgotten_lm_state_served")
    assert(lmf.contains("graft_vocabforget_state"),
      "q201 must read the forgotten vocab state")
    assert(occurrences(lmf, "documents.parquet") == 1,
      "q201 reads documents exactly once (the surviving probe side): " +
        occurrences(lmf, "documents.parquet"))
    // q202: the post-forget LSH read is q189's plan — persisted sigs
    // only, no embeddings rescan, no re-sign, no tombstone re-execution
    val lshf = planString("q202_forgotten_lsh_state_served")
    assert(lshf.contains("graft_lshforget_state"),
      "q202 must read the forgotten LSH state")
    assert(!lshf.contains("embeddings.parquet"),
      "q202 must not rescan the embeddings table:\n" + lshf.take(800))
    assert(!lshf.contains("zip_with"),
      "q202 must not recompute signatures at read time:\n" + lshf.take(800))
    assert(!lshf.contains("md5"),
      "q202 must not re-apply the tombstone rule at read time:\n" +
        lshf.take(800))
    // q203: the post-forget reclamation read aggregates persisted
    // digests only — no document scan, no re-digesting, no tombstone
    // re-execution
    val af = planString("q203_forgotten_assets_state_served")
    assert(af.contains("graft_assetforget_state"),
      "q203 must read the forgotten asset state")
    assert(!af.contains("documents.parquet"),
      "q203 must not rescan the corpus:\n" + af.take(800))
    assert(!af.contains("md5"),
      "q203 must not re-digest payloads or re-apply the tombstone " +
        "rule at read time:\n" + af.take(800))
    // q204: the post-forget contamination probe is q190's plan shape —
    // ONE documents scan (the test-split probe side), df state joined in
    val cf = planString("q204_forgotten_contamination_state_served")
    assert(cf.contains("graft_trainshforget_state"),
      "q204 must read the forgotten df-shingle state")
    assert(occurrences(cf, "documents.parquet") == 1,
      "q204 reads documents exactly once (the probe split): " +
        occurrences(cf, "documents.parquet"))
    // q207: the repacked ledger serves as a pure projection — no
    // document rescan, no read-time tombstone re-execution
    val pkf = planString("q207_forgotten_packing_state_served")
    assert(pkf.contains("graft_packforget_state"),
      "q207 must read the forgotten packing ledger")
    assert(!pkf.contains("documents.parquet"),
      "q207 must not rescan the documents table:\n" + pkf.take(800))
    assert(!pkf.contains("md5"),
      "q207 must not re-apply the tombstone rule at read time")
    // q212: the forgotten datasheet reads ONLY its state tables (the
    // capped band join runs over persisted survivor sigs)
    val dsf = planString("q212_forgotten_datasheet_state_served")
    assert(dsf.contains("graft_dsforget_state"),
      "q212 must read the forgotten datasheet state")
    assert(!dsf.contains("documents.parquet"),
      "q212 must not rescan the documents table:\n" + dsf.take(800))
    assert(!dsf.contains("md5"),
      "q212 must not re-apply the tombstone rule at read time")
    // q215/q216: lexical + hybrid retrieval — the postings tokenize
    // pass is checkpointed and runs ONCE (without it the corpus
    // re-tokenizes per consumer: 6 scans), the bounded query-term set
    // broadcasts, nothing goes cartesian
    val bm = planString("q215_bm25_keyword_topk")
    assert(!bm.contains("CartesianProduct"),
      "q215 must not plan a cartesian product:\n" + bm.take(800))
    assert(occurrences(bm, "documents.parquet") <= 1,
      "q215 must tokenize the corpus once (postings checkpointed): " +
        occurrences(bm, "documents.parquet"))
    assert(bm.contains("BroadcastExchange"),
      "q215's query-term set must broadcast onto the postings")
    val hy = planString("q216_hybrid_rrf_search")
    assert(!hy.contains("CartesianProduct"),
      "q216 must not plan a cartesian product:\n" + hy.take(800))
    // q217/q218: the served keyword search reads ONLY the persisted
    // index (postings + registry) — the corpus text is never
    // re-tokenized at query time — and since r17 it is QUERY-bounded
    // (the r16 verdict's one `weak`): the serving plan's only postings
    // scan is the query-page probe under doc_id pushdown (the
    // query-term slice materializes at construction from a term-isin
    // pushdown scan; df aggregates over that bounded slice), candidate
    // lengths PROBE the doclens table, and avgdl folds the one-row
    // counter — no full-postings aggregate survives anywhere
    def lexPins(name: String, stateTag: String): Unit = {
      val s = planString(name)
      assert(s.contains(stateTag), s"$name must read the $stateTag index")
      assert(!s.contains("documents.parquet"),
        s"$name must not rescan the documents table:\n" + s.take(800))
      val postingsScans = s.linesIterator
        .filter(l => l.contains("Location") && l.contains("/postings"))
        .size
      assert(postingsScans == 1,
        s"$name's serving plan must scan postings exactly once (the " +
          s"pushed query probe) — df/dl must never re-aggregate the " +
          s"full postings state: got $postingsScans scans")
      assert(s.contains("In(doc_id"),
        s"$name's postings scan must carry the query-id pushdown:\n" +
          s.take(800))
      assert(s.contains("/doclens"),
        s"$name must probe the persisted doclens table, not re-derive " +
          "lengths from postings")
      assert(s.contains("/lexstats"),
        s"$name must fold avgdl from the one-row lexstats counter")
    }
    lexPins("q217_bm25_state_served", "graft_lex_state")
    lexPins("q218_forgotten_bm25_state_served", "graft_lexforget_state")
    // q235: the served RM3 loop's FINAL plan is stage 3 — the same
    // query-bounded serving shape as q217 (stages 1-2 run at
    // construction as bounded probes), so the q217 pin set applies
    // verbatim: one pushed postings scan, doclens probed, counter
    // folded, no corpus rescan
    lexPins("q235_rm3_state_served", "graft_lex_state")
    // q236: the index health read is five STATE aggregates — the
    // corpus appears nowhere (the q206 claim as a live dashboard row)
    val lst = planString("q236_lexical_index_stats")
    assert(lst.contains("graft_lex_state"),
      "q236 must read the maintained index")
    assert(!lst.contains("documents.parquet"),
      "q236 must not rescan the documents table:\n" + lst.take(800))
    // q234: the batch RM3 — one corpus scan (postings checkpointed;
    // the N count-star is metadata-only), no cartesian
    val rm = planString("q234_rm3_expansion_topk")
    assert(!rm.contains("CartesianProduct"),
      "q234 must not plan a cartesian product:\n" + rm.take(800))
    assert(occurrences(rm, "documents.parquet") <= 1,
      "q234 must tokenize the corpus once (postings checkpointed): " +
        occurrences(rm, "documents.parquet"))
    assert(!planString("q218_forgotten_bm25_state_served").contains("md5"),
      "q218 must not re-apply the tombstone rule at read time")
    // q219/q220: the served hybrid fuses TWO maintained indexes — both
    // state dirs in the plan, NEITHER corpus table (the whole point:
    // query-time cost is two index probes + a page fusion), and the
    // forgotten form re-applies no tombstone rule at read time
    def hybridPins(name: String, lexTag: String, ivfTag: String): Unit = {
      val s = planString(name)
      assert(s.contains(lexTag) && s.contains(ivfTag),
        s"$name must read both maintained indexes ($lexTag + $ivfTag):\n" +
          s.take(800))
      assert(!s.contains("documents.parquet") &&
        !s.contains("embeddings.parquet"),
        s"$name must touch neither corpus table:\n" + s.take(800))
      assert(!s.contains("CartesianProduct"),
        s"$name must not plan a cartesian product:\n" + s.take(800))
    }
    hybridPins("q219_hybrid_state_served", "graft_lex_state",
      "graft_ivf_state")
    hybridPins("q220_forgotten_hybrid_state_served",
      "graft_lexforget_state", "graft_ivfforget_state")
    assert(!planString("q220_forgotten_hybrid_state_served").contains("md5"),
      "q220 must not re-apply the tombstone rule at read time")
    // q221: the recall eval reads both maintained indexes plus the
    // embeddings table (the exact leg's honest, documented scan) — but
    // never the documents table (no re-tokenize) and never a cartesian
    val hr = planString("q221_hybrid_recall")
    assert(hr.contains("graft_lex_state") && hr.contains("graft_ivf_state"),
      "q221's hybrid leg must read both maintained indexes:\n" + hr.take(800))
    assert(!hr.contains("documents.parquet"),
      "q221 must not rescan the documents table:\n" + hr.take(800))
    assert(!hr.contains("CartesianProduct"),
      "q221 must not plan a cartesian product:\n" + hr.take(800))
    // q222: phrase match is a broadcast equi-join over the positional
    // tokens (checkpointed once) — never a cartesian, never a second
    // corpus tokenize
    val pm = planString("q222_phrase_match_topk")
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("BroadcastNestedLoopJoin"),
      "q222 must stay an equi-join on the phrase terms:\n" + pm.take(800))
    assert(occurrences(pm, "documents.parquet") == 0,
      "q222 tokenizes once (positional tokens checkpointed): " +
        occurrences(pm, "documents.parquet"))
    assert(pm.contains("BroadcastExchange"),
      "q222's phrase table must broadcast onto the token stream")
    // q223/q224: the served phrase match reads ONLY the persisted
    // POSITIONAL postings — the corpus text is never re-tokenized at
    // query time — and is query-bounded: the phrase probe carries the
    // query-id pushdown, the vote stream the phrase-term pushdown, and
    // the ≤3-row-per-query phrase table broadcasts (never a cartesian)
    def phrasePins(name: String, stateTag: String): Unit = {
      val s = planString(name)
      assert(s.contains(stateTag), s"$name must read the $stateTag index")
      assert(!s.contains("documents.parquet"),
        s"$name must not rescan the documents table:\n" + s.take(800))
      assert(s.contains("/poslists"),
        s"$name must read the positional postings tier")
      assert(s.contains("In(doc_id"),
        s"$name's phrase probe must carry the query-id pushdown:\n" +
          s.take(800))
      assert(s.contains("In(w"),
        s"$name's vote stream must carry the phrase-term pushdown:\n" +
          s.take(800))
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"),
        s"$name must stay an equi-join on the phrase terms:\n" + s.take(800))
      assert(s.contains("BroadcastExchange"),
        s"$name's phrase table must broadcast onto the vote stream")
    }
    phrasePins("q223_phrase_state_served", "graft_lex_state")
    phrasePins("q224_forgotten_phrase_state_served", "graft_lexforget_state")
    assert(!planString("q224_forgotten_phrase_state_served").contains("md5"),
      "q224 must not re-apply the tombstone rule at read time")
    // q225: batch NEAR — the positional tokens checkpoint once, the
    // anchor pairs broadcast, the ±window expansion is a literal
    // explode (never a range join / nested loop)
    val nx = planString("q225_proximity_topk")
    assert(!nx.contains("CartesianProduct") &&
      !nx.contains("BroadcastNestedLoopJoin"),
      "q225 must stay an equi-join on the anchor terms:\n" + nx.take(800))
    assert(occurrences(nx, "documents.parquet") == 0,
      "q225 tokenizes once (positional tokens checkpointed): " +
        occurrences(nx, "documents.parquet"))
    assert(nx.contains("BroadcastExchange"),
      "q225's anchor pairs must broadcast onto the position streams")
    // q226/q227: the served NEAR reads pin like the phrase reads EXCEPT
    // the query-id pushdown — the anchor pairs localCheckpoint at
    // construction (the bounded term collect forces them), so the
    // doc_id-pushed scan runs in the construction probe and the SERVING
    // plan's poslists scans are the two term-pushed position streams
    def nearPins(name: String, stateTag: String): Unit = {
      val s = planString(name)
      assert(s.contains(stateTag), s"$name must read the $stateTag index")
      assert(!s.contains("documents.parquet"),
        s"$name must not rescan the documents table:\n" + s.take(800))
      assert(s.contains("/poslists"),
        s"$name must read the positional postings tier")
      assert(s.contains("In(w"),
        s"$name's position streams must carry the anchor-term pushdown:\n" +
          s.take(800))
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"),
        s"$name must stay an equi-join on the anchor terms:\n" + s.take(800))
      assert(s.contains("BroadcastExchange"),
        s"$name's anchor pairs must broadcast onto the position streams")
    }
    nearPins("q226_proximity_state_served", "graft_lex_state")
    nearPins("q227_forgotten_proximity_state_served",
      "graft_lexforget_state")
    assert(!planString("q227_forgotten_proximity_state_served")
        .contains("md5"),
      "q227 must not re-apply the tombstone rule at read time")
    // q229: batch densest-passage — positional tokens checkpoint once,
    // the query-term table broadcasts, the width expansion is a literal
    // explode (never a per-window rescan / nested loop)
    val pg = planString("q229_passage_topk")
    assert(!pg.contains("CartesianProduct") &&
      !pg.contains("BroadcastNestedLoopJoin"),
      "q229 must stay an equi-join on the query terms:\n" + pg.take(800))
    assert(occurrences(pg, "documents.parquet") == 0,
      "q229 tokenizes once (positional tokens checkpointed): " +
        occurrences(pg, "documents.parquet"))
    assert(pg.contains("BroadcastExchange"),
      "q229's query-term table must broadcast onto the hit stream")
    // q230: the served passage read shares the phrase reads' pin set —
    // poslists only, doc-id + term pushdown, no corpus rescan
    phrasePins("q230_passage_state_served", "graft_lex_state")
    // q228: collocations — bigram extraction is IN-ROW and checkpointed
    // once (no positions table, no self-join, no second corpus scan),
    // counts aggregate map-side, the 1-row total broadcasts
    val co = planString("q228_pmi_collocations")
    // (the 1-row total rides a broadcast nested loop by design — the
    // bm25 avgdl-row shape; only a true cartesian is forbidden)
    assert(!co.contains("CartesianProduct"),
      "q228 must not plan a cartesian product:\n" + co.take(800))
    assert(occurrences(co, "documents.parquet") == 0,
      "q228 extracts bigrams once (checkpointed): " +
        occurrences(co, "documents.parquet"))
    assert(co.contains("partial_"),
      "q228's bigram counts must aggregate map-side")
    assert(co.contains("BroadcastExchange"),
      "q228's 1-row total must broadcast")
    // q231: bigram LM — ONE corpus scan (token arrays checkpointed,
    // feeding bigrams AND the vocab count), map-side partials, the
    // 1-row V broadcast; only the 1-row cross rides a nested loop
    val blm = planString("q231_bigram_lm_nll")
    assert(!blm.contains("CartesianProduct"),
      "q231 must not plan a cartesian product:\n" + blm.take(800))
    assert(occurrences(blm, "documents.parquet") == 0,
      "q231 scans the corpus once (token arrays checkpointed): " +
        occurrences(blm, "documents.parquet"))
    assert(blm.contains("partial_"),
      "q231's counts must aggregate map-side")
    assert(blm.contains("BroadcastExchange"),
      "q231's 1-row vocabulary count must broadcast")
    // q232/q233: the state-served bigram LM scans documents exactly
    // once (the scored arrival side — q233's survivor filter there is
    // the read's own predicate, the q201 convention) and the persisted
    // bigram + vocab state; the reference corpus is never re-derived
    val bls = planString("q232_bigram_lm_state_served")
    assert(bls.contains("graft_bigramlm_state"),
      "q232 must read the maintained bigram-LM state")
    assert(occurrences(bls, "documents.parquet") == 1,
      "q232 reads documents exactly once (the scored side): " +
        occurrences(bls, "documents.parquet"))
    val blf = planString("q233_forgotten_bigram_lm_state_served")
    assert(blf.contains("graft_bigramlmforget_state"),
      "q233 must read the forgotten bigram-LM state")
    assert(occurrences(blf, "documents.parquet") == 1,
      "q233 reads documents exactly once (the surviving scored side): " +
        occurrences(blf, "documents.parquet"))
    // q213: the forgotten drift matrix aggregates the netted state
    // sums — no embeddings rescan, no read-time tombstone
    val cdf = planString("q213_forgotten_drift_state_served")
    assert(cdf.contains("graft_centforget_state"),
      "q213 must read the forgotten centroid-sum state")
    assert(!cdf.contains("embeddings.parquet"),
      "q213 must not rescan the embeddings table:\n" + cdf.take(800))
    assert(!cdf.contains("md5"),
      "q213 must not re-apply the tombstone rule at read time")
    // q206: the deletion certificate is twenty-two STATE aggregates — the
    // corpus tables appear nowhere in the read plan (the claim that
    // makes the audit cheap enough to run per deletion batch)
    val cert = planString("q206_deletion_certificate")
    Seq("documents.parquet", "embeddings.parquet", "events.parquet")
      .foreach(t => assert(!cert.contains(t),
        s"q206 must not rescan $t:\n" + cert.take(800)))
    Seq("graft_assetforget_state", "graft_bpforget_state",
        "graft_funnelforgetstages", "graft_ivfforget_state",
        "graft_lshforget_state", "graft_trainshforget_state",
        "graft_vocabforget_state", "graft_packforget_state",
        "graft_dsforget_state", "graft_retentionforgetstages",
        "graft_ewmaforgetstages", "graft_bigramforgetstages",
        "graft_sessionforgetstages", "graft_centforget_state",
        "graft_lexforget_state", "graft_bigramlmforget_state")
      .foreach(st => assert(cert.contains(st),
        s"q206 must read every forgotten state dir (missing $st)"))
  }

  test("stream-served event reads scan their record sink, never the events table") {
    // the q192–q196 serving contract as a plan property (the q187–q190
    // convention applied to the fMGWS family): each read's executed plan
    // scans the persisted stream-sink records and the events table the
    // stream already consumed is ABSENT — the events scan happens once,
    // at build time, inside the streaming job. A refactor that quietly
    // re-derives a stage from raw events would fail here, not in a bench
    // regression.
    Seq(
      "q192_funnel_state_served" -> "graft_funnelstages",
      "q193_retention_state_served" -> "graft_retentionstages",
      "q194_ewma_state_served" -> "graft_ewmastages",
      "q195_transitions_state_served" -> "graft_bigramstages",
      "q196_session_state_served" -> "graft_sessionstages",
      // q205: the post-forget funnel reads the FORGOTTEN sink (its own
      // stream run, mutated in place) — no events rescan, and no
      // read-time tombstone re-execution either (checked below)
      "q205_forgotten_funnel_state_served" -> "graft_funnelforgetstages",
      "q208_forgotten_retention_state_served" -> "graft_retentionforgetstages",
      "q209_forgotten_ewma_state_served" -> "graft_ewmaforgetstages",
      "q210_forgotten_transitions_state_served" -> "graft_bigramforgetstages",
      "q211_forgotten_session_state_served" -> "graft_sessionforgetstages"
    ).foreach { case (q, state) =>
      val s = planString(q)
      assert(s.contains(state), s"$q must read its stream sink ($state)")
      assert(!s.contains("events.parquet"),
        s"$q must not rescan the events table:\n" + s.take(800))
    }
    Seq("q205_forgotten_funnel_state_served",
        "q208_forgotten_retention_state_served",
        "q209_forgotten_ewma_state_served",
        "q210_forgotten_transitions_state_served",
        "q211_forgotten_session_state_served").foreach(q =>
      assert(!planString(q).contains("md5"),
        s"$q must not re-apply the tombstone rule at read time"))
  }

  test("shuffle counts stay bounded for the headline queries") {
    val maxShuffles = Map(
      "q01_pricing_summary" -> 2, // partial/final agg + sort
      "q05_region_revenue" -> 4,  // fact join + agg + sort (dims broadcast)
      "q08_window_topk" -> 3,     // window partition + output sort
      "q86_event_transitions" -> 4, // user_id window + agg + prev window + sort
      "q87_weighted_sample" -> 3, // source window + output sort (+1 slack)
      "q88_length_histogram" -> 4, // agg + lang windows + sort
      "q90_user_entropy" -> 3,    // two-level agg + sort
      "q91_growth_accounting" -> 6, // distinct + user window + maxw + ledger agg + sort
      "q100_dup_ngram_fraction" -> 1, // PURE projection — only the output sort
      "q101_top_bigram_share" -> 3, // (doc,bigram) agg + doc agg + sort
      // (doc,term) agg + vocab agg + corpus total + term-join exchanges
      // + doc score agg + sort — all but the first at |vocab| or |docs|
      "q103_unigram_lm_score" -> 8,
      "q104_zipf_slope" -> 3,    // term agg + rank window + sort (stats agg reuses)
      "q105_quality_gate" -> 2,  // per-source agg + sort — flags are per-row
      // phrase-df agg + the one-row n_docs global agg + sort; the
      // df-table x n_docs join broadcasts
      "q106_boilerplate_phrases" -> 3,
      // blacklist agg + (doc,source) agg + source agg + sort; the
      // instance-vs-blacklist join itself broadcasts (no shuffle)
      "q107_boilerplate_exposure" -> 4,
      // docs-embeddings join + centroid agg + pair agg + sort; the
      // |sources|x64 pair join broadcasts
      "q108_centroid_drift" -> 4,
      "q109_lm_score_calibration" -> 9, // q103's chain + quantile agg + sort
      // blacklist agg + covered-starts agg + output sort; the membership
      // probe broadcasts by hint and AQE broadcasts the small cov side
      "q110_boilerplate_removal" -> 3,
      // post-checkpoint plan (the (doc,bucket) count table materializes
      // once and severs): bucket agg + one-row totals + doc score agg
      // + rank exchange over the 20-row top-k; the 256-row LM broadcasts
      "q111_dsir_importance" -> 5,
      // post-checkpoint plan only (Lloyd rounds are severed): cluster
      // size agg + pair-join exchanges + dropped distinct/agg + sort
      "q112_semantic_dedup" -> 8,
      // centroid agg + per-vector regroup + label window + sort; the
      // |label|x64 centroid table broadcasts
      "q113_embedding_outliers" -> 5,
      // fingerprint agg + size agg + one-partition window + sort
      "q114_dup_cluster_sizes" -> 5,
      // one |source|-key agg + output sort — text never shuffles
      "q115_script_composition" -> 2,
      "q116_tokenizer_fertility" -> 2,
      // band self-join exchanges + pair distinct + hamming agg + the
      // bounded-histogram window + sort
      "q117_neardup_threshold_curve" -> 8,
      // two in-row-deduped shingle scans (existing distinct + arrival
      // distinct) + hash probe join + source agg + sort
      "q118_arrival_novelty" -> 8,
      // one |source|-key agg + output sort
      "q119_packing_efficiency" -> 2,
      // fingerprint agg + the 4-way curve agg + sort
      "q120_dedup_saturation" -> 3,
      // one 64-key agg + output sort
      "q121_embedding_dim_health" -> 2,
      // |source|x|bigram| agg + |source| agg + sort — the per-char
      // explode never reaches an exchange (partial agg eats it)
      "q122_char_entropy" -> 3,
      // one groupBy(key) — both sums ride it; single-row output, no sort
      "q123_join_size_estimate" -> 2,
      // only TWO exchanges carry data (the count agg's and the rank
      // window's, both on source); the other six are |source|-row or
      // 1-row bookkeeping: weight re-agg, SinglePartition total, ledger
      // join sides, output sort
      "q124_temperature_mixture" -> 8,
      // word-vocab agg + pair agg + top-k single-partition window + sort
      "q125_bpe_merge_step" -> 4,
      // ONE (doc_id) sort-shuffle shared by all windows + doc agg
      // (rides the same partitioning) + output sort
      "q126_winnowing_fingerprints" -> 3,
      // band self-join exchanges + pair distinct + member distinct +
      // flag join + unpivot agg + sort (band family baseline is q117's 8)
      // +2 (r9): the hot-bucket cap's map-side-combined bucket agg and its
      // broadcast — the registered pipeline now ships the capped candidate
      // stage (VERDICT r8 item 2); the hot table itself never shuffles
      "q127_quality_dup_lift" -> 12,
      // banded index probe + two top-k windows + hit join + final sort;
      // queries/corpus sides broadcast where small
      "q128_ann_recall" -> 8,
      // prefix agg (count-distinct expand + final) + sort
      "q129_template_prefixes" -> 3,
      // unigram vocab agg + bigram vocab agg + doc agg + sort; both
      // ln-table joins broadcast at this scale
      "q130_bigram_lm_score" -> 4)
    maxShuffles.foreach { case (name, bound) =>
      val n = planOf(name).collect { case s: ShuffleExchangeLike => s }.size
      assert(n <= bound, s"$name has $n shuffles (bound $bound)")
    }
  }

  test("q143 computes the minhash signature ONCE: consumers read the checkpoint") {
    // the 3.5 s -> 1.6 s single-pass refactor's regression rail: if the
    // signature checkpoint is lost, minhash_sig re-appears in the final
    // plan (once per consumer) and this pins it
    val s = planString("q143_minhash_calibration")
    assert(!s.contains("minhash_sig"),
      "minhash_sig in the final plan — the single-pass checkpoint was lost")
    assert(!s.contains("CartesianProduct"))
  }

  test("q96 derives the shingle set ONCE: no scan or explode below the joins") {
    // r18 single-pass rail (the q143 convention): the distinct
    // (source, shingle-hash) frame feeds both self-join sides plus the
    // sizes fold, and exchange reuse does NOT fire across the
    // differently-aliased subtrees — unmaterialized, the executed plan
    // ran FOUR corpus text scans + shingle explodes. If the checkpoint
    // is lost they all come back, and this pins their absence.
    val s = planString("q96_source_overlap")
    assert(!s.contains("Scan parquet"),
      "corpus scan in the final plan — the shingle checkpoint was lost")
    assert(!s.contains("Generate"),
      "shingle explode in the final plan — the shingle checkpoint was lost")
  }

  test("unigram LM (q103/q109/q140) tokenizes ONCE: consumers read the checkpoint") {
    // r18 single-pass rail: the (doc, source, term, count) table feeds
    // the vocab chain and the per-doc score join — unmaterialized, the
    // corpus tokenize-explode ran 3x per query.
    Seq("q103_unigram_lm_score", "q109_lm_score_calibration",
        "q140_adaptive_quality_gate").foreach { name =>
      val s = planString(name)
      assert(!s.contains("Scan parquet"),
        s"$name: corpus scan in the final plan — the term-count checkpoint was lost")
      assert(!s.contains("Generate"),
        s"$name: tokenize explode in the final plan — the term-count checkpoint was lost")
    }
  }

  test("new ANN/curation queries: no cartesian products; shuffle budgets hold") {
    val bounds = Map(
      // observed 5: within-list self-join, top-k window, in-degree +
      // histogram aggs (the Lloyd chain hides behind its checkpoints)
      "q138_knn_hubness" -> 7,
      // observed 6: assign/centroid join, nlist agg, 1-row total, sort
      "q139_ivf_list_stats" -> 8,
      // observed 9: q103's score shuffles + ONE source window sort + gate agg
      "q140_adaptive_quality_gate" -> 11,
      // observed 12: capped band self-join + two doc-key tag joins +
      // matrix/distinct-doc aggs (q127's band-family baseline)
      "q141_crosssource_neardup" -> 14,
      // observed 10: probe/candidate joins, per-nprobe window, exact leg,
      // hit + candidate aggs
      "q142_ivf_probe_recall" -> 12,
      // observed 12: band join from checkpointed sigs, agreement joins,
      // shingle-probe joins, bucket agg
      "q143_minhash_calibration" -> 14)
    bounds.foreach { case (name, bound) =>
      val p = planOf(name)
      val n = p.collect { case s: ShuffleExchangeLike => s }.size
      info(s"$name: $n shuffles (bound $bound)")
      assert(n <= bound, s"$name has $n shuffles (bound $bound)")
      assert(!p.toString.contains("CartesianProduct"), s"$name went cartesian")
    }
  }

  test("corpus-assembly queries (q145-q157): no cartesian; shuffle budgets hold") {
    val bounds = Map(
      // bucket agg + tiny bucket cumulate + within-bucket window + sort
      "q145_context_packing" -> 6,
      // the design claim: ONE k-key agg + the final sort — assignment is
      // the in-row argmin against a broadcast row, never a shuffle
      "q146_lloyd_step" -> 4,
      // (source, hash) counts, source totals, pair l/r legs, full-outer
      // regroup, pair agg, sort
      "q147_source_js_divergence" -> 10,
      // |vecs|-key projection agg + 64-key ledger agg + sort (the one-row
      // total broadcasts)
      "q148_pca_power_step" -> 6,
      // q103's score shuffles folded to sources + sort
      "q149_doremi_reweight" -> 8,
      // Lloyd chain hides behind checkpoints; pairs checkpoint feeds the
      // two kNN windows + candidate-count/best-pick joins + sort
      "q150_bitext_margin" -> 12,
      // two bounded-key aggs + union sort
      "q151_k_anonymity" -> 6,
      // one |label|x3 agg + one-row total + sort
      "q152_split_balance" -> 5,
      // observed 7: five legs off three checkpoints — doc agg, fp-group
      // agg + one-row fold, window distinct, embeddings semi-join, sort
      "q153_tombstone_cascade" -> 9,
      // sibling one-row aggregate legs + the capped pair leg + union sort
      "q156_dataset_datasheet" -> 14,
      // q33's inverted-index family: df cut, index self-join, sizes, sort
      "q157_containment_pairs" -> 10)
    bounds.foreach { case (name, bound) =>
      val p = planOf(name)
      val n = p.collect { case s: ShuffleExchangeLike => s }.size
      info(s"$name: $n shuffles (bound $bound)")
      assert(n <= bound, s"$name has $n shuffles (bound $bound)")
      assert(!p.toString.contains("CartesianProduct"), s"$name went cartesian")
    }
  }

  test("closing trio (q158-q160): no cartesian; shuffle budgets hold") {
    val bounds = Map(
      // observed 6: q145's packing shuffles + window-key agg + sort;
      // source rides contextPacking's carry (no second scan, no doc join)
      // and the spans' presentation sort is skipped (sorted = false)
      "q158_window_provenance" -> 7,
      // observed 3: one |langs|²-key agg + per-class cell window + sort
      "q159_langid_confusion" -> 5,
      // observed 8: |sources| capacity agg + tiny-frame windows/cut + sort
      "q160_token_waterfill" -> 8)
    bounds.foreach { case (name, bound) =>
      val p = planOf(name)
      val n = p.collect { case s: ShuffleExchangeLike => s }.size
      info(s"$name: $n shuffles (bound $bound)")
      assert(n <= bound, s"$name has $n shuffles (bound $bound)")
      assert(!p.toString.contains("CartesianProduct"), s"$name went cartesian")
    }
  }

  test("round-10 curation family (q161-q168): no cartesian; shuffle budgets hold") {
    val bounds = Map(
      // observed 9: capped band join (hot agg + self-join) + hmin agg +
      // token join + 9-row level frame + sort
      "q161_dedup_savings_curve" -> 11,
      // observed 12: band join + two split-tag joins + pair/doc aggs + sort
      "q162_split_leakage" -> 14,
      // observed 3: ONE scan into the grid agg (gateFlags' nt rider —
      // no token re-scan, no doc_id join) + the share window over the
      // ≤20 aggregated rows + sort
      "q163_curriculum_grid" -> 5,
      // observed 4: |sources| capacity agg + tiny-frame broadcast + sort
      "q164_epoch_plan" -> 6,
      // observed 7: the q138 scaffold (within-list self-join + top-k
      // window, Lloyd chain behind checkpoints) + vote/accuracy aggs +
      // label join + sort — the family's most expensive query, pinned
      // like its siblings
      "q165_knn_label_eval" -> 9,
      // observed 20: four band-join legs (hot agg + self-join + count)
      // off ONE checkpointed signature table + the 4-row union sort
      "q166_minhash_band_planner" -> 24,
      // observed 1: the zero-body-shuffle claim — only the presentation
      // sort exchanges; a second shuffle appearing means the chunker
      // stopped fusing with the scan
      "q167_overlap_chunks" -> 1,
      // observed 4: fingerprint agg (partial/final) + histogram agg + sort
      "q168_formatting_variants" -> 5,
      // observed ~7: ONE (doc_id,pos) sort reused by both shingle legs
      // (ReusedExchange — pinned below), hash df agg, membership join,
      // island window re-sort + island agg + sort
      "q169_repeated_passages" -> 9,
      // observed ~8: token agg x2 off the checkpointed tok frame,
      // fingerprint agg + keeper join, two |sources| planner legs
      // (one-row totals broadcast), source join + sort
      "q170_dedup_aware_epochs" -> 11,
      // observed ~7: q169's detection shuffles + the coverage distinct,
      // the (doc_id,pos) cut join, the doc-key reassembly agg + sort
      "q171_passage_cut_apply" -> 10,
      // observed ~6: (doc_id,pos) shingle sort, (h,source) distinct-doc
      // agg, hash self-join exchanges, cell agg + sort
      "q172_crosssource_passages" -> 9,
      // observed ~5: fingerprint cluster agg, fp join exchanges,
      // size-key agg + sort
      "q173_soft_dedup_sample" -> 8,
      // observed ~12: the q76 band-join legs + the q112 in-cluster legs
      // (Lloyd chain behind checkpoints) + id semi-joins + the pair
      // full-outer + the single-row aggregate
      "q174_lexical_semantic_agreement" -> 16,
      // observed ~4: the Lloyd chain hides behind checkpoints, so the
      // query plan is: broadcast codeword join (map-side), (sub,cid)
      // aggregate, 4-key rollup, sort — ONE corpus-sized exchange
      "q175_pq_codebook_report" -> 6,
      // observed ~9: recon groupBy(vec_id) + ADC window + exact-leg
      // window + hit agg + closing join/sort, both score legs broadcast
      "q176_pq_adc_recall" -> 11,
      // observed ~5: code-pivot agg, band self-join exchanges, pair
      // distinct, two embedding rerank joins, single-row agg
      "q177_pq_code_neardup" -> 7,
      // observed ~2: the zero-body-shuffle claim — the max-run fold is
      // an in-row projection, so only the |sources|-key aggregate and
      // the presentation sort exchange
      "q178_repetition_runs" -> 3)
    bounds.foreach { case (name, bound) =>
      val p = planOf(name)
      val n = p.collect { case s: ShuffleExchangeLike => s }.size
      info(s"$name: $n shuffles (bound $bound)")
      assert(n <= bound, s"$name has $n shuffles (bound $bound)")
      assert(!p.toString.contains("CartesianProduct"), s"$name went cartesian")
    }
  }

  test("q169 shares ONE shingle stream: the df leg reuses the positions exchange") {
    // shingleHashStream feeds both the hash-df aggregate and the
    // membership probe. Two regimes, both pinned:
    //  - UNKEYED (ad-hoc frames): the identical (doc_id, pos) shuffle
    //    subtree must dedupe via AQE stage reuse, not tokenize the
    //    corpus twice — the declarative shape for one-shot use, where
    //    materializing a corpus-sized positional stream would be waste.
    //  - REGISTERED (since r12): the query reads the corpus-keyed
    //    checkpointed stream substrate (LogicalRDD) — the deliberate
    //    index-build materialization four sibling queries amortize; the
    //    tokenize-twice risk is structurally gone.
    // Reuse only appears in the FINAL adaptive plan, so execute first.
    val adhoc = TextAnalysis.repeatedPassages(
      graft.Tables.documents(spark, sf001), dfMin = 2)
    // collect THIS frame (count() would build a different QueryExecution
    // and leave this one's adaptive plan unfinalized)
    adhoc.collect()
    val sa = adhoc.queryExecution.executedPlan.toString
    assert(sa.contains("ReusedExchange") || sa.contains("ReusedQueryStage"),
      "unkeyed q169 lost exchange reuse — the corpus is tokenized twice:\n" +
        sa.take(1200))
    val df = graft.SparkEntry.queries("q169_repeated_passages")(spark, sf001)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("ReusedExchange") || s.contains("ReusedQueryStage") ||
        s.contains("Scan ExistingRDD"),
      "registered q169 must read the shared stream substrate or reuse " +
        "the exchange:\n" + s.take(1200))
    assert(!s.contains("CartesianProduct"))
  }

  test("q141/q162 two-branch matrices reuse the band join via AQE stage reuse") {
    // both queries consume the capped simhash pair table in TWO aggregate
    // branches (n_pairs and distinct n_docs) with no checkpoint: the
    // identical band-join subtree must dedupe at runtime (ReusedExchange /
    // ReusedQueryStage in the FINAL adaptive plan), or a Spark upgrade
    // could silently run the band join twice. Reuse is only visible after
    // execution of THIS QueryExecution, so collect the frame itself
    // (count() would build a separate execution and show no reuse).
    for (name <- Seq("q141_crosssource_neardup", "q162_split_leakage")) {
      val df = SparkEntry.queries(name)(spark, sf001)
      df.collect()
      val s = df.queryExecution.executedPlan.toString
      assert(s.contains("ReusedExchange") || s.contains("ReusedQueryStage"),
        s"$name lost exchange reuse — the band join runs twice:\n" + s.take(1200))
      assert(!s.contains("CartesianProduct"))
    }
  }

  test("q159 totals fold from the cell frame: no join, one corpus aggregate") {
    val s = planString("q159_langid_confusion")
    assert(!s.contains("Join"), "q159 grew a join — totals must come from the cell window")
    // exactly one aggregate pair (partial+final) over the corpus: the
    // |langs|² cell count; lang_total is a window over those cells
    assert(s.contains("Window"), "q159 lost the per-class total window")
  }

  test("q158 carries source through the packing: no doc-key sort-merge join") {
    val s = planString("q158_window_provenance")
    assert(!s.contains("SortMergeJoin"),
      "q158 re-grew the doc_id join — source must ride contextPacking's carry")
  }

  test("q181's serving read never rescans the corpus: no documents.parquet in the plan") {
    // the state-served datasheet's WHOLE point is that the corpus text is
    // scanned at arrival (the fold), never at read time — the read plan
    // touches only the state tables under the temp stateDir
    val df = SparkEntry.queries("q181_datasheet_state_served")(spark, sf001)
    val s = df.queryExecution.analyzed.toString +
      df.queryExecution.executedPlan.toString
    assert(!s.contains("documents.parquet"),
      "q181's read plan scans the corpus — the maintained-state contract is broken:\n" +
        s.take(1200))
    assert(s.contains("graft_ds_state"),
      "q181's read plan does not reference the on-disk state dir")
  }

  test("q183 ADC candidates are scored from codes, not full-precision vectors") {
    // the asymmetric-distance claim, pinned on the plan: of the scans of
    // the persisted lists/ table, only the QUERY-VECTOR leg may read the
    // full-precision column `v` — candidate scoring goes through the
    // 2-byte codes + broadcast codebooks (pqRecon), so exactly one
    // lists/ scan carries v in its ReadSchema
    val s = planString("q183_pq_adc_state_served")
    // count lists/-backed scans whose pruned ReadSchema still includes v
    val listScans = s.linesIterator
      .filter(l => l.contains("graft_ivf_state") && l.contains("/lists"))
      .toSeq
    assert(listScans.nonEmpty,
      "no lists/ scan rendered in the plan — the pin went vacuous:\n" +
        s.take(1500))
    val vListScans = listScans.count(_.contains("v:array"))
    assert(vListScans <= 1,
      s"$vListScans lists/ scans read the full-precision vectors — ADC " +
        "candidate scoring must touch only codes:\n" + s.take(1500))
  }

  test("q186 scores arrivals against persisted vocab: one corpus scan, state read present") {
    // the maintained-reference-LM contract on the plan: the corpus
    // appears ONCE (as the arrivals being scored) — the vocabulary side
    // reads the folded state table, never a second corpus pass
    val s = planString("q186_lm_score_state_served")
    val corpusScans = s.linesIterator.count(l =>
      l.contains("documents.parquet") && l.contains("FileScan"))
    assert(corpusScans == 1,
      s"$corpusScans corpus scans in q186's plan — the vocab side must " +
        "come from state:\n" + s.take(1500))
    assert(s.contains("graft_vocab_state"),
      "q186's plan does not reference the on-disk vocab state")
  }

  test("q146 argmin runs in-row: no per-vector shuffle, no window, no join on vec_id") {
    val s = planString("q146_lloyd_step")
    assert(!s.contains("Window"), "q146 grew a window — the in-row argmin was lost")
    assert(!s.contains("SortMergeJoin"), "q146 grew a sort-merge join")
    assert(s.contains("array_min"), "q146's in-row argmin disappeared from the plan")
  }

  test("no registered query ends in a presentation sort (the r17 strip invariant)") {
    // Q.stripPresentationSort removes the root global Sort (and the
    // Sort under a deterministic root Project) from every registered
    // query at construction — the driver's compare canonicalizes by
    // sorting rows, so that Sort bought only display order at the price
    // of a full range exchange of the result. This sweep pins the
    // invariant structurally over EVERY registered query: a future
    // registration whose logical root is still a global Sort (or a
    // deterministic Project over one) would re-grow the trailing
    // `Exchange rangepartitioning + Sort` the strip removed. A
    // sortWithinPartitions root (global=false) and a Sort under a Limit
    // (top-k semantics) are deliberately NOT flagged.
    import org.apache.spark.sql.catalyst.plans.logical.{Project => LProject, Sort => LSort}
    val offenders = SparkEntry.all.flatMap { q =>
      val root = q.run(spark, sf001).queryExecution.logical
      root match {
        case LSort(_, true, _, _) => Some(q.name -> "root global Sort")
        case p @ LProject(_, LSort(_, true, _, _))
            if p.projectList.forall(_.deterministic) =>
          Some(q.name -> "deterministic Project over global Sort")
        case _ => None
      }
    }
    assert(offenders.isEmpty,
      "queries still carrying a presentation sort at the registry " +
        "boundary: " + offenders.map { case (n, w) => s"$n ($w)" }
          .mkString(", "))
  }
}
