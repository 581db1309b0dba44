package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.DetAgg
import graft.functions.VectorOps._

/** Similarity search over the `embeddings` table.
  *
  * Scale posture:
  *  - brute-force top-k broadcasts the QUERY vectors (tiny) against the
  *    corpus scan — one pass, no corpus shuffle, per-query top-k via a
  *    bounded window. Correct baseline at any scale, O(n·q·dim) compute.
  *  - the ANN path buckets the corpus by a deterministic random-
  *    hyperplane signature: candidate generation is a bucket equi-join
  *    (shuffle keyed on a few bits), then exact re-rank only inside the
  *    bucket. That's the IVF/LSH shape a 100 TB deployment needs — the
  *    all-pairs product is never materialized.
  *  - all-pairs near-dup (q38) is kept for oracle parity at small SF;
  *    its LSH replacement is exactly q39's bucket join.
  */
object Similarity {

  /** Cosine top-k neighbors for each query id, excluding self. */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      corpusKey: Option[String] = None): DataFrame = {
    // keyed (the registered q36/q128/q176 form): corpus side reads the
    // ONE checkpointed (vec_id, embedding, nrm) frame q38's pair join
    // also reads, and the score divides by the precomputed norms —
    // value-identical doubles (same VecDot expressions, evaluated once
    // per row instead of once per (row, query)). Alternating subset A/B
    // at sf0.1 (3 base vs 5 keyed runs): q36 median 0.456 -> 0.410 s, a
    // consistent small win because the brute-force pass stands alone;
    // the q128/q176 recall legs measured neutral-to-worse keyed and
    // stay unkeyed (the do-not comments at their call sites).
    corpusKey match {
      case Some(ck) =>
        val e = normedFrame(embeddings, ck)
        val queries = e.filter(col("vec_id").isin(queryIds: _*))
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
            col("nrm").as("qnrm"))
        val scored = e.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            round(graft.expressions.VecDot(col("embedding"), col("qvec"))
              / (col("nrm") * col("qnrm")), 6).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      case None =>
        val queries = embeddings
          .filter(col("vec_id").isin(queryIds: _*))
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val scored = embeddings.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"),
            cosine(col("embedding"), col("qvec")).as("cosine"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    }
  }

  /** Banded LSH ANN: `planes` hyperplane bits split into bands of
    * `bandBits`; a corpus vector is a candidate if it agrees with the
    * query on ALL bits of ANY band (the OR-of-ANDs LSH amplification —
    * same shape as MinHash banding in Dedup). Candidates get an exact
    * cosine re-rank. More bands → higher recall; wider bands → smaller
    * buckets. The join is an equi-join on (band, bits): |corpus|×|bands|
    * fixed-size keys, never all pairs. */
  def annTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      planes: Int = 8, bandBits: Int = 2,
      corpusKey: Option[String] = None): DataFrame = {
    // keyed path: the signature table is the LSH "hash tables" every
    // serving read probes — built once per (corpus, planes) and
    // checkpoint-backed, the same maintained-index posture as ivfIndex.
    // The signature is 8 interpreted-HOF plane projections per row (HOFs
    // don't enter whole-stage codegen), so q39/q128/q137 each paid the
    // full corpus sig pass per run before this. Keyless callers (tests,
    // ad-hoc frames) still get a pure function.
    def buildSigned =
      embeddings.withColumn("sig", hyperplaneSignature(col("embedding"), planes))
    val signed = corpusKey match {
      case Some(key) =>
        graft.AnnSubstrate.getOrBuildFrames(embeddings.sparkSession,
            s"lshsig|$key|$planes")(
          buildSigned.localCheckpoint(true))(f => Seq(f))
      case None => buildSigned
    }
    annTopKFromSigned(signed, queryIds, k, planes, bandBits)
  }

  /** The probe/re-rank stage of [[annTopK]] over a PRE-SIGNED frame
    * (vec_id, embedding, sig) — the one LSH search definition shared by
    * the batch operator, the in-session memo, and the maintained on-disk
    * index ([[graft.streaming.LshStateStream.topKFromState]]), so a
    * state-served answer can never drift from its batch twin. */
  def annTopKFromSigned(signed: DataFrame, queryIds: Seq[Long], k: Int,
      planes: Int = 8, bandBits: Int = 2): DataFrame = {
    val nBands = planes / bandBits
    val mask = (1L << bandBits) - 1
    val banded = signed.select(col("vec_id"), col("embedding"), col("sig"),
        explode(expr(s"sequence(0, ${nBands - 1})")).as("band"))
      .withColumn("bits", expr(s"shiftright(sig, band * $bandBits) & ${mask}L"))
    val queries = banded
      .filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("band").as("qband"), col("bits").as("qbits"))
    val scored = banded.join(broadcast(queries),
        col("band") === col("qband") && col("bits") === col("qbits") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"), col("qvec"))
      .distinct() // a pair may agree on several bands
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** k-means-lite coarse quantizer for IVF: deterministic seeds (lowest
    * vec_ids), a few Lloyd iterations as pure DataFrame ops. Returns
    * (centroid_id, cvec). Centroid recompute is a posexplode → per-dim
    * avg → re-assemble; everything per-iteration is one shuffle keyed by
    * centroid, so the loop scales to any corpus size.
    *
    * Each iteration's result is eagerly `localCheckpoint`ed: the centroid
    * table is tiny (nlist rows) but is referenced once per subsequent
    * iteration AND by the downstream assign/probe stages — without the
    * checkpoint, lineage compounds per iteration and every consumer
    * re-executes the whole Lloyd chain (and at iters≫3 the growing plan
    * itself becomes the bottleneck). This is the DataFrame analog of
    * MLlib KMeans keeping centers on the driver between iterations. */
  def kmeansCentroids(embeddings: DataFrame, k: Int, iters: Int): DataFrame = {
    // the per-dim mean is DetAgg.davg (exact decimal sum, one double
    // division): order-independent and therefore bit-identical on any
    // partitioning, across a crash/re-run, AND in the DuckDB twin —
    // which is what gives q49 a full value-hash oracle
    val dv = embeddings.select(col("vec_id"),
      graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
    var centroids = dv.orderBy(col("vec_id")).limit(k)
      .select((col("vec_id")).as("cid"), col("v").as("cvec"))
      .withColumn("cid", row_number().over(Window.orderBy(col("cid"))) - 1)
      .localCheckpoint(true)
    (0 until iters).foreach { _ =>
      val assigned = assign(dv, centroids)
      centroids = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos")).agg(DetAgg.davg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), expr("transform(pm, s -> s.m)").as("cvec"))
        .localCheckpoint(true)
    }
    centroids
  }

  /** Nearest-centroid assignment as a pure map-side projection: the
    * centroid set is folded into ONE broadcast array row and the per-row
    * argmax runs inside a `transform` + `array_max` over it — the corpus
    * is never shuffled or row-multiplied for assignment (the previous
    * shape shuffled corpus×nlist rows through a groupBy on the vector
    * itself). `array_max` over struct(sim, cid) keeps the exact ordering
    * semantics of the old max(struct): highest similarity, ties to the
    * larger cid. */
  private[graft] def assign(dv: DataFrame, centroids: DataFrame): DataFrame = {
    val carr = centroids.agg(collect_list(struct(col("cid"), col("cvec"))).as("cs"))
    dv.crossJoin(broadcast(carr))
      .select(col("vec_id"), col("v"),
        array_max(transform(col("cs"), c =>
          struct(
            graft.expressions.VecDot(col("v"), c.getField("cvec")).as("sim"),
            c.getField("cid").as("cid"))))
          .getField("cid").as("cid"))
  }

  /** The ONE in-session IVF index build every batch consumer routes
    * through: centroids (cid, cvec) from the Lloyd chain plus the
    * assigned list table (cid, vec_id, v, nrm), both eagerly
    * checkpoint-backed. When `corpusKey` names the corpus (the
    * registered queries pass the testdata path), the pair is memoized
    * process-wide via [[graft.AnnSubstrate]] keyed
    * (corpus, nlist, iters) — so the ten-plus ANN
    * queries that consume the identical index stop re-running the
    * identical Lloyd chain and corpus assignment per query. That is
    * the maintained-index posture: production trains a coarse
    * quantizer once and serves every read from it
    * ([[graft.streaming.IvfStateStream]] is the streaming twin that
    * keeps these same two frames as on-disk state). Without a key
    * (tests, ad-hoc frames) every call builds fresh — a pure function.
    * The rider norm is the family's shared per-row L2; consumers that
    * don't need it project it away for free. */
  private[graft] def ivfIndex(embeddings: DataFrame, nlist: Int, iters: Int,
      corpusKey: Option[String] = None): (DataFrame, DataFrame) = {
    // checkpoint: memoized path only — the pqStage checkpointCodes
    // trade. A keyless (test/ad-hoc) caller reads the index once, so an
    // eager checkpoint is a pure extra materialization AND a persistent
    // corpus-sized block nothing sweeps outside Bench; the lazy plan
    // also lets Catalyst prune the nrm rider for consumers that drop it
    def build(checkpoint: Boolean): (DataFrame, DataFrame) = {
      val centroids = kmeansCentroids(embeddings, nlist, iters)
      val dv = embeddings.select(col("vec_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("v"))
      val plan = assign(dv, centroids)
        .select(col("cid"), col("vec_id"), col("v"),
          sqrt(graft.expressions.VecDot(col("v"), col("v"))).as("nrm"))
      (centroids, if (checkpoint) plan.localCheckpoint(true) else plan)
    }
    corpusKey match {
      case Some(ck) => graft.AnnSubstrate.getOrBuildFrames(
        embeddings.sparkSession,
        s"ivf|$ck|$nlist|$iters")(build(checkpoint = true))(
        t => Seq(t._1, t._2))
      case None => build(checkpoint = false)
    }
  }

  /** IVF ANN: probe the `nprobe` most similar centroid lists, exact
    * re-rank inside. Candidate set is nprobe/nlist of the corpus — the
    * inverted-file shape that makes 100 TB ANN feasible. */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      nlist: Int = 8, nprobe: Int = 3, iters: Int = 3,
      corpusKey: Option[String] = None): DataFrame = {
    val (centroids, idx) =
      ivfIndex(embeddings, nlist, iters, corpusKey)
    val lists = idx.select(col("vec_id"), col("v"), col("cid"))
    val queries = lists.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    ivfTopKFromIndex(lists, centroids, queries, k, nprobe)
  }

  /** The probe/score/top-k consumption path over a PREBUILT inverted
    * file — `lists` (vec_id, v, cid) and `centroids` (cid, cvec) come
    * from the caller, so the same code serves the one-shot [[ivfTopK]]
    * (which builds both per run) and the maintained-index read path
    * ([[graft.streaming.IvfStateStream.topKFromState]], where both are
    * persisted state and NO Lloyd chain runs at query time — the
    * production serving shape). One definition of probe ranking,
    * cosine scoring, and tie-breaks: the served answer cannot drift
    * from the batch operator. */
  def ivfTopKFromIndex(lists: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = ivfProbes(queries, centroids, nprobe)
    val scored = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** The probe stage — per query, the `nprobe` most similar centroids
    * (ties to the smaller cid): ONE definition shared by the float
    * serving path ([[ivfTopKFromIndex]]) and the PQ serving path
    * ([[graft.streaming.IvfStateStream.adcTopKFromState]]). */
  private[graft] def ivfProbes(queries: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    queries.crossJoin(broadcast(centroids))
      .withColumn("sim", graft.expressions.VecDot(col("qv"), col("cvec")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("cid"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid"))

  private val QueryIds = Seq(0L, 100L, 200L)

  /** The [[graft.AnnSubstrate]] memo key for the registered corpus —
    * the parquet path every registered ANN query loads. Explicit path
    * identity, never DataFrame-plan identity (two in-memory fixtures
    * with one schema must never collide). */
  private def embKey(d: String): Option[String] = Some(s"$d/embeddings.parquet")

  /** q39's oracle SQL — shared VERBATIM with q189's state-served read,
    * so a hash match there proves the maintained LSH index and a batch
    * sign-and-search recompute are value-identical. */
  private val q39OracleSql: String = q39OracleSqlOver("embeddings")

  private def q202OracleSql: String = q39OracleSqlOver(
    "(SELECT * FROM embeddings WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "')")

  /** q39's chain over an arbitrary embeddings relation — `"embeddings"`
    * renders the historical q39/q189 SQL byte-equal; q202 passes the
    * tombstone-survivor subquery, because deleting a vector from the
    * LSH index removes its signature row entirely: it can neither BAND
    * (generate candidates) nor SCORE — exactly a batch sign-and-search
    * over the surviving corpus. */
  private def q39OracleSqlOver(embRel: String): String =
    s"""WITH sig AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN proj > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS sig
      |  FROM (
      |    SELECT vec_id, p.p AS p,
      |      list_sum(list_transform(range(len(embedding)), j ->
      |        CAST(embedding[j + 1] AS DOUBLE) *
      |        (CASE WHEN CAST('0x' || substring(md5(p.p || '|' || j), 1, 1) AS INTEGER) % 2 = 0
      |              THEN 1.0 ELSE -1.0 END))) AS proj
       |    FROM $embRel CROSS JOIN (SELECT unnest(range(8)) AS p) p) t
       |  GROUP BY vec_id),
      |banded AS (
      |  SELECT vec_id, b.b AS band, (sig >> (b.b * 2)) & 3 AS bits
      |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) b),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS query_id, e.vec_id
      |  FROM banded e JOIN banded q
      |    ON e.band = q.band AND e.bits = q.bits
      |   AND q.vec_id IN (0, 100, 200) AND e.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT c.query_id, c.vec_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
      |  FROM cand c
       |  JOIN $embRel e ON e.vec_id = c.vec_id
       |  JOIN $embRel q ON q.vec_id = c.query_id)
      |SELECT query_id, vec_id, cosine, CAST(rn AS INT) AS rn FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, vec_id) AS rn
      |  FROM scored) t
      |WHERE rn <= 10
      |ORDER BY query_id, rn""".stripMargin

  /** Build-once on-disk LSH index for the state-served read (q189):
    * fold the corpus through the SAME micro-batch sign-and-append the
    * maintenance stream runs (LshStateStream.update, two parity waves so
    * wave 1's anti-join probes non-empty state, then a REPLAY of wave 1
    * so the idempotence no-op executes against real state). Memoized per
    * (session, corpus); protectNew = false — the durable product is the
    * on-disk index (the q180/q181 servedStateDir contract). */
  private def servedLshStateDir(s: SparkSession, d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"lshstate|$d/embeddings.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_lsh_state").toString)
      val embs = Tables.embeddings(s, d)
      val wave1 = embs.filter(col("vec_id") % 2 =!= 0)
      graft.streaming.LshStateStream.update(dir)(
        embs.filter(col("vec_id") % 2 === 0), 0L)
      graft.streaming.LshStateStream.update(dir)(wave1, 1L)
      graft.streaming.LshStateStream.update(dir)(wave1, 1L) // replay no-op
      dir
    }

  private def cosineSql(a: String, b: String) =
    s"round(list_cosine_similarity($a::DOUBLE[], $b::DOUBLE[]), 6)"

  /** MMR (maximal marginal relevance) diversified top-k — the standard
    * re-ranking pass between retrieval and consumption: greedily pick
    * the candidate maximizing `λ·cos(q,c) − (1−λ)·max_{s∈selected}
    * cos(c,s)`, so near-duplicate neighbors stop crowding the result
    * page (for training-data work: diverse exemplar selection from a
    * retrieved pool). Runs entirely on the top-`fromN` candidate set —
    * the production shape, where re-ranking cost is bounded by the
    * retrieved page (|queries|·fromN rows, fromN² pair sims), never the
    * corpus.
    *
    * The k greedy rounds run IN-ROW: each query's page is collected to
    * one array of ≤ fromN candidate structs and the greedy selection is
    * a single higher-order fold over `sequence(1, k)` — each step
    * filters out already-selected candidates and reduces to the argmax
    * of `λ·rel − (1−λ)·max_sel sim` (pair cosines computed on demand
    * inside the lambda; ≤ fromN·k per step, interpreted, trivially
    * bounded). The round-9 formulation ran the same rounds as k
    * DataFrame steps with a localCheckpoint barrier each — ~7 scheduling
    * barriers (~4 s wall-clock) for page-bounded data; the fold removes
    * every barrier while [[mmrTopKRounds]] keeps the DataFrame-step
    * formulation as the spec's semantic pin (MmrFoldSpec: fold ==
    * rounds, row for row).
    *
    * Determinism: relevance and pair sims are the family's round-6
    * cosines; the score is one IEEE expression over them with ties
    * broken on (score DESC, vec_id) — the fold's keep-better reduction
    * applies the same strict total order, so the winner is independent
    * of array order and identical to the rounds/oracle formulation.
    * That holds even for NaN scores (a NaN-valued input embedding — a
    * zero-norm vector instead fails LOUDLY under ANSI's divide-by-zero,
    * never silently): Spark SQL's `>` and `===` on doubles use the
    * TOTAL order (NaN greater than everything, NaN = NaN true — the
    * same order the rounds window sort applies), not IEEE partial
    * comparison, so a NaN candidate wins deterministically in both
    * formulations (MmrFoldSpec's NaN case pins this). */
  def mmrTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 5,
      fromN: Int = 20, lambda: Double = 0.7): DataFrame = {
    val selStructDdl =
      "struct<vec_id:bigint,step:int,relevance:double,mmr_score:double,v:array<double>>"
    // one row per query: the retrieved page as an array of candidate
    // structs (vector carried as double[] so in-row pair cosines are
    // bit-identical to the pair-table formulation)
    val pages = bruteForceTopK(embeddings, queryIds, fromN)
      .join(embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("vec_id").as("vec_id"),
        col("cosine").as("cosine"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("v")))
        .as("cands"))
    def pairSim(a: Column, b: Column): Column =
      round(graft.expressions.VecDot(a, b) /
        (sqrt(graft.expressions.VecDot(a, a)) *
          sqrt(graft.expressions.VecDot(b, b))), 6)
    // argmax over unselected candidates by (score DESC, vec_id ASC) —
    // a keep-better reduction under a strict total order (vec_ids are
    // distinct), so the result does not depend on array order
    def pick(cands: Column, sel: Column, step: Column): Column = {
      val avail = filter(cands, c =>
        !exists(sel, s => s("vec_id") === c("vec_id")))
      aggregate(avail, lit(null).cast(selStructDdl), (acc, c) => {
        val pen = coalesce(
          aggregate(sel, lit(null).cast("double"),
            (m, s) => greatest(m, pairSim(c("v"), s("v")))),
          lit(0.0d))
        val score = lit(lambda) * c("cosine") - lit(1.0d - lambda) * pen
        val cand = struct(c("vec_id").as("vec_id"),
          step.cast("int").as("step"), c("cosine").as("relevance"),
          score.as("mmr_score"), c("v").as("v"))
        when(acc.isNull || score > acc("mmr_score") ||
          (score === acc("mmr_score") && c("vec_id") < acc("vec_id")), cand)
          .otherwise(acc)
      })
    }
    val folded = aggregate(sequence(lit(1), lit(k)),
      array().cast(s"array<$selStructDdl>"),
      (sel, step) => concat(sel, array(pick(col("cands"), sel, step))))
    pages
      // a page smaller than k yields null picks past its size — drop them
      .select(col("query_id"),
        explode(filter(folded, s => s.isNotNull)).as("p"))
      .select(col("query_id"), col("p.vec_id").as("vec_id"),
        col("p.step").as("step"), col("p.relevance").as("relevance"),
        col("p.mmr_score").as("mmr_score"))
  }

  /** The round-9 DataFrame-rounds formulation of [[mmrTopK]] — k greedy
    * rounds as k bounded DataFrame steps (anti-join unselected, max-sim
    * penalty join, argmax window), a localCheckpoint barrier per round.
    * Kept as the semantic pin for the in-row fold (MmrFoldSpec proves
    * fold == rounds row for row); the registered q136 ships the fold. */
  private[graft] def mmrTopKRounds(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int = 5, fromN: Int = 20, lambda: Double = 0.7): DataFrame = {
    // the greedy rounds only need (query_id, vec_id, cosine) — vectors
    // feed the pair-sim table once and never enter the k anti-join/
    // window rounds (carrying them through each round's shuffle was the
    // measurable waste the first cut had)
    val candVec = bruteForceTopK(embeddings, queryIds, fromN)
      .join(embeddings.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cosine"), col("embedding"))
      .localCheckpoint()
    val cand = candVec.select(col("query_id"), col("vec_id"), col("cosine"))
    val pairs = candVec.as("x").join(candVec.as("y"),
        col("x.query_id") === col("y.query_id") &&
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.query_id").as("query_id"), col("x.vec_id").as("v1"),
        col("y.vec_id").as("v2"),
        cosine(col("x.embedding"), col("y.embedding")).as("sim"))
      .localCheckpoint()
    // empty seed with the loop's exact output schema, derived from the
    // same expressions the rounds union in
    var selected = cand
      .select(col("query_id"), col("vec_id"), lit(0).as("step"),
        col("cosine").as("relevance"), lit(0.0d).as("mmr_score"))
      .limit(0)
    for (step <- 1 to k) {
      val pen = pairs
        .join(selected.select(col("query_id"), col("vec_id").as("v2")),
          Seq("query_id", "v2"))
        .groupBy(col("query_id"), col("v1")).agg(max(col("sim")).as("pen"))
      val scoreCol = lit(lambda) * col("cosine") -
        lit(1.0d - lambda) * coalesce(col("pen"), lit(0.0d))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(scoreCol.desc, col("vec_id"))
      val pick = cand
        .join(selected.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti")
        .join(pen, cand("query_id") === pen("query_id") &&
          col("vec_id") === col("v1"), "left")
        .drop(pen("query_id")).drop("v1")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("query_id"), col("vec_id"), lit(step).as("step"),
          col("cosine").as("relevance"), scoreCol.as("mmr_score"))
      selected = selected.union(pick).localCheckpoint()
    }
    selected
  }

  /** The DuckDB twin of [[mmrTopK]]: the k greedy rounds unrolled into k
    * CTE steps (DuckDB's recursive CTEs cannot carry the per-step argmax
    * window, so the fixed k is unrolled — same technique as the q81
    * components CTE, fixed shape instead of recursion). */
  private def mmrSql(k: Int, fromN: Int, lambda: Double): String = {
    // q79 convention: bare decimal literals parse as DECIMAL in DuckDB —
    // CAST to DOUBLE so both engines score with the identical IEEE values
    // (including the 1-λ artifact 0.30000000000000004)
    val lam = s"CAST(${lambda} AS DOUBLE)"
    val oneMinus = s"CAST(${1.0d - lambda} AS DOUBLE)"
    val head =
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
         |  WHERE vec_id IN (${QueryIds.mkString(", ")})),
         |cand AS (
         |  SELECT query_id, vec_id, cosine, embedding FROM (
         |    SELECT q.query_id, e.vec_id,
         |      ${cosineSql("e.embedding", "q.qvec")} AS cosine, e.embedding,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.qvec")} DESC, e.vec_id) AS rn
         |    FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
         |  WHERE rn <= $fromN),
         |pair AS (
         |  SELECT x.query_id, x.vec_id AS v1, y.vec_id AS v2,
         |    ${cosineSql("x.embedding", "y.embedding")} AS sim
         |  FROM cand x JOIN cand y
         |    ON x.query_id = y.query_id AND x.vec_id <> y.vec_id),
         |sel1 AS (
         |  SELECT query_id, vec_id, 1 AS step, cosine AS relevance,
         |    $lam * cosine - $oneMinus * COALESCE(CAST(NULL AS DOUBLE), 0) AS mmr_score
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $lam * cosine - $oneMinus * COALESCE(CAST(NULL AS DOUBLE), 0) DESC,
         |        vec_id) AS rn
         |    FROM cand) WHERE rn = 1),
         |selu1 AS (SELECT * FROM sel1)""".stripMargin
    val steps = (2 to k).map { s =>
      val prev = s - 1
      s""",
         |sel$s AS (
         |  SELECT query_id, vec_id, $s AS step, relevance, score AS mmr_score FROM (
         |    SELECT c.query_id, c.vec_id, c.cosine AS relevance,
         |      $lam * c.cosine - $oneMinus * COALESCE(p.pen, 0) AS score,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY $lam * c.cosine - $oneMinus * COALESCE(p.pen, 0) DESC,
         |          c.vec_id) AS rn
         |    FROM cand c
         |    LEFT JOIN (
         |      SELECT pr.query_id, pr.v1, max(pr.sim) AS pen
         |      FROM pair pr JOIN selu$prev s
         |        ON pr.query_id = s.query_id AND pr.v2 = s.vec_id
         |      GROUP BY 1, 2) p
         |      ON p.query_id = c.query_id AND p.v1 = c.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM selu$prev s
         |      WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id))
         |  WHERE rn = 1),
         |selu$s AS (SELECT * FROM selu$prev UNION ALL SELECT * FROM sel$s)""".stripMargin
    }.mkString
    head + steps +
      s"""
         |SELECT query_id, step, vec_id, relevance, mmr_score
         |FROM selu$k ORDER BY query_id, step""".stripMargin
  }

  /** Reciprocal rank fusion (q137): the standard hybrid-retrieval
    * combiner — fuse two rankers' result lists by summing 1/(c + rank)
    * per document (Cormack et al. 2009's c = 60), here over the exact
    * (q36) and LSH-approximate (q39) top-k lists the registry already
    * serves. RRF needs only RANKS, never comparable scores, which is
    * why production stacks reach for it when fusing retrievers with
    * incommensurable scoring (BM25 + dense, exact + ANN). Scale: both
    * input rankings are page-bounded (top-N per query); the fusion is
    * one union + one (query, doc) groupBy + one bounded top-k window —
    * cost is the page, never the corpus.
    *
    * Determinism: ranks are exact ints; each doc's score sums at most
    * two 1/(60+r) doubles in a FIXED order (exact-ranker term first via
    * max_by over the ranker tag — both engines reduce the same pair),
    * ties on (score DESC, vec_id). */
  def rrfFuse(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 5,
      fromN: Int = 10, c: Int = 60,
      corpusKey: Option[String] = None): DataFrame = {
    val exact = bruteForceTopK(embeddings, queryIds, fromN)
      .select(col("query_id"), col("vec_id"), col("rn"), lit("exact").as("src"))
    val ann = annTopK(embeddings, queryIds, fromN, corpusKey = corpusKey)
      .select(col("query_id"), col("vec_id"), col("rn"), lit("ann").as("src"))
    val fused = exact.union(ann)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(
        // fixed evaluation order: exact term + ann term, each 0 when the
        // ranker missed the doc — one addition, same shape both engines
        (coalesce(max(when(col("src") === "exact",
            lit(1.0d) / (lit(c.toDouble) + col("rn")))), lit(0.0d)) +
          coalesce(max(when(col("src") === "ann",
            lit(1.0d) / (lit(c.toDouble) + col("rn")))), lit(0.0d)))
          .as("rrf_score"),
        count(lit(1)).cast("int").as("n_rankers"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("vec_id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"),
        col("rrf_score"), col("n_rankers"))
  }

  /** BM25 lexical top-k, query-by-example — the retrieval family's
    * missing LEXICAL leg (the registry serves dense exact/ANN/IVF/PQ
    * search and RRF fusion; production hybrid search fuses those with
    * a keyword ranker, and BM25 is the standard one): for each query
    * document, every OTHER document scored by Robertson/Spärck-Jones
    * BM25 over the query's terms (k1 = 1.2, b = 0.75), top-k by score.
    *
    * Determinism is the q103 integer-micro-nat playbook extended to
    * BM25's per-term fraction: tf/df/dl are exact integers, idf
    * quantizes to integer micro-nats ONCE per term, each per-term
    * contribution is a fixed-shape IEEE expression rounded at 9 dp
    * then floor-quantized to integer micro-units (the q146 recipe —
    * absorbs ulp before the quantize), and the per-(query, doc) score
    * is an exact INTEGER sum, so ranking (ties to the smaller doc_id)
    * replays identically cross-engine.
    *
    * Scale: one tokenize pass builds the (doc, term, tf) postings; df
    * and avgdl fold map-side at |vocab| / 1-row keys; the query side is
    * a bounded term set (|queries| documents) BROADCAST onto the
    * postings stream, so candidate scoring touches only postings whose
    * term appears in some query — never the full cross product — and
    * the top-k window sees |queries| partitions. At 100 TB the postings
    * and df tables are the maintained inverted index (the q186
    * serve-from-state pattern); this batch form is the oracle
    * semantics an incremental index must reproduce. */
  def bm25TopK(docs: DataFrame, queryIds: Seq[Long], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // the postings frame feeds FOUR consumers (candidates, df, doclen,
    // query terms) — materialize the tokenize pass ONCE (the q143
    // one-derivation convention; without this the corpus re-tokenizes
    // per consumer, 6 scans in the executed plan)
    val dt = bm25Postings(docs).localCheckpoint()
    // N counts ALL documents (a token-less doc affects idf's N but can
    // never score) — a metadata-only count-star scan
    val nRow = docs.agg(count(lit(1)).as("n"))
    // the batch path's ONE corpus-proportional fold: per-doc lengths,
    // feeding avgdl and the candidates' dl lookups — inherent to an
    // ad-hoc BM25 (avgdl IS a corpus statistic); the served read swaps
    // both for maintained state (doclens/ + the lexstats counter)
    val doclens = dt.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val avgdlRow = doclens.agg(
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    // r17: the batch form probes terms + N + avgdl in ONE bounded
    // collect and scores with literal stats — two fewer broadcast
    // materializations per invocation, IEEE-identical arithmetic. The
    // SERVED reads (q217/q218/q235) keep the frame form: their plans
    // must show the lexstats/lexdocs folds (the PlanSpec serving pins).
    // r18: the probe collects the (query_id, term) PAIRS (the same
    // bounded rows), so the timed plan takes the query-term table as a
    // LOCAL relation — its postings-probe subtree and the distinct
    // exchange both drop out of every rep.
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = dt.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("w").as("qw"))
    val probe = qt.crossJoin(nRow).crossJoin(avgdlRow).collect()
    val qtPairs = probe.map(r => (r.getLong(0), r.getString(1))).toSeq
    val statsLit =
      if (probe.nonEmpty)
        (probe.head.getLong(2),
          if (probe.head.isNullAt(3)) 0.0d else probe.head.getDouble(3))
      else {
        // token-less query docs (or an empty corpus): no terms, so
        // nothing can score — the stats only need to be non-null
        val r = nRow.crossJoin(avgdlRow).head()
        (r.getLong(0), if (r.isNullAt(1)) 0.0d else r.getDouble(1))
      }
    bm25FromTermTable(dt, doclens, nRow, avgdlRow,
      qtPairs.toDF("query_id", "qw"), k, k1, b,
      termsHint = Some(qtPairs.map(_._2).distinct),
      statsLit = Some(statsLit))
  }

  /** PSEUDO-RELEVANCE-FEEDBACK (RM3-style) expanded BM25 top-k — the
    * retrieval feedback loop production keyword search runs when recall
    * matters: score the query (stage 1, a k=3 BM25 page), harvest the
    * feedback documents' heaviest terms (stage 2 — per query, the top
    * `expM` terms by summed tf × integer micro-nat idf across the
    * feedback page — the corpus-frequency discount real relevance
    * models apply, so stopwords cannot dominate the expansion — the
    * query's own terms excluded, ties to the lexicographically
    * smaller term),
    * and re-score with the AUGMENTED term bag (stage 3 — the identical
    * BM25 chain over qt ∪ expansion, [[bm25FromTermTable]]). A document
    * sharing no literal term with the query but sharing vocabulary with
    * its best matches becomes findable — the vocabulary-mismatch fix
    * BM25 alone cannot express.
    *
    * Determinism: stage 1's page is the exact-integer q215 chain;
    * expansion weights are exact tf-sum × micro-nat-idf integer products with term-order ties; stage 3
    * re-runs the same quantized scorer, so the final page replays
    * bit-identically cross-engine. The feedback pairs are a bounded
    * driver probe (fbK rows per query — the bounded-collect class), so
    * stage 2's postings read carries doc_id pushdown.
    *
    * Scale: stage 1 is q215's cost; stage 2 touches the feedback docs'
    * postings only (pushdown); stage 3 is q215's cost over ≤ |query
    * terms| + expM terms. Nothing new is corpus-proportional beyond the
    * one postings derivation all stages share. */
  def rm3TopK(docs: DataFrame, queryIds: Seq[Long], fbK: Int = 3,
      expM: Int = 5, k: Int = 10): DataFrame = {
    val dt = bm25Postings(docs).localCheckpoint()
    val nRow = docs.agg(count(lit(1)).as("n"))
    // the per-doc length fold feeds BOTH scoring stages' candidate
    // probes and the avgdl stat — materialize it once (r17: unmaterialized
    // it re-ran its groupBy in stage 1 AND the timed stage-3 plan; the
    // batch RM3 is the documented oracle shape, so a second
    // corpus-row-bounded materialization next to dt is the same trade
    // the dt checkpoint already makes — the served q235 keeps probing
    // its PERSISTED doclens table instead)
    val doclens = dt.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .localCheckpoint()
    val avgdlRow = doclens.agg(
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    rm3FromFrames(dt, doclens, nRow, avgdlRow, queryIds, fbK, expM, k,
      litFinalStats = true)
  }

  /** The RM3 pipeline over already-derived postings frames — shared by
    * the batch operator and the served read (state frames), so the two
    * cannot drift. */
  private[graft] def rm3FromFrames(dt: DataFrame, doclens: DataFrame,
      nRow: DataFrame, avgdlRow: DataFrame, queryIds: Seq[Long],
      fbK: Int, expM: Int, k: Int,
      litFinalStats: Boolean = false): DataFrame = {
    val spark = dt.sparkSession
    import spark.implicits._
    // ONE bounded probe of the two corpus statistics all three stages
    // consume (a 1-row crossJoin — n from the registry/count, avgdl
    // from the counter/fold): stages 1-2 take them as LITERALS (same
    // long/double, IEEE-identical arithmetic) instead of
    // re-materializing a broadcast per stage. The FINAL stage keeps the
    // frame form so the served plan retains its lexstats/lexdocs folds
    // (the q217 PlanSpec pin set applies to q235 verbatim). r17: the
    // RM3 pair measured choreography-bound — 54 jobs of ~30-100 ms,
    // 2.15 s executor-CPU against 3.3 s wall — so the round's cuts all
    // target scheduling rounds, not the plan shape. r18 continues the
    // same cut: the probe now collects the (query_id, term) PAIRS (the
    // same bounded rows r17 collected distinct terms from), so stages
    // 1-2 take the query-term table as a LOCAL relation — one postings
    // probe fewer in each of their plans.
    val qt = dt.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("w").as("qw"))
    val probe = qt.crossJoin(nRow).crossJoin(avgdlRow).collect()
    val qtPairs = probe.map(r => (r.getLong(0), r.getString(1))).toSeq
    val qtTerms = qtPairs.map(_._2).distinct
    val statsLit =
      if (probe.nonEmpty)
        (probe.head.getLong(2),
          if (probe.head.isNullAt(3)) 0.0d else probe.head.getDouble(3))
      else { // token-less query docs: no terms, stats still needed
        val r = nRow.crossJoin(avgdlRow).head()
        (r.getLong(0), if (r.isNullAt(1)) 0.0d else r.getDouble(1))
      }
    val qtLocal = qtPairs.toDF("query_id", "qw")
    // ONE query-term postings materialization (term-isin pushdown when
    // dt is the persisted index), shared by stage 1 AND stage 3 — r17
    // let each bm25FromTermTable call re-filter + re-checkpoint it
    val dtq1 = dt.filter(col("w").isin(qtTerms: _*)).localCheckpoint()
    // stage 1: the feedback page — bounded driver probe (fbK per query)
    val fbPairs = bm25FromTermTable(dt, doclens, nRow, avgdlRow, qtLocal,
        fbK, termsHint = Some(qtTerms), statsLit = Some(statsLit),
        dtqPre = Some(dtq1))
      .select(col("query_id"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val fbIds = fbPairs.map(_._2).distinct.toSeq
    // stage 2: expansion terms — feedback docs' postings (pushdown),
    // weighted by summed tf × integer micro-nat idf (the
    // corpus-frequency discount real relevance models apply — raw tf
    // would elect stopwords, which both degrades the expansion and
    // explodes stage 3's postings slices), the query's own terms
    // excluded. The feedback docs' postings are themselves a bounded
    // driver probe (fbK·|queries| docs — the same corpus-independent
    // bounded-collect class as qt's term set), so ONE collect yields
    // both the candidate-term set and the local tf table — r16 spent a
    // checkpoint job plus a second collect here.
    val fbRows = dt.filter(col("doc_id").isin(fbIds: _*))
      .select(col("doc_id"), col("w"), col("tf")).collect()
    val candTerms = fbRows.map(_.getString(1)).distinct.toSeq
    // the ONE remaining postings read below stage 1 (r18): only the
    // candidate terms dtq1 does NOT already hold — its union with dtq1
    // covers qtTerms ∪ candTerms exactly (the two isin sets are
    // disjoint), serving BOTH stage 2's df counts and stage 3's scoring
    // slice from local checkpoint blocks. r17 ran a separate corpus/
    // index scan for each (the dfq scan + stage 3's own
    // filter+checkpoint).
    val extraTerms = candTerms.filterNot(qtTerms.toSet)
    val dtSup =
      if (extraTerms.isEmpty) dtq1
      else dtq1.union(
        dt.filter(col("w").isin(extraTerms: _*)).localCheckpoint())
    // the candidate terms' df counts are the ONLY corpus-proportional
    // input stage 2 needs (a term's postings list is corpus-sized; its
    // df is one long) — aggregate them distributed off the materialized
    // slice and collect the ≤|candTerms| rows. Everything else in the
    // expansion election (tf sums over the ALREADY-collected feedback
    // postings, the per-query term exclusion, the top-expM ranking) is
    // bounded local data, so it runs as plain Scala — r18: the r17 form
    // spent a broadcast + anti-join + groupBy + window plan (3 more
    // scheduling rounds) re-deriving what the driver already held.
    val dfCand = dtSup.filter(col("w").isin(candTerms: _*))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // integer micro-nat idf, bit-identical to the column form the r17
    // plan computed: same double promotion order, same java.lang.Math
    // log, same floor-quantize
    def xlnq(df: Long): Long =
      math.floor(math.log((statsLit._1.toDouble - df + 0.5d) /
        (df + 0.5d) + 1.0d) * 1e6).toLong
    val qtPairSet = qtPairs.toSet
    val fbByDoc = fbRows.toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    // per (query, term): summed tf across the query's feedback docs
    // (a doc feeding several queries contributes to each — the fbPairs
    // mapping, exactly the broadcast-join the r17 plan ran), the
    // query's own terms excluded, weight = tfw × xlnq (exact integers),
    // ties (wt DESC, w ASC) — the expWin ordering verbatim
    val expRows: Array[(Long, String)] = fbPairs
      .flatMap { case (fq, fd) =>
        fbByDoc.getOrElse(fd, Seq.empty).map { case (_, w, tf) => ((fq, w), tf) }
      }
      .filterNot { case ((fq, w), _) => qtPairSet.contains((fq, w)) }
      .groupBy(_._1).toSeq
      .map { case ((fq, w), tfs) => (fq, w, tfs.map(_._2).sum * xlnq(dfCand(w))) }
      .groupBy(_._1).toSeq.flatMap { case (fq, rows) =>
        rows.sortBy { case (_, w, wt) => (-wt, w) }.take(expM)
          .map { case (_, w, _) => (fq, w) }
      }.toArray
    val exp = expRows.toSeq.toDF("query_id", "qw")
    // stage 3: the identical scorer over the augmented bag; its term
    // set is the union of the two already-collected sets and its
    // postings slice filters the ALREADY-materialized dtq1 ∪ extra
    // union (expTerms ⊆ candTerms, so the slice is exact) — no third
    // probe, no third materialization. The batch caller (q234 — no
    // serving-plan pin) takes the literal stats and the LOCAL qt here
    // too, dropping the N/avgdl subtrees and the qt postings probe from
    // the timed final plan; the served caller keeps the frames so the
    // q235 plan retains its lexstats/lexdocs folds and its one pushed
    // /postings scan (the q217 pin set).
    val allTerms = (qtTerms ++ expRows.map(_._2)).distinct.toSeq
    val dtq3 = dtSup.filter(col("w").isin(allTerms: _*))
    val finalQt = if (litFinalStats) qtLocal else qt
    bm25FromTermTable(dt, doclens, nRow, avgdlRow,
      finalQt.union(exp).distinct(), k, termsHint = Some(allTerms),
      statsLit = if (litFinalStats) Some(statsLit) else None,
      dtqPre = Some(dtq3))
  }

  /** The (doc_id, w, tf) postings derivation — ONE tokenizer
    * definition shared by the batch operator and the maintained
    * inverted index ([[graft.streaming.LexicalStateStream]]), so a
    * state-served page can never drift from its batch twin. Since the
    * positional tier landed this is the aggregation of [[posTokens]] —
    * the SAME pass that feeds the positional postings, so the tf tier
    * and the position tier cannot disagree either. */
  private[graft] def bm25Postings(docs: DataFrame): DataFrame =
    postingsFromPosTokens(posTokens(docs))


  /** The positional tokens (doc_id, pos, w) — the family's one
    * tokenizer ([[graft.functions.TextFunctions.wsTokens]] over lowered
    * text) exploded WITH 0-based positions: the batch phrase operator
    * ([[phraseMatchTopK]]), the maintained index's positional postings
    * ([[graft.streaming.LexicalStateStream.update]]) and, via
    * [[postingsFromPosTokens]], the tf postings all derive from this
    * single definition. */
  private[graft] def posTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.wsTokens(lower(col("text"))))
        .as(Seq("pos", "w")))

  /** (doc_id, w, tf) folded from a positional-token frame — the
    * aggregation half of [[bm25Postings]], exposed so the maintained
    * index's ingest can run ONE tokenize pass and derive both its tf
    * and positional tiers from it. */
  private[graft] def postingsFromPosTokens(tok: DataFrame): DataFrame =
    tok.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))

  /** BM25 scoring over an ALREADY-DERIVED postings frame — the single
    * scorer behind [[bm25TopK]] (postings from one tokenize pass) and
    * the served read (postings from the persisted inverted index) —
    * QUERY-bounded by construction (the r16 verdict's `weak`): the
    * query's term set is bounded by the query documents themselves, so
    * it COLLECTS (a corpus-independent driver probe, the bounded-collect
    * class) and restricts every postings consumer by `isin` PUSHDOWN —
    * df aggregates over query-term postings only (the scored join at
    * the bottom consumes no other term's idf), candidates are those
    * postings' documents, and their lengths PROBE the `doclens` frame
    * instead of re-aggregating the corpus. No stage below touches a
    * posting outside the query's terms or a length outside the
    * candidate set.
    *
    * `doclens` is a (doc_id, dl) frame — the batch's own per-doc fold
    * or the index's persisted table; `nRow` a 1-row (n) frame counting
    * ALL corpus documents, token-less included (they shift idf's N but
    * never score); `avgdlRow` a 1-row (avgdl) frame — the batch's fold
    * or the maintained counter's quotient, the same IEEE division
    * either way. */
  private[graft] def bm25FromPostings(dt: DataFrame, doclens: DataFrame,
      nRow: DataFrame, avgdlRow: DataFrame,
      queryIds: Seq[Long], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // qt and idf both derive from dt — rename their keys so the joins
    // below are never ambiguous self-joins
    val qt = dt.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"), col("w").as("qw"))
    bm25FromTermTable(dt, doclens, nRow, avgdlRow, qt, k, k1, b)
  }

  /** The BM25 scoring tail over an EXPLICIT (query_id, qw) term table —
    * split out of [[bm25FromPostings]] so query-EXPANSION reads
    * ([[rm3TopK]]) can score an augmented term bag through the
    * identical chain: pushdown slice, df over query-term postings only,
    * doclens probe, quantized per-term sums, ranks. */
  private[graft] def bm25FromTermTable(dt: DataFrame, doclens: DataFrame,
      nRow: DataFrame, avgdlRow: DataFrame,
      qt: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      termsHint: Option[Seq[String]] = None,
      statsLit: Option[(Long, Double)] = None,
      dtqPre: Option[DataFrame] = None): DataFrame = {
    // bounded driver probe: |terms of k query docs|, corpus-independent.
    // A caller that already HOLDS the term set (RM3's stage 3 unions the
    // stage-1 terms it collected with the expansion terms it collected)
    // passes it via termsHint, saving one scheduling round — the r17
    // choreography cut; the set is identical by construction, so the
    // isin pushdown (and every result) is unchanged. r18: the dedup of
    // the collected rows moved to the driver — a distinct() here bought
    // an exchange + an extra AQE scheduling round to dedupe a
    // query-bounded row set.
    val terms = termsHint.getOrElse(qt.select(col("qw"))
      .collect().map(_.getString(0)).distinct.toSeq)
    // one materialization of the query-term postings (pushdown scan) —
    // df, the candidate set, and the scored join all read it. A caller
    // that already HOLDS that slice materialized (RM3 shares ONE slice
    // across its stages — r18) passes it via dtqPre: by construction it
    // must equal dt.filter(w ∈ terms) row-for-row, so df/candidates/
    // scoring (and every result) are unchanged.
    val dtq = dtqPre.getOrElse(
      dt.filter(col("w").isin(terms: _*)).localCheckpoint())
    // corpus stats enter as 1-row frames (the serving plan's
    // lexstats/lexdocs folds — the PlanSpec pin) or, when the caller
    // already collected them (RM3 runs three stages off ONE probe), as
    // literals — same long/double values, so idf/term arithmetic is
    // IEEE-identical; the literal form skips a broadcast materialization
    // per stage (r17: q234/q235 measured choreography-bound, ~50 jobs)
    val idfDf = dtq.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val idfN = statsLit match {
      case Some((n, _)) => idfDf.select(col("w"), col("df"), lit(n).as("n"))
      case None         => idfDf.crossJoin(broadcast(nRow))
    }
    val idf = idfN.select(col("w").as("iw"),
      floor(log((col("n").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) * lit(1e6))
        .cast("bigint").as("lnq"))
    val cand = dtq.select(col("doc_id").as("cand_id")).distinct()
    val dls = doclens
      .join(cand, col("doc_id") === col("cand_id"), "left_semi")
    val term = (col("lnq") * lit(1e-6)) *
      (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scoredBase = dtq.join(broadcast(qt),
        col("w") === col("qw") && col("doc_id") =!= col("query_id"))
      .join(dls, "doc_id")
    val scoredAvg = statsLit match {
      case Some((_, avgdl)) => scoredBase.withColumn("avgdl", lit(avgdl))
      case None             => scoredBase.crossJoin(broadcast(avgdlRow))
    }
    val scored = scoredAvg
      .join(idf, col("w") === col("iw"))
      .select(col("query_id"), col("doc_id"),
        floor(round(term, 9) * lit(1e6)).cast("bigint").as("tm"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tm")).as("s"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"),
        (col("s") * lit(1e-6)).as("bm25"), col("rn"))
  }

  /** PHRASE match top-k, query-by-example — the lexical capability
    * BM25's bag-of-words deliberately cannot express (the q215 scorer
    * treats "new york" and "york new" identically; phrase semantics
    * need token POSITIONS): for each query document, its leading
    * 3-token phrase (lowered, whitespace tokens — the family's one
    * tokenizer) searched as a CONTIGUOUS sequence across every other
    * document, ranked by occurrence count with ties to the smaller
    * doc_id.
    *
    * The positional-intersection trick makes this a bounded equi-join,
    * never a scan-per-candidate string search: tokens explode WITH
    * positions once, the ≤3-row-per-query phrase table broadcasts onto
    * the stream restricted to the phrase's own terms (a bounded
    * driver-collected set — isin pushdown, the q217 recipe), each hit
    * votes for the start position `pos − qpos` it would anchor, and a
    * start with exactly 3 distinct-offset votes IS a phrase occurrence
    * (correct under repeated tokens in the phrase: each (start, qpos)
    * pair can arise from at most one document position).
    *
    * Determinism: occurrence counts are exact integers; ranking ties
    * to the smaller doc_id. A query shorter than 3 tokens matches
    * nothing on either engine (the count can never reach 3; the
    * oracle's out-of-range subscripts null out).
    *
    * Scale: one tokenize pass (∝ corpus tokens — the honest batch
    * linear term, like q215's), then only tokens MATCHING a phrase
    * term survive into the (query, doc, start) aggregate — never a
    * cross product, never a per-candidate re-scan; the top-k window
    * sees |queries| partitions. The serving path persists POSITIONAL
    * postings (doc_id, pos, w) next to the inverted index and probes
    * them with the same pushdown — the q217 pattern one column wider
    * ([[graft.streaming.LexicalStateStream.phraseFromState]], q223),
    * routed through the SAME [[phraseFromPositions]] engine so the two
    * forms cannot drift. */
  def phraseMatchTopK(docs: DataFrame, queryIds: Seq[Long],
      k: Int = 10): DataFrame = {
    // ONE positional tokenize pass feeds both consumers below (the
    // phrase table and the vote stream) — checkpointed, the q143
    // one-derivation convention
    val tok = posTokens(docs).localCheckpoint()
    phraseFromPositions(tok, queryIds, k)
  }

  /** Phrase scoring over an ALREADY-DERIVED positional-token frame —
    * the single engine behind [[phraseMatchTopK]] (tokens from one
    * batch tokenize) and the served read (tokens from the persisted
    * positional postings), QUERY-bounded by construction: the phrase
    * table is the query ids' leading positions (doc_id + pos pushdown
    * on a state read), its ≤3-term set COLLECTS (the bounded-collect
    * class) and restricts the vote stream by `isin` PUSHDOWN, so no
    * stage touches a token outside the phrases' terms. */
  private[graft] def phraseFromPositions(tok: DataFrame, queryIds: Seq[Long],
      k: Int): DataFrame = {
    val ph = tok.filter(col("doc_id").isin(queryIds: _*) && col("pos") <= 2)
      .select(col("doc_id").as("query_id"), col("pos").as("qpos"),
        col("w").as("pw"))
    // bounded driver probe: at most 3 tokens per query document —
    // deduped on the driver (a distinct() here bought an exchange + an
    // AQE round to dedupe ≤3 rows per query; r18)
    val terms = ph.select(col("pw"))
      .collect().map(_.getString(0)).distinct.toSeq
    val votes = tok.filter(col("w").isin(terms: _*))
      .join(broadcast(ph),
        col("w") === col("pw") && col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("qpos")).as("start"))
    val occ = votes
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") === 3 && col("start") >= 0)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_occ").desc, col("doc_id"))
    occ.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("n_occ"), col("rn"))
  }

  /** PROXIMITY (NEAR) match top-k, query-by-example — the positional
    * index's OTHER classic capability (phrase = exact adjacency; NEAR =
    * windowed co-occurrence, the `t1 NEAR/w t2` operator classical IR
    * systems expose): each query document contributes an anchor pair —
    * t1 = its leading token, t2 = the first token that differs from it
    * — and every other document is ranked by how many of its t1
    * positions have a t2 within `window` tokens (ties to the smaller
    * doc_id). BM25 sees neither adjacency nor distance; phrase demands
    * exact contiguity; NEAR is the middle ground a production keyword
    * stack serves ("terms near each other score higher").
    *
    * The bounded-expansion trick keeps it an equi-join, never a range
    * join or a per-candidate scan: each t2 position votes for the 2w+1
    * anchor positions it would satisfy (an explode over a FIXED
    * ±window delta array), and a t1 anchor with ≥1 vote — one
    * left-semi equi-join on (query, doc, position) — is a hit, counted
    * exactly once however many t2 neighbors it has.
    *
    * Determinism: hit counts are exact integers; ranking ties to the
    * smaller doc_id. A query document with no second distinct token
    * (single-token, all-same, or whitespace-only text) has no anchor
    * pair and matches nothing on either engine. */
  def proximityTopK(docs: DataFrame, queryIds: Seq[Long],
      window: Int = 3, k: Int = 10): DataFrame = {
    // ONE positional tokenize pass feeds the anchor-pair derivation
    // and both position streams (the q143 one-derivation convention)
    val tok = posTokens(docs).localCheckpoint()
    proximityFromPositions(tok, queryIds, window, k)
  }

  /** NEAR scoring over an ALREADY-DERIVED positional-token frame — the
    * single engine behind [[proximityTopK]] (tokens from one batch
    * tokenize) and the served read (tokens from the persisted
    * positional postings), QUERY-bounded by construction: the anchor
    * pairs derive from the query ids' positions (doc_id pushdown on a
    * state read), their ≤2-term-per-query set COLLECTS (the
    * bounded-collect class) and restricts both position streams by
    * `isin` PUSHDOWN, and the vote expansion is the FIXED 2·window+1
    * factor — no stage touches a token outside the anchor terms. */
  private[graft] def proximityFromPositions(tok: DataFrame,
      queryIds: Seq[Long], window: Int, k: Int): DataFrame = {
    val spark = tok.sparkSession
    import spark.implicits._
    // the anchor-pair election is a pure function of the QUERY DOCS'
    // OWN tokens — a bounded, doc_id-pushed slice — so it rides ONE
    // collect and runs locally (r18): t1 = the pos-0 token, t2 = the
    // token of the lexicographically smallest (pos, w) among tokens
    // differing from t1 — the min(struct(pos, w)) election verbatim.
    // The r17 form derived the same ≤1-row-per-query table through a
    // join + groupBy + eager checkpoint + a second collect (the terms
    // probe). The served nearPins are unchanged: the FINAL plan's
    // poslists scans are still the two term-pushed position streams,
    // with the pair table broadcast from a local relation.
    val qtokRows = tok.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").cast("long"), col("pos").cast("long"), col("w"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val pairRows: Seq[(Long, String, String)] = qtokRows
      .groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
        rs.find(_._2 == 0L).map(_._3).flatMap { t1w =>
          val cand = rs.filter(_._3 != t1w)
          if (cand.isEmpty) None
          else {
            val m = cand.minBy(r => (r._2, r._3))
            Some((qid, t1w, m._3))
          }
        }
      }
    val pairs = pairRows.toDF("query_id", "t1", "t2")
    val terms = pairRows.flatMap(p => Seq(p._2, p._3)).distinct.toSeq
    val hits = tok.filter(col("w").isin(terms: _*))
    val p1 = hits.join(broadcast(pairs),
        col("w") === col("t1") && col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("pos").as("i"))
    val p2e = hits.join(
        broadcast(pairs.select(col("query_id").as("q2"), col("t2"))),
        col("w") === col("t2") && col("doc_id") =!= col("q2"))
      .select(col("q2"), col("doc_id").as("d2"), col("pos").as("j"))
      .withColumn("delta", explode(typedLit((-window to window).toArray)))
      .select(col("q2"), col("d2"), (col("j") + col("delta")).as("i2"))
    val near = p1.join(p2e,
        col("query_id") === col("q2") && col("doc_id") === col("d2") &&
          col("i") === col("i2"),
        "left_semi")
    val occ = near.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_near"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_near").desc, col("doc_id"))
    occ.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("n_near"), col("rn"))
  }

  /** DENSEST-PASSAGE top-k, query-by-example — rank documents by their
    * best WINDOW, not their whole-document score: for each query
    * document's term set (the distinct tokens among its first three
    * positions), every other document scores as the maximum number of
    * query-term occurrences inside any `width`-token window, with the
    * window's start position returned — the passage-retrieval /
    * snippet-selection read (a long document with one dense relevant
    * passage should outrank a document with the same terms scattered,
    * and the UI needs to know WHERE the passage is).
    *
    * The vote trick generalizes [[proximityTopK]]'s: each query-term
    * occurrence at position i votes for the `width` window starts that
    * would cover it (a fixed-size explode — never a per-window rescan),
    * the per-(query, doc, start) vote count IS that window's term
    * count, and a lexicographic max over (count, −start) structs picks
    * the best window with the SMALLEST start on ties. Starts clamp at
    * 0: a window hanging off the document's front is dominated by the
    * start-0 window (a superset of its valid positions), so clamping
    * never loses the max — and keeps both engines on the same start
    * domain.
    *
    * Determinism: exact integer counts; window ties to the smaller
    * start, document ties to the smaller doc_id. */
  def passageTopK(docs: DataFrame, queryIds: Seq[Long],
      width: Int = 8, k: Int = 10): DataFrame = {
    // ONE positional tokenize pass feeds the query-term table and the
    // hit stream (the q143 one-derivation convention)
    val tok = posTokens(docs).localCheckpoint()
    passageFromPositions(tok, queryIds, width, k)
  }

  /** Densest-window scoring over an ALREADY-DERIVED positional-token
    * frame — the single engine behind [[passageTopK]] and the served
    * read, QUERY-bounded by construction: the query-term table is the
    * query ids' leading positions (doc_id + pos pushdown on a state
    * read), its bounded distinct-term set COLLECTS and restricts the
    * hit stream by `isin` PUSHDOWN, and the vote expansion is the
    * FIXED `width` factor — no stage touches a token outside the
    * query's terms. */
  private[graft] def passageFromPositions(tok: DataFrame,
      queryIds: Seq[Long], width: Int, k: Int): DataFrame = {
    val qtBase = tok.filter(col("doc_id").isin(queryIds: _*) && col("pos") <= 2)
      .select(col("doc_id").as("query_id"), col("w").as("qw"))
    val qt = qtBase.distinct()
    // bounded driver probe: ≤3 distinct terms per query document —
    // collected from the PRE-distinct pushdown slice (≤3 rows per
    // query) and deduped on the driver, so the probe plan is the bare
    // scan: the r17 form paid two distinct exchanges (qt's own plus the
    // probe's) before this bounded collect (r18)
    val terms = qtBase.select(col("qw"))
      .collect().map(_.getString(0)).distinct.toSeq
    val hits = tok.filter(col("w").isin(terms: _*))
      .join(broadcast(qt),
        col("w") === col("qw") && col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"), col("pos").as("i"))
    val votes = hits
      .withColumn("delta", explode(typedLit((0 until width).toArray)))
      .select(col("query_id"), col("doc_id"),
        (col("i") - col("delta")).as("start"))
      .filter(col("start") >= 0)
    val best = votes
      .groupBy(col("query_id"), col("doc_id"), col("start"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(struct(col("c"), (-col("start")).as("ns"))).as("m"))
      .select(col("query_id"), col("doc_id"),
        col("m.c").as("n_best"),
        (-col("m.ns")).cast("int").as("best_start"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_best").desc, col("doc_id"))
    best.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("doc_id"), col("n_best"),
        col("best_start"), col("rn"))
  }

  private def q222OracleSql: String = phraseOracleSql("documents")

  /** The phrase-match chain as DuckDB SQL over `docsRel` — shared by
    * the batch q222, the state-served q223 (verbatim, the q217
    * pattern) and the forgotten q224 (over the tombstone-survivor
    * relation, the q218 pattern), so the three oracles can never
    * drift apart. */
  private def phraseOracleSql(docsRel: String): String =
    s"""WITH ptok AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM $docsRel),
       |pph AS (
       |  SELECT doc_id AS query_id, w[1] AS p1, w[2] AS p2, w[3] AS p3
       |  FROM ptok WHERE doc_id IN (0, 100, 200)),
       |pm AS (
       |  SELECT p.query_id, t.doc_id,
       |    len([i FOR i IN range(1, len(t.w) - 1)
       |      IF t.w[i] = p.p1 AND t.w[i+1] = p.p2 AND t.w[i+2] = p.p3])
       |      AS n_occ
       |  FROM ptok t CROSS JOIN pph p WHERE t.doc_id <> p.query_id)
       |SELECT query_id, doc_id, CAST(n_occ AS BIGINT) AS n_occ,
       |  CAST(rn AS INT) AS rn
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY n_occ DESC, doc_id) AS rn
       |  FROM pm WHERE n_occ > 0) t
       |WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  /** The BM25 chain as DuckDB CTEs, `prefix`-namespaced — shared by
    * q215 (standalone page) and q216 (the lexical leg of the hybrid
    * fusion), so the two oracles can never drift apart. */
  private def bm25Ctes(k: Int, prefix: String = "",
      docsRel: String = "documents"): String = {
    val p = prefix
    s"""${p}tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM $docsRel),
       |${p}dt AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |  FROM ${p}tok GROUP BY doc_id, w),
       |${p}stats AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |  FROM ${p}dt GROUP BY doc_id),
       |${p}nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $docsRel),
       |${p}ad AS (
       |  SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM ${p}stats),
       |${p}idf AS (
       |  SELECT w, CAST(floor(ln((CAST(nn.n AS DOUBLE) - df + 0.5)
       |      / (df + 0.5) + 1) * 1e6) AS BIGINT) AS lnq
       |  FROM (SELECT w, CAST(count(*) AS BIGINT) AS df
       |        FROM ${p}dt GROUP BY w), ${p}nn),
       |${p}qt AS (
       |  SELECT doc_id AS query_id, w FROM ${p}dt
       |  WHERE doc_id IN (0, 100, 200)),
       |${p}sc AS (
       |  SELECT query_id, doc_id, CAST(sum(tm) AS BIGINT) AS s FROM (
       |    SELECT q.query_id, d.doc_id,
       |      CAST(floor(round((i.lnq * 1e-6) * (d.tf * 2.2)
       |        / (d.tf + 1.2 * (1 - 0.75 + 0.75 * st.dl / ${p}ad.avgdl)),
       |        9) * 1e6) AS BIGINT) AS tm
       |    FROM ${p}qt q JOIN ${p}dt d ON d.w = q.w AND d.doc_id <> q.query_id
       |    JOIN ${p}stats st ON st.doc_id = d.doc_id
       |    JOIN ${p}idf i ON i.w = q.w, ${p}ad) t
       |  GROUP BY query_id, doc_id),
       |${p}page AS (
       |  SELECT query_id, doc_id, s, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc_id) AS rn
       |    FROM ${p}sc) t
       |  WHERE rn <= $k)""".stripMargin
  }

  private def q215OracleSql: String =
    s"""WITH ${bm25Ctes(10)}
       |SELECT query_id, doc_id, s * 1e-6 AS bm25, CAST(rn AS INT) AS rn
       |FROM page ORDER BY query_id, rn""".stripMargin

  /** The RM3 chain: the bm25 CTEs with k=3 give the feedback page;
    * expansion = top-5 feedback terms by summed tf (query terms
    * excluded, term-order ties); the re-score repeats the sc/page tail
    * verbatim over qt ∪ expansion (idf already covers every corpus
    * term). Shared by q234 (batch) and q235 (served — verbatim, the
    * q217 pattern). */
  private def q234OracleSql: String =
    s"""WITH ${bm25Ctes(3)},
       |expw AS (
       |  SELECT t.query_id, t.w, t.tfw * i.lnq AS wt FROM (
       |    SELECT p.query_id, d.w, CAST(sum(d.tf) AS BIGINT) AS tfw
       |    FROM page p JOIN dt d ON d.doc_id = p.doc_id
       |    WHERE NOT EXISTS (SELECT 1 FROM qt q
       |      WHERE q.query_id = p.query_id AND q.w = d.w)
       |    GROUP BY p.query_id, d.w) t
       |  JOIN idf i ON i.w = t.w),
       |exp AS (
       |  SELECT query_id, w FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY wt DESC, w) AS xrn FROM expw) t
       |  WHERE xrn <= 5),
       |qt2 AS (SELECT query_id, w FROM qt
       |        UNION SELECT query_id, w FROM exp),
       |sc2 AS (
       |  SELECT query_id, doc_id, CAST(sum(tm) AS BIGINT) AS s FROM (
       |    SELECT q.query_id, d.doc_id,
       |      CAST(floor(round((i.lnq * 1e-6) * (d.tf * 2.2)
       |        / (d.tf + 1.2 * (1 - 0.75 + 0.75 * st.dl / ad.avgdl)),
       |        9) * 1e6) AS BIGINT) AS tm
       |    FROM qt2 q JOIN dt d ON d.w = q.w AND d.doc_id <> q.query_id
       |    JOIN stats st ON st.doc_id = d.doc_id
       |    JOIN idf i ON i.w = q.w, ad) t
       |  GROUP BY query_id, doc_id),
       |page2 AS (
       |  SELECT query_id, doc_id, s, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY s DESC, doc_id) AS rn
       |    FROM sc2) t
       |  WHERE rn <= 10)
       |SELECT query_id, doc_id, s * 1e-6 AS bm25, CAST(rn AS INT) AS rn
       |FROM page2 ORDER BY query_id, rn""".stripMargin

  /** Hybrid search: RRF-fuse the lexical (BM25, [[bm25TopK]]) and dense
    * (exact cosine, q36's [[bruteForceTopK]]) pages for the same
    * query-by-example ids — the production hybrid-retrieval shape RRF
    * exists for (incommensurable scores, ranks fused; the q137 combiner
    * with the lexical leg it was named after). Candidate sets differ by
    * design (a lexical hit needs a shared term, a dense hit an
    * embedding); n_rankers marks docs only one leg surfaced. Scale:
    * both input pages are bounded (top-N per query); fusion is one
    * union + one (query, doc) aggregate + one bounded window. */
  def hybridRrfTopK(docs: DataFrame, embeddings: DataFrame,
      queryIds: Seq[Long], k: Int = 10, fromN: Int = 10, c: Int = 60,
      corpusKey: Option[String] = None): DataFrame = {
    val lex = bm25TopK(docs, queryIds, fromN)
      .select(col("query_id"), col("doc_id"), col("rn"), lit("lex").as("src"))
    val den = bruteForceTopK(embeddings, queryIds, fromN,
        corpusKey = corpusKey)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rn"),
        lit("den").as("src"))
    rrfFusePages(lex, den, k, c)
  }

  /** The ONE hybrid-fusion definition [[hybridRrfTopK]] (batch legs)
    * and [[hybridRrfFromState]] (maintained-index legs) share — the
    * q216/q219 pair's state==batch discipline applied to the combiner
    * itself. Inputs are pre-tagged (query_id, doc_id, rn, src) pages
    * with src ∈ {lex, den}; each fused score adds at most two
    * 1/(c+rank) doubles in a FIXED order (lex term first), ties on
    * (score DESC, doc_id). */
  private def rrfFusePages(lex: DataFrame, den: DataFrame,
      k: Int, c: Int): DataFrame = {
    val fused = lex.union(den)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        (coalesce(max(when(col("src") === "lex",
            lit(1.0d) / (lit(c.toDouble) + col("rn")))), lit(0.0d)) +
          coalesce(max(when(col("src") === "den",
            lit(1.0d) / (lit(c.toDouble) + col("rn")))), lit(0.0d)))
          .as("rrf_score"),
        count(lit(1)).cast("int").as("n_rankers"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_score"), col("n_rankers"))
  }

  /** Hybrid search SERVED from the two MAINTAINED indexes — the
    * production hybrid read (q219/q220): the lexical page from the
    * incrementally-built inverted index
    * ([[graft.streaming.LexicalStateStream.bm25FromState]], the q217
    * query-bounded read) and the dense page from the maintained IVF
    * index ([[graft.streaming.IvfStateStream.topKFromState]], the q182
    * read), fused by the SAME [[rrfFusePages]] the batch q216 uses.
    * Neither corpus table is touched: both legs are index reads, so the
    * whole hybrid costs two bounded serving probes plus a page-sized
    * fusion — the query-time cost model a deployed retrieval stack
    * actually runs. Ranks are exact ints on both legs, so the fusion
    * replays bit-identically against the batch oracle composition. */
  def hybridRrfFromState(spark: SparkSession, lexDir: String,
      ivfDir: String, queryIds: Seq[Long], k: Int = 10, fromN: Int = 10,
      c: Int = 60): DataFrame = {
    val lex = graft.streaming.LexicalStateStream
      .bm25FromState(spark, lexDir, queryIds, fromN)
      .select(col("query_id"), col("doc_id"), col("rn"), lit("lex").as("src"))
    val den = graft.streaming.IvfStateStream
      .topKFromState(spark, ivfDir, queryIds, fromN)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("rn"),
        lit("den").as("src"))
    rrfFusePages(lex, den, k, c)
  }

  private def q216OracleSql: String =
    s"""WITH ${bm25Ctes(10)},
       |den AS (
       |  SELECT query_id, vec_id, rn FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC,
       |          e.vec_id) AS rn
       |    FROM embeddings e
       |    JOIN embeddings q ON q.vec_id IN (0, 100, 200)
       |      AND e.vec_id <> q.vec_id) t
       |  WHERE rn <= 10),
       |$rrfFusionTailSql""".stripMargin

  /** The RRF fusion as CTEs ending in the fused page `hpage` — the
    * [[rrfFusePages]] twin, shared by the batch (q216) and served
    * (q219/q220) hybrid oracles and composed over by the recall eval
    * (q221): expects `page` (lexical, from [[bm25Ctes]]) and `den`
    * (dense, (query_id, vec_id, rn)) in scope. One definition, so the
    * hybrids' fusion arithmetic can never drift apart. */
  private def rrfFusionCtes: String =
    """u AS (
      |  SELECT query_id, doc_id, rn, 'lex' AS src FROM page
      |  UNION ALL
      |  SELECT query_id, vec_id AS doc_id, rn, 'den' AS src FROM den),
      |f AS (
      |  SELECT query_id, doc_id,
      |    coalesce(max(CASE WHEN src = 'lex' THEN 1.0 / (60 + rn) END), 0)
      |      + coalesce(max(CASE WHEN src = 'den' THEN 1.0 / (60 + rn) END), 0)
      |      AS rrf_score,
      |    CAST(count(*) AS INT) AS n_rankers
      |  FROM u GROUP BY query_id, doc_id),
      |hpage AS (
      |  SELECT query_id, doc_id, rrf_score, n_rankers, rank FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf_score DESC, doc_id) AS rank
      |    FROM f) t
      |  WHERE rank <= 10)""".stripMargin

  private def rrfFusionTailSql: String =
    s"""$rrfFusionCtes
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_score, n_rankers
       |FROM hpage
       |ORDER BY query_id, rank""".stripMargin

  /** q219's oracle: the bm25 chain (lexical page), the q49 portable
    * IVF chain ranked to its page (dense leg — the q182 search's own
    * CTEs via [[ivfScoredCtes]]), and the shared fusion tail. A hash
    * match proves lexical scoring, IVF probe/scoring, AND the fusion
    * replay in one artifact — over both maintained indexes. */
  private def servedHybridOracleSql(docsRel: String,
      candFilter: String): String = {
    val lexCtes =
      if (docsRel.isEmpty) bm25Ctes(10) else bm25Ctes(10, docsRel = docsRel)
    s"""WITH $lexCtes,
       |${kmeansListsCtes()},
       |${ivfScoredCtes(candFilter)},
       |den AS (
       |  SELECT query_id, vec_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rn
       |    FROM scored) t
       |  WHERE rn <= 10),
       |$rrfFusionTailSql""".stripMargin
  }

  private def q219OracleSql: String = servedHybridOracleSql("", "")

  /** Recall@k of the SERVED hybrid page against the exact dense top-k
    * — the q128 index-quality eval applied to the production hybrid
    * read: per query, the fraction of the brute-force cosine top-k the
    * fused (lexical + IVF) page retrieves. The number a deployment
    * watches when tuning the fusion: it quantifies how far the lexical
    * leg and the IVF approximation pull the served page off the exact
    * dense ranking (a lexical hit that displaces a dense neighbor is
    * the FEATURE being measured, not an error — which is why this is
    * an eval, not a correctness gate). Scale: the hybrid page costs
    * its two index probes; the exact leg is the eval's honest
    * corpus-scan term (evals run offline — the q128/q38 convention). */
  def hybridRecallFromState(spark: SparkSession, lexDir: String,
      ivfDir: String, embeddings: DataFrame, queryIds: Seq[Long],
      k: Int = 10, corpusKey: Option[String] = None): DataFrame = {
    val hybrid = hybridRrfFromState(spark, lexDir, ivfDir, queryIds,
        k = k, fromN = k)
      .select(col("query_id"), col("doc_id"))
    val exact = bruteForceTopK(embeddings, queryIds, k,
        corpusKey = corpusKey)
      .select(col("query_id"), col("vec_id").as("doc_id"))
      .localCheckpoint()
    val hits = hybrid
      .join(exact.select(col("query_id").as("xq"), col("doc_id").as("xd")),
        col("query_id") === col("xq") && col("doc_id") === col("xd"),
        "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          lit(k.toDouble)).as("recall"))
  }

  private def q221OracleSql: String =
    s"""WITH ${bm25Ctes(10)},
       |${kmeansListsCtes()},
       |${ivfScoredCtes("")},
       |den AS (
       |  SELECT query_id, vec_id, rn FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS rn
       |    FROM scored) t
       |  WHERE rn <= 10),
       |$rrfFusionCtes,
       |hx AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC,
       |          e.vec_id) AS rn
       |    FROM embeddings e
       |    JOIN embeddings q ON q.vec_id IN (0, 100, 200)
       |      AND e.vec_id <> q.vec_id) t
       |  WHERE rn <= 10),
       |hits AS (
       |  SELECT h.query_id, count(*) AS n_hits
       |  FROM hpage h JOIN hx x
       |    ON x.query_id = h.query_id AND x.vec_id = h.doc_id
       |  GROUP BY h.query_id)
       |SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       |  CAST(COALESCE(t.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(t.n_hits, 0) AS DOUBLE) / 10 AS recall
       |FROM (SELECT DISTINCT query_id FROM hx) q
       |LEFT JOIN hits t ON t.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin

  private def q220OracleSql: String = servedHybridOracleSql(
    "(SELECT * FROM documents WHERE " +
      "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "')",
    "\n       |    AND substr(md5(CAST(l.vec_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "'")

  /** Int8 quantization: per-vector scale = max|v|/127, q_i = round-half-up
    * of v_i/scale. `out` holds integer-VALUED doubles so dot products stay
    * EXACT (|q_i| <= 127 → |dot| <= 127²·dim « 2^53): the whole quantized
    * scoring path is integer arithmetic, bit-reproducible on any engine —
    * which is what lets the oracle verify an "approximate" method exactly.
    * The scale reaches the per-element lambda through `array_repeat` — a
    * regular once-per-row function — never as a subexpression of the
    * lambda body: HOF lambdas evaluate their body per ELEMENT with no
    * subexpression elimination, and CollapseProject can inline a scale
    * alias back into the lambda, so a naive formulation is O(d²) per row
    * however it is phrased. This shape is O(d) no matter what the
    * optimizer inlines. At scale the qvec is stored as array<tinyint> +
    * a float scale (4× less memory/bandwidth than float32; here it is
    * derived on the fly so the query stays a pure function of the
    * corpus). */
  def quantized(df: DataFrame, vec: String, out: String): DataFrame =
    df.withColumn("_qscale",
        // zero-vector guard: an all-zero embedding has max|v| = 0 and 0/0
        // would emit NaN codes that poison every dot product involving the
        // vector; clamping to the smallest positive double makes it quantize
        // to exact zeros instead (0 / 5e-324 = 0). Mirrored in the q71 oracle.
        greatest(
          aggregate(col(vec), lit(0.0d),
            (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0,
          lit(java.lang.Double.MIN_VALUE)))
      .withColumn(out,
        zip_with(col(vec), array_repeat(col("_qscale"), size(col(vec))),
          (x, s) => floor(x.cast("double") / s + 0.5).cast("double")))
      .drop("_qscale")

  /** All-pairs embedding near-dup: every (a, b) pair with cosine >= the
    * threshold. DELIBERATELY O(n²) — it exists as the exact oracle baseline
    * the approximate families are verified against. Norms are precomputed
    * per side and the cosine threshold lives in the JOIN CONDITION: the
    * nested-loop join evaluates it per pair and only materializes matches,
    * never the n²-row cross product with its two embedded vectors per row —
    * but the n² COMPUTE is irreducible, so this must never run on a large
    * corpus. The guard counts the input (one cheap scan next to the n² join)
    * and refuses above `maxRows` unless the caller explicitly accepts the
    * quadratic cost with `allPairsOk = true`. Scale-safe replacements, all
    * in this repo: MinHash-LSH bands (Dedup.minhashCandidates, q34),
    * hyperplane-LSH buckets (annTopK, q39), IVF (ivfTopK, q49),
    * int8-quantized scoring (quantizedTopK, q71).
    *
    * `corpusKey` (the registered q38 form) rides two substrate memos,
    * both A/B-won at sf0.1 in the same session (baseline 3.07 s →
    * 2.70 s → 2.05–2.26 s median): the guard count joins the
    * resolveNlist `count|` memo (one session-amortized action instead
    * of a job per run), and the normed side table `normed|` becomes one
    * checkpointed frame read by BOTH sides of the pair join instead of
    * two parquet-scan+norm pipelines — the opposite outcome of the r12
    * reverted rides because here the join is a nested loop whose sides
    * are materialized whole, not a codegen-fused streaming extraction. */
  /** The ONE per-corpus checkpointed (vec_id, embedding, nrm) frame the
    * exact-cosine family shares (q36/q38/q128/q176 and every
    * bruteForceTopK rerank leg): norms computed once per vector, both
    * sides of any pair/cross join read the same materialized blocks.
    * Memoized under `normed|corpusKey` (the AnnSubstrate convention). */
  private[graft] def normedFrame(embeddings: DataFrame, ck: String): DataFrame =
    graft.AnnSubstrate.getOrBuildFrames(
      embeddings.sparkSession, s"normed|$ck")(
      embeddings.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm")).localCheckpoint(true))(f => Seq(f))

  def allPairsNearDup(embeddings: DataFrame, threshold: Double,
      allPairsOk: Boolean = false, maxRows: Long = 100000L,
      corpusKey: Option[String] = None): DataFrame = {
    if (!allPairsOk) {
      // keyed: ride the ONE memoized corpus count (the resolveNlist
      // `count|` key), so bench reps don't pay a guard-count job each —
      // the guard stays armed, the action becomes session-amortized
      val n = corpusKey match {
        case Some(ck) => graft.AnnSubstrate.getOrBuild(
          embeddings.sparkSession, s"count|$ck")(embeddings.count())
        case None => embeddings.count()
      }
      require(n <= maxRows,
        s"allPairsNearDup is O(n²) in compute: |embeddings| = $n exceeds maxRows = $maxRows. " +
          "At this size use a bucketed family instead — Dedup.minhashCandidates (q34), " +
          "Similarity.annTopK (q39), ivfTopK (q49), or quantizedTopK (q71) — " +
          "or pass allPairsOk = true to accept the quadratic cost explicitly.")
    }
    val e = corpusKey match {
      case Some(ck) => normedFrame(embeddings, ck)
      case None => embeddings.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    }
    val a = e.select(col("vec_id").as("d1"), col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("d2"), col("embedding").as("vb"), col("nrm").as("nb"))
    a.join(b, col("d1") < col("d2") &&
        round(graft.expressions.VecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6) >= threshold)
      .select(col("d1"), col("d2"),
        round(graft.expressions.VecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
  }

  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** Brute-force top-k on QUANTIZED vectors. Cosine over int8 codes needs
    * no dequantization: the per-vector scales cancel in the ratio, so the
    * score is intdot(qa,qb)/(‖qa‖·‖qb‖). Norms are materialized per
    * VECTOR before the join — recomputing them per (corpus × query) pair
    * would triple the dot products on the hot path. */
  def quantizedTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val qz = quantized(embeddings.select(col("vec_id"), col("embedding")),
        "embedding", "qv")
      .select(col("vec_id"), col("qv"), sqrt(intDot(col("qv"), col("qv"))).as("qn"))
    val queries = qz.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"), col("qn").as("qqn"))
    val scored = qz.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(intDot(col("qv"), col("qqv")) / (col("qn") * col("qqn")), 6)
          .as("qcosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcosine").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** SemDeDup-shape semantic deduplication: k-means clusters bound the
    * quadratic, exact cosine runs only INSIDE a cluster, and a vector is
    * dropped when a smaller-id in-cluster neighbor scores >= threshold
    * (greedy keep-lowest-id — deterministic; the known bias is chain
    * overdrop, a-b and b-c near-dup drops both b and c even when a-c is
    * far, and the q69/q81 connected-components machinery is the in-repo
    * alternative when group-exact survivors matter). Returns per-cluster
    * (cid, n_vecs, n_dropped, n_kept).
    *
    * Scale: this is the published recipe for embedding dedup at corpus
    * scale (cluster first, pairwise only within) — nlist grows with the
    * corpus so the per-cluster pair count stays bounded (target cluster
    * size B makes the compute n·B, not n²); the cluster equi-join
    * shuffles (cid, vec) rows once and never materializes non-matching
    * pairs (the threshold lives in the join condition, the q38 trick).
    * nlist <= 0 (the default, and the registered q112 form) AUTO-SCALES
    * via [[autoNlist]] — per-list size held near [[HubnessTargetList]],
    * floored at the oracle's 8, the exact fix q138 measured (fixed
    * nlist=8 was 2.1x wall-clock on 5x data here; auto restores the n·B
    * contract). The count behind auto is a bounded metadata action.
    * The signature table is localCheckpoint-ed: both join sides and the
    * size aggregate reuse it without re-running the Lloyd chain. */
  /** The q112 in-cluster cosine pair stage — coarse-quantize, then
    * exact round-6 cosine ONLY inside a cluster, with the threshold in
    * the join condition so non-matches never materialize. Factored so
    * the SemDeDup report ([[semanticDedup]]) and the lexical-vs-
    * semantic agreement table (q174) share one definition of "these
    * two embeddings are semantic near-dups" — the same
    * single-source-of-truth shape as simhashNearDupPairsCapped on the
    * lexical side. Returns (lists, pairs(cid, d1 < d2)). */
  private[graft] def semanticPairStage(embeddings: DataFrame,
      threshold: Double, nlist: Int, iters: Int,
      corpusKey: Option[String] = None): (DataFrame, DataFrame) = {
    val chosen = resolveNlist(embeddings, nlist, corpusKey)
    val (_, lists) =
      ivfIndex(embeddings, chosen, iters, corpusKey)
    val a = lists.select(col("cid"), col("vec_id").as("d1"),
      col("v").as("va"), col("nrm").as("na"))
    val b = lists.select(col("cid").as("cidb"), col("vec_id").as("d2"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, col("cid") === col("cidb") && col("d1") < col("d2") &&
        round(graft.expressions.VecDot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          >= threshold)
      .select(col("cid"), col("d1"), col("d2"))
    (lists, pairs)
  }

  def semanticDedup(embeddings: DataFrame, threshold: Double, nlist: Int = 0,
      iters: Int = 3, corpusKey: Option[String] = None): DataFrame = {
    val (lists, pairs) =
      semanticPairStage(embeddings, threshold, nlist, iters, corpusKey)
    val dropped = pairs.select(col("cid"), col("d2")).distinct()
      .groupBy(col("cid")).agg(count(lit(1)).as("n_dropped"))
    lists.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
      .join(dropped, Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("cid"))
  }

  /** Within-list kNN-graph in-degree distribution (q138) — the hubness
    * diagnostic for an embedding space: build the k-nearest-neighbor
    * graph the way a production ANN index would (top-k by cosine INSIDE
    * each IVF list, the q112/SemDeDup bound on pairwise work), then
    * histogram how often each vector is chosen as someone's neighbor.
    * A healthy space has in-degree concentrated near k; hub vectors
    * (in-degree ≫ k) distort retrieval and are the known failure mode
    * of high-dimensional kNN (hubness). Returns (in_degree, n_vectors).
    *
    * Vectors in a singleton list have no candidates and surface in the
    * in_degree = 0 bucket (the left join keeps every corpus vector).
    * Scale: nlist grows with the corpus so the per-list size stays at a
    * target B and the pair stage costs n·B, never n²; per-row norms are
    * computed once on the checkpointed list table, the top-k window is
    * bounded by the list, and the two aggregates shuffle 8-byte keys.
    * The residual super-linear term is the assign pass (n·nlist dots —
    * the accepted IVF build cost; at extreme scale train the quantizer
    * on a sample and assign the corpus once, which this chain supports
    * by passing a sampled frame to [[kmeansCentroids]]). Measured on the
    * 5x ScaleUp corpus: fixed nlist=8 7.1x, auto 1.9x. */
  /** IVF probe-recall curve (q142): recall@k and mean candidate count
    * as a function of nprobe — the tuning curve an IVF deployment reads
    * to pick its recall/latency operating point (the ANN twin of q117's
    * near-dup threshold curve). Candidates are scored ONCE with the
    * rank of the centroid that admitted them; each nprobe row is then a
    * filter + bounded window over that one table, so the whole curve
    * costs one q49 probe pass plus |q|·n bounded work, never nlist
    * separate index runs. At nprobe = nlist the candidate set is the
    * full corpus under the IDENTICAL cosine, so the curve provably ends
    * at recall 1.0 — an in-query correctness anchor. */
  def ivfProbeRecallCurve(embeddings: DataFrame, queryIds: Seq[Long],
      k: Int, nlist: Int = 8, iters: Int = 3,
      corpusKey: Option[String] = None): DataFrame = {
    val (centroids, lists) =
      ivfIndex(embeddings, nlist, iters, corpusKey)
    val queries = lists.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cid"))
    val probes = queries.crossJoin(broadcast(centroids))
      .withColumn("sim", graft.expressions.VecDot(col("qv"), col("cvec")))
      .withColumn("prank", row_number().over(pw))
      .select(col("query_id"), col("qv"), col("cid"), col("prank"))
    val cand = lists.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("prank"),
        cosine(col("v"), col("qv")).as("cosine"))
    val pc = cand
      .withColumn("nprobe", explode(sequence(lit(1), lit(nlist))))
      .filter(col("prank") <= col("nprobe"))
    val tw = Window.partitionBy(col("query_id"), col("nprobe"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val topk = pc.withColumn("rn", row_number().over(tw)).filter(col("rn") <= k)
      .select(col("query_id"), col("nprobe"), col("vec_id"))
    val ew = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    // the exact leg scans the same corpus vectors; the assigned list
    // table IS that corpus (every vector appears exactly once)
    val exact = lists.select(col("vec_id"), col("v"))
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("v"), col("qv")).as("cosine"))
      .withColumn("rn", row_number().over(ew)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    val hits = topk.join(exact, Seq("query_id", "vec_id"), "left")
      .groupBy(col("nprobe"), col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("h"))
    val ncand = pc.groupBy(col("nprobe"), col("query_id"))
      .agg(count(lit(1)).as("nc"))
    hits.join(ncand, Seq("nprobe", "query_id"))
      .groupBy(col("nprobe"))
      .agg(
        (sum(col("h")).cast("double") / lit(k * queryIds.size)).as("avg_recall"),
        (sum(col("nc")).cast("double") / lit(queryIds.size)).as("avg_candidates"))
      .orderBy(col("nprobe"))
  }

  /** Target per-list size for [[knnHubness]]'s auto nlist: chosen so the
    * verify-scale corpus (500 vectors → ceil(500/63) = 8) runs the exact
    * 8-list chain the DuckDB oracle unrolls, while larger corpora grow
    * nlist ∝ n and keep the within-list join at n·B. */
  val HubnessTargetList = 63

  /** Lists needed to hold per-list size near [[HubnessTargetList]],
    * floored at the oracle's 8. */
  def autoNlist(n: Long): Int =
    math.max(8, math.ceil(n.toDouble / HubnessTargetList).toInt)

  /** The ONE auto-nlist resolution every auto-capable operator routes
    * through (semanticDedup, knnHubness, knnLabelEval, bitext/hard-
    * negative mining): nlist <= 0 means auto. A second inline copy of
    * this conditional is how a future operator would silently ship the
    * fixed-nlist pathology back in — CurationOpsSpec pins the resolver
    * itself. The count is a bounded metadata action (q38-guard style). */
  private[graft] def resolveNlist(embeddings: DataFrame, nlist: Int,
      corpusKey: Option[String] = None): Int =
    if (nlist > 0) nlist
    else autoNlist(corpusKey match {
      // the registered queries resolve auto-nlist for the same corpus
      // six-plus times per suite run — the count is tiny but it is a
      // scheduled job, so it rides the substrate memo too
      case Some(ck) => graft.AnnSubstrate.getOrBuild(
        embeddings.sparkSession, s"count|$ck")(embeddings.count())
      case None => embeddings.count()
    })

  /** The ONE in-list exact-kNN scaffold shared by [[knnHubness]] (q138)
    * and [[knnLabelEval]] (q165): auto-resolved nlist → Lloyd chain →
    * map-side assignment → checkpointed list table with per-row norms →
    * within-list self-join → round-6 cosine → bounded top-k window.
    * Factored for the same reason as resolveNlist/gateFlags — two inline
    * copies of the neighborhood definition would let a tie-break or
    * rounding fix land in one operator and silently desynchronize the
    * other's neighbor sets. `riders` carries extra per-vector columns
    * (e.g. q165's label) from `embeddings` into the returned frames as
    * `src_<r>` / `dst_<r>` on the edges and `<r>` on the list table.
    *
    * nlist <= 0 = auto: hold the per-list size near HubnessTargetList so
    * the within-list self-join stays n·B as the corpus grows (fixed
    * nlist measured 7x on 5x data for q138, 2.0x for q165; auto restores
    * ~linear). The count inside resolveNlist is a bounded metadata
    * action, the q38-guard style of driver probe.
    *
    * Returns (lists, knn): the checkpointed per-vector list table
    * (cid, vec_id, v, riders*, nrm) and the kNN edge table
    * (src, dst, cosine, src_riders*, dst_riders*, rn <= k). */
  private[graft] def inListKnn(embeddings: DataFrame, k: Int, nlist: Int,
      iters: Int, riders: Seq[String] = Nil,
      corpusKey: Option[String] = None): (DataFrame, DataFrame) = {
    val chosen = resolveNlist(embeddings, nlist, corpusKey)
    val (_, idx) = ivfIndex(embeddings, chosen, iters, corpusKey)
    // riders are per-QUERY columns, so they join onto the shared index
    // here (one vec_id-keyed join, checkpointed because the self-join
    // below reads both sides) rather than being baked into the memo key
    val lists =
      if (riders.isEmpty) idx
      else idx.join(
          embeddings.select(col("vec_id") +: riders.map(col): _*), Seq("vec_id"))
        .select(Seq(col("cid"), col("vec_id"), col("v")) ++ riders.map(col) :+
          col("nrm"): _*)
        .localCheckpoint(true)
    val a = lists.select(Seq(col("cid"), col("vec_id").as("src"),
      col("v").as("va"), col("nrm").as("na")) ++
      riders.map(r => col(r).as(s"src_$r")): _*)
    val b = lists.select(Seq(col("cid").as("cidb"), col("vec_id").as("dst"),
      col("v").as("vb"), col("nrm").as("nb")) ++
      riders.map(r => col(r).as(s"dst_$r")): _*)
    val scored = a.join(b, col("cid") === col("cidb") && col("src") =!= col("dst"))
      .select(Seq(col("src"), col("dst"),
        round(graft.expressions.VecDot(col("va"), col("vb")) /
          (col("na") * col("nb")), 6).as("cosine")) ++
        riders.flatMap(r => Seq(col(s"src_$r"), col(s"dst_$r"))): _*)
    val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    (lists, scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k))
  }

  def knnHubness(embeddings: DataFrame, k: Int = 10, nlist: Int = 0,
      iters: Int = 3, corpusKey: Option[String] = None): DataFrame = {
    val (lists, knn) =
      inListKnn(embeddings, k, nlist, iters, corpusKey = corpusKey)
    val indeg = lists.select(col("vec_id"))
      .join(knn.groupBy(col("dst")).agg(count(lit(1)).as("c")),
        col("vec_id") === col("dst"), "left")
      .select(coalesce(col("c"), lit(0L)).as("in_degree"))
    indeg.groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("in_degree"))
  }

  /** IVF index-health table (q139): per inverted list, its size, share
    * of the corpus, skew vs the mean list size (size·nlist/total — the
    * imbalance factor an IVF deployment alarms on, since probe cost is
    * driven by the hottest lists), and the mean member→centroid cosine
    * (quantization quality: a low-cohesion list is one the index should
    * split before recall degrades). Complements q112's kept/dropped
    * accounting and q49's retrieval path with the OPERATIONAL view of
    * the same coarse quantizer. Scale: one |corpus| scan with a
    * broadcast centroid join (nlist rows), one nlist-key map-side-
    * combined aggregate, one broadcast one-row total — no pairwise
    * stage at all. */
  def ivfListStats(embeddings: DataFrame, nlist: Int = 8, iters: Int = 3,
      corpusKey: Option[String] = None): DataFrame = {
    val (centroids, lists) =
      ivfIndex(embeddings, nlist, iters, corpusKey)
    ivfListStatsFromIndex(lists, centroids, nlist)
  }

  /** q139's health table over a PREBUILT inverted file — the
    * [[ivfListStats]] body with `lists`/`centroids` supplied by the
    * caller (one-shot build there, persisted state in
    * [[graft.streaming.IvfStateStream.listStatsFromState]]). */
  def ivfListStatsFromIndex(lists: DataFrame, centroids: DataFrame,
      nlist: Int): DataFrame = {
    val mc = lists
      .join(broadcast(centroids), Seq("cid"))
      .select(col("cid"),
        round(graft.expressions.VecDot(col("v"), col("cvec")) /
          (sqrt(graft.expressions.VecDot(col("v"), col("v"))) *
           sqrt(graft.expressions.VecDot(col("cvec"), col("cvec")))), 6)
          .as("cc"))
    val per = mc.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        DetAgg.davg(col("cc")).as("avg_centroid_cosine"))
    val tot = per.agg(sum(col("n_vecs")).as("_t"))
    per.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("_t").cast("double")).as("size_share"),
        (col("n_vecs").cast("double") * lit(nlist) / col("_t").cast("double"))
          .as("skew"),
        col("avg_centroid_cosine"))
      .orderBy(col("cid"))
  }

  /** Driver-literal hot-list threshold for [[ivfSplitRebalance]]: the
    * mean list size ceil(n / nlist), with n published by Verify
    * (graft.OracleCtx) on the oracle side and resolved from the SAME
    * memoized corpus count on the engine side — the autoNlist pattern.
    * Fallback (no Verify context) = ceil(500 / 8) = 63, the gate-scale
    * value, keeping SQL rendered outside Verify byte-stable. */
  private[graft] def oracleMaxList(nlist: Int): Int =
    graft.OracleCtx.embeddingsCount
      .map(n => math.ceil(n.toDouble / nlist).toInt).getOrElse(63)

  /** ONE split pass over an inverted file's hot lists — the index
    * maintenance operation q139's health table exists to trigger ("a
    * list the index should split before recall degrades"): every list
    * with more than `maxList` members is split by a deterministic
    * 2-means over ITS members (seeds = the list's two lowest vec_ids;
    * `iters` keyed Lloyd rounds; assignment ties to the larger child —
    * the portable q49/q175 conventions), children take cids
    * parent + child·nlist (collision-free since parent < nlist), cold
    * lists and their centroids pass through untouched.
    *
    * NOT a driver loop: the hot-list id rides every shuffle key, so all
    * hot lists split in ONE keyed chain — per round exactly one
    * (cid, child, pos)-keyed decimal-mean shuffle plus a ≤2-rows-per-
    * member argmax window, the same barrier count as a single 2-means
    * at ANY hot-list count (the pqStage lesson, keyed by cid instead of
    * sub). A child that wins no members in an early round simply drops
    * out of later rounds (the health tail reports non-empty lists only,
    * the q139 join convention); one pass halves hot lists — children
    * can still exceed `maxList`, and a deployment reruns the pass until
    * the health table is quiet (each pass is one more keyed chain).
    *
    * Returns (newCentroids (cid, cvec), newLists (cid, vec_id, v,
    * from_split)). */
  private[graft] def splitHotLists(lists: DataFrame, centroids: DataFrame,
      nlist: Int, maxList: Int, iters: Int): (DataFrame, DataFrame) = {
    val hot = lists.groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxList).select(col("cid"))
      .localCheckpoint(true) // tiny (≤ nlist rows), read 2·iters+3 times
    val hm = lists.join(broadcast(hot), Seq("cid"))
      .select(col("cid"), col("vec_id"), col("v"))
      .localCheckpoint(true) // both argmax sides + every recompute read it
    val wSeed = Window.partitionBy(col("cid")).orderBy(col("vec_id"))
    val seeds = hm.withColumn("rn", row_number().over(wSeed))
      .filter(col("rn") <= 2)
      .select(col("cid"), (col("rn") - 1).cast("int").as("child"),
        col("v").as("ccvec"))
      .localCheckpoint(true)
    val wPick = Window.partitionBy(col("cid"), col("vec_id"))
      .orderBy(col("sim").desc, col("child").desc)
    def assignKids(kids: DataFrame): DataFrame =
      hm.join(broadcast(kids), Seq("cid"))
        .select(col("cid"), col("vec_id"), col("v"), col("child"),
          graft.expressions.VecDot(col("v"), col("ccvec")).as("sim"))
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("cid"), col("vec_id"), col("v"), col("child"))
    def recompute(assigned: DataFrame): DataFrame =
      assigned.select(col("cid"), col("child"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("child"), col("pos"))
        .agg(DetAgg.davg(col("x")).as("m"))
        .groupBy(col("cid"), col("child"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"), col("child"),
          expr("transform(pm, s -> s.m)").as("ccvec"))
        .localCheckpoint(true)
    var kids = seeds
    (0 until iters).foreach(_ => kids = recompute(assignKids(kids)))
    val placed = assignKids(kids)
    val newLists = lists.join(broadcast(hot), Seq("cid"), "left_anti")
      .select(col("cid"), col("vec_id"), col("v"), lit(false).as("from_split"))
      .unionAll(placed.select(
        (col("cid") + col("child") * lit(nlist)).as("cid"),
        col("vec_id"), col("v"), lit(true).as("from_split")))
    val newCents = centroids.join(broadcast(hot), Seq("cid"), "left_anti")
      .select(col("cid"), col("cvec"))
      .unionAll(kids.select(
        (col("cid") + col("child") * lit(nlist)).as("cid"),
        col("ccvec").as("cvec")))
    (newCents, newLists)
  }

  /** q197: the q139 health table AFTER one hot-list split pass — the
    * operational read that closes q139's own loop (its scaladoc names
    * the trigger: "a low-cohesion list is one the index should split
    * before recall degrades"; this is the split, with the post-split
    * health as the oracle-checked output). maxList <= 0 (the registered
    * form) resolves to ceil(n/nlist) — the mean list size, so any
    * above-average list splits — via the driver-literal pattern
    * (engine: the memoized corpus count; oracle: OracleCtx), identical
    * at every SF. skew is reported against the POST-split non-empty
    * list count. Scale: one q139-cost health pass plus the keyed split
    * chain, whose member universe is only the hot lists' rows. */
  def ivfSplitRebalance(embeddings: DataFrame, nlist: Int = 8,
      maxList: Int = 0, iters: Int = 3,
      corpusKey: Option[String] = None): DataFrame = {
    val chosenMax =
      if (maxList > 0) maxList
      else {
        val n = corpusKey match {
          case Some(ck) => graft.AnnSubstrate.getOrBuild(
            embeddings.sparkSession, s"count|$ck")(embeddings.count())
          case None => embeddings.count()
        }
        math.ceil(n.toDouble / nlist).toInt
      }
    val (centroids, lists) =
      ivfIndex(embeddings, nlist, iters, corpusKey)
    val (newCents, newLists) = splitHotLists(
      lists.select(col("cid"), col("vec_id"), col("v")), centroids,
      nlist, chosenMax, iters)
    val mc = newLists
      .join(broadcast(newCents), Seq("cid"))
      .select(col("cid"), col("from_split"),
        round(graft.expressions.VecDot(col("v"), col("cvec")) /
          (sqrt(graft.expressions.VecDot(col("v"), col("v"))) *
           sqrt(graft.expressions.VecDot(col("cvec"), col("cvec")))), 6)
          .as("cc"))
    val per = mc.groupBy(col("cid"), col("from_split"))
      .agg(count(lit(1)).as("n_vecs"),
        DetAgg.davg(col("cc")).as("avg_centroid_cosine"))
    val tot = per.agg(sum(col("n_vecs")).as("_t"),
      count(lit(1)).as("_nl"))
    per.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_vecs"),
        (col("n_vecs").cast("double") / col("_t").cast("double"))
          .as("size_share"),
        (col("n_vecs").cast("double") * col("_nl").cast("double")
          / col("_t").cast("double")).as("skew"),
        col("avg_centroid_cosine"), col("from_split"))
      .orderBy(col("cid"))
  }

  /** Product quantization (Jégou et al. 2011, "Product Quantization for
    * Nearest Neighbor Search"): split each 64-dim vector into `m`
    * contiguous subvectors and vector-quantize EACH subspace with its own
    * `ksub`-centroid codebook, so a vector stores as m small codes
    * (m=4, ksub=16 → 16 bits) instead of 64 floats (2048 bits) — the
    * 128× compression that makes a 100 TB embedding corpus fit an ANN
    * index's memory budget at all. This is the missing tier of the IVF
    * story: q49's coarse quantizer prunes WHICH vectors to score,
    * PQ compresses HOW each vector is stored and scored.
    *
    * The m per-subspace Lloyd chains are NOT a driver loop of m kmeans
    * builds: the subspace id rides every key, so all m codebooks train
    * in ONE keyed chain — per iteration exactly one shuffle keyed
    * (sub, cid, pos) plus a tiny (m·ksub rows) checkpoint, identical
    * barrier count to a single [[kmeansCentroids]] run at any m. Seeds
    * follow the kmeansCentroids convention (the ksub lowest vec_ids,
    * sliced — a LIMIT on the corpus, never a per-subspace corpus sort);
    * assignment is the [[assign]] convention (argmax dot, ties to the
    * larger cid) applied per subspace as a broadcast map-side argmax.
    *
    * Returns (codebooks(sub, cid, cvec), codes(vec_id, sub, sv, cid));
    * `sv` is retained on codes so consumers (distortion, recon checks)
    * never re-join the corpus. */
  private[graft] def pqStage(embeddings: DataFrame, m: Int, ksub: Int,
      iters: Int, corpusKey: Option[String] = None): (DataFrame, DataFrame) = {
    require(64 % m == 0, s"m=$m must divide the 64-dim embedding")
    // checkpointCodes: the encoded corpus is checkpointed only on the
    // memoized path — a single consumer reads codes once (a checkpoint
    // would be a pure extra pass), but the PQ query trio (q175–q177)
    // shares one (corpus, m, ksub) key and each member re-reads them
    def build(checkpointCodes: Boolean): (DataFrame, DataFrame) = {
      val dvs = pqSubvectors(embeddings, m)
      var codebooks = pqSubvectors(embeddings.orderBy(col("vec_id")).limit(ksub), m)
        .withColumn("cid", row_number().over(
          Window.partitionBy(col("sub")).orderBy(col("vec_id"))) - 1)
        .select(col("sub"), col("cid"), col("sv").as("cvec"))
        .localCheckpoint(true)
      (0 until iters).foreach { _ =>
        codebooks = assignSub(dvs, codebooks)
          .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
          .groupBy(col("sub"), col("cid"), col("pos")).agg(DetAgg.davg(col("x")).as("mv"))
          .groupBy(col("sub"), col("cid"))
          .agg(array_sort(collect_list(struct(col("pos"), col("mv")))).as("pm"))
          .select(col("sub"), col("cid"), expr("transform(pm, s -> s.mv)").as("cvec"))
          .localCheckpoint(true)
      }
      val codes = assignSub(dvs, codebooks)
      (codebooks, if (checkpointCodes) codes.localCheckpoint(true) else codes)
    }
    corpusKey match {
      case Some(ck) => graft.AnnSubstrate.getOrBuildFrames(
        embeddings.sparkSession,
        s"pq|$ck|$m|$ksub|$iters")(
        build(checkpointCodes = true))(t => Seq(t._1, t._2))
      case None => build(checkpointCodes = false)
    }
  }

  /** One projection: each vector → m (sub, subvector) rows, no shuffle —
    * the slicing convention shared by training ([[pqStage]]) and
    * encoding against a frozen codebook ([[pqEncode]]). */
  private[graft] def pqSubvectors(df: DataFrame, m: Int): DataFrame = {
    val subDim = 64 / m
    df.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)), s =>
        slice(graft.functions.VectorOps.asDouble(col("embedding")),
          s * subDim + 1, lit(subDim)))).as(Seq("sub", "sv")))
  }

  /** Encode vectors against a FROZEN codebook table — the maintained
    * IVF-PQ index's per-batch fold ([[graft.streaming.IvfStateStream]]):
    * same slicing, same argmax convention as training, no Lloyd work. */
  private[graft] def pqEncode(embeddings: DataFrame,
      codebooks: DataFrame, m: Int): DataFrame =
    assignSub(pqSubvectors(embeddings, m), codebooks)
      .select(col("vec_id"), col("sub"), col("cid"))

  /** (vec_id, rv): each vector's reconstruction — the sub-ordered
    * concatenation of its codewords; ONE definition for the q176 eval
    * and the state-served ADC read. */
  private[graft] def pqRecon(codes: DataFrame, codebooks: DataFrame): DataFrame =
    codes.join(broadcast(codebooks), Seq("sub", "cid"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cvec")))).as("sc"))
      .select(col("vec_id"), flatten(expr("transform(sc, s -> s.cvec)")).as("rv"))

  /** Per-subspace nearest-codeword assignment, the [[assign]] shape keyed
    * by subspace: codebooks fold into m broadcast array rows, the per-row
    * argmax (highest dot, ties to the larger cid) runs inside transform +
    * array_max — the exploded corpus is never shuffled for assignment. */
  private[graft] def assignSub(dvs: DataFrame, codebooks: DataFrame): DataFrame = {
    val carr = codebooks.groupBy(col("sub"))
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("cs"))
    dvs.join(broadcast(carr), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("sv"),
        array_max(transform(col("cs"), c =>
          struct(
            graft.expressions.VecDot(col("sv"), c.getField("cvec")).as("sim"),
            c.getField("cid").as("cid"))))
          .getField("cid").as("cid"))
  }

  /** q175: the PQ codebook health + distortion report — per subspace:
    * corpus rows, codewords actually used, the hottest codeword's mass,
    * and the mean squared reconstruction error. This is the table a PQ
    * deployment reads before trusting its codes: dead codewords waste
    * bits (codes_used < ksub says shrink ksub or retrain), a hot
    * codeword (top_code_share → 1) says that subspace carries no
    * information and ADC scores there are noise, and avg_sq_error is
    * the quantization distortion that bounds ADC's score error.
    *
    * Determinism: sqerr = ||sv − cvec||² as a dot of the difference
    * vector with itself (every fold term ≥ 0, so no sign-of-zero hazard
    * at round(·,6)), summed via DetAgg decimal sums; counts exact.
    * Scale: the keyed Lloyd chain + one broadcast codeword join, one
    * (sub, cid)-key map-side-combined aggregate (m·ksub groups), one
    * m-key rollup — never pairwise. */
  def pqCodebookReport(embeddings: DataFrame, m: Int = 4, ksub: Int = 16,
      iters: Int = 3, corpusKey: Option[String] = None): DataFrame = {
    val (codebooks, codes) =
      pqStage(embeddings, m, ksub, iters, corpusKey)
    val diff = zip_with(col("sv"), col("cvec"), (a, b) => a - b)
    val perCode = codes.join(broadcast(codebooks), Seq("sub", "cid"))
      .select(col("sub"), col("cid"),
        round(graft.expressions.VecDot(diff, diff), 6).as("sqerr"))
      .groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("n"), DetAgg.dsum(col("sqerr")).as("se"))
    perCode.groupBy(col("sub"))
      .agg(sum(col("n")).cast("bigint").as("n_vecs"),
        count(lit(1)).cast("bigint").as("codes_used"),
        max(col("n")).cast("bigint").as("top_code_n"),
        (max(col("n")).cast("double") / sum(col("n")).cast("double"))
          .as("top_code_share"),
        (sum(col("se")).cast("double") / sum(col("n")).cast("double"))
          .as("avg_sq_error"))
      .select(col("sub").cast("int").as("sub"), col("n_vecs"),
        col("codes_used"), col("top_code_n"), col("top_code_share"),
        col("avg_sq_error"))
      .orderBy(col("sub"))
  }

  /** q176: ADC recall@k — the PQ index-quality eval. Each corpus vector
    * is replaced by its reconstruction (the concatenation of its m
    * codewords) and scored against the UNCOMPRESSED query: that is
    * asymmetric distance computation (the dot decomposes over subspace
    * concatenation, so cosine(q, recon) ≡ the Σ_s table-lookup a
    * production PQ scorer runs — algebraically identical, here written
    * as one cosine so the eval shares q36's scoring convention). Per
    * query: |ADC top-k ∩ exact top-k| / k, the q128 recall shape for
    * the compression tier instead of the candidate tier.
    *
    * Determinism: reconstructions are portable decimal-mean codewords;
    * both rankings total-order on (round-6 cosine DESC, vec_id); the
    * hit count is an exact join count. Scale: the keyed Lloyd chain +
    * one |corpus| groupBy(vec_id) reassembly (m rows per key), then the
    * q36 broadcast-queries pass over reconstructions — the eval runs on
    * a query SAMPLE by construction; the corpus side stays one pass. */
  def pqAdcRecall(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 10,
      m: Int = 4, ksub: Int = 16, iters: Int = 3,
      corpusKey: Option[String] = None): DataFrame = {
    val (codebooks, codes) =
      pqStage(embeddings, m, ksub, iters, corpusKey)
    val recon = pqRecon(codes.select(col("vec_id"), col("sub"), col("cid")),
      codebooks)
    val queries = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorOps.asDouble(col("embedding")).as("qv"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cosine").desc, col("vec_id"))
    val adcTop = recon.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("rv"), col("qv")).as("adc_cosine"))
      .withColumn("rn", row_number().over(wa)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"))
    // exact leg deliberately UNKEYED — the measured do-not recorded on
    // annRecall applies with evidence here: keyed medians 0.59 -> 0.71 s
    val exact = bruteForceTopK(embeddings, queryIds, k)
      .select(col("query_id"), col("vec_id"))
    val hits = adcTop.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).cast("bigint").as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
      .orderBy(col("query_id"))
  }

  // ------------------------------------------------------------------
  // q108's centroid machinery, factored into its three stages so the
  // incremental monitor (streaming.CentroidStateStream) composes the
  // SAME definitions: the (source, dim) micro-unit sums are additive
  // exact integers — the state a streaming maintenance job persists —
  // and centroid/drift are pure functions of those sums.

  /** (source, dim) → (sq = Σ floor(v·1e6), n) over a (source, embedding)
    * frame — q108's quantized sum stage. Both outputs are exact
    * integers, hence batch-additive: sums over a union equal summed
    * per-batch sums, which is what makes the centroid state stream's
    * delta log exact rather than approximate. */
  private[graft] def centroidSums(srcVec: DataFrame): DataFrame =
    srcVec
      .select(col("source"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("source"), col("dim"),
        floor(col("v").cast("double") * lit(1e6d)).cast("bigint").as("q"))
      .groupBy(col("source"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))

  /** Integer micro-unit centroid from the sums: floor of the IEEE
    * quotient, identical on both engines (q108's determinism note). */
  private[graft] def centroidFromSums(sums: DataFrame): DataFrame =
    sums.select(col("source"), col("dim"),
      floor(col("sq").cast("double") / col("n")).cast("bigint").as("c"))

  /** The pairwise drift matrix over a (source, dim, c) centroid table —
    * q108's tail: 64 exact integer products per source pair, one IEEE
    * cosine expression. */
  private[graft] def centroidDriftFromCent(cent: DataFrame): DataFrame = {
    val a = cent.select(col("source").as("s1"), col("dim"), col("c").as("ca"))
    val b = cent.select(col("source").as("s2"), col("dim").as("dimb"),
      col("c").as("cb"))
    a.join(broadcast(b), col("dim") === col("dimb") && col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(sum(col("ca") * col("cb")).as("sab"),
        sum(col("ca") * col("ca")).as("saa"),
        sum(col("cb") * col("cb")).as("sbb"))
      .select(col("s1"), col("s2"),
        (col("sab").cast("double") /
          (sqrt(col("saa").cast("double")) * sqrt(col("sbb").cast("double"))))
          .as("centroid_cosine"))
      .orderBy(col("s1"), col("s2"))
  }

  /** q177: PQ codes as DEDUP BANDS — the serving index's own codes
    * reused as an LSH candidate generator, closing the loop between the
    * compression tier and the dedup family: a pair is a candidate if it
    * agrees on ALL codes of ANY band (band 0 = subspaces 0-1, band 1 =
    * subspaces 2-3 → two 8-bit band keys per vector — the OR-of-ANDs
    * amplification q34/q39/q76 use, here with signatures the index
    * already stores for free). Candidates get one exact round-6 cosine
    * and the report is the candidate-generator quality row: pair count,
    * semantic mass at the q112 threshold, precision, and mean pair
    * cosine — the number that decides whether PQ buckets can replace a
    * dedicated signature pass for semantic dedup on an already-indexed
    * corpus.
    *
    * Determinism: the code chain is the portable keyed Lloyd (q175);
    * band keys are exact integers; cosines round-6; the mean is a
    * DetAgg decimal sum — all guarded identically on both engines when
    * the candidate set is empty. Scale: one |corpus| code-pivot
    * aggregate, a band-key equi-join (2·|corpus| rows, 8-bit keys
    * within the band id — never all-pairs), then one exact-rerank join
    * per candidate into a single-row aggregate; candidate mass is
    * bounded by bucket occupancy exactly like the q76 band join, and
    * the bucket histogram is q175's top_code_share early warning. */
  def pqCodeNearDup(embeddings: DataFrame, threshold: Double = 0.3,
      m: Int = 4, ksub: Int = 16, iters: Int = 3,
      corpusKey: Option[String] = None): DataFrame = {
    require(m == 4, "band layout below assumes 4 subspaces, 2 per band")
    val (_, codes) =
      pqStage(embeddings, m, ksub, iters, corpusKey)
    val keys = codes.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("cid")))).as("sc"))
      .select(col("vec_id"), expr("transform(sc, s -> s.cid)").as("cs"))
      .select(col("vec_id"), posexplode(array(
        col("cs")(0) * ksub + col("cs")(1),
        col("cs")(2) * ksub + col("cs")(3))).as(Seq("band", "bkey")))
    val cand = keys.alias("a")
      .join(keys.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct() // a pair may agree on both bands
    val e1 = embeddings.select(col("vec_id").as("d1"), col("embedding").as("v1"))
    val e2 = embeddings.select(col("vec_id").as("d2"), col("embedding").as("v2"))
    cand.join(e1, Seq("d1")).join(e2, Seq("d2"))
      .select(cosine(col("v1"), col("v2")).as("cos"))
      .agg(count(lit(1)).cast("bigint").as("n_candidate_pairs"),
        coalesce(sum((col("cos") >= threshold).cast("long")), lit(0L))
          .cast("bigint").as("n_semantic"),
        DetAgg.dsum(col("cos")).as("_s"))
      .select(col("n_candidate_pairs"), col("n_semantic"),
        when(col("n_candidate_pairs") > 0,
          col("n_semantic").cast("double") /
            col("n_candidate_pairs").cast("double")).as("precision"),
        when(col("n_candidate_pairs") > 0,
          col("_s").cast("double") / col("n_candidate_pairs").cast("double"))
          .as("avg_pair_cosine"))
  }

  /** DuckDB twin of pqCodeNearDup(threshold=0.3). */
  private def q177OracleSql: String =
    s"""WITH ${pqCtes(4, 16)},
       |ck AS (
       |  SELECT vec_id, list(cid ORDER BY sub) AS cs FROM codes GROUP BY vec_id),
       |bk AS (
       |  SELECT vec_id, b.band,
       |    CASE WHEN b.band = 0 THEN cs[1] * 16 + cs[2]
       |         ELSE cs[3] * 16 + cs[4] END AS bkey
       |  FROM ck CROSS JOIN (SELECT unnest(range(2)) AS band) b),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |sc AS (
       |  SELECT ${cosineSql("x.embedding", "y.embedding")} AS cos
       |  FROM cand c
       |  JOIN embeddings x ON x.vec_id = c.d1
       |  JOIN embeddings y ON y.vec_id = c.d2)
       |SELECT CAST(count(*) AS BIGINT) AS n_candidate_pairs,
       |  CAST(COALESCE(sum(CAST(cos >= 0.3 AS INT)), 0) AS BIGINT) AS n_semantic,
       |  CASE WHEN count(*) > 0 THEN
       |    CAST(COALESCE(sum(CAST(cos >= 0.3 AS INT)), 0) AS DOUBLE) / count(*)
       |  END AS precision,
       |  CASE WHEN count(*) > 0 THEN
       |    CAST(CAST(sum(CAST(cos AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
       |      / count(*)
       |  END AS avg_pair_cosine
       |FROM sc""".stripMargin

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(range(64), j -> $a[j+1] * $b[j+1]))"

  /** The oracle-side twin of [[resolveNlist]]: [[autoNlist]] over the
    * driver-published corpus count ([[graft.OracleCtx]], set by Verify
    * before any oracle SQL renders), falling back to the historical 8
    * when no Verify context exists (tests/Bench never consume oracle
    * SQL). ONE sizing rule on both sides: the engine resolves
    * autoNlist(count(embeddings)) at run time, the oracle embeds
    * autoNlist(count(embeddings)) as the seed literal — so the oracle
    * proves the REGISTERED auto-scaled form at every SF, which closed
    * the round-13 sf0.1 divergence class (q112/q138/q150/q155/q165/q174). */
  private[graft] def oracleNlist: Int =
    graft.OracleCtx.embeddingsCount.map(autoNlist).getOrElse(8)

  /** Shared DuckDB CTE chain for the portable k-means family (q49, q112):
    * dv → deterministic seeds c0 → three unrolled Lloyd assign/recompute
    * rounds → final `lists`(vec_id, v, cid) — the twin of
    * kmeansCentroids + assign. Callers prepend
    * "WITH " and append their own tail CTEs. `nlist` is the seed count:
    * the fixed-nlist family (q49/q139/q142/q183) passes its registered
    * literal 8; the auto family passes [[oracleNlist]]. */
  private def kmeansListsCtes(nlist: Int = 8): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    def assignCte(prev: String, out: String) =
      s"""${out}_sim AS (
         |  SELECT a.vec_id, a.v, b.cid, ${dot("a.v", "b.cvec")} AS sim
         |  FROM dv a CROSS JOIN $prev b),
         |$out AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT vec_id, v, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
         |    FROM ${out}_sim) t WHERE rn = 1)""".stripMargin
    def recomputeCte(assigned: String, out: String) =
      s"""${out}_m AS (
         |  SELECT cid, p.j AS j,
         |    CAST(CAST(sum(CAST(v[p.j + 1] AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS m
         |  FROM $assigned CROSS JOIN (SELECT unnest(range(64)) AS j) p
         |  GROUP BY cid, p.j),
         |$out AS (
         |  SELECT cid, list(m ORDER BY j) AS cvec FROM ${out}_m GROUP BY cid)""".stripMargin
    s"""dv AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cvec
       |  FROM (SELECT vec_id, v FROM dv ORDER BY vec_id LIMIT $nlist) t),
       |${assignCte("c0", "a1")},
       |${recomputeCte("a1", "c1")},
       |${assignCte("c1", "a2")},
       |${recomputeCte("a2", "c2")},
       |${assignCte("c2", "a3")},
       |${recomputeCte("a3", "c3")},
       |${assignCte("c3", "lists")}""".stripMargin
  }

  /** Shared DuckDB CTE chain for the PQ family (q175, q176): the twin of
    * pqStage(m = 4, ksub = 16, iters = 3). The
    * subspace id rides every CTE's key exactly as it rides every engine
    * shuffle key — the m codebooks train in one keyed chain here too,
    * not m unrolled copies. Ends at `codes`(vec_id, sub, sv, cid) and
    * `cb3`(sub, cid, cvec). */
  private def pqCtes(m: Int, ksub: Int, prefix: String = ""): String = {
    // `prefix` namespaces every CTE so the chain can coexist with
    // kmeansListsCtes (which also defines dv/a1..a3) in one oracle —
    // the q183 merge; with the default "" the emitted SQL is byte-equal
    // to the historical q175/q176/q177 twins
    def n(x: String) = prefix + x
    val sd = 64 / m
    def dotSub(a: String, b: String) =
      s"list_sum(list_transform(range($sd), j -> $a[j+1] * $b[j+1]))"
    def assignCte(prev: String, out: String) =
      s"""${out}_sim AS (
         |  SELECT d.vec_id, d.sub, d.sv, c.cid, ${dotSub("d.sv", "c.cvec")} AS sim
         |  FROM ${n("dvs")} d JOIN $prev c ON c.sub = d.sub),
         |$out AS (
         |  SELECT vec_id, sub, sv, cid FROM (
         |    SELECT vec_id, sub, sv, cid,
         |      row_number() OVER (PARTITION BY vec_id, sub
         |        ORDER BY sim DESC, cid DESC) AS rn
         |    FROM ${out}_sim) t WHERE rn = 1)""".stripMargin
    def recomputeCte(assigned: String, out: String) =
      s"""${out}_m AS (
         |  SELECT sub, cid, p.j AS j,
         |    CAST(CAST(sum(CAST(sv[p.j + 1] AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)
         |      / count(*) AS mv
         |  FROM $assigned CROSS JOIN (SELECT unnest(range($sd)) AS j) p
         |  GROUP BY sub, cid, p.j),
         |$out AS (
         |  SELECT sub, cid, list(mv ORDER BY j) AS cvec
         |  FROM ${out}_m GROUP BY sub, cid)""".stripMargin
    s"""${n("dv")} AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${n("subs")} AS (SELECT unnest(range($m)) AS sub),
       |${n("dvs")} AS (
       |  SELECT vec_id, sub, list_slice(v, sub*$sd+1, sub*$sd+$sd) AS sv
       |  FROM ${n("dv")} CROSS JOIN ${n("subs")}),
       |${n("cb0")} AS (
       |  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS cid,
       |    list_slice(v, sub*$sd+1, sub*$sd+$sd) AS cvec
       |  FROM (SELECT vec_id, v FROM ${n("dv")} ORDER BY vec_id LIMIT $ksub) t
       |  CROSS JOIN ${n("subs")}),
       |${assignCte(n("cb0"), n("a1"))},
       |${recomputeCte(n("a1"), n("cb1"))},
       |${assignCte(n("cb1"), n("a2"))},
       |${recomputeCte(n("a2"), n("cb2"))},
       |${assignCte(n("cb2"), n("a3"))},
       |${recomputeCte(n("a3"), n("cb3"))},
       |${assignCte(n("cb3"), n("codes"))}""".stripMargin
  }

  /** DuckDB twin of pqCodebookReport(m=4, ksub=16). */
  private def q175OracleSql: String = {
    val sd = 64 / 4
    s"""WITH ${pqCtes(4, 16)},
       |wc AS (
       |  SELECT a.sub, a.cid,
       |    round(list_sum(list_transform(range($sd), j ->
       |      (a.sv[j+1] - c.cvec[j+1]) * (a.sv[j+1] - c.cvec[j+1]))), 6) AS sqerr
       |  FROM codes a JOIN cb3 c ON c.sub = a.sub AND c.cid = a.cid),
       |per AS (
       |  SELECT sub, cid, count(*) AS n, sum(CAST(sqerr AS DECIMAL(38,6))) AS se
       |  FROM wc GROUP BY sub, cid)
       |SELECT CAST(sub AS INT) AS sub,
       |  CAST(sum(n) AS BIGINT) AS n_vecs,
       |  CAST(count(*) AS BIGINT) AS codes_used,
       |  CAST(max(n) AS BIGINT) AS top_code_n,
       |  CAST(max(n) AS DOUBLE) / sum(n) AS top_code_share,
       |  CAST(CAST(sum(se) AS VARCHAR) AS DOUBLE) / sum(n) AS avg_sq_error
       |FROM per GROUP BY sub ORDER BY sub""".stripMargin
  }

  /** DuckDB twin of pqAdcRecall(m=4, ksub=16, k=10):
    * reconstruction = the sub-ordered concatenation of each vector's
    * codewords; ADC ranking = round-6 cosine against the reconstruction;
    * exact ranking = the q36 text verbatim. */
  private def q176OracleSql: String =
    s"""WITH ${pqCtes(4, 16)},
       |jc AS (
       |  SELECT a.vec_id, a.sub, c.cvec FROM codes a
       |  JOIN cb3 c ON c.sub = a.sub AND c.cid = a.cid),
       |recon AS (
       |  SELECT vec_id, flatten(list(cvec ORDER BY sub)) AS rv
       |  FROM jc GROUP BY vec_id),
       |queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM dv
       |  WHERE vec_id IN (0, 100, 200)),
       |adctop AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, r.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY round(list_cosine_similarity(r.rv, q.qv), 6) DESC,
       |          r.vec_id) AS rn
       |    FROM recon r CROSS JOIN queries q WHERE r.vec_id <> q.query_id) t
       |  WHERE rn <= 10),
       |exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC,
       |          e.vec_id) AS rn
       |    FROM embeddings e JOIN embeddings q
       |      ON q.vec_id IN (0, 100, 200) AND e.vec_id <> q.vec_id) t
       |  WHERE rn <= 10),
       |hits AS (
       |  SELECT a.query_id, count(*) AS n_hits
       |  FROM adctop a JOIN exact x
       |    ON a.query_id = x.query_id AND a.vec_id = x.vec_id
       |  GROUP BY a.query_id)
       |SELECT q.query_id, CAST(10 AS BIGINT) AS k,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10 AS recall
       |FROM (SELECT DISTINCT query_id FROM exact) q
       |LEFT JOIN hits h ON h.query_id = q.query_id
       |ORDER BY q.query_id""".stripMargin

  /** DuckDB twin of ivfTopK: the three Lloyd
    * iterations unroll into chained assign/recompute CTE rounds (the
    * shared [[kmeansListsCtes]]). Dot products are explicit sequential
    * list folds (list_sum is a strict left fold, like Spark's
    * aggregate/VecDot); centroid means are the DetAgg decimal-sum shape;
    * argmax assignment breaks ties to the LARGER cid (mirroring
    * array_max over struct(sim, cid)) while probe selection breaks ties
    * to the smaller cid (mirroring the orderBy). Dims fixed at 64 (the
    * embeddings schema). */
  private def q49OracleSql: String = q49OracleSqlFiltered("")

  /** q49's chain with an optional candidate filter spliced into the
    * scored join — `""` renders the historical q49/q182 SQL byte-equal;
    * q199 passes the tombstone-survivor predicate (the forgotten index
    * still probes the FULL-corpus-trained quantizer, but only surviving
    * members can score — exactly what [[graft.streaming.IvfStateStream
    * .forget]] leaves on disk). */
  private def q49OracleSqlFiltered(candFilter: String): String =
    s"""WITH ${kmeansListsCtes()},
       |${ivfScoredCtes(candFilter)}
       |SELECT query_id, vec_id, cosine, CAST(rn AS INT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, vec_id) AS rn
       |  FROM scored) t
       |WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  /** The probe/score stages of q49's chain (queries → probes →
    * `scored`), shared by the standalone searches (q49/q182/q199) and
    * the served-hybrid dense legs (q219/q220) — one definition, so the
    * fused oracle can never drift from the search it composes. Expects
    * `lists`/`c3` in scope (prepend [[kmeansListsCtes]]). */
  private def ivfScoredCtes(candFilter: String): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM lists WHERE vec_id IN (0, 100, 200)),
       |probes AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT q.query_id, q.qv, b.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${dot("q.qv", "b.cvec")} DESC, b.cid) AS rn
       |    FROM queries q CROSS JOIN c3 b) t
       |  WHERE rn <= 3),
       |scored AS (
       |  SELECT p.query_id, l.vec_id,
       |    round(${dot("l.v", "p.qv")} /
       |      (sqrt(${dot("l.v", "l.v")}) * sqrt(${dot("p.qv", "p.qv")})), 6) AS cosine
       |  FROM lists l JOIN probes p ON l.cid = p.cid AND l.vec_id <> p.query_id$candFilter)""".stripMargin
  }

  private def q199OracleSql: String = q49OracleSqlFiltered(
    "\n       |    AND substr(md5(CAST(l.vec_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "'")

  private def q213OracleSql: String = q108OracleSqlFiltered(
    "\n        |    AND substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "'")

  /** DuckDB twin of adcTopKFromState(k=10, nprobe=3) over the state
    * index trained with the portable chains: q49's coarse-quantizer
    * CTEs (dv/lists/c3) merged with the PQ chain under the pq_ prefix,
    * then probe selection (dot-ranked, ties to smaller cid),
    * reconstruction from codes x codebooks, and the round-6 ADC cosine
    * in q49's explicit dot/sqrt form. */
  private def q183OracleSql: String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes()},
       |${pqCtes(4, 16, prefix = "pq_")},
       |jc AS (
       |  SELECT a.vec_id, a.sub, c.cvec FROM pq_codes a
       |  JOIN pq_cb3 c ON c.sub = a.sub AND c.cid = a.cid),
       |recon AS (
       |  SELECT vec_id, flatten(list(cvec ORDER BY sub)) AS rv
       |  FROM jc GROUP BY vec_id),
       |queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM lists WHERE vec_id IN (0, 100, 200)),
       |probes AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT q.query_id, q.qv, b.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${dot("q.qv", "b.cvec")} DESC, b.cid) AS rn
       |    FROM queries q CROSS JOIN c3 b) t
       |  WHERE rn <= 3),
       |scored AS (
       |  SELECT p.query_id, l.vec_id,
       |    round(${dot("r.rv", "p.qv")} /
       |      (sqrt(${dot("r.rv", "r.rv")}) * sqrt(${dot("p.qv", "p.qv")})), 6)
       |      AS adc_cosine
       |  FROM lists l
       |  JOIN probes p ON l.cid = p.cid AND l.vec_id <> p.query_id
       |  JOIN recon r ON r.vec_id = l.vec_id)
       |SELECT query_id, vec_id, adc_cosine, CAST(rn AS INT) AS rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_cosine DESC, vec_id) AS rn
       |  FROM scored) t
       |WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin
  }

  /** ANN recall@k against the exact baseline (q128): per query, the
    * fraction of the brute-force cosine top-k the banded-LSH index
    * retrieves — the index-quality eval a production ANN deployment
    * monitors (SimilaritySpec asserts a floor; this registers the
    * measurement itself as an oracle-checked query). */
  def annRecall(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
      corpusKey: Option[String] = None): DataFrame = {
    // exact leg deliberately UNKEYED — measured do-not (round-14
    // alternating subset A/B at sf0.1, 3 base vs 5 keyed runs): the
    // recall pair's two legs scan the same embeddings source, and
    // splitting them across parquet + checkpoint showed no win here
    // (medians 0.98 vs 0.92, inside the ambient band) and a consistent
    // LOSS on q176's sibling leg (0.59 -> 0.71 median, worst 1.04)
    val exact = bruteForceTopK(embeddings, queryIds, k)
      .select(col("query_id"), col("vec_id"))
    val ann = annTopK(embeddings, queryIds, k, corpusKey = corpusKey)
      .select(col("query_id"), col("vec_id"))
    val hits = ann.join(exact, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).cast("bigint").as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
      .orderBy(col("query_id"))
  }

  /** DuckDB twin of semanticDedup(threshold = 0.3):
    * the shared k-means `lists` CTEs, then the same in-cluster pair
    * predicate (round-6 cosine in the join condition) and greedy
    * smaller-id drop rule. */
  /** q174: the lexical × semantic near-dup AGREEMENT table — the two
    * dedup modalities the engine ships (q76's simhash band pairs over
    * text, q112's in-cluster cosine pairs over embeddings) compared on
    * the id universe both cover, as one contingency row: pair counts
    * per modality, the overlap, each modality's exclusive mass, and the
    * Jaccard of the two pair sets. This is the table that decides
    * WHICH dedup pass a corpus needs: semantic-only mass is
    * paraphrase-duplication lexical banding cannot see, lexical-only
    * mass is near-verbatim text whose embeddings drifted apart, and a
    * low Jaccard says the two passes are complements, not substitutes.
    * Both pair sets come from their family's single source of truth
    * (simhashNearDupPairsCapped, semanticPairStage) — the agreement
    * can never drift from the operators it compares.
    *
    * Determinism: exact pair-set arithmetic over deterministic pair
    * derivations (the q76 and q112 machinery, DetAgg centroid means);
    * jaccard = |both| / |union| is one guarded IEEE
    * division. Scale: each leg is its family's bounded candidate
    * machinery (banded, never all-pairs; in-cluster, never all-pairs);
    * the endpoint restriction is two semi-joins against the
    * checkpointed id intersection; the comparison is one full-outer
    * join on 16-byte pair keys into a single-row aggregate. */
  def lexicalSemanticAgreement(docs: DataFrame, embeddings: DataFrame,
      maxHamming: Int = 8, threshold: Double = 0.3, nlist: Int = 0,
      iters: Int = 3, corpusKey: Option[String] = None,
      docsKey: Option[String] = None): DataFrame = {
    val ids = docs.select(col("doc_id"))
      .join(embeddings.select(col("vec_id").as("doc_id")), Seq("doc_id"))
      .localCheckpoint(true)
    def restrict(p: DataFrame): DataFrame = p
      .join(ids.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
      .join(ids.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")
    val lex = restrict(
      Dedup.nearDupPairsShared(docs, maxHamming, Dedup.DefaultMaxBucket,
          docsKey)
        .select(col("d1"), col("d2")))
    val sem = restrict(
      semanticPairStage(embeddings, threshold, nlist, iters, corpusKey)
        ._2.select(col("d1"), col("d2")))
    val m = lex.withColumn("in_lex", lit(true))
      .join(sem.withColumn("in_sem", lit(true)), Seq("d1", "d2"), "full_outer")
      .select(coalesce(col("in_lex"), lit(false)).as("in_lex"),
        coalesce(col("in_sem"), lit(false)).as("in_sem"))
    m.agg(
        coalesce(sum(col("in_lex").cast("long")), lit(0L)).cast("bigint")
          .as("n_lexical"),
        coalesce(sum(col("in_sem").cast("long")), lit(0L)).cast("bigint")
          .as("n_semantic"),
        coalesce(sum((col("in_lex") && col("in_sem")).cast("long")), lit(0L))
          .cast("bigint").as("n_both"),
        coalesce(sum((col("in_lex") && !col("in_sem")).cast("long")), lit(0L))
          .cast("bigint").as("n_lexical_only"),
        coalesce(sum((!col("in_lex") && col("in_sem")).cast("long")), lit(0L))
          .cast("bigint").as("n_semantic_only"),
        count(lit(1)).cast("bigint").as("_union"))
      .select(col("n_lexical"), col("n_semantic"), col("n_both"),
        col("n_lexical_only"), col("n_semantic_only"),
        when(col("_union") > 0,
          col("n_both").cast("double") / col("_union").cast("double"))
          .as("pair_jaccard"))
  }

  private def q174OracleSql: String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes(oracleNlist)},
       |sides AS (
       |  SELECT cid, vec_id, v, sqrt(${dot("v", "v")}) AS nrm FROM lists),
       |sempairs AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2
       |  FROM sides a JOIN sides b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |    AND round(${dot("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= 0.3),
       |${Dedup.simhashHamCtesNoWith},
       |lexpairs AS (SELECT d1, d2 FROM ham WHERE hamming <= 8),
       |ids AS (
       |  SELECT d.doc_id FROM documents d
       |  JOIN embeddings e ON e.vec_id = d.doc_id),
       |lexu AS (
       |  SELECT l.d1, l.d2 FROM lexpairs l
       |  JOIN ids i1 ON l.d1 = i1.doc_id
       |  JOIN ids i2 ON l.d2 = i2.doc_id),
       |semu AS (
       |  SELECT s.d1, s.d2 FROM sempairs s
       |  JOIN ids i1 ON s.d1 = i1.doc_id
       |  JOIN ids i2 ON s.d2 = i2.doc_id),
       |m AS (
       |  SELECT
       |    l.d1 IS NOT NULL AS in_lex,
       |    s.d1 IS NOT NULL AS in_sem
       |  FROM lexu l FULL JOIN semu s
       |    ON l.d1 = s.d1 AND l.d2 = s.d2)
       |SELECT
       |  CAST(COALESCE(sum(CAST(in_lex AS INT)), 0) AS BIGINT) AS n_lexical,
       |  CAST(COALESCE(sum(CAST(in_sem AS INT)), 0) AS BIGINT) AS n_semantic,
       |  CAST(COALESCE(sum(CAST(in_lex AND in_sem AS INT)), 0) AS BIGINT)
       |    AS n_both,
       |  CAST(COALESCE(sum(CAST(in_lex AND NOT in_sem AS INT)), 0) AS BIGINT)
       |    AS n_lexical_only,
       |  CAST(COALESCE(sum(CAST(NOT in_lex AND in_sem AS INT)), 0) AS BIGINT)
       |    AS n_semantic_only,
       |  CASE WHEN count(*) > 0 THEN
       |    CAST(COALESCE(sum(CAST(in_lex AND in_sem AS INT)), 0) AS DOUBLE)
       |      / count(*)
       |  END AS pair_jaccard
       |FROM m""".stripMargin
  }

  private def q112OracleSql: String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes(oracleNlist)},
       |sides AS (
       |  SELECT cid, vec_id, v, sqrt(${dot("v", "v")}) AS nrm FROM lists),
       |pairs AS (
       |  SELECT a.cid, b.vec_id AS d2
       |  FROM sides a JOIN sides b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |    AND round(${dot("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= 0.3),
       |dropped AS (
       |  SELECT cid, count(*) AS n_dropped FROM (
       |    SELECT cid, d2 FROM pairs GROUP BY cid, d2) t GROUP BY cid),
       |base AS (SELECT cid, count(*) AS n_vecs FROM lists GROUP BY cid)
       |SELECT CAST(base.cid AS INT) AS cid, n_vecs,
       |  coalesce(n_dropped, 0) AS n_dropped,
       |  n_vecs - coalesce(n_dropped, 0) AS n_kept
       |FROM base LEFT JOIN dropped ON base.cid = dropped.cid
       |ORDER BY cid""".stripMargin
  }

  /** DuckDB twin of [[ivfProbeRecallCurve]]: the
    * shared k-means lists, probes ranked over ALL centroids, candidates
    * scored once with their admitting probe rank, one unnest(range) per
    * nprobe row, and the exact baseline under the identical cosine. */
  private def q142OracleSql(k: Int, nlist: Int, nQueries: Int): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    def cos(v: String, q: String) =
      s"round(${dot(v, q)} / (sqrt(${dot(v, v)}) * sqrt(${dot(q, q)})), 6)"
    s"""WITH ${kmeansListsCtes()},
       |queries AS (
       |  SELECT vec_id AS query_id, v AS qv FROM lists
       |  WHERE vec_id IN (${QueryIds.mkString(", ")})),
       |probes AS (
       |  SELECT query_id, qv, cid, rn AS prank FROM (
       |    SELECT q.query_id, q.qv, b.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${dot("q.qv", "b.cvec")} DESC, b.cid) AS rn
       |    FROM queries q CROSS JOIN c3 b) t),
       |cand AS (
       |  SELECT p.query_id, l.vec_id, p.prank, ${cos("l.v", "p.qv")} AS cosine
       |  FROM lists l JOIN probes p ON l.cid = p.cid AND l.vec_id <> p.query_id),
       |pc AS (
       |  SELECT c.query_id, c.vec_id, c.cosine, pr.p AS nprobe
       |  FROM cand c CROSS JOIN (SELECT unnest(range(1, ${nlist + 1})) AS p) pr
       |  WHERE c.prank <= pr.p),
       |topk AS (
       |  SELECT query_id, nprobe, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id, nprobe
       |      ORDER BY cosine DESC, vec_id) AS rn
       |    FROM pc) t WHERE rn <= $k),
       |exact AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cos("e.v", "q.qv")} DESC, e.vec_id) AS rn
       |    FROM dv e JOIN queries q ON e.vec_id <> q.query_id) t
       |  WHERE rn <= $k),
       |hits AS (
       |  SELECT t.nprobe, t.query_id, count(x.vec_id) AS h
       |  FROM topk t LEFT JOIN exact x
       |    ON t.query_id = x.query_id AND t.vec_id = x.vec_id
       |  GROUP BY t.nprobe, t.query_id),
       |ncand AS (
       |  SELECT nprobe, query_id, count(*) AS nc FROM pc
       |  GROUP BY nprobe, query_id)
       |SELECT CAST(h.nprobe AS INT) AS nprobe,
       |  CAST(sum(h.h) AS DOUBLE) / ${k * nQueries} AS avg_recall,
       |  CAST(sum(n.nc) AS DOUBLE) / $nQueries AS avg_candidates
       |FROM hits h JOIN ncand n
       |  ON h.nprobe = n.nprobe AND h.query_id = n.query_id
       |GROUP BY h.nprobe ORDER BY nprobe""".stripMargin
  }

  /** DuckDB twin of [[knnHubness]]: the shared
    * k-means lists, per-row norms computed once, within-list kNN via the
    * same (cosine DESC, dst) window, in-degree from a left join so
    * never-chosen vectors land in the 0 bucket. */
  private def q138OracleSql: String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes(oracleNlist)},
       |nr AS (SELECT cid, vec_id, v, sqrt(${dot("v", "v")}) AS nrm FROM lists),
       |sc AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    round(${dot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
       |  FROM nr a JOIN nr b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |knn AS (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY src
       |    ORDER BY cosine DESC, dst) AS rn FROM sc) t WHERE rn <= 10),
       |ind AS (
       |  SELECT CAST(COALESCE(k.c, 0) AS BIGINT) AS in_degree
       |  FROM lists l LEFT JOIN (SELECT dst, count(*) AS c FROM knn GROUP BY dst) k
       |    ON l.vec_id = k.dst)
       |SELECT in_degree, count(*) AS n_vectors FROM ind
       |GROUP BY in_degree ORDER BY in_degree""".stripMargin
  }

  /** DuckDB twin of [[ivfListStats]]: shared
    * k-means lists joined to the final centroids c3, round-6 member
    * cosine, DetAgg decimal average, shares against the one-row total. */

  /** DuckDB twin of ivfSplitRebalance(nlist=8): the
    * shared k-means lists, the hot cut at the driver-literal mean list
    * size ([[oracleMaxList]] — OracleCtx count, the autoNlist pattern),
    * the keyed 2-means split chain (seeds = two lowest vec_ids per hot
    * list, three unrolled assign/recompute rounds in the q49/q175
    * decimal-mean conventions, ties to the larger child), the
    * parent + child·nlist remap, and the q139 health tail over the
    * rebalanced index with the post-split non-empty list count. */
  /** One hot-list split pass as CTEs producing `newlists$sfx`
    * (cid, vec_id, v, from_split) and `newcent$sfx` (cid, cvec) from
    * `listsRel`/`centsRel` — shared by q197's one-pass oracle and
    * q198's two-pass one. `baseExpr` is the child remap base, mirroring
    * the engine's max(configured count, 1 + max list cid): the
    * configured-nlist literal at pass 1 (equal by construction on a
    * fresh index), a scalar subquery at pass 2. `passThroughFs` is the
    * from_split value an untouched list carries through: FALSE at pass
    * 1, the prior pass's own flag afterwards (a pass-1 child a quiet
    * pass 2 leaves alone STAYS from_split). */
  private def splitPassCtes(sfx: String, listsRel: String, centsRel: String,
      maxList: Int, baseExpr: String, passThroughFs: String): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    def assignCte(prev: String, out: String) =
      s"""${out}_sim AS MATERIALIZED (
         |  SELECT m.cid, m.vec_id, m.v, k.child, ${dot("m.v", "k.ccvec")} AS sim
         |  FROM hm$sfx m JOIN $prev k ON k.cid = m.cid),
         |$out AS MATERIALIZED (
         |  SELECT cid, vec_id, v, child FROM (
         |    SELECT cid, vec_id, v, child,
         |      row_number() OVER (PARTITION BY cid, vec_id
         |        ORDER BY sim DESC, child DESC) AS rn
         |    FROM ${out}_sim) t WHERE rn = 1)""".stripMargin
    def recomputeCte(assigned: String, out: String) =
      s"""${out}_m AS MATERIALIZED (
         |  SELECT cid, child, p.j AS j,
         |    CAST(CAST(sum(CAST(v[p.j + 1] AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / count(*) AS m
         |  FROM $assigned CROSS JOIN (SELECT unnest(range(64)) AS j) p
         |  GROUP BY cid, child, p.j),
         |$out AS MATERIALIZED (
         |  SELECT cid, child, list(m ORDER BY j) AS ccvec
         |  FROM ${out}_m GROUP BY cid, child)""".stripMargin
    s"""hot$sfx AS MATERIALIZED (
       |  SELECT cid FROM (SELECT cid, count(*) AS n FROM $listsRel GROUP BY cid) z
       |  WHERE n > $maxList),
       |hm$sfx AS MATERIALIZED (SELECT l.cid, l.vec_id, l.v FROM $listsRel l JOIN hot$sfx USING (cid)),
       |k0$sfx AS MATERIALIZED (
       |  SELECT cid, CAST(rn - 1 AS INT) AS child, v AS ccvec FROM (
       |    SELECT cid, vec_id, v,
       |      row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rn
       |    FROM hm$sfx) t WHERE rn <= 2),
       |${assignCte(s"k0$sfx", s"sp1$sfx")},
       |${recomputeCte(s"sp1$sfx", s"k1$sfx")},
       |${assignCte(s"k1$sfx", s"sp2$sfx")},
       |${recomputeCte(s"sp2$sfx", s"k2$sfx")},
       |${assignCte(s"k2$sfx", s"sp3$sfx")},
       |${recomputeCte(s"sp3$sfx", s"k3$sfx")},
       |${assignCte(s"k3$sfx", s"placed$sfx")},
       |newlists$sfx AS MATERIALIZED (
       |  SELECT l.cid, l.vec_id, l.v, $passThroughFs AS from_split FROM $listsRel l
       |  WHERE l.cid NOT IN (SELECT cid FROM hot$sfx)
       |  UNION ALL
       |  SELECT cid + child * $baseExpr, vec_id, v, TRUE FROM placed$sfx),
       |newcent$sfx AS MATERIALIZED (
       |  SELECT c.cid, c.cvec FROM $centsRel c
       |  WHERE c.cid NOT IN (SELECT cid FROM hot$sfx)
       |  UNION ALL
       |  SELECT cid + child * $baseExpr, ccvec FROM k3$sfx)""".stripMargin
  }

  /** The q139-shaped health tail over a rebalanced (lists, centroids)
    * pair — from_split carried per list, skew against the post-split
    * non-empty list count. */
  private def splitHealthTailSql(listsRel: String, centsRel: String): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""mc AS (
       |  SELECT l.cid, l.from_split,
       |    round(${dot("l.v", "c.cvec")} /
       |      (sqrt(${dot("l.v", "l.v")}) * sqrt(${dot("c.cvec", "c.cvec")})), 6) AS cc
       |  FROM $listsRel l JOIN $centsRel c ON l.cid = c.cid),
       |per AS (
       |  SELECT cid, from_split, count(*) AS n_vecs,
       |    ${DetAgg.sql.davg("cc")} AS avg_centroid_cosine
       |  FROM mc GROUP BY cid, from_split),
       |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t, count(*) AS nl FROM per)
       |SELECT CAST(cid AS INT) AS cid, n_vecs,
       |  CAST(n_vecs AS DOUBLE) / CAST(t AS DOUBLE) AS size_share,
       |  CAST(n_vecs AS DOUBLE) * nl / CAST(t AS DOUBLE) AS skew,
       |  avg_centroid_cosine, from_split
       |FROM per, tot ORDER BY cid""".stripMargin
  }

  private def q197OracleSql: String = {
    val nlist = 8
    val maxList = oracleMaxList(nlist)
    s"""WITH ${kmeansListsCtes()},
       |${splitPassCtes("", "lists", "c3", maxList, nlist.toString, "FALSE")},
       |${splitHealthTailSql("newlists", "newcent")}""".stripMargin
  }

  /** q198's twin: the split pass applied TWICE at the same threshold —
    * the operational rerun-until-quiet loop's first two iterations,
    * exactly what the engine's builder executes against the maintained
    * index. Pass 2's child remap base is the engine's rule as a scalar
    * subquery (max of the post-pass-1 configured count and 1 + the max
    * cid across BOTH the list and centroid tables — the centroid side
    * covers a dead child whose list emptied but whose cid must stay
    * collision-free; collision-free where the configured count alone
    * is not); a quiet pass 2 degrades to the identity (hot2 empty →
    * both UNION branches pass everything through), so the SQL is
    * correct whether or not the corpus's pass 1 leaves an
    * over-threshold child. */
  private def q198OracleSql: String = {
    val nlist = 8
    val maxList = oracleMaxList(nlist)
    s"""WITH ${kmeansListsCtes()},
       |${splitPassCtes("", "lists", "c3", maxList, nlist.toString, "FALSE")},
       |base2 AS MATERIALIZED (
       |  SELECT greatest(CAST((SELECT count(*) FROM newcent) AS INT),
       |    (SELECT CAST(max(cid) AS INT) + 1 FROM newlists),
       |    (SELECT CAST(max(cid) AS INT) + 1 FROM newcent)) AS b),
       |${splitPassCtes("2", "newlists", "newcent", maxList,
            "(SELECT b FROM base2)", "l.from_split")},
       |${splitHealthTailSql("newlists2", "newcent2")}""".stripMargin
  }

  private def q139OracleSql(nlist: Int): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes()},
       |mc AS (
       |  SELECT l.cid,
       |    round(${dot("l.v", "c.cvec")} /
       |      (sqrt(${dot("l.v", "l.v")}) * sqrt(${dot("c.cvec", "c.cvec")})), 6) AS cc
       |  FROM lists l JOIN c3 c ON l.cid = c.cid),
       |per AS (
       |  SELECT cid, count(*) AS n_vecs,
       |    ${DetAgg.sql.davg("cc")} AS avg_centroid_cosine
       |  FROM mc GROUP BY cid),
       |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS t FROM per)
       |SELECT CAST(cid AS INT) AS cid, n_vecs,
       |  CAST(n_vecs AS DOUBLE) / CAST(t AS DOUBLE) AS size_share,
       |  CAST(n_vecs AS DOUBLE) * $nlist / CAST(t AS DOUBLE) AS skew,
       |  avg_centroid_cosine
       |FROM per, tot ORDER BY cid""".stripMargin
  }

  /** q165: kNN label-agreement — the standard INTRINSIC eval of an
    * embedding space when labels exist: for every vector, its k nearest
    * in-list neighbors (the q138 production-index bound — pairwise work
    * n·B inside the coarse quantizer's lists, never n²) vote on its
    * label; per true label, how often the majority vote agrees. High
    * agreement means the space clusters semantically — the property
    * retrieval, SemDeDup, and hard-negative mining all silently assume,
    * here MEASURED instead of hoped. Majority ties break to the
    * smallest label (max count, then min label — one strict order on
    * both engines); vectors with no in-list neighbor (singleton lists)
    * are counted in n_vecs but not n_scored, never silently dropped.
    * Scale: q138's exact plan (checkpointed list table with per-row
    * norms, bounded top-k window, 8-byte-key aggregates) plus one
    * |labels|-key closing join. */
  def knnLabelEval(embeddings: DataFrame, k: Int = 5, nlist: Int = 0,
      iters: Int = 3, corpusKey: Option[String] = None): DataFrame = {
    // the q138 scaffold verbatim (ONE neighborhood definition — see
    // inListKnn) with the label carried through as a rider column
    val (lists, edges) =
      inListKnn(embeddings, k, nlist, iters,
        riders = Seq("label"), corpusKey = corpusKey)
    val knn = edges.select(col("src"), col("src_label").as("own"),
      col("dst"), col("dst_label").as("nlabel"))
    val pred = knn.groupBy(col("src"), col("own"), col("nlabel"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("src"), col("own"))
      .agg(max_by(col("nlabel"), struct(col("c"), -col("nlabel"))).as("pred"))
    val perLabel = lists.groupBy(col("label"))
      .agg(count(lit(1)).cast("bigint").as("n_vecs"))
    val acc = pred.groupBy(col("own"))
      .agg(count(lit(1)).cast("bigint").as("n_scored"),
        sum(when(col("pred") === col("own"), 1L).otherwise(0L)).cast("bigint")
          .as("n_correct"))
    perLabel.join(acc, col("label") === col("own"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"),
        when(coalesce(col("n_scored"), lit(0L)) > 0,
          coalesce(col("n_correct"), lit(0L)).cast("double")
            / col("n_scored").cast("double")).as("knn_accuracy"))
      .orderBy(col("label"))
  }

  private def q165OracleSql(k: Int): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes(oracleNlist)},
       |lb AS (
       |  SELECT l.cid, l.vec_id, l.v, e.label, sqrt(${dot("l.v", "l.v")}) AS nrm
       |  FROM lists l JOIN embeddings e ON l.vec_id = e.vec_id),
       |sc AS (
       |  SELECT a.vec_id AS src, a.label AS own, b.vec_id AS dst,
       |    b.label AS nlabel,
       |    round(${dot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
       |  FROM lb a JOIN lb b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |knn AS (SELECT src, own, nlabel FROM (
       |  SELECT src, own, nlabel, row_number() OVER (PARTITION BY src
       |    ORDER BY cosine DESC, dst) AS rn FROM sc) t WHERE rn <= $k),
       |vote AS (SELECT src, own, nlabel, count(*) AS c
       |         FROM knn GROUP BY src, own, nlabel),
       |pred AS (SELECT src, own, nlabel AS pred FROM (
       |  SELECT src, own, nlabel, row_number() OVER (PARTITION BY src
       |    ORDER BY c DESC, nlabel) AS rn FROM vote) t WHERE rn = 1),
       |per AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
       |        FROM lb GROUP BY label),
       |acc AS (SELECT own, CAST(count(*) AS BIGINT) AS n_scored,
       |          CAST(sum(CASE WHEN pred = own THEN 1 ELSE 0 END) AS BIGINT)
       |            AS n_correct
       |        FROM pred GROUP BY own)
       |SELECT per.label, per.n_vecs,
       |  COALESCE(acc.n_scored, 0) AS n_scored,
       |  COALESCE(acc.n_correct, 0) AS n_correct,
       |  CASE WHEN COALESCE(acc.n_scored, 0) > 0
       |    THEN CAST(acc.n_correct AS DOUBLE) / CAST(acc.n_scored AS DOUBLE)
       |  END AS knn_accuracy
       |FROM per LEFT JOIN acc ON per.label = acc.own
       |ORDER BY per.label""".stripMargin
  }

  /** q108's oracle SQL — shared VERBATIM with q184's state-served
    * read. */
  private val q108OracleSql: String = q108OracleSqlFiltered("")

  /** q108's chain with an optional predicate on the vector relation —
    * `""` renders the historical q108/q184 SQL byte-equal; q213 passes
    * the tombstone-survivor conjunct (the q199/q202 md5-bucket rule),
    * because forgetting vectors removes exactly their mass from every
    * historical centroid the drift alarm serves. */
  private def q108OracleSqlFiltered(embAnd: String): String =
      s"""WITH qd AS (
        |  SELECT d.source,
        |    generate_subscripts(e.embedding, 1) AS dim,
        |    CAST(floor(CAST(unnest(e.embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id$embAnd),
        |cent AS (
        |  SELECT source, dim,
        |    CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS c
        |  FROM qd GROUP BY source, dim),
        |st AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(sum(a.c * b.c) AS BIGINT) AS sab,
        |    CAST(sum(a.c * a.c) AS BIGINT) AS saa,
        |    CAST(sum(b.c * b.c) AS BIGINT) AS sbb
        |  FROM cent a JOIN cent b ON a.dim = b.dim AND a.source < b.source
        |  GROUP BY s1, s2)
        |SELECT s1, s2,
        |  CAST(sab AS DOUBLE) / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE)))
        |    AS centroid_cosine
        |FROM st ORDER BY s1, s2""".stripMargin

  val queries: Seq[Q] = Seq(

    Q("q36_cosine_topk",
      s"""SELECT query_id, vec_id, cosine, rn FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id,
         |    ${cosineSql("e.embedding", "q.embedding")} AS cosine,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC, e.vec_id) AS rn
         |  FROM embeddings e
         |  JOIN embeddings q ON q.vec_id IN (0, 100, 200) AND e.vec_id <> q.vec_id)
         |WHERE rn <= 10
         |ORDER BY query_id, rn""".stripMargin,
      "Brute-force cosine top-10 for 3 query vectors: broadcast queries, single corpus pass, windowed top-k — the exact baseline ANN is judged against.") {
      (s, d) =>
        bruteForceTopK(Tables.embeddings(s, d), QueryIds, 10,
            corpusKey = embKey(d))
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q37_label_cohesion",
      s"""SELECT a.label, count(*) AS n_pairs,
         |  ${DetAgg.sql.davg("round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)")} AS avg_cosine
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |GROUP BY a.label
         |ORDER BY a.label""".stripMargin,
      "Within-label pairwise cohesion: label-partitioned self-join (shuffle on label, never all-pairs across labels).") {
      (s, d) =>
        val e = Tables.embeddings(s, d)
        e.as("a").join(e.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .groupBy(col("a.label").as("label"))
          .agg(count(lit(1)).as("n_pairs"),
            DetAgg.davg(cosine(col("a.embedding"), col("b.embedding"))).as("avg_cosine"))
          .orderBy(col("label"))
    },

    Q("q38_embedding_neardup",
      s"""SELECT a.vec_id AS d1, b.vec_id AS d2,
         |  ${cosineSql("a.embedding", "b.embedding")} AS cosine
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${cosineSql("a.embedding", "b.embedding")} >= 0.3
         |ORDER BY d1, d2""".stripMargin,
      "Embedding-cosine near-dup pairs (threshold 0.3): the all-pairs oracle baseline that q39's LSH bucketing replaces at scale. Registered keyed (round-14 A/B, same-session subset bench at sf0.1): the guard count rides the session count memo and both join sides read ONE checkpointed (vec_id, embedding, nrm) frame — 3.07 s -> 2.05-2.26 s median, a ~30% cut on what was the single most expensive bench query; the n^2 pair compute itself is the deliberate, guarded baseline cost.") {
      (s, d) =>
        allPairsNearDup(Tables.embeddings(s, d), 0.3,
            corpusKey = embKey(d))
          .orderBy(col("d1"), col("d2"))
    },

    Q("q39_ann_lsh_topk", q39OracleSql,
      "Hyperplane-LSH ANN top-10 for the same 3 queries: banded signature bucket equi-join + exact re-rank. The planes are md5-parity signs, so the DuckDB twin re-derives the identical signatures (the 'approximate' method is a deterministic function of the corpus — only the recall is approximate, and that is pinned vs q36 in SimilaritySpec). Both Spark's aggregate and DuckDB's list_sum are strict sequential folds, so the projection sign test agrees to the last ulp.") {
      (s, d) =>
        annTopK(Tables.embeddings(s, d), QueryIds, 10, corpusKey = embKey(d))
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q128_ann_recall",
      s"""WITH sig AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN proj > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS sig
         |  FROM (
         |    SELECT vec_id, p.p AS p,
         |      list_sum(list_transform(range(len(embedding)), j ->
         |        CAST(embedding[j + 1] AS DOUBLE) *
         |        (CASE WHEN CAST('0x' || substring(md5(p.p || '|' || j), 1, 1) AS INTEGER) % 2 = 0
         |              THEN 1.0 ELSE -1.0 END))) AS proj
         |    FROM embeddings CROSS JOIN (SELECT unnest(range(8)) AS p) p) t
         |  GROUP BY vec_id),
         |banded AS (
         |  SELECT vec_id, b.b AS band, (sig >> (b.b * 2)) & 3 AS bits
         |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) b),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, e.vec_id
         |  FROM banded e JOIN banded q
         |    ON e.band = q.band AND e.bits = q.bits
         |   AND q.vec_id IN (0, 100, 200) AND e.vec_id <> q.vec_id),
         |ann AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT c.query_id, c.vec_id,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC, c.vec_id) AS rn
         |    FROM cand c
         |    JOIN embeddings e ON e.vec_id = c.vec_id
         |    JOIN embeddings q ON q.vec_id = c.query_id) t
         |  WHERE rn <= 10),
         |exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC, e.vec_id) AS rn
         |    FROM embeddings e
         |    JOIN embeddings q ON q.vec_id IN (0, 100, 200) AND e.vec_id <> q.vec_id) t
         |  WHERE rn <= 10),
         |hits AS (
         |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ann a JOIN exact x ON a.query_id = x.query_id AND a.vec_id = x.vec_id
         |  GROUP BY a.query_id)
         |SELECT e.query_id, CAST(10 AS BIGINT) AS k,
         |  coalesce(h.n_hits, 0) AS n_hits,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 10.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM exact) e
         |LEFT JOIN hits h ON e.query_id = h.query_id
         |ORDER BY e.query_id""".stripMargin,
      "ANN recall@10 — the index-quality EVAL registered as a first-class query (the number an ANN deployment monitors before trusting its index): per query, |LSH top-10 ∩ exact top-10| / 10, from the SAME bruteForceTopK and annTopK definitions q36/q39 register, so the eval can never drift from the methods it evaluates. SimilaritySpec's recall floor becomes a measured, oracle-checked artifact. Determinism: both top-k sets are total-ordered (rounded cosine DESC, vec_id) in identical formulations, the hit count is an exact integer join-count, and recall is one IEEE division by the literal k. Scale: cost is one brute-force pass (|corpus|×|queries| broadcast dots — the eval is run on a SAMPLE of queries by construction) plus the banded index probe; at 100 TB the exact side is the expensive leg and is exactly what you'd budget a recall eval's query sample against.") {
      (s, d) =>
        annRecall(Tables.embeddings(s, d), QueryIds, 10, corpusKey = embKey(d))
    },

    Q("q49_ann_ivf_topk", q49OracleSql,
      "IVF ANN top-10: k-means-lite coarse quantizer (DataFrame Lloyd iterations), probe 3 of 8 inverted lists, exact re-rank. Centroid means are DetAgg decimal sums (order-independent, bit-identical cross-engine), dot products are sequential folds on both engines, and argmax/probe ties mirror exactly — so even the k-means ITERATIONS replay identically in the DuckDB twin (three unrolled assign/recompute CTE rounds) and this 'approximate' index gets a full value-hash oracle. Recall vs q36 asserted in SimilaritySpec.") {
      (s, d) =>
        ivfTopK(Tables.embeddings(s, d), QueryIds, 10, corpusKey = embKey(d))
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q71_quantized_topk",
      """WITH s AS (
        |  SELECT vec_id,
        |    embedding,
        |    greatest(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0, 4.9e-324) AS scale
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS DOUBLE)) AS qv
        |  FROM s),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id,
        |    round(list_dot_product(e.qv, q.qv) /
        |      (sqrt(list_dot_product(e.qv, e.qv)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
        |      AS qcosine
        |  FROM qz e JOIN qz q ON q.vec_id IN (0, 100, 200) AND e.vec_id <> q.vec_id)
        |SELECT query_id, vec_id, qcosine, CAST(rn AS INT) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY qcosine DESC, vec_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 10
        |ORDER BY query_id, rn""".stripMargin,
      "Int8-quantized cosine top-10 (4x less memory/bandwidth than float32 at scale): per-vector scales cancel in the cosine ratio, so scoring is pure integer dot products — exact on any engine, which is why this 'approximate' method has a full hash-checked oracle rather than a recall bound.") {
      (s, d) =>
        quantizedTopK(Tables.embeddings(s, d), QueryIds, 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q108_centroid_drift", q108OracleSql,
      "Per-source embedding centroid drift matrix — the embedding-space twin of q96's shingle overlap and q99's column drift: pairwise cosine between source centroids flags a source whose content has shifted away from (or collapsed onto) the rest of the corpus BEFORE any pairwise-document work is attempted, and at production scale the same shape compares this week's crawl centroid to last week's. Determinism is the family playbook made aggregate-safe: each float component is quantized to integer micro-units (floor, after an exact float→double widen) so the per-(source,dim) centroid is an exact integer sum; the centroid itself stays integer (floor of the double-exact sum/count quotient — sums ≲1e9 are exactly representable, and Spark's `div` truncation vs DuckDB's floor `//` on negatives is sidestepped by flooring the IEEE quotient identically on both engines), and cosine is scale-invariant so the unnormalized micro-unit centroid loses nothing. The pair stage sums 64 exact integer products per pair (c ≤ 6e5 → products ≤ 4e11, 64-dim sums ≤ 3e13: overflow-free under ANSI at ANY corpus size, because dividing by n bounds c by the VALUE range, not the corpus). Scale: one map-side-combined shuffle at |source|×64 keys; the |sources|²×64 pair stage is corpus-size-independent and its small side broadcasts; document vectors are read once and never pairwise-joined.") {
      (s, d) =>
        val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val srcVec = docs.join(emb, docs("doc_id") === emb("vec_id"))
          .select(col("source"), col("embedding"))
        centroidDriftFromCent(
          centroidFromSums(centroidSums(srcVec)))
    },

    Q("q112_semantic_dedup", q112OracleSql,
      "SemDeDup-shape semantic deduplication (the published recipe for embedding-level dedup at corpus scale): cluster the corpus with the q49 coarse quantizer, run exact cosine ONLY inside a cluster, drop any vector with a smaller-id in-cluster neighbor at cosine >= 0.3, report per-cluster kept/dropped. The k-means iterations themselves replay bit-identically in the DuckDB twin (the q49 machinery — decimal-sum centroid means, larger-cid argmax ties) and the round-6 cosine threshold test mirrors exactly: a full value-hash oracle for an 'approximate' dedup method. Greedy keep-lowest-id is deterministic; its chain-overdrop bias is documented on the operator, with the q69/q81 connected-components machinery as the in-repo exact alternative. Scale: the registered query AUTO-SCALES nlist (per-list size held near 63, floored at the oracle's 8 — exactly 8 lists at verify scale so the unrolled DuckDB twin matches; the q138 fix, under which fixed nlist=8 measured 2.1x wall-clock on 5x data), the cluster equi-join bounds pairwise work to n·B, the threshold lives in the join condition so non-matches never materialize (the q38 trick), and the checkpointed signature table is the only thing read twice — never the Lloyd chain.") {
      (s, d) =>
        semanticDedup(Tables.embeddings(s, d), threshold = 0.3,
          corpusKey = embKey(d))
    },

    Q("q113_embedding_outliers",
      """WITH qd AS (
        |  SELECT label, vec_id,
        |    generate_subscripts(embedding, 1) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, dim,
        |    CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS c
        |  FROM qd GROUP BY label, dim),
        |st AS (
        |  SELECT a.label, a.vec_id,
        |    CAST(sum(a.q * c.c) AS BIGINT) AS sqc,
        |    CAST(sum(a.q * a.q) AS BIGINT) AS sqq,
        |    CAST(sum(c.c * c.c) AS BIGINT) AS scc
        |  FROM qd a JOIN cent c ON a.label = c.label AND a.dim = c.dim
        |  GROUP BY a.label, a.vec_id),
        |sc AS (
        |  SELECT label, vec_id,
        |    CAST(sqc AS DOUBLE) /
        |      (sqrt(CAST(sqq AS DOUBLE)) * sqrt(CAST(scc AS DOUBLE)))
        |      AS centroid_cosine
        |  FROM st)
        |SELECT label, vec_id, centroid_cosine, CAST(rn AS INT) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY centroid_cosine ASC, vec_id) AS rn
        |  FROM sc) t
        |WHERE rn <= 3 ORDER BY label, rn""".stripMargin,
      "Embedding-space outlier detection for label/partition quality control: the 3 vectors per label FARTHEST (lowest cosine) from their own label centroid — the curation step that surfaces mislabeled or off-distribution examples before training (and, run per-source instead of per-label, the pruning stage of prototype-based data selection). Determinism is q108's integer micro-unit playbook extended to per-VECTOR cosines: components quantize to integer micro-units, the centroid stays an exact integer (floored IEEE quotient of an exactly-representable sum), and each vector-centroid dot is a 64-term exact-integer sum (|q| ≤ 6e5 → products ≤ 4e11, sums ≤ 3e13 — overflow-free under ANSI at any corpus size) — the one double division and two sqrts replay identically cross-engine. Scale: one map-side-combined shuffle to |label|×64 centroid keys, then the centroid table BROADCASTS back onto the corpus scan (the per-vector score is a stateless projection — the corpus shuffles once, keyed by vec for the 64-term regroup); the per-label bottom-3 window sees |label| bounded partitions.") {
      (s, d) =>
        val qd = Tables.embeddings(s, d)
          .select(col("label"), col("vec_id"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("label"), col("vec_id"), col("dim"),
            floor(col("x").cast("double") * lit(1e6d)).cast("bigint").as("q"))
        val cent = qd.groupBy(col("label"), col("dim"))
          .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
          .select(col("label"), col("dim"),
            floor(col("sq").cast("double") / col("n")).cast("bigint").as("c"))
        val sc = qd.join(broadcast(cent), Seq("label", "dim"))
          .groupBy(col("label"), col("vec_id"))
          .agg(sum(col("q") * col("c")).as("sqc"),
            sum(col("q") * col("q")).as("sqq"),
            sum(col("c") * col("c")).as("scc"))
          .select(col("label"), col("vec_id"),
            (col("sqc").cast("double") /
              (sqrt(col("sqq").cast("double")) * sqrt(col("scc").cast("double"))))
              .as("centroid_cosine"))
        sc.withColumn("rn", row_number().over(
            Window.partitionBy(col("label"))
              .orderBy(col("centroid_cosine").asc, col("vec_id"))))
          .filter(col("rn") <= 3)
          .orderBy(col("label"), col("rn"))
    },

    Q("q121_embedding_dim_health",
      """WITH qd AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings),
        |st AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq,
        |    sum(CAST(q AS DECIMAL(18,0)) * CAST(q AS DECIMAL(18,0))) AS sqq
        |  FROM qd GROUP BY dim)
        |SELECT dim, n,
        |  CAST(sq AS DOUBLE) / n * 1e-6 AS mean,
        |  greatest((CAST(CAST(sqq AS VARCHAR) AS DOUBLE)
        |     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / n * 1e-12,
        |    CAST(0 AS DOUBLE)) AS variance
        |FROM st ORDER BY dim""".stripMargin,
      "Embedding dimension health: per-dimension mean and variance over the corpus — the monitor that catches a DEAD dimension (variance collapsing to 0: a projection bug, a saturated activation, a truncated export) or a runaway one (mean drifting off 0) before any similarity search built on these vectors quietly degrades; at production scale the same 64-row table per (model-version, day) is the embedding-pipeline dashboard. Determinism: components quantize to integer micro-units (the q108/q113 playbook), per-dim counts and sums are exact integers, and the sum of SQUARES accumulates in DECIMAL(38,0) (18-digit operand casts multiply exactly on both engines — ANSI-overflow-free to ~1e38, i.e. at ANY realistic corpus size, where a bigint sum of squares would overflow past ~2.5e7 rows per dim); mean and variance are then identical IEEE expressions over those exact sums, micro-unit scaling folded in at the end. Scale: one posexplode and one map-side-combined shuffle at 64 keys — the corpus is scanned once and never joined or windowed.") {
      (s, d) =>
        dimHealth(Tables.embeddings(s, d)).orderBy(col("dim"))
    },

    Q("q137_rrf_fusion",
      s"""WITH sig AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN proj > 0 THEN (1 << p) ELSE 0 END) AS BIGINT) AS sig
         |  FROM (
         |    SELECT vec_id, p.p AS p,
         |      list_sum(list_transform(range(len(embedding)), j ->
         |        CAST(embedding[j + 1] AS DOUBLE) *
         |        (CASE WHEN CAST('0x' || substring(md5(p.p || '|' || j), 1, 1) AS INTEGER) % 2 = 0
         |              THEN 1.0 ELSE -1.0 END))) AS proj
         |    FROM embeddings CROSS JOIN (SELECT unnest(range(8)) AS p) p) t
         |  GROUP BY vec_id),
         |banded AS (
         |  SELECT vec_id, b.b AS band, (sig >> (b.b * 2)) & 3 AS bits
         |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) b),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, e.vec_id
         |  FROM banded e JOIN banded q
         |    ON e.band = q.band AND e.bits = q.bits
         |   AND q.vec_id IN (${QueryIds.mkString(", ")}) AND e.vec_id <> q.vec_id),
         |ann AS (
         |  SELECT query_id, vec_id, rn FROM (
         |    SELECT c.query_id, c.vec_id,
         |      row_number() OVER (PARTITION BY c.query_id
         |        ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC, c.vec_id) AS rn
         |    FROM cand c
         |    JOIN embeddings e ON e.vec_id = c.vec_id
         |    JOIN embeddings q ON q.vec_id = c.query_id) t
         |  WHERE rn <= 10),
         |exact AS (
         |  SELECT query_id, vec_id, rn FROM (
         |    SELECT q.vec_id AS query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosineSql("e.embedding", "q.embedding")} DESC, e.vec_id) AS rn
         |    FROM embeddings e
         |    JOIN embeddings q ON q.vec_id IN (${QueryIds.mkString(", ")})
         |      AND e.vec_id <> q.vec_id) t
         |  WHERE rn <= 10),
         |fused AS (
         |  SELECT
         |    COALESCE(x.query_id, a.query_id) AS query_id,
         |    COALESCE(x.vec_id, a.vec_id) AS vec_id,
         |    COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + x.rn), CAST(0 AS DOUBLE))
         |      + COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + a.rn), CAST(0 AS DOUBLE))
         |      AS rrf_score,
         |    CAST((CASE WHEN x.rn IS NULL THEN 0 ELSE 1 END)
         |       + (CASE WHEN a.rn IS NULL THEN 0 ELSE 1 END) AS INT) AS n_rankers
         |  FROM exact x FULL OUTER JOIN ann a
         |    ON x.query_id = a.query_id AND x.vec_id = a.vec_id)
         |SELECT query_id, CAST(rank AS INT) AS rank, vec_id, rrf_score, n_rankers
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_score DESC, vec_id) AS rank
         |  FROM fused) t
         |WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
      "Reciprocal rank fusion — the standard hybrid-retrieval combiner (Cormack et al. 2009, c=60): fuse the exact (q36) and LSH-approximate (q39, md5-portable planes) top-10 lists by summing 1/(60+rank) per document, then take the fused top-5. RRF consumes only RANKS, never comparable scores — the reason production stacks reach for it when fusing retrievers with incommensurable scoring (BM25 + dense, exact + ANN); n_rankers records whether both lists carried the doc. Determinism: ranks are exact ints from the family's total-ordered windows; each fused score adds at most two 1/(60+r) doubles in a FIXED order (exact term first on both engines), ties on (score DESC, vec_id). Scale: both inputs are page-bounded top-10s; the fusion is one (query, doc) aggregate plus a bounded top-k window — cost is the page, never the corpus.") {
      (s, d) =>
        rrfFuse(Tables.embeddings(s, d), QueryIds, k = 5, fromN = 10,
            corpusKey = embKey(d))
          .orderBy(col("query_id"), col("rank"))
    },

    Q("q136_mmr_diversified_topk", mmrSql(k = 5, fromN = 20, lambda = 0.7),
      "MMR (maximal marginal relevance) diversified top-k — the re-ranking pass between retrieval and consumption that q36/q39/q49 all feed: greedily select the candidate maximizing lambda*cos(q,c) - (1-lambda)*max_selected cos(c,s), so near-duplicate neighbors stop crowding the page (for corpus work: diverse exemplar selection from a retrieved pool). Runs ENTIRELY on the retrieved top-20 page (|queries|*20 rows, 20^2 pair sims) — re-ranking cost is bounded by the page, never the corpus, which is the production MMR shape. The k=5 greedy rounds are five bounded DataFrame steps (anti-join unselected, max-sim penalty join, argmax window); the DuckDB twin unrolls the same five rounds as CTE steps (fixed shape instead of recursion — the q49 unrolled-Lloyd technique). Determinism: relevance and pair sims are the family's round-6 cosines, the score is one IEEE expression over them on both engines (lambda literals CAST to DOUBLE — the q79 DECIMAL-literal trap), ties broken (score DESC, vec_id), so the greedy chain replays identically and this re-ranker carries a full value-hash oracle.") {
      (s, d) =>
        mmrTopK(Tables.embeddings(s, d), QueryIds, k = 5, fromN = 20, lambda = 0.7)
          .select(col("query_id"), col("step"), col("vec_id"),
            col("relevance"), col("mmr_score"))
          .orderBy(col("query_id"), col("step"))
    },

    Q("q138_knn_hubness", q138OracleSql,
      "kNN-graph hubness histogram — the embedding-space health check retrieval quality silently depends on: build the k-nearest-neighbor graph the way a production index would (top-10 by cosine INSIDE each IVF list — the q112 bound, pairwise work n·B with B the target list size, never n²), then histogram each vector's in-degree. Healthy spaces concentrate in-degree near k; hub vectors (in-degree >> k, the high-dimensional hubness pathology) crowd out true neighbors in every result page they touch, and the 0-bucket counts vectors NO ONE retrieves (orphans — singleton-list members included, kept by the left join). DetAgg centroid means make the k-means lists replay bit-identically in the DuckDB twin (q49 machinery); per-row norms are computed once on the checkpointed list table and the round-6 cosine is the q112 IEEE shape, so even the graph edges are engine-portable and the histogram gets a full value-hash oracle. Scale: the registered query AUTO-SCALES nlist to hold per-list size near 63 (exactly the oracle's 8 lists at verify scale, so the unrolled twin matches; fixed nlist measured 7x wall-clock on 5x data, auto restores near-linear), the list self-join is the SemDeDup n·B bound, the top-k window is per-list, and both closing aggregates shuffle 8-byte keys.") {
      (s, d) =>
        knnHubness(Tables.embeddings(s, d), k = 10, corpusKey = embKey(d))
    },

    Q("q139_ivf_list_stats", q139OracleSql(nlist = 8),
      "IVF index-health table — the operational view of the q49/q112 coarse quantizer: per inverted list its size, corpus share, skew vs the mean list size (the imbalance factor an ANN deployment alarms on — probe latency is driven by the hottest lists, and skew >> 1 means the quantizer needs re-training or the corpus drifted), and mean member->centroid cosine (quantization quality: a low-cohesion list should be split before recall degrades — the nlist-scaling trigger). With DetAgg centroid means, lists and centroids replay bit-identically in DuckDB, the member cosine is the family's round-6 shape against the FINAL centroids, the average is DetAgg's decimal sum, and the share/skew divisions are identical IEEE expressions — full value-hash oracle. Scale: one corpus scan with a broadcast nlist-row centroid join, one nlist-key map-side-combined aggregate, one broadcast one-row total; no pairwise stage exists in this query at all.") {
      (s, d) =>
        ivfListStats(Tables.embeddings(s, d), corpusKey = embKey(d))
    },

    Q("q142_ivf_probe_recall", q142OracleSql(k = 10, nlist = 8, nQueries = 3),
      "IVF probe-recall tuning curve — recall@10 and mean candidate count per query as a function of nprobe (1..nlist): the table an ANN deployment reads to pick its recall/latency operating point, and the ANN twin of q117's near-dup threshold curve (both turn a tuning knob into an oracle-checked artifact instead of folklore). Built from ONE q49 probe pass: every candidate is scored once carrying the rank of the centroid that admitted it, so each nprobe row is a filter + bounded top-k window over the same table — the curve costs one index run, never nlist of them. The curve carries its own correctness anchor: at nprobe = nlist the candidate set is the full corpus under the IDENTICAL round-6 cosine, so recall ends at exactly 1.0 and avg_candidates at n-1 (SimilaritySpec pins both). With DetAgg centroid means, k-means lists, probe ranks, cosines, and the integer hit counts all replay bit-identically in DuckDB; the final divisions are one IEEE expression per row. Scale: probe table is |q|·nlist broadcast rows, candidate scoring is the q49 inverted-file bound, the nprobe explosion multiplies only the CANDIDATE set (|q|·n at worst), and the closing aggregates run on nlist·|q| keys.") {
      (s, d) =>
        ivfProbeRecallCurve(Tables.embeddings(s, d), QueryIds, k = 10,
          corpusKey = embKey(d))
    },

    Q("q146_lloyd_step",
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding AS cvec,
        |    list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS cc
        |  FROM embeddings WHERE vec_id < 8),
        |d AS (
        |  SELECT e.vec_id, c.cid,
        |    CAST(floor(round(
        |      list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
        |      - 2 * list_inner_product(e.embedding::DOUBLE[], c.cvec::DOUBLE[])
        |      + c.cc, 9) * 1e6) AS BIGINT) AS d2_micro
        |  FROM embeddings e CROSS JOIN c),
        |a AS (
        |  SELECT vec_id, cid, d2_micro,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d2_micro, cid) AS rn
        |  FROM d)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST(sum(d2_micro) AS BIGINT) AS sse_micro,
        |  CAST(sum(d2_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
        |    AS mean_d2
        |FROM a WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin,
      "One Lloyd (k-means) assignment step with its SSE objective — the iteration kernel behind the q49/q139 coarse quantizer, registered as an oracle-checked query: every vector assigned to its nearest of k=8 deterministic seed centroids (the 8 smallest vec_ids — the seeding k-means|| replaces at production scale) by squared L2 distance, folded to the per-centroid table an index trainer watches per iteration (membership count, SSE, mean distortion). Distance parity is the q131 norm recipe composed three ways: d2 = v.v - 2 v.c + c.c, every dot an element-ordered DOUBLE fold (VecDot / list_inner_product ::DOUBLE[]), rounded at 9 dp to absorb reassociation ulp, then floor-quantized to integer micro-units BEFORE the argmin so the nearest-centroid ORDERING (ties broken by cid) and the SSE sums are exact-integer cross-engine — the oracle's window-argmin and the engine's in-row array_min provably pick identical winners. Scale: the centroid set folds to ONE broadcast row (k structs with precomputed c.c norms); assignment is a per-row array_min over a transform — zero shuffle, no |corpus|-key exchange, no crossJoin materialization (the oracle's |n|x|k| expansion states semantics only); the lone exchange is the map-side-combined k-key aggregate. v.v hoisted once per row, c.c once per centroid. The full trainer is this query in a loop with centroids re-derived per round (the q108 drift query measures exactly that delta).") {
      (s, d) =>
        lloydStep(Tables.embeddings(s, d), k = 8)
    },

    Q("q148_pca_power_step",
      """WITH qd AS (
        |  SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        |  FROM embeddings),
        |sv AS (SELECT vec_id, CAST(sum(q) AS BIGINT) AS s
        |       FROM qd GROUP BY vec_id),
        |y AS (
        |  SELECT dim,
        |    sum(CAST(q.q AS DECIMAL(18,0)) * CAST(v.s AS DECIMAL(18,0))) AS yl
        |  FROM qd q JOIN sv v USING (vec_id) GROUP BY dim),
        |t AS (SELECT sum(abs(yl)) AS tot FROM y)
        |SELECT dim,
        |  CAST(CAST(yl AS VARCHAR) AS DOUBLE) * 1e-12 / 8 AS component,
        |  CAST(CAST(abs(yl) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS abs_share
        |FROM y CROSS JOIN t ORDER BY dim""".stripMargin,
      "One power-iteration step of uncentered PCA over the embedding corpus — y = Gᵀ(G·x0) with G the n×64 data matrix and x0 the uniform unit start (1/8 per dim, exactly representable): the spectral kernel behind whitening, dominant-direction removal (the all-but-the-top trick common in embedding post-processing), and anisotropy diagnosis (one direction hoarding the spectrum is why raw cosine similarity saturates). Per dim it reports the un-normalized component and its absolute share of the L1 mass — iterate by re-quantizing y into the next x (the q146-loop pattern); the centered variant composes with q121's exact per-dim means. Exactness is TOTAL here, no ln/exp anywhere: components quantize to integer micro-units (q121's playbook), the projection s_v = sum_j q_vj is an exact int64 per vector (the uniform start folds its 1/8 into the final expression), and the per-dim ledger sum(q*s) accumulates in DECIMAL(38,0) via 18-digit operand casts — overflow-free at any realistic corpus size where int64 would die past ~2.5e6 rows (q121's note); the closing divisions are identical IEEE expressions over exact decimals (the varchar-cast double parity trick q121 pinned). Scale: one posexplode, one map-side-combined |vecs|-key shuffle for the projections, one 64-key ledger shuffle, one broadcast one-row total — no pairwise stage, no |dim|x|dim| covariance ever materialized.") {
      (s, d) =>
        pcaPowerStep(Tables.embeddings(s, d))
    },

    Q("q150_bitext_margin", q150OracleSql(langX = "en", langY = "es", k = 4),
      "Margin-based cross-lingual pair mining (Artetxe & Schwenk 2019, the LASER/CCMatrix bitext-mining criterion): for every English document its best Spanish candidate by RATIO MARGIN — cos(x,y) divided by the mean of the two sides' average top-4 cross-lingual cosines — the normalization that fixes raw-cosine mining (hub vectors score high against EVERYTHING; dividing by each side's local neighborhood density cancels the hub effect), with the standard margin >= 1.05 acceptance flag. The parallel-corpus construction step of multilingual training pipelines, here bounded to IVF-list co-membership (the q112/q138 SemDeDup bound): candidates, kNN averages, and the best pick all live inside the same coarse-quantizer list, so pairwise work is n*B, never |en|x|es|. Determinism: round-6-family cosines land as exact integer micro-units (round(cos*1e6) — both engines round half away from zero), the top-4 averages stay exact integer (sum, count) pairs, and each margin is ONE IEEE expression over those integers — so even the margin-ordered best-candidate pick replays identically; list membership is the portable k-means chain the oracle unrolls. Scale: the Lloyd chain + one broadcast-assign pass (the accepted IVF build cost), then ONE within-list language-split join reused three times off a checkpoint (both kNN windows + the best pick — all bounded by list size), two 8-byte-key aggregates, one |src|-key window. autoNlist holds per-list size ~63 as the corpus grows (q138's measured fix) — exactly the oracle's 8 lists at verify scale, deliberately more beyond it.") {
      (s, d) =>
        bitextMarginMining(Tables.embeddings(s, d), Tables.documents(s, d),
          langX = "en", langY = "es", k = 4,
          corpusKey = embKey(d))
    },

    Q("q155_hard_negatives", q155OracleSql(stride = 50),
      "Hard-negative mining for contrastive retrieval training — the training-PAIR construction step (not a diagnostic): per query vector, its top same-label positive and its HARDEST different-label negative (highest cosine) among IVF-list co-members, with the confusable flag when the negative outranks the positive — exactly the (anchor, positive, hard-negative) triples an embedding fine-tune consumes, and the well-known lever that separates in-batch-random from hard-negative training (Karpukhin et al. 2020, DPR). Candidates bounded to the query's coarse-quantizer list (the q112/q138/q150 SemDeDup bound — at scale this IS how hard negatives are mined, from the ANN index's own neighborhoods); queries are a deterministic stride sample (vec_id % 50). Both elections run over exact integer micro-cosines via null-ordered max_by structs (non-matching labels contribute null ordering keys and drop out), ties to the smaller candidate id — replay-identical to the oracle's partitioned windows; queries lacking a positive or negative in-list are excluded by the rider counts. Scale: the Lloyd chain + one within-list join off the checkpointed list table, one |queries|-key aggregate; the stride keeps the query side a sample, the list bound keeps candidates n·B. The synthetic corpus's labels are weak clusters, so every verify-scale query is confusable (hard negative outranks the positive — itself the realistic regime that motivates hard-negative training); the non-confusable branch is spec-pinned on a separated-cluster fixture.") {
      (s, d) =>
        hardNegatives(Tables.embeddings(s, d), queryStride = 50,
          corpusKey = embKey(d))
    },

    Q("q165_knn_label_eval", q165OracleSql(k = 5),
      "kNN label-agreement — the standard INTRINSIC eval of an embedding space when labels exist, and the measured version of the property every downstream consumer here silently assumes (retrieval quality in q36/q49, SemDeDup validity in q112, hard-negative informativeness in q155): each vector's 5 nearest in-list neighbors vote on its label; reported per true label as majority-vote accuracy. Neighborhoods are bounded to IVF-list co-membership (the q138 production-index bound — pairwise work n*B, never n^2) with AUTO-SCALED nlist (per-list size held near 63, floored at the oracle's 8 so verify scale replays the 8-list chain; fixed-8 measured 2.0x on 5x data during bring-up, auto restores ~linear), which is ALSO what a deployed index would serve, so the eval measures the space as retrieval will actually see it. Majority ties break (max count, then smallest label) — one strict order on both engines; singleton-list vectors have no neighbors and are counted in n_vecs but not n_scored, never silently dropped (the q138 orphan convention). With DetAgg centroid means, lists, round-6 cosines, votes, and the tie-broken argmax all replay bit-identically in the DuckDB twin — a full value-hash oracle for a model-quality metric. Scale: q138's exact plan (checkpointed list table with per-row norms, bounded per-list top-k window, 8-byte-key aggregates) plus one |labels|-key closing join.") {
      (s, d) =>
        knnLabelEval(Tables.embeddings(s, d), k = 5, corpusKey = embKey(d))
    },

    Q("q174_lexical_semantic_agreement", q174OracleSql,
      "Lexical x semantic near-dup AGREEMENT — the two dedup modalities the engine ships (q76's simhash band pairs over text, q112's in-cluster cosine pairs over embeddings) compared on the id universe both cover, as one contingency row: per-modality pair counts, the overlap, each modality's exclusive mass, and the Jaccard of the two pair sets. This is the table that decides WHICH dedup pass a corpus needs: semantic-only mass is paraphrase duplication lexical banding cannot see, lexical-only mass is near-verbatim text whose embeddings drifted apart, and a low Jaccard says the passes are complements, not substitutes (on this synthetic corpus, where embeddings are independent of text, the table honestly reports near-zero agreement — the q159 degenerate-result-surfaced convention). Both pair sets come from their family's single source of truth (simhashNearDupPairsCapped; semanticPairStage, ALSO q112's pair stage — factored, not copied), and DetAgg centroid means make the whole contingency row value-hash exact. Determinism: exact pair-set arithmetic; jaccard = |both|/|union| one guarded IEEE division (NULL when both pair sets are empty, identically on both engines). Scale: each leg is its family's bounded candidate machinery (banded / in-cluster, never all-pairs), the endpoint restriction two semi-joins against the checkpointed id intersection, the comparison one full-outer join on 16-byte pair keys into a single-row aggregate.") {
      (s, d) =>
        lexicalSemanticAgreement(Tables.documents(s, d),
          Tables.embeddings(s, d),
          corpusKey = embKey(d), docsKey = Some(s"$d/documents.parquet"))
    },

    Q("q175_pq_codebook_report", q175OracleSql,
      "Product-quantization codebook health + distortion (Jegou et al. 2011): split each 64-dim vector into 4 contiguous 16-dim subspaces, train a 16-codeword codebook PER subspace (so a vector stores as 4x4 = 16 bits instead of 2048 — the 128x compression that lets a 100 TB embedding corpus fit an ANN index's memory budget), and report per subspace: corpus rows, codewords actually used, the hottest codeword's mass, and mean squared reconstruction error. The table a PQ deployment reads before trusting its codes: dead codewords waste bits, a hot codeword says the subspace carries no information, avg_sq_error bounds ADC's score error. The 4 Lloyd chains are NOT a driver loop: the subspace id rides every shuffle key, so all 4 codebooks train in ONE keyed chain — per iteration exactly one (sub,cid,pos)-keyed shuffle plus a tiny m*ksub checkpoint, the same barrier count as a single q49 kmeans build at ANY m (the oracle's CTEs are keyed identically, not unrolled per subspace). Determinism: seeds/assignment/means follow the q49 portable conventions (lowest-vec_id seeds, argmax-dot ties to larger cid, DetAgg decimal means); sqerr = dot(sv - cvec, sv - cvec) — every fold term >= 0, so round-6 has no sign-of-zero hazard; distortion sums are DetAgg decimals. Scale: keyed Lloyd chain + one broadcast codeword join + one (sub,cid)-key map-side-combined aggregate (64 groups) + one 4-key rollup — never pairwise, and the corpus is scanned once per iteration regardless of m.") {
      (s, d) =>
        pqCodebookReport(Tables.embeddings(s, d), m = 4, ksub = 16,
          corpusKey = embKey(d))
    },

    Q("q176_pq_adc_recall", q176OracleSql,
      "PQ asymmetric-distance recall@10 — the index-quality eval of the COMPRESSION tier (q128 evals the candidate tier): each corpus vector is replaced by its reconstruction (the sub-ordered concatenation of its 4 codewords from q175's codebooks) and ranked against the UNCOMPRESSED query by round-6 cosine; reported per query as |ADC top-10 ∩ exact top-10| / 10 against q36's brute-force text verbatim. cosine(q, recon) IS asymmetric distance computation: the dot decomposes over subspace concatenation, so this single cosine equals the sum-of-table-lookups a production PQ scorer runs — written as one expression so the eval shares q36's scoring convention, with the serving shape noted rather than re-derived. Determinism: reconstructions are portable decimal-mean codewords (the keyed Lloyd chain replays bit-identically in the oracle), both rankings total-order on (round-6 cosine DESC, vec_id) — vectors sharing all 4 codes have IDENTICAL reconstructions and resolve by the id tiebreak on both engines — and the hit count is an exact join count. Scale: the keyed Lloyd chain + one |corpus| groupBy(vec_id) reassembly (4 rows/key) + the q36 broadcast-queries pass over reconstructions; the eval runs on a query sample by construction and the corpus side stays one pass.") {
      (s, d) =>
        pqAdcRecall(Tables.embeddings(s, d), QueryIds, k = 10, m = 4,
          ksub = 16, corpusKey = embKey(d))
    },

    Q("q177_pq_code_neardup", q177OracleSql,
      "PQ codes as dedup bands — the serving index's own 16-bit codes reused as an LSH candidate generator, closing the loop between the compression tier (q175/q176) and the dedup family: a pair is a candidate if it agrees on ALL codewords of ANY band (band 0 = subspaces 0-1, band 1 = subspaces 2-3 — two 8-bit band keys per vector, the OR-of-ANDs amplification q34/q39/q76 use, with signatures the index already stores for free). Candidates get one exact round-6 cosine; the single-row report is the candidate-generator quality table: pair count, semantic mass at the q112 threshold (0.3), precision, mean pair cosine — the number that decides whether PQ buckets can replace a dedicated signature pass for semantic dedup on an already-indexed corpus. Determinism: the portable keyed Lloyd chain (q175's oracle CTEs verbatim), exact integer band keys, round-6 cosines, DetAgg decimal mean — empty-candidate-set guards identical on both engines (NULL precision/mean). Scale: one |corpus| code-pivot aggregate + a band-key equi-join (2|corpus| rows, 8-bit keys — never all-pairs, bucket-bounded exactly like the q76 band join with q175's top_code_share as the hot-bucket early warning) + one exact-rerank join into a single-row aggregate.") {
      (s, d) =>
        pqCodeNearDup(Tables.embeddings(s, d), threshold = 0.3, m = 4,
          ksub = 16, corpusKey = embKey(d))
    },

    Q("q180_ivf_state_served", q139OracleSql(nlist = 8),
      "q139's index-health table served FROM the MAINTAINED IVF index instead of a per-query rebuild — the read path a deployed ANN index actually answers from, registered so the maintained-index story has a bench-priced number next to the rebuild path (q139), not just a spec proof. The index is built once per (session, corpus) — IvfStateStream.train (the q49 portable Lloyd chain, frozen) plus one fold of the corpus through the SAME micro-batch update the maintenance stream runs — into on-disk parquet state; every timed run then pays ONLY the serving read: a pushdown scan of lists/ + centroids/ into ivfListStatsFromIndex, the exact code path q139 executes, with nlist taken from the index's own metadata (storedNlist — the configured count, robust to a Lloyd-emptied cluster). Correctness is the state == batch contract IvfStateStreamSpec proves and this oracle now re-checks end-to-end: the twin is q139's SQL verbatim, so a hash match here means the served answer and the rebuilt answer are value-identical. Scale: the whole point — at 100 TB the quantizer trains once (on a sample), the corpus folds in per batch, and EVERY read costs |lists probed| + an nlist-key aggregate; the Lloyd chain never runs at query time. The in-session substrate (ivfIndex's memo) is the batch-query half of this posture; this query is the serving half, priced.") {
      (s, d) =>
        graft.streaming.IvfStateStream.listStatsFromState(s,
          servedIvfStateDir(s, d))
    },

    Q("q182_ann_topk_state_served", q49OracleSql,
      "The ANN SEARCH itself served FROM the maintained IVF index — q180 priced the monitoring read, this is the read an application actually issues: top-10 by cosine for the q49 query set, answered by IvfStateStream.topKFromState as one pushdown scan of the persisted lists/ + centroids/ through ivfTopKFromIndex — the EXACT probe/score/top-k path q49 executes, with zero Lloyd-chain or corpus-assignment work in the query plan. The oracle twin is q49's SQL verbatim (portable-chain CTEs and all), so the driver's hash gate proves end-to-end that the served search answer and the batch-rebuilt answer are value-identical — the strongest form of the IvfStateStreamSpec state==batch contract, re-checked by an independent engine. The state dir is the SAME build-once (session, corpus) index q180 reads (train = the frozen portable quantizer, one fold through the maintenance stream's own micro-batch update); a timed run pays |lists probed| x broadcast-probe scoring + one per-query top-k window. Scale: this is the deployed-ANN serving cost model — nprobe/nlist bound the candidates (n x B, never n^2), the Lloyd chain is amortized into index maintenance, and the corpus is never rescanned at query time.") {
      (s, d) =>
        graft.streaming.IvfStateStream.topKFromState(s,
          servedIvfStateDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q183_pq_adc_state_served", q183OracleSql,
      "IVF-PQ asymmetric-distance search served FROM the maintained index — the compressed-tier sibling of q182, and the read shape that makes a 100 TB corpus scoreable from an in-memory index: probe 3 of 8 lists through the SHARED ivfProbes stage, then score every probed member by ADC — round-6 cosine of the uncompressed query against the member's codeword reconstruction (pqRecon, q176's definition) — touching 2 bytes/vec of persisted codes plus the broadcast codebooks; the full-precision lists/.v column is read for the QUERY VECTORS ONLY, never for candidates. The oracle twin merges q49's portable coarse-quantizer CTEs with q176's portable PQ chain (namespaced pq_*) and replays probe selection, reconstruction, and the round-6 ADC cosine exactly — so the hash gate proves the served COMPRESSED-tier answer bit-equals an independent engine's replay of the whole IVF-PQ pipeline: quantizer, codebooks, codes, probes, scores, ranks. The state dir is the same build-once (session, corpus) index q180/q182 read (train + trainPq + one updatePq fold). Scale: candidates bounded by nprobe lists (n x B), reconstruction is a broadcast join on 2-byte codes, and neither the Lloyd chain nor the corpus is touched at query time.") {
      (s, d) =>
        graft.streaming.IvfStateStream.adcTopKFromState(s,
          servedIvfStateDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q184_centroid_drift_state_served", q108OracleSql,
      "q108's cross-source centroid-drift matrix served FROM maintained state — the monitoring family's serving read, completing the q180-q183 set: per-(source, dim) micro-unit sums fold in per arrival batch as EXACT batch-additive integers (the CentroidStateStream delta-ledger protocol — quantize-then-sum means no float reassociation exists anywhere, so state == batch is an integer identity, not an epsilon claim), and the read is q108's own factored stages (centroidFromSums -> centroidDriftFromCent — the registered query's code, not a copy) over the |sources| x 64 aggregated sums. The oracle twin is q108's SQL verbatim, so the hash gate proves the drift matrix a monitoring dashboard reads from state equals the full-corpus batch recompute. The state dir is built once per (session, corpus) by folding the source-tagged embeddings in two doc_id-parity waves through the SAME micro-batch update the maintenance stream runs, then COMPACTED to per-key snapshots (CentroidStateStream.foldDeltas, the LSM merge) — so the hash gate also re-proves fold neutrality cross-engine every round. Scale: this is the crawl-over-crawl drift alarm shape — per batch one |batch| x 64 map-side-combined aggregate + one append; the read aggregates the folded |sources| x 64 snapshot rows (bounded forever, however many crawls arrive) and the corpus vectors are never rescanned at read time.") {
      (s, d) =>
        graft.streaming.CentroidStateStream.driftMatrixFromState(s,
          servedCentroidStateDir(s, d))
    },

    Q("q189_lsh_topk_state_served", q39OracleSql,
      "q39's hyperplane-LSH top-10 served FROM the MAINTAINED on-disk index — the retrieval family's second served search path (q182 serves the IVF index; this serves the LSH one), and the on-disk twin of the in-session signature memo the q39/q128/q137 trio shares: production signs each vector ONCE at ingest (LshStateStream.update — anti-join-idempotent appends of (vec_id, sig, embedding), exercised here in two parity waves plus a replayed wave so the no-op path runs against real state) and every search derives band keys from PERSISTED signatures by shift-and-mask — no signature is recomputed at read time, which is the entire point of an LSH index. The probe and exact re-rank are Similarity.annTopKFromSigned — the ONE search definition the batch operator, the memo, and this read all share — and the embedding rides in state at its original float width (parquet-exact, VecDot widens per element), so the oracle twin is q39's SQL verbatim and a hash match proves end-to-end that searching the incrementally-built index and a batch sign-and-search recompute are value-identical. Scale: the read is one scan of 8+8 bytes/vec of keys (plus the candidate vectors), a |corpus|x4 band equi-join against 3 broadcast queries, and a bounded re-rank; ingest pays |batch| multiply-adds once, amortized forever.") {
      (s, d) =>
        graft.streaming.LshStateStream.topKFromState(s,
            servedLshStateDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q197_ivf_split_rebalance", q197OracleSql,
      "IVF hot-list SPLIT — the index-maintenance operation q139's health table exists to trigger (its own scaladoc names it: a low-cohesion or oversized list is one the index should split before recall degrades), registered with the post-split health table as the oracle-checked output. Every list above the driver-literal mean-size threshold (ceil(n/nlist) — OracleCtx count on the oracle side, the memoized corpus count on the engine side: the autoNlist pattern, identical literals at every SF) splits by a deterministic 2-means over its own members: seeds = the list's two lowest vec_ids, three Lloyd rounds in the portable q49/q175 conventions (decimal-sum means, argmax ties to the larger child), children remapped parent + child*nlist (collision-free below nlist). NOT a driver loop: the hot-list id rides every shuffle key, so ALL hot lists split in one keyed chain — per round one (cid, child, pos)-keyed decimal-mean shuffle plus a <=2-rows-per-member argmax window, the same barrier count at any hot-list count (the pqStage lesson keyed by cid instead of sub). One pass halves hot lists; a child can still exceed the threshold, and a deployment reruns the pass until the health table is quiet — each pass one more keyed chain, never a rescan of cold lists' text. Determinism: the whole chain is the portable-means family, so the rebalanced index replays bit-identically in the unrolled DuckDB twin — a full value-hash oracle for an index maintenance op. Scale: the split universe is only the hot lists' members (skew-proportional, not corpus-proportional); the health tail is q139's cost.") {
      (s, d) =>
        ivfSplitRebalance(Tables.embeddings(s, d), nlist = 8,
          corpusKey = embKey(d))
    },

    Q("q198_rebalanced_health_state_served", q198OracleSql,
      "q197's post-split health table served FROM the REBALANCED on-disk index after TWO rebalance passes at the same threshold — the q182/q189 serving pattern applied to the maintenance operation itself, now covering the operational loop q197's scaladoc prescribes (rerun the pass until the health table is quiet; r14 served exactly one generation and refused past it): the state dir is built once per (session, corpus) by training the frozen quantizer, folding the corpus in two waves plus a replayed wave (IvfStateStream's anti-join idempotence), then mutating the index IN PLACE with IvfStateStream.rebalance TWICE at the SAME driver-literal mean-size threshold q197 embeds. Each pass runs the recoverable crash protocol (stage lineage+meta pending -> centroids swap FIRST to the full post-split set, so a crash window can never strand a stale parent mean under a child-0 cid -> lists swap -> promote), logs explicit (child_cid, root_parent) lineage rows exact at any generation count, and remaps children by max(configured count, 1 + max list cid) — collision-free where the configured count alone is not. Every timed run pays ONLY the serving read: one lists scan with broadcast centroid and lineage joins, skew against the post-split non-empty list count, from_split = membership in the logged child set. The oracle is the split chain applied twice (pass 2's remap base as a scalar subquery of pass 1's output; a quiet pass 2 degrades to the identity), so a hash match proves the two in-place state mutations and the batch split chain produce the value-identical index — the maintenance op's state==batch contract re-checked cross-engine every round at TWO generations, not just in the spec. Scale: the read touches |lists| + |log| rows; each split pass ran once at maintenance time, bounded by its hot lists' members.") {
      (s, d) =>
        graft.streaming.IvfStateStream.splitHealthFromState(s,
          servedRebalancedIvfDir(s, d))
    },

    Q("q199_forgotten_search_state_served", q199OracleSql,
      "The q49 search served from the maintained index AFTER a right-to-be-forgotten pass — q153 audits a deletion's blast radius, IvfStateStream.forget EXECUTES it (tombstoned vec_ids removed from the persisted lists and PQ codes under the two-rename swap; the quantizer stays, a MODEL whose retraining is a policy decision, not an index op), and this read proves the result under the driver's hash gate: the served top-10 over the forgotten index must equal q49's chain with the tombstone survivors as the only scorable candidates — the oracle is q49's SQL with exactly that predicate spliced into the scored join (the full-corpus-trained quantizer still ranks probes; deleted vectors can never appear in a result page). The tombstone rule is the q153 md5-bucket convention (~1/16 of ids, first hex = 'a', provably excluding the query set), identical bytes in both engines. The state dir is built once per (session, corpus): frozen portable train, two fold waves plus a replayed wave, then forget. Scale: deletion cost is a pushdown anti-join over state (never the corpus); the serving read stays the q182 cost model, now provably free of forgotten ids.") {
      (s, d) =>
        graft.streaming.IvfStateStream.topKFromState(s,
          servedForgottenIvfDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q202_forgotten_lsh_state_served", q202OracleSql,
      "q189's LSH search served AFTER a right-to-be-forgotten pass over the maintained signature index — the fourth deletion leg (q199 IVF, q200 blacklist, q201 LM), and the layout where deletion is COMPLETE erasure: the index is keyed 1:1 by vec_id with no trained model attached (the planes are a pure function), so LshStateStream.forget is ONE broadcast anti-join over the 16-byte/vector state under the two-rename swap, after which a deleted vector can neither band (it generates no candidates) nor score (it joins no embedding) — the served top-10 must equal q39's batch sign-and-search over exactly the surviving corpus, which is the oracle: q39's SQL with the tombstone-survivor predicate on the embeddings relation (the shared md5-bucket rule). A replayed forget in the builder re-proves deletion idempotence under the gate. Scale: deletion cost is |state| scanned once with a broadcast tombstone probe; the serving read keeps the q189 cost model over a smaller table.") {
      (s, d) =>
        graft.streaming.LshStateStream.topKFromState(s,
          servedForgottenLshDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q213_forgotten_drift_state_served", q213OracleSql,
      "q184's centroid-drift matrix served AFTER a right-to-be-forgotten pass against the maintained centroid sums — the deletion leg that retires the family's LAST forget-free state: CentroidStateStream was the one maintained layout with no deletion path, yet its (source, dim, sq, n) delta ledger is exactly the runbook's additive row, so CentroidStateStream.forget is the forgetVocab mechanic verbatim — the tombstoned vectors' quantized contributions append as ONE negative ledger-committed batch, the fold nets them, and because the per-component quantization is exact-integer the netted sums are the survivors' sums to the BIT (state == survivors is an integer identity, not an epsilon claim): every historical centroid the drift alarm serves provably loses exactly the forgotten vectors' mass — without it, a GDPR deletion against embeddings would leave the deleted vectors' mass inside every drift number a dashboard quotes. The oracle is q108's SQL with the tombstone-survivor conjunct (the shared md5-bucket rule) on the vector relation, so the hash gate proves the forgotten-state matrix equals a full recompute over exactly the surviving corpus. The builder folds two parity waves + a replayed wave, forgets the tombstoned vectors (plus a replayed forget — ledger no-op), then folds the mixed-sign log before serving, so fold neutrality over NEGATIVE deltas is also re-proven cross-engine every round; a (source, dim) whose every holder died nets n = 0 and exits through the n > 0 cut. Scale: deletion cost is one |forgotten|-row 64-dim aggregate + a bounded append — never a corpus rescan; the read stays |sources| x 64.") {
      (s, d) =>
        graft.streaming.CentroidStateStream.driftMatrixFromState(s,
          servedForgottenCentroidDir(s, d))
    },

    Q("q215_bm25_keyword_topk", q215OracleSql,
      "BM25 lexical top-10, query-by-example — the retrieval family's missing LEXICAL leg (the registry serves dense exact/ANN/IVF/PQ search and rank fusion; production hybrid search fuses those with a keyword ranker, and Robertson/Sparck-Jones BM25 with k1=1.2, b=0.75 is the standard one): for each of the three query documents, every other document scored over the query's terms, ranked by score with ties to the smaller doc_id. Determinism is the q103 integer-micro-nat playbook extended to BM25's per-term fraction: tf/df/doclen are exact integers, idf = ln((N-df+0.5)/(df+0.5)+1) quantizes to integer micro-nats once per term, each per-term contribution is a fixed-shape IEEE expression rounded at 9 dp then floor-quantized to micro-units (the q146 ulp-absorption recipe), and the per-(query, doc) score is an exact INTEGER sum — so the page replays bit-identically cross-engine, which the oracle (the same chain in DuckDB) checks every round. Scale: one tokenize pass builds the (doc, term, tf) postings, df/avgdl fold map-side at |vocab|/1-row keys, the bounded query-term set BROADCASTS onto the postings stream (only postings sharing a query term ever score — never a cross product), and the top-k window sees |queries| partitions. At 100 TB the postings/df tables are the maintained inverted index (the q186 serve-from-state pattern); this batch form is the oracle semantics an incremental index must reproduce.") {
      (s, d) =>
        bm25TopK(Tables.documents(s, d).select(col("doc_id"), col("text")),
            QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q216_hybrid_rrf_search", q216OracleSql,
      "HYBRID search: the lexical (q215 BM25) and dense (q36 exact-cosine) top-10 pages for the same query-by-example ids fused by reciprocal-rank fusion (Cormack et al. 2009, c=60) — the production hybrid-retrieval shape RRF exists for, now actually exercised with the incommensurable pair it was designed around (a BM25 score and a cosine share no scale; their RANKS fuse cleanly), completing the q137 combiner whose scaladoc names 'BM25 + dense' as the motivating case. Candidate sets differ by design — a lexical hit needs a shared term, a dense hit an embedding — so n_rankers marks documents only one leg surfaced, exactly the disagreement signal a hybrid deployment monitors. Determinism: both legs' ranks are exact ints (q215's integer scores, q36's round-6 cosines with doc_id ties), each fused score sums at most two 1/(60+r) doubles in a FIXED order (lex term then dense term), ties on (score DESC, doc_id). The oracle composes both legs' proven chains with the fusion, so the hash gate re-checks lexical scoring, dense scoring, AND the fusion arithmetic in one artifact. Scale: both input pages are bounded (top-10 per query); the fusion is one union + one (query, doc)-key aggregate + one bounded window — cost is the page, never the corpus.") {
      (s, d) =>
        hybridRrfTopK(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            Tables.embeddings(s, d), QueryIds, k = 10, fromN = 10,
            corpusKey = embKey(d))
          .orderBy(col("query_id"), col("rank"))
    },

    Q("q217_bm25_state_served", q215OracleSql,
      "q215's BM25 page served FROM the MAINTAINED inverted index — the lexical sibling of the q182/q189 served searches, and the shape that makes keyword search affordable at 100 TB: production tokenizes each document ONCE at ingest (LexicalStateStream.update — per-table anti-join-idempotent appends of raw-term postings and the document registry, exercised here in two parity waves plus a replayed wave so the no-op path runs against real state) and every query reads persisted postings with pushdown; the batch q215 re-tokenizes the corpus per invocation, which is the right shape for one ad-hoc query and exactly the wrong one for a search service. The scorer is Similarity.bm25FromPostings and the ingest tokenizer Similarity.bm25Postings — the batch operator's own stages, so the oracle is q215's SQL VERBATIM and a hash match proves end-to-end that searching the incrementally-built index equals a full-corpus recompute: tokenization, df/N/avgdl, integer micro-nat idf, quantized per-term sums, ranks. N comes from the registry table (token-less documents shift idf but hold no postings — deriving N from postings would drift). Scale: the read touches postings matching the bounded query-term set (pushdown; bucket by term at deployment scale), the |vocab|-key df aggregate, and two 1-row stats — the corpus text is never rescanned.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.bm25FromState(s,
            servedLexicalStateDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q218_forgotten_bm25_state_served", q218OracleSql,
      "q217's served keyword search AFTER a right-to-be-forgotten pass over the inverted index — the deletion leg that makes the retrieval family's GDPR story complete across BOTH modalities (q199/q202 delete from the vector indexes; this deletes from the lexical one), and the layout where erasure is TOTAL with zero netting: postings and registry are keyed 1:1 by doc_id with no trained model attached, so LexicalStateStream.forget is two broadcast anti-joins under the two-rename swap — and because df, N and avgdl are DERIVED from survivors at read time (never materialized), every per-term idf and every score automatically becomes the survivors-only value: a deleted document can neither match a query term nor shift any other document's score, which is a STRONGER erasure than the vector indexes need (a quantizer keeps aggregate influence; an inverted index keeps none). The oracle is q215's chain over the tombstone-survivor document relation (the shared md5-bucket rule, query ids provably surviving), so the hash gate proves the served page equals an independent engine's full recompute over exactly the surviving corpus — df shifts included. A replayed forget re-proves idempotence under the gate. Scale: deletion cost is two pushdown anti-joins over state; the read keeps q217's cost model over a smaller index.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.bm25FromState(s,
            servedForgottenLexicalDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q219_hybrid_state_served", q219OracleSql,
      "HYBRID search SERVED from the two MAINTAINED indexes — the retrieval family's capstone serving read, and the composition the r16 batch hybrid (q216) existed to oracle: the lexical page from the incrementally-built inverted index (q217's query-bounded LexicalStateStream read — postings under doc_id/term pushdown, doclens probe, one-row counter avgdl) and the dense page from the maintained IVF index (q182's IvfStateStream.topKFromState — probe 3 of 8 persisted lists, no Lloyd work), fused by reciprocal-rank fusion (Cormack et al. 2009, c=60) through the ONE rrfFusePages definition the batch operator also uses, so the served and batch hybrids cannot drift. This is the query a production retrieval stack actually answers: NEITHER corpus table is touched at query time — two bounded index probes plus a page-sized fusion, with n_rankers marking single-leg hits (the deployment's disagreement signal). Determinism: both legs' ranks are exact ints (q217's integer BM25 scores, q182's round-6 cosines), each fused score sums at most two 1/(60+r) doubles in a FIXED order (lex then den), ties on (score DESC, doc_id). The oracle composes the bm25 chain, the q49 portable IVF chain, and the shared fusion tail, so one hash match re-proves lexical scoring, coarse-quantizer probing, dense scoring, AND the fusion arithmetic over both maintained indexes. Scale: the hybrid's cost is its two serving reads — each corpus-independent — plus a union + one (query, doc) aggregate + one bounded window over two top-10 pages.") {
      (s, d) =>
        hybridRrfFromState(s, servedLexicalStateDir(s, d),
            servedIvfStateDir(s, d), QueryIds, k = 10, fromN = 10)
          .orderBy(col("query_id"), col("rank"))
    },

    Q("q220_forgotten_hybrid_state_served", q220OracleSql,
      "q219's served hybrid AFTER right-to-be-forgotten has executed against BOTH maintained indexes — the deletion story told at the composition level: the lexical leg reads the forgotten inverted index (q218's state — postings/lengths/counter all survivors-only, so BM25's df/N/avgdl shift exactly as a fresh survivor index would) and the dense leg reads the forgotten IVF index (q199's state — tombstoned vectors scrubbed from lists and codes; the full-corpus-trained quantizer still routes probes, the documented model-vs-members deletion boundary), and the fusion is the same rrfFusePages. A document deleted from both indexes can surface on neither leg and can shift no other document's rank on either — which the oracle proves end-to-end: the bm25 chain over tombstone survivors composed with the q49 chain under the survivor candidate filter and the shared fusion tail, hash-matched cross-engine. No new deletion machinery — both forgets were independently proven (q218, q199); this gate proves they COMPOSE, which is what a GDPR review of a hybrid retrieval deployment actually asks. Scale: deletion already paid its bounded index-op costs; the forgotten hybrid read keeps q219's two-probe cost model over smaller indexes.") {
      (s, d) =>
        hybridRrfFromState(s, servedForgottenLexicalDir(s, d),
            servedForgottenIvfDir(s, d), QueryIds, k = 10, fromN = 10)
          .orderBy(col("query_id"), col("rank"))
    },

    Q("q221_hybrid_recall", q221OracleSql,
      "Recall@10 of the SERVED hybrid page against the exact dense top-10 — the q128 index-quality eval applied to the production read: per query, the fraction of the brute-force cosine neighbors the fused (maintained-lexical + maintained-IVF) page retrieves, the number a deployment watches when tuning the fusion. A lexical hit that displaces a dense neighbor is the FEATURE being measured (hybrid search exists to surface keyword-relevant documents dense similarity misses), so this registers the measurement itself as an oracle-checked query rather than asserting a floor — the same design as q128/q142's recall/probe curves, now covering the composed hybrid. Determinism: the hybrid page is q219's exact-integer chain, the exact leg q36's round-6 cosines with doc_id ties, and the recall arithmetic is an integer count over a 10-row page — the oracle composes q219's full CTE chain (bm25 + IVF + fusion, via the shared hpage CTEs) with the exact leg and replays all of it cross-engine in one hash. Scale: the hybrid costs its two corpus-independent index probes; the exact leg is the eval's honest corpus-scan term (evals run offline against a sampled query set — the q128/q38 convention).") {
      (s, d) =>
        hybridRecallFromState(s, servedLexicalStateDir(s, d),
            servedIvfStateDir(s, d), Tables.embeddings(s, d), QueryIds,
            k = 10, corpusKey = embKey(d))
          .orderBy(col("query_id"))
    },

    Q("q222_phrase_match_topk", q222OracleSql,
      "PHRASE match top-10, query-by-example — the lexical capability BM25's bag-of-words deliberately cannot express (q215 scores 'new york' and 'york new' identically; phrase semantics need token POSITIONS): each query document's leading 3-token phrase searched as a CONTIGUOUS sequence across every other document, ranked by exact occurrence count with ties to the smaller doc_id. The positional-intersection trick keeps it an equi-join, never a per-candidate string search: tokens explode WITH positions once, the <=3-row-per-query phrase table broadcasts onto the stream restricted to the phrase's own terms (bounded driver-collected set, isin pushdown — the q217 recipe), each hit votes for the start position pos - qpos it would anchor, and a start with exactly three distinct-offset votes IS an occurrence — correct under repeated phrase tokens, since each (start, qpos) pair can arise from at most one document position. Determinism: integer counts, doc_id ties; a sub-3-token query matches nothing on either engine (the vote count cannot reach three; the oracle's out-of-range subscripts null out). The oracle recomputes occurrences per document by DuckDB list comprehension over the same token array, so the hash gate proves tokenization, positions, contiguity and counts end-to-end. Scale: one tokenize pass (the honest batch linear term), then only phrase-term tokens survive into the (query, doc, start) aggregate; at deployment scale the serving path persists POSITIONAL postings (doc_id, w, pos) next to the inverted index and probes them with the same pushdown — the q217 pattern one column wider.") {
      (s, d) =>
        phraseMatchTopK(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q223_phrase_state_served", q222OracleSql,
      "q222's phrase page served FROM the maintained index's POSITIONAL postings — the serving path q222's own scaladoc names (the q217 pattern one column wider), and the shape that makes phrase search affordable at 100 TB: the batch operator re-tokenizes the corpus per invocation (the honest ad-hoc shape), while production persists (doc_id, pos, w) positional postings at ingest — LexicalStateStream v3 derives them from the SAME tokenize pass as the tf postings, so the two tiers cannot disagree — and answers every phrase query from state: the query's leading positions read under doc_id + pos PUSHDOWN (the phrase table is ≤3 rows per query), its bounded term set collects and restricts the vote stream by term-isin pushdown, and the start-position intersection runs over only phrase-term postings. The engine is Similarity.phraseFromPositions — the batch operator's own scoring stage — so the oracle is q222's SQL VERBATIM and a hash match proves end-to-end that phrase search over the incrementally-built positional index equals a full-corpus recompute: tokenization, positions, contiguity votes, occurrence counts, ranks. Scale: the read touches positional postings matching the phrases' terms (pushdown; bucket by w at deployment scale) — the corpus text is never rescanned, and the aggregate sees only phrase-term hits, never a full-postings fold (the q217 query-boundedness argument applied to positions).") {
      (s, d) =>
        graft.streaming.LexicalStateStream.phraseFromState(s,
            servedLexicalStateDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q224_forgotten_phrase_state_served", q224OracleSql,
      "q223's served phrase search AFTER a right-to-be-forgotten pass over the positional index — the deletion leg that keeps the lexical family's GDPR story complete as it grows tiers: q218 proved erasure for the tf postings; the positional tier is one more keyed-1:1 table in LexicalStateStream.forget's staged protocol (anti-joined under the same forget_pending window, so a crash can never leave phrases findable for a document whose BM25 postings are gone), and because phrase occurrences are derived per candidate at read time, a deleted document can neither match a phrase nor shift any other document's occurrence count — positional erasure is as total as the tf tier's. The oracle is q222's chain over the tombstone-survivor relation (the shared md5-bucket rule, query ids provably surviving), so the hash gate proves the served page equals an independent engine's full recompute over exactly the surviving corpus. The builder's replayed forget re-proves idempotence against the positional tier under the same gate. Scale: deletion cost adds one pushdown anti-join over the positional state; the read keeps q223's cost model over a smaller index.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.phraseFromState(s,
            servedForgottenLexicalDir(s, d), QueryIds, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q225_proximity_topk", q225OracleSql,
      "PROXIMITY (NEAR) match top-10, query-by-example — the positional index's other classic capability and the middle ground between BM25 and phrase: bag-of-words sees no distance, phrase demands exact contiguity, NEAR ranks by windowed co-occurrence (the `t1 NEAR/w t2` operator classical IR systems expose, w=3 here). Each query document contributes an anchor pair — t1 = its leading token, t2 = the first token differing from it — and every other document is ranked by how many of its t1 positions have a t2 within 3 tokens, ties to the smaller doc_id. The bounded-expansion trick keeps it an equi-join, never a range join or a per-candidate scan: each t2 position votes for the FIXED 2w+1 anchor positions it would satisfy (an explode over a ±3 delta literal), and an anchor with ≥1 vote is a hit counted exactly once (one left-semi equi-join on (query, doc, position) — however many t2 neighbors crowd the window, semi-join semantics dedup them). Determinism: exact integer counts, doc_id ties; a query with no second distinct token matches nothing on either engine (the oracle's t2 IS NULL cut). The oracle recomputes hits per document by DuckDB list slicing over the same token arrays (each t1 position checks the ±3 slice for t2), so the hash gate proves tokenization, positions, window arithmetic and counts end-to-end. Scale: one tokenize pass (the honest batch linear term), then only anchor-term tokens survive into the vote join — the expansion factor is the constant 2w+1, never a corpus term; the top-k window sees |queries| partitions.") {
      (s, d) =>
        proximityTopK(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            QueryIds, window = 3, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q226_proximity_state_served", q225OracleSql,
      "q225's NEAR page served FROM the maintained index's positional postings — the second serving read the poslists tier pays for (q223 serves phrase; this serves windowed co-occurrence), completing the positional family's batch/served symmetry: the anchor pairs derive from the query ids' persisted positions (doc_id + pos pushdown — the leading token and first-differing token read from state, never from corpus text), the bounded ≤2-term-per-query set restricts both position streams by term-isin pushdown, and the vote expansion/semi-join run over only anchor-term postings. The engine is Similarity.proximityFromPositions — the batch operator's own scoring stage — so the oracle is q225's SQL VERBATIM and a hash match proves NEAR search over the incrementally-built positional index equals a full-corpus recompute: tokenization, positions, anchor-pair derivation, window arithmetic, counts, ranks. Scale: the read touches positional postings matching the anchor terms (pushdown; bucket by w at deployment scale) — the corpus text is never rescanned, and the constant 2w+1 expansion keeps the vote join proportional to anchor-term postings, never the corpus.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.proximityFromState(s,
            servedLexicalStateDir(s, d), QueryIds, window = 3, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q227_forgotten_proximity_state_served", q227OracleSql,
      "q226's served NEAR search AFTER a right-to-be-forgotten pass over the positional index — the deletion leg that keeps every positional serving read under the erasure gate (q224 proved the phrase read; this proves the proximity read against the SAME forgotten state, so the tier's one staged anti-join provably serves both capabilities survivors-only): a deleted document can neither anchor a NEAR hit nor vote into any other document's window, and because anchor pairs derive from persisted positions, a deleted QUERY document would lose its pair too — erasure reaches the query side, not just the candidates. The oracle is q225's chain over the tombstone-survivor relation (the shared md5-bucket rule, query ids provably surviving), so the hash gate proves the served page equals an independent engine's full recompute over exactly the surviving corpus. No new deletion machinery — this gate proves the EXISTING positional forget serves a second read shape correctly, the composition question a deployment actually asks when it adds a query operator to a live index. Scale: q226's cost model over a smaller index.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.proximityFromState(s,
            servedForgottenLexicalDir(s, d), QueryIds, window = 3, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q229_passage_topk", q229OracleSql,
      "DENSEST-PASSAGE top-10, query-by-example — rank documents by their best WINDOW, not their whole-document score: for each query document's term set (the distinct tokens among its first three positions), every other document scores as the max number of query-term occurrences inside any 8-token window, with the winning window's start returned. This is the passage-retrieval / snippet-selection read a search stack runs on top of document ranking (a long document with one dense relevant passage outranks the same terms scattered, and the UI needs to know WHERE the passage is); BM25 (whole-doc), phrase (exact contiguity) and NEAR (pairwise window) cannot express it. The vote trick generalizes q225's bounded expansion: each query-term occurrence votes for the fixed `width` starts that would cover it (never a per-window rescan), the per-(query, doc, start) vote count IS that window's term count, and a lexicographic (count, -start) struct max picks the best window with the smallest start on ties — starts clamp at 0, where the hanging window is dominated by the start-0 superset, so clamping never loses the max and keeps both engines on one start domain. Determinism: exact integer counts; start ties to the smaller start, document ties to the smaller doc_id. The oracle hoists each candidate's query-term positions once, counts every window by list_transform + list_filter, and takes the FIRST max by list_position, so the hash gate proves tokenization, positions, window arithmetic, argmax ties and ranks end-to-end. Scale: one tokenize pass (the honest batch linear term), then only query-term tokens enter the vote aggregate with the constant width expansion; the top-k window sees |queries| partitions.") {
      (s, d) =>
        passageTopK(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            QueryIds, width = 8, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q230_passage_state_served", q229OracleSql,
      "q229's densest-passage page served FROM the maintained positional postings — the THIRD serving read the poslists tier pays for (phrase q223, NEAR q226, passages here), and the one that completes the positional family's claim: one persisted (doc_id, pos, w) layout serves every position-dependent query shape a keyword stack offers, each through its batch operator's own engine (passageFromPositions here), so none can drift from its oracle-checked twin. The read is query-bounded: the query-term table derives from the query ids' persisted leading positions (doc_id + pos pushdown), its ≤3-distinct-term set collects and restricts the hit stream by term-isin pushdown, and the vote expansion is the fixed width factor — no tokenize pass, no corpus scan, no corpus-proportional aggregate. The oracle is q229's SQL VERBATIM, so the hash gate proves passage search over the incrementally-built index equals a full-corpus recompute: tokenization, positions, window votes, argmax ties, ranks. Scale: the read touches positional postings matching the query's terms (pushdown; bucket by w at deployment scale) — q223's cost model with the width-factor expansion.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.passageFromState(s,
            servedLexicalStateDir(s, d), QueryIds, width = 8, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q234_rm3_expansion_topk", q234OracleSql,
      "PSEUDO-RELEVANCE-FEEDBACK expanded BM25 top-10 (RM3-style, Lavrenko & Croft 2001 / Abdul-Jaleel et al. 2004 simplified to its deterministic core) — the retrieval feedback loop production keyword search runs when recall matters, and the vocabulary-mismatch fix plain BM25 cannot express: stage 1 scores the query (a k=3 BM25 page, q215's exact chain), stage 2 harvests each query's expansion terms (top-5 by summed tf across its feedback documents, the query's own terms excluded, ties to the lexicographically smaller term — exact integers end to end), stage 3 re-scores with the AUGMENTED term bag through the IDENTICAL quantized scorer (bm25FromTermTable — the q215 chain over an explicit term table), so a document sharing no literal term with the query surfaces through the vocabulary of its best matches. Determinism: every stage is exact-integer (stage 1's page, the tf-sum weights, stage 3's micro-nat sums), so the three-stage composition replays bit-identically cross-engine — the oracle runs the full chain (feedback page CTEs, expansion window, the sc tail verbatim over qt UNION exp) in one hash. The feedback pairs are a bounded driver probe (3 per query), so stage 2's postings read carries doc_id pushdown. Scale: stage 1 = q215's cost; stage 2 touches only the feedback docs' postings; stage 3 = q215's cost over ≤ |query terms| + 5 terms; all three share ONE postings derivation.") {
      (s, d) =>
        rm3TopK(Tables.documents(s, d).select(col("doc_id"), col("text")),
            QueryIds, fbK = 3, expM = 5, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q235_rm3_state_served", q234OracleSql,
      "q234's expanded retrieval served FROM the maintained inverted index — the feedback loop at its production shape: all three RM3 stages read the PERSISTED postings (stage 1 the q217 query-bounded page, stage 2 the feedback docs' postings under doc_id pushdown, stage 3 the augmented bag through the same query-bounded scorer), the corpus text never touched, through the ONE rm3FromFrames pipeline the batch operator uses — so the served feedback loop cannot drift from its oracle-checked twin, and the oracle is q234's SQL VERBATIM (the q217 pattern, now covering a three-stage composition in one hash: feedback scoring, term harvesting, expanded re-scoring). This is the read that makes expansion affordable at 100 TB: the batch form re-tokenizes the corpus per invocation, while the served form's total cost is two query-bounded BM25 probes plus one feedback-doc postings probe — every scan pushdown-restricted, no corpus-proportional aggregate anywhere (the doclens/lexstats machinery serves all three stages). Scale: q217's cost model three times over bounded term/doc sets.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.rm3FromState(s,
            servedLexicalStateDir(s, d), QueryIds, fbK = 3, expM = 5, k = 10)
          .orderBy(col("query_id"), col("rn"))
    },

    Q("q236_lexical_index_stats", q236OracleSql,
      "Lexical-index HEALTH stats — the observability read an operator checks before and after every maintenance op (fold, forget, layout evolution), the q139 IVF-list-stats pattern applied to the inverted index: registry size (BM25's N), distinct terms, tf-postings rows, positional rows, the netted token-mass counter and the served avgdl, all in one row of STATE aggregates — the corpus is never rescanned, so the health check costs what the serving reads it guards cost. The oracle recomputes every figure independently from the raw corpus (count, distinct tokens, distinct (doc, token) pairs, total tokens — under this tokenizer every document has ≥1 token, so the avgdl denominator is N itself), which makes this more than observability: a hash match IS a five-way state-integrity audit (registry == corpus cardinality, postings == the corpus's distinct pair set, positional rows == total tokens — the lex_pos_postings/lex_token_mass certificate identity served as a live query — and the counter's quotient == the true mean), re-proven at every SF every round. Scale: five state aggregates over fixed-width rows; at 100 TB this is the dashboard number, not a job.") {
      (s, d) =>
        graft.streaming.LexicalStateStream.indexStats(s,
            servedLexicalStateDir(s, d))
    },
  )

  private def q236OracleSql: String =
    s"""WITH ztok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM documents)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
       |  (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM ztok) AS n_terms,
       |  (SELECT CAST(count(*) AS BIGINT) FROM
       |    (SELECT DISTINCT doc_id, w FROM ztok)) AS n_postings,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ztok) AS n_positions,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ztok) AS sum_dl,
       |  (SELECT CAST(count(*) AS DOUBLE) FROM ztok)
       |    / (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS avgdl""".stripMargin

  private def q224OracleSql: String =
    phraseOracleSql("(SELECT * FROM documents WHERE " +
      "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "')")

  private def q225OracleSql: String = proximityOracleSql("documents")

  /** The densest-passage chain as DuckDB SQL — the query-term positions
    * hoist once per (query, candidate) pair, then a per-start
    * list_transform counts the window occupancy and list_position picks
    * the FIRST (smallest) start achieving the max, mirroring the Spark
    * side's (count, −start) struct max. */
  private def q229OracleSql: String =
    s"""WITH stok AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM documents),
       |sqt AS (
       |  SELECT doc_id AS query_id,
       |    list_distinct(w[1:least(3, len(w))]) AS qts
       |  FROM stok WHERE doc_id IN (0, 100, 200)),
       |scand AS (
       |  SELECT q.query_id, t.doc_id, len(t.w) AS len_w,
       |    [i FOR i IN range(1, len(t.w) + 1)
       |      IF list_contains(q.qts, t.w[i])] AS hp
       |  FROM stok t CROSS JOIN sqt q WHERE t.doc_id <> q.query_id),
       |scnt AS (
       |  SELECT query_id, doc_id,
       |    list_transform(range(1, len_w + 1),
       |      s -> len(list_filter(hp, p -> p >= s AND p <= s + 7))) AS cnts
       |  FROM scand),
       |sbest AS (
       |  SELECT query_id, doc_id,
       |    CAST(list_max(cnts) AS BIGINT) AS n_best,
       |    CAST(list_position(cnts, list_max(cnts)) - 1 AS INT) AS best_start
       |  FROM scnt)
       |SELECT query_id, doc_id, n_best, best_start, CAST(rn AS INT) AS rn
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY n_best DESC, doc_id) AS rn
       |  FROM sbest WHERE n_best > 0) t
       |WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  private def q227OracleSql: String =
    proximityOracleSql("(SELECT * FROM documents WHERE " +
      "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "')")

  /** The NEAR chain as DuckDB SQL over `docsRel` — shared by the batch
    * q225, the state-served q226 (verbatim) and the forgotten q227
    * (over the tombstone-survivor relation): the anchor pair derives
    * from the same token array (t1 = w[1]; t2 = the first differing
    * element), and each t1 position checks the ±3 slice for t2. */
  private def proximityOracleSql(docsRel: String): String =
    s"""WITH xtok AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM $docsRel),
       |xqp AS (
       |  SELECT doc_id AS query_id, w[1] AS t1,
       |    [x FOR x IN w IF x <> w[1]][1] AS t2
       |  FROM xtok WHERE doc_id IN (0, 100, 200)),
       |xpm AS (
       |  SELECT q.query_id, t.doc_id,
       |    len([i FOR i IN range(1, len(t.w) + 1)
       |      IF t.w[i] = q.t1
       |      AND list_contains(
       |        t.w[greatest(1, i - 3):least(len(t.w), i + 3)], q.t2)])
       |      AS n_near
       |  FROM xtok t CROSS JOIN xqp q
       |  WHERE t.doc_id <> q.query_id AND q.t2 IS NOT NULL)
       |SELECT query_id, doc_id, CAST(n_near AS BIGINT) AS n_near,
       |  CAST(rn AS INT) AS rn
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY n_near DESC, doc_id) AS rn
       |  FROM xpm WHERE n_near > 0) t
       |WHERE rn <= 10
       |ORDER BY query_id, rn""".stripMargin

  private def q218OracleSql: String =
    s"""WITH ${bm25Ctes(10, docsRel = "(SELECT * FROM documents WHERE " +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '" +
        Sampling.TombstoneHex + "')")}
       |SELECT query_id, doc_id, s * 1e-6 AS bm25, CAST(rn AS INT) AS rn
       |FROM page ORDER BY query_id, rn""".stripMargin

  /** Build-once on-disk inverted index for q217: two doc_id-parity
    * waves plus a replayed wave through LexicalStateStream.update (the
    * servedLshStateDir protocol). Memoized per (session, corpus);
    * protectNew = false (the q181 contract). */
  private def servedLexicalStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"lexstate|$d/documents.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_lex_state").toString)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val wave1 = docs.filter(col("doc_id") % 2 =!= 0)
      graft.streaming.LexicalStateStream.update(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.LexicalStateStream.update(dir)(wave1, 1L)
      graft.streaming.LexicalStateStream.update(dir)(wave1, 1L) // replay no-op
      dir
    }

  /** Build-once FORGOTTEN inverted index for q218 (and q206's postings
    * leg): the q217 build, then LexicalStateStream.forget with the
    * shared tombstone rule, plus a replayed forget — re-deleting absent
    * keys must be a state no-op. */
  private[operators] def servedForgottenLexicalDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"lexforget|$d/documents.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_lexforget_state").toString)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.streaming.LexicalStateStream.update(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.LexicalStateStream.update(dir)(
        docs.filter(col("doc_id") % 2 =!= 0), 1L)
      val tomb = docs.select(col("doc_id"))
        .filter(Sampling.tombstoned(col("doc_id")))
      graft.streaming.LexicalStateStream.forget(s, dir, tomb)
      graft.streaming.LexicalStateStream.forget(s, dir, tomb) // replay no-op
      dir
    }

  /** Build-once FORGOTTEN LSH index for q202: the servedLshStateDir
    * protocol (two parity waves + a replayed wave), then
    * LshStateStream.forget with the shared tombstone rule, plus a
    * replayed forget — re-deleting absent keys must be a state no-op. */
  private[operators] def servedForgottenLshDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"lshforget|$d/embeddings.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_lshforget_state").toString)
      val embs = Tables.embeddings(s, d)
      val wave1 = embs.filter(col("vec_id") % 2 =!= 0)
      graft.streaming.LshStateStream.update(dir)(
        embs.filter(col("vec_id") % 2 === 0), 0L)
      graft.streaming.LshStateStream.update(dir)(wave1, 1L)
      graft.streaming.LshStateStream.update(dir)(wave1, 1L) // replay no-op
      val tomb = embs.select(col("vec_id"))
        .filter(Sampling.tombstoned(col("vec_id")))
      graft.streaming.LshStateStream.forget(s, dir, tomb)
      graft.streaming.LshStateStream.forget(s, dir, tomb) // replay no-op
      dir
    }

  /** Build-once FORGOTTEN IVF state for q199: the servedRebalancedIvfDir
    * protocol with IvfStateStream.forget (q153's md5-bucket tombstones)
    * as the in-place mutation, plus a replayed forget — re-deleting an
    * already-absent key must be a state no-op, so the driver's hash gate
    * also re-proves deletion idempotence cross-engine. */
  private[operators] def servedForgottenIvfDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"ivfforget|$d/embeddings.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_ivfforget_state").toString)
      val emb = Tables.embeddings(s, d)
      graft.streaming.IvfStateStream.train(emb, dir, nlist = 8)
      // the PQ tier folds too (updatePq = coarse-list append + codes),
      // so forget's codes leg executes against real state and q206 can
      // certify the compressed tier's survivors as its own artifact
      graft.streaming.IvfStateStream.trainPq(emb, dir, m = 4, ksub = 16,
        corpusKey = embKey(d))
      graft.streaming.IvfStateStream.updatePq(dir)(
        emb.filter(col("vec_id") % 2 === 0), 0L)
      graft.streaming.IvfStateStream.updatePq(dir)(
        emb.filter(col("vec_id") % 2 =!= 0), 1L)
      val tomb = emb.select(col("vec_id"))
        .filter(Sampling.tombstoned(col("vec_id")))
      graft.streaming.IvfStateStream.forget(s, dir, tomb)
      // replayed deletion: already-absent keys must be a state no-op
      graft.streaming.IvfStateStream.forget(s, dir, tomb)
      dir
    }

  /** Build-once REBALANCED IVF state for q198 (the servedIvfStateDir
    * contract, plus the in-place mutation): train the frozen quantizer
    * portable, fold the corpus in two parity waves + one replayed wave,
    * then rebalance TWICE at the q197 driver-literal threshold — the
    * rerun-until-quiet operational loop's first two iterations, so the
    * multi-generation lineage path is what the gate actually checks
    * (pass 2 splits any over-threshold child; a quiet pass 2 mutates
    * nothing, matching the oracle's identity degradation). Memoized per
    * (session, corpus); timed reps pay only the serving read. */
  private def servedRebalancedIvfDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"ivfrebal|$d/embeddings.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_ivfrebal_state").toString)
      val emb = Tables.embeddings(s, d)
      graft.streaming.IvfStateStream.train(emb, dir, nlist = 8)
      graft.streaming.IvfStateStream.update(dir)(
        emb.filter(col("vec_id") % 2 === 0), 0L)
      graft.streaming.IvfStateStream.update(dir)(
        emb.filter(col("vec_id") % 2 =!= 0), 1L)
      // crash-replay of a committed batch must be a state no-op
      graft.streaming.IvfStateStream.update(dir)(
        emb.filter(col("vec_id") % 2 =!= 0), 1L)
      val n = graft.AnnSubstrate.getOrBuild(s,
        s"count|$d/embeddings.parquet")(emb.count())
      val maxList = math.ceil(n.toDouble / 8).toInt
      graft.streaming.IvfStateStream.rebalance(s, dir, maxList)
      graft.streaming.IvfStateStream.rebalance(s, dir, maxList)
      dir
    }

  /** Build-once on-disk centroid-sum state for the state-served drift
    * read (q184): fold the source-tagged embeddings through the SAME
    * micro-batch update the monitoring stream runs — two doc_id-parity
    * waves, so the ledger-protocol idempotence paths execute — into a
    * fresh temp stateDir, memoized per (session, corpus). protectNew =
    * false: the durable product is the on-disk delta log (the
    * servedIvfStateDir contract). */
  private def servedCentroidStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"centstate|$d/embeddings.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_cent_state").toString)
      val vecs = Tables.embeddings(s, d)
        .join(Tables.documents(s, d)
          .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("source"))
      graft.streaming.CentroidStateStream.update(dir)(
        vecs.filter(col("vec_id") % 2 === 0), 0L)
      graft.streaming.CentroidStateStream.update(dir)(
        vecs.filter(col("vec_id") % 2 =!= 0), 1L)
      // serve from FOLDED state (|sources|·64 snapshot rows): the q184
      // hash gate then re-proves fold neutrality cross-engine every
      // round — integer sums, so the matrix is bit-identical
      graft.streaming.CentroidStateStream.foldDeltas(s, dir)
      dir
    }

  /** Build-once FORGOTTEN centroid-sum state for q213: the q184 build
    * protocol (two doc_id-parity waves + a replayed wave), then
    * CentroidStateStream.forget of the tombstoned vectors' own rows
    * (the forgetVocab occurrence contract — the shared md5-bucket
    * rule), a replayed forget (ledger no-op), and a fold of the
    * mixed-sign log, so the served sums are per-key snapshots whose
    * integers are exactly the survivors'. Exposed to `operators` so
    * q206 can file the forgotten drift state as a certificate leg. */
  private[operators] def servedForgottenCentroidDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"centforget|$d/embeddings.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_centforget_state").toString)
      val vecs = Tables.embeddings(s, d)
        .join(Tables.documents(s, d)
          .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("source"))
      val wave1 = vecs.filter(col("vec_id") % 2 =!= 0)
      graft.streaming.CentroidStateStream.update(dir)(
        vecs.filter(col("vec_id") % 2 === 0), 0L)
      graft.streaming.CentroidStateStream.update(dir)(wave1, 1L)
      graft.streaming.CentroidStateStream.update(dir)(wave1, 1L) // replay no-op
      val tomb = vecs.filter(Sampling.tombstoned(col("vec_id")))
      graft.streaming.CentroidStateStream.forget(dir)(tomb, 2L)
      graft.streaming.CentroidStateStream.forget(dir)(tomb, 2L) // replay no-op
      graft.streaming.CentroidStateStream.foldDeltas(s, dir)
      dir
    }

  /** Build-once on-disk IVF state for the state-served read (q180):
    * train the frozen quantizer from the corpus and fold the corpus
    * through the SAME micro-batch update the maintenance stream runs,
    * into a fresh temp stateDir — memoized per (session, corpus) so
    * timed bench reps (and every later consumer) pay only the READ.
    * protectNew = false: the durable product is the on-disk state;
    * the build's transient checkpoint blocks are pure leak and are
    * unpersisted instead of protected. */
  private def servedIvfStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"ivfstate|$d/embeddings.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_ivf_state").toString)
      val emb = Tables.embeddings(s, d)
      graft.streaming.IvfStateStream.train(emb, dir, nlist = 8)
      // the PQ tier trains into the same state dir (q183's ADC read);
      // updatePq folds lists AND codes in one pass. corpusKey shares
      // the q175–q177 memo, so the per-subspace Lloyd chain is not
      // rebuilt when the batch PQ trio already trained it this session
      graft.streaming.IvfStateStream.trainPq(emb, dir, m = 4, ksub = 16,
        corpusKey = embKey(d))
      graft.streaming.IvfStateStream.updatePq(dir)(emb, 0L)
      dir
    }

  /** q150: margin-based cross-lingual pair mining (Artetxe & Schwenk 2019)
    * bounded to IVF-list co-membership — for each source-language vector
    * its best target-language candidate by ratio margin
    * cos(x,y) / ((avgTopK_x + avgTopK_y) / 2), kNN averages taken within
    * the OTHER language inside the same list. */
  def bitextMarginMining(embeddings: DataFrame, docs: DataFrame,
      langX: String, langY: String, k: Int = 4, nlist: Int = 0,
      iters: Int = 3, corpusKey: Option[String] = None): DataFrame = {
    val chosen =
      resolveNlist(embeddings, nlist, corpusKey)
    val (_, idx) = ivfIndex(embeddings, chosen, iters, corpusKey)
    val langs = docs.select(col("doc_id").as("vec_id"), col("lang"))
    val lists = idx.join(langs, "vec_id")
      .select(col("cid"), col("vec_id"), col("v"), col("lang"), col("nrm"))
      .localCheckpoint(true)
    val xs = lists.filter(col("lang") === langX)
      .select(col("cid"), col("vec_id").as("src"),
        col("v").as("vx"), col("nrm").as("nx"))
    val ys = lists.filter(col("lang") === langY)
      .select(col("cid").as("cidy"), col("vec_id").as("dst"),
        col("v").as("vy"), col("nrm").as("ny"))
    val pairs = xs.join(ys, col("cid") === col("cidy"))
      .select(col("src"), col("dst"),
        round(graft.expressions.VecDot(col("vx"), col("vy"))
          / (col("nx") * col("ny")) * lit(1e6d), 0).cast("bigint")
          .as("cos_micro"))
      .localCheckpoint(true) // reused by both kNN averages + the best pick
    val wx = Window.partitionBy(col("src"))
      .orderBy(col("cos_micro").desc, col("dst"))
    val ax = pairs.withColumn("rn", row_number().over(wx))
      .filter(col("rn") <= k)
      .groupBy(col("src"))
      .agg(sum(col("cos_micro")).cast("bigint").as("ax_num"),
        count(lit(1)).cast("bigint").as("ax_den"))
    val wy = Window.partitionBy(col("dst"))
      .orderBy(col("cos_micro").desc, col("src"))
    val ay = pairs.withColumn("rn", row_number().over(wy))
      .filter(col("rn") <= k)
      .groupBy(col("dst"))
      .agg(sum(col("cos_micro")).cast("bigint").as("ay_num"),
        count(lit(1)).cast("bigint").as("ay_den"))
    val cnt = pairs.groupBy(col("src"))
      .agg(count(lit(1)).cast("bigint").as("n_candidates"))
    val scored = pairs.join(ax, "src").join(ay, "dst")
      .withColumn("margin",
        col("cos_micro").cast("double") /
          ((col("ax_num").cast("double") / col("ax_den")
            + col("ay_num").cast("double") / col("ay_den")) / lit(2d)))
    val wbest = Window.partitionBy(col("src"))
      .orderBy(col("margin").desc, col("dst"))
    scored.withColumn("rn", row_number().over(wbest)).filter(col("rn") === 1)
      .join(cnt, "src")
      .select(col("src"), col("dst"),
        (col("cos_micro").cast("double") * lit(1e-6d)).as("cosine"),
        col("margin"), col("n_candidates"),
        (col("margin") >= lit(1.05d)).as("accepted"))
      .orderBy(col("src"))
  }

  private def q150OracleSql(langX: String, langY: String, k: Int): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes(oracleNlist)},
       |ll AS (
       |  SELECT l.cid, l.vec_id, l.v, sqrt(${dot("l.v", "l.v")}) AS nrm, d.lang
       |  FROM lists l JOIN documents d ON l.vec_id = d.doc_id),
       |p AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst,
       |    CAST(round(${dot("x.v", "y.v")} / (x.nrm * y.nrm) * 1e6, 0)
       |      AS BIGINT) AS cos_micro
       |  FROM ll x JOIN ll y ON x.cid = y.cid
       |    AND x.lang = '$langX' AND y.lang = '$langY'),
       |ax AS (
       |  SELECT src, CAST(sum(cos_micro) AS BIGINT) AS ax_num,
       |    CAST(count(*) AS BIGINT) AS ax_den
       |  FROM (SELECT src, cos_micro, row_number() OVER (PARTITION BY src
       |          ORDER BY cos_micro DESC, dst) AS rn FROM p) t
       |  WHERE rn <= $k GROUP BY src),
       |ay AS (
       |  SELECT dst, CAST(sum(cos_micro) AS BIGINT) AS ay_num,
       |    CAST(count(*) AS BIGINT) AS ay_den
       |  FROM (SELECT dst, cos_micro, row_number() OVER (PARTITION BY dst
       |          ORDER BY cos_micro DESC, src) AS rn FROM p) t
       |  WHERE rn <= $k GROUP BY dst),
       |cnt AS (SELECT src, CAST(count(*) AS BIGINT) AS n_candidates
       |        FROM p GROUP BY src),
       |sc AS (
       |  SELECT p.src, p.dst, p.cos_micro,
       |    CAST(p.cos_micro AS DOUBLE) /
       |      ((CAST(ax.ax_num AS DOUBLE) / ax.ax_den
       |        + CAST(ay.ay_num AS DOUBLE) / ay.ay_den) / 2) AS margin
       |  FROM p JOIN ax USING (src) JOIN ay USING (dst))
       |SELECT src, dst, CAST(cos_micro AS DOUBLE) * 1e-6 AS cosine, margin,
       |  n_candidates, margin >= 1.05 AS accepted
       |FROM (SELECT *, row_number() OVER (PARTITION BY src
       |        ORDER BY margin DESC, dst) AS rn FROM sc) t
       |JOIN cnt USING (src)
       |WHERE rn = 1 ORDER BY src""".stripMargin
  }

  /** q155: hard-negative mining for contrastive retrieval training —
    * per query vector, the top same-label positive and the hardest
    * different-label negative among its IVF-list co-members, with the
    * confusable flag (negative outranks the positive). */
  def hardNegatives(embeddings: DataFrame, queryStride: Long, k: Int = 0,
      iters: Int = 3, corpusKey: Option[String] = None): DataFrame = {
    // k <= 0 = auto: hold the per-list size as the corpus grows (the
    // q138/q150 rule — exactly the oracle's 8 lists at verify scale)
    val chosen = resolveNlist(embeddings, k, corpusKey)
    val (_, idx) = ivfIndex(embeddings, chosen, iters, corpusKey)
    val lists = idx
      .join(embeddings.select(col("vec_id"), col("label")), "vec_id")
      .select(col("cid"), col("vec_id"), col("label"), col("v"), col("nrm"))
      .localCheckpoint(true)
    val qs = lists.filter(col("vec_id") % queryStride === 0)
      .select(col("cid"), col("vec_id").as("query_id"),
        col("label").as("q_label"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = qs.join(
        lists.select(col("cid").as("cidc"), col("vec_id").as("cand"),
          col("label").as("c_label"), col("v").as("cv"), col("nrm").as("cn")),
        col("cid") === col("cidc") && col("query_id") =!= col("cand"))
      .select(col("query_id"), col("q_label"), col("cand"), col("c_label"),
        round(graft.expressions.VecDot(col("qv"), col("cv"))
          / (col("qn") * col("cn")) * lit(1e6d), 0).cast("bigint")
          .as("cos_micro"))
    scored.groupBy(col("query_id"), col("q_label"))
      .agg(
        max_by(struct(col("cand").as("id"), col("cos_micro").as("cm")),
          when(col("c_label") === col("q_label"),
            struct(col("cos_micro"), -col("cand")))).as("pos"),
        max_by(struct(col("cand").as("id"), col("cos_micro").as("cm")),
          when(col("c_label") =!= col("q_label"),
            struct(col("cos_micro"), -col("cand")))).as("neg"),
        sum(when(col("c_label") === col("q_label"), 1L).otherwise(0L))
          .cast("bigint").as("n_pos"),
        sum(when(col("c_label") =!= col("q_label"), 1L).otherwise(0L))
          .cast("bigint").as("n_neg"))
      .filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("query_id"), col("q_label"),
        col("pos").getField("id").as("top_pos_id"),
        (col("pos").getField("cm").cast("double") * lit(1e-6d))
          .as("top_pos_cos"),
        col("neg").getField("id").as("hard_neg_id"),
        (col("neg").getField("cm").cast("double") * lit(1e-6d))
          .as("hard_neg_cos"),
        col("n_pos"), col("n_neg"),
        (col("neg").getField("cm") > col("pos").getField("cm"))
          .as("confusable"))
      .orderBy(col("query_id"))
  }

  private def q155OracleSql(stride: Long): String = {
    def dot(a: String, b: String) = dotSql(a, b)
    s"""WITH ${kmeansListsCtes(oracleNlist)},
       |ll AS (
       |  SELECT l.cid, l.vec_id, l.v, sqrt(${dot("l.v", "l.v")}) AS nrm,
       |    e.label
       |  FROM lists l JOIN embeddings e USING (vec_id)),
       |sc AS (
       |  SELECT q.vec_id AS query_id, q.label AS q_label,
       |    c.vec_id AS cand, c.label AS c_label,
       |    CAST(round(${dot("q.v", "c.v")} / (q.nrm * c.nrm) * 1e6, 0)
       |      AS BIGINT) AS cos_micro
       |  FROM ll q JOIN ll c ON q.cid = c.cid AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id % $stride = 0),
       |pos AS (
       |  SELECT query_id, q_label, cand, cos_micro FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_micro DESC, cand ASC) AS rn
       |    FROM sc WHERE c_label = q_label) t WHERE rn = 1),
       |neg AS (
       |  SELECT query_id, cand, cos_micro FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos_micro DESC, cand ASC) AS rn
       |    FROM sc WHERE c_label <> q_label) t WHERE rn = 1),
       |cnt AS (
       |  SELECT query_id,
       |    CAST(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_pos,
       |    CAST(sum(CASE WHEN c_label <> q_label THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_neg
       |  FROM sc GROUP BY query_id)
       |SELECT p.query_id, p.q_label,
       |  p.cand AS top_pos_id,
       |  CAST(p.cos_micro AS DOUBLE) * 1e-6 AS top_pos_cos,
       |  n.cand AS hard_neg_id,
       |  CAST(n.cos_micro AS DOUBLE) * 1e-6 AS hard_neg_cos,
       |  c.n_pos, c.n_neg,
       |  n.cos_micro > p.cos_micro AS confusable
       |FROM pos p JOIN neg n USING (query_id) JOIN cnt c USING (query_id)
       |WHERE c.n_pos > 0 AND c.n_neg > 0
       |ORDER BY p.query_id""".stripMargin
  }

  /** q148: one power-iteration step y = Gᵀ(G·x0) of uncentered PCA on the
    * integer micro-unit ledger — exact cross-engine by construction. */
  def pcaPowerStep(embIn: DataFrame): DataFrame = {
    val qd = embIn
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        floor(col("x").cast("double") * lit(1e6d)).cast("bigint").as("q"))
    val sv = qd.groupBy(col("vec_id"))
      .agg(sum(col("q")).cast("bigint").as("s"))
    val y = qd.join(sv, "vec_id")
      .groupBy(col("dim"))
      .agg(sum(col("q").cast("decimal(18,0)") * col("s").cast("decimal(18,0)"))
        .as("yl"))
    val tot = y.agg(sum(abs(col("yl"))).as("tot"))
    y.crossJoin(broadcast(tot))
      .select(col("dim"),
        (col("yl").cast("double") * lit(1e-12d) / lit(8d)).as("component"),
        (abs(col("yl")).cast("double") / col("tot").cast("double"))
          .as("abs_share"))
      .orderBy(col("dim"))
  }

  /** q146: one k-means assignment step against the k smallest-vec_id seed
    * centroids — zero-shuffle in-row argmin (broadcast centroid array +
    * array_min over a transform), then a k-key SSE aggregate. */
  def lloydStep(embIn: DataFrame, k: Int): DataFrame = {
    val emb = embIn.select(col("vec_id"), col("embedding"))
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      .withColumn("cc", dot(col("cvec"), col("cvec")))
    val centsRow = cents.agg(
      sort_array(collect_list(struct(col("cid"), col("cvec"), col("cc"))))
        .as("cs"))
    emb
      .withColumn("vv", dot(col("embedding"), col("embedding")))
      .crossJoin(broadcast(centsRow))
      .select(col("vec_id"),
        array_min(transform(col("cs"), c =>
          struct(
            floor(round(col("vv")
                - lit(2d) * dot(col("embedding"), c.getField("cvec"))
                + c.getField("cc"), 9) * lit(1e6d)).cast("bigint")
              .as("d2_micro"),
            c.getField("cid").as("cid")))).as("best"))
      .select(col("best").getField("cid").as("cid"),
        col("best").getField("d2_micro").as("d2_micro"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).cast("bigint").as("n_assigned"),
        sum(col("d2_micro")).cast("bigint").as("sse_micro"))
      .select(col("cid"), col("n_assigned"), col("sse_micro"),
        (col("sse_micro").cast("double") / col("n_assigned").cast("double")
          / lit(1e6d)).as("mean_d2"))
      .orderBy(col("cid"))
  }

  /** Per-dimension mean/variance of an embedding column (q121): integer
    * micro-unit quantization, exact integer/decimal sufficient
    * statistics, one 64-key map-side-combined shuffle. */
  def dimHealth(embeddings: DataFrame): DataFrame = {
    val qd = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * lit(1e6d)).cast("bigint").as("q"))
    val st = qd.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum(col("q").cast("decimal(18,0)") * col("q").cast("decimal(18,0)"))
          .as("sqq"))
    st.select(col("dim"), col("n"),
      (col("sq").cast("double") / col("n") * lit(1e-6d)).as("mean"),
      // E[x^2]-E[x]^2 on doubles can cancel to a tiny NEGATIVE value for
      // a near-constant high-magnitude dimension (the sums are exact but
      // their double conversions each round) — clamp at zero, mirrored
      // in the oracle, so sqrt/stddev consumers never see NaN
      greatest((col("sqq").cast("string").cast("double")
        - col("sq").cast("double") * col("sq").cast("double") / col("n"))
        / col("n") * lit(1e-12d), lit(0.0d)).as("variance"))
  }
}
