package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.DetAgg.sql
import graft.functions.TextFunctions._

/** Text analysis over the `documents` table: token counting, quality
  * scoring, heuristic language-ID, fingerprinting. All per-document work
  * is a stateless Project (scales linearly, no shuffle); only the final
  * summaries aggregate.
  */
object TextAnalysis {

  /** Stopword profiles for the n-gram/stopword language heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "of", "and", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "une", "dans"))

  private def hitCount(c: Column, words: Seq[String]): Column =
    size(regexp_extract_all(lower(c), lit(s"\\b(${words.mkString("|")})\\b"), lit(0)))

  /** Heuristic language-ID: CJK chars → zh, else the profile with the
    * most stopword hits (fixed tie priority en>es>de>fr).
    *
    * Deliberately a FLAT when-cascade (the same CASE shape as the q30
    * oracle): the earlier fold formulation nested each comparison inside
    * the previous ones' `when` branches, so the expression tree re-embedded
    * every regex score exponentially — language k's count appeared in
    * O(2^k) branch contexts, and whether that costs one regex scan or many
    * is left to codegen subexpression elimination. Flat references keep
    * each of the 5 regex scans appearing a bounded number of times. */
  def langId(text: Column): Column = {
    // built generically from LangProfiles so adding/reordering a profile
    // cannot desync (the old `val Seq(en, es, de, fr) = ...` destructure
    // compiled against any list length and MatchError'd at runtime); tie
    // priority is the LIST ORDER: profile i wins when its score >= every
    // LATER profile's score, which for (en, es, de, fr) is exactly the
    // en>es>de>fr cascade the q30 oracle's CASE text spells out
    val scores = LangProfiles.map { case (lang, ws) => lang -> hitCount(text, ws) }
    val cjk = when(
      size(regexp_extract_all(text, lit("[\\u4e00-\\u9fff]"), lit(0))) > 0, "zh")
    scores.init.zipWithIndex.foldLeft(cjk) { case (acc, ((lang, s), i)) =>
        val later = scores.drop(i + 1).map(_._2)
        acc.when(later.map(s >= _).reduce(_ && _), lang)
      }
      .otherwise(scores.last._1)
  }

  /** Per-source character-bigram Shannon entropy in nats (q122): the
    * q103 identity H = ln(T) − Σ c·ln(c)/T on exact integer bigram
    * counts, ln floor-quantized to micro-nats per (source, bigram)
    * group. Returns (source, n_bigrams, distinct_bigrams, entropy_nats). */
  def charEntropy(docs: DataFrame): DataFrame = {
    // compiled per-row bigram counting (expressions.CharBigramCounts):
    // one virtual call per ROW and one exploded row per DISTINCT in-row
    // bigram — the interpreted per-character transform + per-char explode
    // it replaced measured 2.5 s at sf0.1, this shape ~0.8 s. The
    // expression emits an empty array below 2 code points (the shingles()
    // guard's job in the old form).
    val bg = docs
      .select(col("source"),
        explode(graft.expressions.CharBigramCounts(col("text"))).as("e"))
    val counts = bg.groupBy(col("source"), col("e.g").as("g"))
      .agg(sum(col("e.c")).as("c"))
    counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        sum(col("c") *
          floor(log(col("c").cast("double")) * lit(1e6d)).cast("bigint"))
          .as("sclnq"))
      .select(col("source"), col("n_bigrams"), col("distinct_bigrams"),
        (floor(log(col("n_bigrams").cast("double")) * lit(1e6d)).cast("bigint")
          * lit(1e-6d)
          - (col("sclnq") * lit(1e-6d)) / col("n_bigrams")).as("entropy_nats"))
  }

  /** Per-document unigram-LM score under the corpus unigram distribution
    * — the single definition shared by q103 (per-doc scores) and q109
    * (per-source calibration quantiles), so the calibration table can
    * never drift from the score it calibrates. Determinism per the q89
    * playbook: ln runs once per TERM and is quantized to integer
    * micro-nats, so every distributed sum is exact-integer; `avg_nll` is
    * one IEEE expression per row. Returns (doc_id, source, n_tokens,
    * avg_nll). */
  private def unigramNll(docs: DataFrame): DataFrame = {
    // ONE tokenize pass (r18 — the q143/q215 one-derivation
    // convention): dt feeds the vocab chain (cnt + total legs) AND the
    // per-doc score join; unmaterialized, the plan ran THREE full
    // corpus tokenize scans (verified in the formatted plan). The
    // materialized rows are (doc, source, term, count) — the postings
    // class, far smaller than the text they replace.
    val dt = docs
      .select(col("doc_id"), col("source"),
        explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vocab = dt.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("t"))
    val v2 = vocab.select(col("w"),
      floor(log(col("cnt").cast("double")) * lit(1e6d)).cast("bigint").as("lnq"))
    dt.join(v2, "w")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("lnq")).as("slnq"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (floor(log(col("t").cast("double")) * lit(1e6d)).cast("bigint") * lit(1e-6d)
          - (col("slnq") * lit(1e-6d)) / col("n_tokens")).as("avg_nll"))
  }

  /** q103's oracle SQL — shared verbatim with q186, which serves the
    * same score from the maintained reference-vocabulary state. */
  private val q103OracleSql: String = q103OracleSqlOver("documents")

  /** q103's chain over an arbitrary document relation — `"documents"`
    * renders the historical q103/q186 SQL byte-equal; q201 passes the
    * tombstone-survivor subquery, because after a document forget BOTH
    * the reference vocabulary (counts netted, zeroed terms gone) and
    * the scored corpus shrink to exactly the surviving documents. */
  private def q103OracleSqlOver(docsRel: String): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
       |  FROM $docsRel),
       |dt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
       |vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cnt FROM dt GROUP BY w),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
       |v2 AS (SELECT w,
       |         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS lnq
       |       FROM vocab),
       |s AS (SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_tokens,
       |        CAST(sum(d.c * v.lnq) AS BIGINT) AS slnq
       |      FROM dt d JOIN v2 v USING (w) GROUP BY d.doc_id)
       |SELECT doc_id, n_tokens,
       |  CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
       |    - (slnq * 1e-6) / n_tokens AS avg_nll
       |FROM s, tot ORDER BY doc_id""".stripMargin

  private def q201OracleSql: String = q103OracleSqlOver(
    "(SELECT * FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "')")

  /** Per-source RANK-based LM quality gate (q140): the gate the q109
    * calibration table parameterizes — per source, KEEP the lowest
    * `keepShare` fraction of documents by unigram NLL (lowest = most
    * predictable under the corpus LM, the CCNet head/middle cut), and
    * report per source the kept count, realized share, and the
    * effective threshold (max kept score). Rank-based rather than
    * value-threshold-based deliberately: the per-source quantile VALUE
    * is interpolated (engine ulps at the boundary would flip
    * keep/drop), while ranks over the deterministic integer-micro-nat
    * scores with doc_id ties are exact on any engine — and a per-source
    * TOP-FRACTION is the actual CCNet recipe (each slice keeps its own
    * best, so a uniformly-noisy source cannot flood the gate).
    *
    * Scale: the score is q103's plan (map-side-combined |vocab| and
    * |docs| shuffles, 8-byte keys); the gate adds ONE window sort
    * partitioned by source — same cost family as q08's top-k — and a
    * |sources|-key aggregate. At 100 TB with a mega-source, swap the
    * exact rank for q75's mergeable histogram quantile and accept the
    * boundary approximation; the exact form is the oracle semantics. */
  def adaptiveQualityGate(docs: DataFrame, keepShare: Double = 0.75): DataFrame = {
    val rankW = Window.partitionBy(col("source"))
      .orderBy(col("avg_nll"), col("doc_id"))
    val cntW = Window.partitionBy(col("source"))
    val flagged = unigramNll(docs)
      .withColumn("rn", row_number().over(rankW))
      .withColumn("nd", count(lit(1)).over(cntW))
      .withColumn("keep",
        col("rn") <= ceil(col("nd").cast("double") * lit(keepShare)))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("bigint").as("n_kept"),
        max(when(col("keep"), col("avg_nll"))).as("threshold_nll"))
      .select(col("source"), col("n_docs"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("kept_share"),
        col("threshold_nll"))
      .orderBy(col("source"))
  }

  /** Per-doc conditional bigram LM score (q130): avg over adjacent word
    * pairs of ln c(w1) − ln c(w1 w2) under corpus counts — q103's
    * unigram playbook one order up. Both ln terms quantize to integer
    * micro-nats per VOCAB ENTRY, so every distributed sum is exact.
    * Bigram/unigram instances come from the compiled ShingleHash64.all
    * passes zipped IN-ROW by position (no instance join); the oracle
    * recomputes on strings — count parity modulo the family-wide 2^-64
    * hash-collision trade (q96/q100 note).
    *
    * The instance subtree is deliberately RECOMPUTED where it appears
    * (three scans of the text: bigram vocab, unigram vocab, probe side)
    * rather than cached — the q33 trade: ShingleHash64 is a cheap
    * compiled per-row pass, and materializing the exploded instance
    * index would be far larger than the input at scale. */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    val bg2 = graft.expressions.ShingleHash64.all(lowered, 2)
    val bg1 = graft.expressions.ShingleHash64.all(lowered, 1)
    // zip bigram i with its FIRST word's hash (position i of the token
    // stream) — slice keeps the arrays aligned and drops the final token
    val inst = docs.select(col("doc_id"), col("source"),
        explode(arrays_zip(bg2.as("h2"), slice(bg1, lit(1), size(bg2)).as("h1"))).as("z"))
      .select(col("doc_id"), col("source"),
        col("z.h2").as("h2"), col("z.h1").as("h1"))
    val toks = docs.select(explode(bg1).as("h1"))
    val uniLn = toks.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
      .select(col("h1"),
        floor(log(col("c1").cast("double")) * lit(1e6d)).cast("bigint").as("lnq1"))
    val bgLn = inst.groupBy(col("h2")).agg(count(lit(1)).as("c2"))
      .select(col("h2"),
        floor(log(col("c2").cast("double")) * lit(1e6d)).cast("bigint").as("lnq2"))
    inst.join(uniLn, "h1").join(bgLn, "h2")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
        sum(col("lnq1") - col("lnq2")).as("snlq"))
      .select(col("doc_id"), col("source"), col("n_bigrams"),
        ((col("snlq") * lit(1e-6d)) / col("n_bigrams")).as("avg_cond_nll"))
      .orderBy(col("doc_id"))
  }

  /** The q105 quality-gate flags, per document — ONE definition shared by
    * the per-source gate report (q105), the quality×duplication lift
    * monitor (q127), and the curriculum grid (q163), so the cross-signal
    * analyses can never drift from the gate they explain. Returns
    * (doc_id, source, nt, f_short, f_low_ttr, f_bad_len, f_dup); `nt` is
    * the whitespace token count the thresholds are computed FROM, emitted
    * as a rider so consumers that also need it (q163's length buckets and
    * token mass) don't rescan the corpus and re-join on doc_id to
    * recompute a value this projection already holds — consumers that
    * don't use it get it column-pruned for free. */
  def gateFlags(docs: DataFrame): DataFrame = {
    val ws = wsTokens(col("text"))
    val wsl = wsTokens(lower(col("text")))
    val nTok = size(ws)
    val mtl = length(regexp_replace(col("text"), "\\s+", "")).cast("double") / nTok
    val nShingles = size(split(regexp_replace(col("text"), "^\\s+|\\s+$", ""), "\\s+")) - 2
    docs.select(col("doc_id"), col("source"),
      nTok.cast("long").as("nt"),
      (nTok < 20).as("f_short"),
      (size(array_distinct(wsl)).cast("double") / nTok < 0.32d).as("f_low_ttr"),
      (mtl < 4.0d || mtl > 5.0d).as("f_bad_len"),
      (nShingles > 0 &&
        nShingles > size(graft.expressions.ShingleHash64(col("text"), 3)))
        .as("f_dup"))
  }

  /** BPE merge-candidate table (q125): adjacent char-pair counts weighted
    * by word frequency, computed on the collapsed (word, count) vocabulary
    * — pair enumeration cost ∝ |vocab|, never corpus tokens. */
  def bpeMergeTop(docs: DataFrame, k: Int): DataFrame = {
    val wc = docs
      .select(explode(wsTokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pc = wc
      .select(explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2))))
        .as("pair"), col("c"))
      .groupBy(col("pair")).agg(sum(col("c")).cast("bigint").as("n_occurrences"))
    val w = Window.orderBy(col("n_occurrences").desc, col("pair"))
    pc.orderBy(col("n_occurrences").desc, col("pair")).limit(k)
      .withColumn("rn", row_number().over(w).cast("int"))
      .select(col("pair"), col("n_occurrences"), col("rn"))
      .orderBy(col("rn"))
  }

  /** The positional word-3-gram hash stream — (doc_id, pos, h) with one
    * row per shingle start position and h the 60-bit md5-derived hash of
    * the shingle text (the q35/q126 cross-engine convention: 15 lowercase
    * hex chars parsed as an integer). ONE definition feeding winnowing
    * (q126) and the repeated-passage cut list (q169): both need the same
    * positions and the same hash values, and a second inline copy is how
    * their span/window semantics would silently diverge. The lead()
    * shingle assembly and every downstream window share one
    * (doc_id, pos) sort partitioning. `riders` carries extra per-doc
    * columns through the stream (q172's source), saving consumers a
    * |positions|-row join back to the corpus. */
  private[operators] def shingleHashStream(docs: DataFrame,
      riders: Seq[String] = Nil): DataFrame = {
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(Seq(col("doc_id")) ++ riders.map(col) :+
        posexplode(wsTokens(col("text"))).as(Seq("pos", "w")): _*)
      .withColumn("w1", lead(col("w"), 1).over(wp))
      .withColumn("w2", lead(col("w"), 2).over(wp))
      .filter(col("w2").isNotNull)
      .select(Seq(col("doc_id"), col("pos"),
        conv(substring(md5(concat_ws(" ", col("w"), col("w1"), col("w2"))), 1, 15),
          16, 10).cast("long").as("h")) ++ riders.map(col): _*)
  }

  /** [[shingleHashStream]] memoized per corpus via
    * [[graft.AnnSubstrate]] (the Dedup.nearDupPairsShared contract):
    * the four registered positional-shingle consumers
    * (q126/q169/q171/q172) tokenize and hash the identical corpus and
    * each used to pay the posexplode + per-doc sort per query (q169 and
    * q171 twice per plan, deduped only by AQE exchange reuse). The
    * `source` rider is ALWAYS baked into the shared frame — it is not
    * derivable from doc_id, q172 needs it join-free, and the other
    * consumers project it away for free.
    *
    * The 100 TB trade, explicit: keyed use MATERIALIZES the positional
    * stream (~16 bytes per token, disk-backed blocks) — the posting
    * stream a production passage-dedup system persists anyway, amortized
    * here across four sibling queries; unkeyed use keeps the
    * declarative one-shot shape where the duplicate subtree dedupes via
    * AQE exchange reuse instead (PlanSpec pins both regimes). */
  private def shingleHashStreamShared(docs: DataFrame,
      corpusKey: Option[String]): DataFrame =
    corpusKey match {
      case Some(ck) => graft.AnnSubstrate.getOrBuildFrames(docs.sparkSession,
        s"shinglestream|$ck")(
          shingleHashStream(docs, riders = Seq("source"))
            .localCheckpoint(true))(Seq(_))
      case None => shingleHashStream(docs)
    }

  /** Winnowing window minima (q126 core): one row per complete 4-shingle
    * window — (doc_id, pos, wmin) where wmin is the min 60-bit md5-derived
    * hash of the word-3-gram shingles in the window. All three window
    * functions share one (doc_id, pos) sort, so the whole stream is a
    * single sort-shuffle of 8-byte hashes. */
  def winnowedMins(docs: DataFrame,
      corpusKey: Option[String] = None): DataFrame = {
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    shingleHashStreamShared(docs, corpusKey)
      .select(col("doc_id"), col("pos"), col("h"))
      .withColumn("wmin", min(col("h")).over(wp.rowsBetween(0, 3)))
      .withColumn("tail3", lead(col("h"), 3).over(wp))
  }

  /** q169: the cross-document repeated-passage CUT LIST — per document,
    * the maximal token intervals covered by word-3-gram shingles that
    * occur in at least `dfMin` DISTINCT documents. q106/q110 cut a
    * curated phrase blacklist and q100 measures INTRA-doc repetition;
    * this is the remaining granularity a substring-level dedup pass
    * (the Lee et al. 2022 recipe, approximated at shingle resolution)
    * actually executes on: "these exact token ranges also appear
    * elsewhere — cut them, keep the rest of the document". Spans merge
    * whenever their 3-token windows touch or overlap (next start −
    * prev start ≤ 3), so each output row is one contiguous cut.
    *
    * Determinism: positions and counts are exact integers; the shingle
    * hash is the family's md5-60-bit convention ([[shingleHashStream]]
    * — VALUES agree bit-exactly cross-engine, so df thresholds and
    * span boundaries cannot drift). A null lag (each doc's first
    * repeated position) falls to the otherwise(1) branch on both
    * engines — NULL ≤ 3 is NULL, not true.
    *
    * Scale: strictly linear, no pairwise stage anywhere — ONE
    * (doc_id, pos) sort shared by shingle assembly and the island
    * windows, one 8-byte-hash df aggregate (map-side combined), one
    * membership semi-join of positions against the df-qualified hash
    * set (never doc×doc), and a (doc_id, island)-key aggregate that
    * rides the doc partitioning. At 100 TB each stage is an
    * embarrassingly parallel shuffle on 8-byte keys; the df table is
    * shingle-vocabulary-sized and prunes to qualifying hashes before
    * the join. */
  /** The df-qualified repeated shingle START positions — (doc_id, pos)
    * where the word-3-gram at pos occurs in at least `dfMin` DISTINCT
    * documents. The shared detection core of the cut-list REPORT
    * (q169, [[repeatedPassages]]) and the cut APPLICATION (q171,
    * [[passageCutApply]]) — one definition of "repeated here", so the
    * report can never disagree with the transform it describes. The
    * two shingle-stream consumers (df aggregate + membership probe)
    * dedupe to one corpus tokenization via AQE exchange reuse
    * (PlanSpec pins it). */
  private[operators] def repeatedPositions(docs: DataFrame, dfMin: Int,
      corpusKey: Option[String] = None): DataFrame = {
    val sh = shingleHashStreamShared(docs, corpusKey)
      .select(col("doc_id"), col("pos"), col("h"))
    val hot = sh.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= dfMin)
      .select(col("h"))
    sh.join(hot, Seq("h"), "left_semi").select(col("doc_id"), col("pos"))
  }

  /** Islands merge of covered 3-gram START positions (doc_id, pos) into
    * maximal token spans — ONE definition of the q169 merge rule
    * (starts ≤ 3 apart means the 3-token windows touch or overlap, so
    * the union is one contiguous cut), shared by the batch cut list
    * (q169/q171) and the streaming arrival read
    * ([[graft.streaming.CorpusStateStream.arrivalCutList]]). Both
    * windows and the closing aggregate ride one (doc_id) partitioning. */
  private[graft] def mergeCoveredSpans(rep: DataFrame): DataFrame = {
    val wp = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = rep
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wp) <= 3, 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(wp))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("bigint").as("span_start"),
        (max(col("pos")) + 2).cast("bigint").as("span_end"),
        count(lit(1)).cast("bigint").as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"),
        col("n_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  def repeatedPassages(docs: DataFrame, dfMin: Int = 2,
      corpusKey: Option[String] = None): DataFrame =
    mergeCoveredSpans(repeatedPositions(docs, dfMin, corpusKey))

  /** q172: the source-pair rollup of the q169 cut list — for every
    * source pair (s1 ≤ s2), how many DISTINCT word-3-gram shingles the
    * two share; the DIAGONAL counts shingles repeated across ≥ 2
    * distinct documents of the SAME source (intra-source boilerplate).
    * Positioning in the family: q96 reports the cross-source
    * set-overlap COEFFICIENT (off-diagonal only — within-source
    * repetition is invisible to its per-source distinct sets by
    * construction) and q141 the document-level near-dup matrix; q172's
    * deltas are the intra-source diagonal — the cell a scraper-template
    * audit reads first — and the q169 hash convention (the positional
    * md5-60-bit stream), so its cells reconcile exactly with the cut
    * list they roll up.
    *
    * Scale: one shingle stream with source as a rider (no corpus
    * re-join), one (h, source)-key distinct-doc aggregate, then a
    * self-join on the 8-byte hash whose per-hash fanout is bounded by
    * |sources|² — never doc×doc — into a ≤ |sources|²-cell aggregate.
    * Determinism: counts of exact hash matches; the md5-60-bit shingle
    * convention makes the shared-shingle sets bit-identical
    * cross-engine. */
  def crossSourcePassages(docs: DataFrame,
      corpusKey: Option[String] = None): DataFrame = {
    // unkeyed builds must request the source rider themselves — the
    // shared substrate always bakes it in, a fresh stream does not
    val stream = corpusKey match {
      case Some(_) => shingleHashStreamShared(docs, corpusKey)
      case None => shingleHashStream(docs, riders = Seq("source"))
    }
    val hsrc = stream
      .groupBy(col("h"), col("source"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val a = hsrc.select(col("h"), col("source").as("s1"), col("nd").as("nd1"))
    val b = hsrc.select(col("h").as("hb"), col("source").as("s2"))
    a.join(b, col("h") === col("hb") &&
        (col("s1") < col("s2") || (col("s1") === col("s2") && col("nd1") >= 2)))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).cast("bigint").as("n_shared_shingles"))
      .select(col("s1"), col("s2"), col("n_shared_shingles"),
        (col("s1") =!= col("s2")).as("cross_source"))
      .orderBy(col("s1"), col("s2"))
  }

  /** The longest consecutive same-token run of a token array, as ONE
    * in-row higher-order fold: carry (prev token, current run, max run)
    * through a single pass — no posexplode, no per-token shuffle, no
    * window sort. The initial prev is NULL, so the first token (and the
    * empty-text single "" token) opens a run of 1 via null-comparison
    * semantics (NULL === x is NULL → otherwise-branch).
    *
    * SEMANTIC PIN ONLY: the registered q178 runs the compiled
    * [[graft.expressions.MaxTokenRun]] (one eval per row, no per-element
    * interpreted tree, none of this fold's 7.4 s cold codegen compile);
    * RepetitionRunsSpec proves compiled == fold == islands. */
  private[operators] def maxRunCol(toks: Column): Column =
    aggregate(toks,
      struct(lit(null).cast("string").as("prev"), lit(0).as("cur"),
        lit(0).as("mx")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("cur") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("cur"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))

  /** The gaps-and-islands formulation of the same statistic (pos minus
    * per-token row_number — the oracle's shape), kept as the spec twin
    * that pins [[maxRunCol]]'s fold semantics; it costs a |tokens|-row
    * sort per doc, which is exactly why the registered query uses the
    * fold. */
  private[operators] def maxRunIslands(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
      posexplode(wsTokens(col("text"))).as(Seq("pos", "w")))
    val grp = tok.withColumn("grp", col("pos") -
      row_number().over(Window.partitionBy(col("doc_id"), col("w"))
        .orderBy(col("pos"))))
    grp.groupBy(col("doc_id"), col("w"), col("grp"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(max(col("run_len")).cast("int").as("max_run"))
  }

  /** q178: the degenerate-repetition audit — per source, documents
    * whose longest same-token run reaches 3, their share, the worst
    * run, and the mean max-run. See the registration text for the
    * curation rationale; the engine-side max-run is the compiled
    * [[graft.expressions.MaxTokenRun]] (zero shuffle, one eval per
    * row; [[maxRunCol]] and [[maxRunIslands]] are its semantic pins). */
  def repetitionRuns(docs: DataFrame, flagAt: Int = 3): DataFrame =
    docs.select(col("source"),
        graft.expressions.MaxTokenRun(col("text")).as("max_run"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        coalesce(sum((col("max_run") >= flagAt).cast("long")), lit(0L))
          .cast("bigint").as("n_flagged"),
        max(col("max_run")).cast("bigint").as("max_run"),
        sum(col("max_run")).as("_smr"))
      .select(col("source"), col("n_docs"), col("n_flagged"),
        (col("n_flagged").cast("double") / col("n_docs").cast("double"))
          .as("flag_share"),
        col("max_run"),
        (col("_smr").cast("double") / col("n_docs").cast("double"))
          .as("mean_max_run"))
      .orderBy(col("source"))

  /** q171: APPLY the q169 cut list — the dedup transform itself, not
    * its report: every token covered by a cross-document-repeated
    * word-3-gram (the shingle's three positions, [[repeatedPositions]]
    * verbatim) is cut, the survivors are reassembled in order, and each
    * document is emitted with its before/after accounting and the md5
    * fingerprint of its cleaned text (the bounded stand-in for the
    * rewritten corpus — production writes the kept tokens themselves;
    * the fingerprint keeps the oracle row small while still pinning the
    * VALUE of the reassembled text, not just its length). Every
    * document appears exactly once, including unshingleable (< 3
    * token) and untouched ones (n_cut = 0, clean_fp = the full text's
    * token fingerprint) and fully-covered ones (n_kept = 0, clean_fp =
    * md5 of the empty string on both engines).
    *
    * Scale: linear end to end — coverage is |repeated starts|×3
    * exploded then deduped on (doc_id, pos), the cut decision is ONE
    * left join of the token stream against it on the composite 12-byte
    * key (never a per-doc range probe), and reassembly is one
    * (doc_id)-key aggregate whose collect_list is the document itself —
    * the inherent cost of a transform whose OUTPUT is the document. */
  def passageCutApply(docs: DataFrame, dfMin: Int = 2,
      corpusKey: Option[String] = None): DataFrame = {
    val cov = repeatedPositions(docs, dfMin, corpusKey)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + 2)).as("pos"))
      .distinct()
      .withColumn("c", lit(1))
    val toks = docs
      .select(col("doc_id"), posexplode(wsTokens(col("text"))).as(Seq("pos", "w")))
    toks.join(cov, Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_tokens"),
        count(col("c")).cast("bigint").as("n_cut"),
        (count(lit(1)) - count(col("c"))).cast("bigint").as("n_kept"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(CASE WHEN c IS NULL " +
            "THEN struct(pos, w) END)), s -> s.w)"))).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc winnowing fingerprint SET — the thing a fingerprint index
    * stores; the spec's overlap-guarantee check reads these values. */
  def winnowingFingerprints(docs: DataFrame,
      corpusKey: Option[String] = None): DataFrame =
    winnowedMins(docs, corpusKey).filter(col("tail3").isNotNull)
      .select(col("doc_id"), col("wmin").as("fp")).distinct()

  /** q126's report: per-doc shingle/window/fingerprint counts + density. */
  def winnowingStats(docs: DataFrame,
      corpusKey: Option[String] = None): DataFrame =
    winnowedMins(docs, corpusKey).groupBy(col("doc_id"))
      .agg(count(col("h")).cast("bigint").as("n_shingles"),
        sum(when(col("tail3").isNotNull, 1L).otherwise(0L)).cast("bigint")
          .as("n_windows"),
        countDistinct(when(col("tail3").isNotNull, col("wmin")))
          .cast("bigint").as("n_fingerprints"))
      .filter(col("n_windows") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_windows"),
        col("n_fingerprints"),
        (col("n_fingerprints").cast("double") / col("n_windows").cast("double"))
          .as("density"))

  /** q163: the curriculum grid — corpus mass binned by quality tier
    * (how many q105 gate flags a document trips, 0..4) × length bucket
    * (fixed integer thresholds: <32 / <128 / <512 / rest whitespace
    * tokens). This is the table a curriculum or mixture schedule is
    * built FROM: "start on clean short documents, phase in long-tail"
    * needs exactly this occupancy grid, and the same two axes drive
    * packing efficiency (q145) and gate tuning (q105). Flags reuse
    * [[gateFlags]] verbatim — one source of truth with the gate and the
    * q127 lift monitor; its `nt` rider supplies the token count, so the
    * whole grid is ONE corpus scan (no second tokenizing scan, no doc_id
    * re-join). Length buckets are integer comparisons, never
    * floor(log(n)) (a power-of-two boundary value could round across
    * engines). Every document lands in exactly one cell, so the
    * token-share divisor is the grid's own token sum — a window over the
    * ≤ 5×4 aggregated rows, not a second pass over the corpus. */
  def curriculumGrid(docs: DataFrame): DataFrame = {
    val nf = (col("f_short").cast("int") + col("f_low_ttr").cast("int")
      + col("f_bad_len").cast("int") + col("f_dup").cast("int")).as("n_flags")
    val bucket = when(col("nt") < 32, "xs").when(col("nt") < 128, "s")
      .when(col("nt") < 512, "m").otherwise("l")
    val g = gateFlags(docs)
      .select(nf, bucket.as("len_bucket"), col("nt"))
      .groupBy(col("n_flags"), col("len_bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("nt")).cast("bigint").as("tokens"))
    g.select(col("n_flags"), col("len_bucket"), col("n_docs"), col("tokens"),
        (col("tokens").cast("double") /
          sum(col("tokens")).over(Window.partitionBy()).cast("double"))
          .as("token_share"))
      .orderBy(col("n_flags"), col("len_bucket"))
  }

  /** The [[graft.AnnSubstrate]] memo key for the registered corpus —
    * explicit path identity, the Similarity.embKey convention. */
  private def docKey(d: String): Option[String] = Some(s"$d/documents.parquet")

  val queries: Seq[Q] = Seq(

    Q("q28_token_stats",
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
         |  len(regexp_extract_all(lower(text), '$TokenPattern')) AS re_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
      "Token counting: whitespace tokens + BPE-ish regex tokens per document — pure Project, no shuffle.") {
      (s, d) =>
        Tables.documents(s, d).select(col("doc_id"),
            size(wsTokens(col("text"))).as("ws_tokens"),
            size(regexTokens(col("text"))).as("re_tokens"))
          .orderBy(col("doc_id"))
    },

    Q("q29_text_quality",
      s"""SELECT source, count(*) AS n_docs,
         |  ${sql.davg("len(regexp_extract_all(lower(text), '\\b(the|a|is|of|and|to|in)\\b'))" +
             " * 1.0 / len(string_split_regex(trim(text), '\\s+'))")} AS avg_stop_ratio,
         |  ${sql.davg("CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)" +
             " / len(string_split_regex(trim(text), '\\s+'))")} AS avg_ttr,
         |  ${sql.davg("CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)" +
             " / len(string_split_regex(trim(text), '\\s+'))")} AS avg_tok_len
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      "Quality scoring per source: stopword ratio, type-token ratio, mean token length — the reference signals for corpus filtering.") {
      (s, d) =>
        val ws = wsTokens(col("text"))
        val stopRatio = hitCount(col("text"), LangProfiles.head._2) * lit(1.0d) / size(ws)
        val ttr = size(array_distinct(ws)).cast("double") / size(ws)
        val tokLen = length(regexp_replace(col("text"), "\\s+", "")).cast("double") / size(ws)
        Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            graft.functions.DetAgg.davg(stopRatio).as("avg_stop_ratio"),
            graft.functions.DetAgg.davg(ttr).as("avg_ttr"),
            graft.functions.DetAgg.davg(tokLen).as("avg_tok_len"))
          .orderBy(col("source"))
    },

    Q("q30_lang_id",
      """SELECT predicted_lang, count(*) AS n_docs FROM (
        |  SELECT CASE
        |    WHEN cjk > 0 THEN 'zh'
        |    WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |    WHEN es >= de AND es >= fr THEN 'es'
        |    WHEN de >= fr THEN 'de'
        |    ELSE 'fr' END AS predicted_lang
        |  FROM (SELECT
        |    len(regexp_extract_all(text, '[一-鿿]')) AS cjk,
        |    len(regexp_extract_all(lower(text), '\b(the|a|is|of|and|to|in)\b')) AS en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los)\b')) AS es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS de,
        |    len(regexp_extract_all(lower(text), '\b(le|les|des|et|une|dans)\b')) AS fr
        |  FROM documents))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      "Heuristic language-ID (stopword profiles + CJK detection), folded left with fixed tie priority en>es>de>fr.") {
      (s, d) =>
        Tables.documents(s, d)
          .select(langId(col("text")).as("predicted_lang"))
          .groupBy(col("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("predicted_lang"))
    },

    Q("q159_langid_confusion",
      """WITH p AS (
        |  SELECT lang, CASE
        |    WHEN cjk > 0 THEN 'zh'
        |    WHEN en >= es AND en >= de AND en >= fr THEN 'en'
        |    WHEN es >= de AND es >= fr THEN 'es'
        |    WHEN de >= fr THEN 'de'
        |    ELSE 'fr' END AS predicted_lang
        |  FROM (SELECT lang,
        |    len(regexp_extract_all(text, '[一-鿿]')) AS cjk,
        |    len(regexp_extract_all(lower(text), '\b(the|a|is|of|and|to|in)\b')) AS en,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los)\b')) AS es,
        |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS de,
        |    len(regexp_extract_all(lower(text), '\b(le|les|des|et|une|dans)\b')) AS fr
        |  FROM documents)),
        |t AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_total
        |      FROM p GROUP BY lang)
        |SELECT p.lang, p.predicted_lang,
        |  CAST(count(*) AS BIGINT) AS n_docs, t.lang_total,
        |  CAST(count(*) AS DOUBLE) / CAST(t.lang_total AS DOUBLE) AS share,
        |  p.lang = p.predicted_lang AS correct
        |FROM p JOIN t USING (lang)
        |GROUP BY p.lang, p.predicted_lang, t.lang_total
        |ORDER BY p.lang, p.predicted_lang""".stripMargin,
      "Language-ID confusion matrix — the EVALUATION of q30's stopword-profile classifier against the corpus's lang labels, which q30's prediction-count table cannot express (it shows marginals; errors hide when over- and under-prediction cancel): per (actual, predicted) cell the count, the actual-class total, the within-class share (row-normalized recall decomposition), and the correct flag. The table a curator reads before trusting the classifier to route a new crawl — the off-diagonal cells name WHICH confusions happen (Romance-language stopword overlap is the classic one) and the diagonal shares are per-class recall. Exactly the q30 predictor (same CASE fold, same profiles — one definition, so the eval cannot drift from the classifier it scores); counts exact integers from ONE map-side-combined |langs|²-bounded corpus aggregate, per-class totals folded from that tiny cell frame by a window (no second scan, no join); shares one IEEE division each. Both outcomes of the correct flag are exercised at every SF — and at verify scale the matrix surfaces a total collapse: every document predicts 'en' (accuracy 218/500), because the synthetic corpus's lang column is metadata-only (the texts carry English-like tokens regardless of label). That degenerate row IS the eval's point: q30's marginal table shows a plausible-looking count while the confusion matrix proves the classifier is inert on this corpus — the exact failure a curator needs surfaced before routing a crawl with it.") {
      (s, d) =>
        // one corpus pass: per-class totals fold from the tiny |langs|²
        // cell frame (window over cells), never a second scan + join
        Tables.documents(s, d)
          .select(col("lang"), langId(col("text")).as("predicted_lang"))
          .groupBy(col("lang"), col("predicted_lang"))
          .agg(count(lit(1)).cast("bigint").as("n_docs"))
          .withColumn("lang_total",
            sum(col("n_docs")).over(Window.partitionBy(col("lang")))
              .cast("bigint"))
          .select(col("lang"), col("predicted_lang"), col("n_docs"),
            col("lang_total"),
            (col("n_docs").cast("double") / col("lang_total").cast("double"))
              .as("share"),
            (col("lang") === col("predicted_lang")).as("correct"))
          .orderBy(col("lang"), col("predicted_lang"))
    },

    Q("q31_rolling_fingerprint",
      """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  doc_id
        |FROM documents ORDER BY doc_id""".stripMargin,
      "Content fingerprint: MD5 of normalized text (engine-independent); the rolling xxhash64 variant is covered rows-only in q35.") {
      (s, d) =>
        Tables.documents(s, d)
          .select(fingerprint(col("text")).as("fp"), col("doc_id"))
          .orderBy(col("doc_id"))
    },

    Q("q35_simhash_rolling",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents),
        |th AS (
        |  SELECT doc_id, substring(md5(w), 1, 16) AS hx FROM tok),
        |nib AS (
        |  SELECT doc_id, p.p AS p, CAST('0x' || substring(hx, p.p, 1) AS INTEGER) AS v
        |  FROM th CROSS JOIN (SELECT unnest(range(1, 17)) AS p) p),
        |votes AS (
        |  SELECT doc_id, p, b.b AS b,
        |    sum(CASE WHEN (v >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM nib CROSS JOIN (SELECT unnest(range(4)) AS b) b
        |  GROUP BY doc_id, p, b.b),
        |nibs AS (
        |  SELECT doc_id, p, CAST(sum(CASE WHEN vote > 0 THEN 1 << b ELSE 0 END) AS INTEGER) AS nv
        |  FROM votes GROUP BY doc_id, p),
        |sig AS (
        |  SELECT doc_id, string_agg(substring('0123456789abcdef', nv + 1, 1), '' ORDER BY p) AS simhash_hex
        |  FROM nibs GROUP BY doc_id),
        |roll AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split_regex(trim(text), '\s+'),
        |        w -> CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 1000000007)),
        |      (acc, h) -> (acc * 31 + h) % 1000000007) AS rolling_hash
        |  FROM documents)
        |SELECT s.doc_id, s.simhash_hex, r.rolling_hash
        |FROM sig s JOIN roll r ON s.doc_id = r.doc_id
        |ORDER BY s.doc_id""".stripMargin,
      "SimHash-64 signatures + Karp-Rabin rolling hash per document over md5-derived token hashes — fully deterministic, so unlike true sketches this 'signature' query carries an exact value-hash oracle. The DuckDB twin re-derives the 64 majority votes nibble-wise from the md5 hex; Spark computes them in the single-pass codegen'd SimHash64 expression (one tight loop per row — the twin's 64-way unnest×unnest shape is the oracle, not the plan). The production variant (graft.functions.TextFunctions.simhash64/rollingHash) swaps md5 for the faster xxhash64; bit-equality of the expression machinery is pinned in ExpressionsSpec.") {
      (s, d) =>
        Tables.documents(s, d)
          // hash each token ONCE; both signatures derive from the shared
          // 64-bit hash array (HOF lambdas get no subexpression elimination)
          .withColumn("_th", graft.expressions.Md5TokenHash64.words(col("text")))
          .select(col("doc_id"),
            simhashHexFromHashes(col("_th")).as("simhash_hex"),
            rollingFromHashes(col("_th")).as("rolling_hash"))
          .orderBy(col("doc_id"))
    },

    Q("q62_tfidf_top_terms",
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |stats AS (
        |  SELECT term, count(*) AS tot_tf, count(DISTINCT doc_id) AS df
        |  FROM terms GROUP BY term),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT term, tot_tf, df,
        |  round(tot_tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |FROM stats, n
        |ORDER BY tfidf DESC, term LIMIT 25""".stripMargin,
      "Corpus-level TF-IDF: explode→count gives term frequency and document frequency in two shuffles (both map-side combined); the one-row corpus count broadcasts onto term stats. Determinism: the double appears only in the FINAL per-term product (integer tf × one log), never inside a distributed sum.") {
      (s, d) =>
        val docs = Tables.documents(s, d)
        val terms = docs.select(col("doc_id"),
          explode(wsTokens(lower(col("text")))).as("term"))
        val stats = terms.groupBy(col("term"))
          .agg(count(lit(1)).as("tot_tf"), countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
        stats.crossJoin(broadcast(n))
          .select(col("term"), col("tot_tf"), col("df"),
            round(col("tot_tf") * log(col("n_docs").cast("double") / col("df")), 6)
              .as("tfidf"))
          .orderBy(col("tfidf").desc, col("term")).limit(25)
    },

    Q("q79_repetition_filter",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(max(c) AS BIGINT) AS max_tf, CAST(count(*) AS BIGINT) AS n_distinct
        |  FROM tf GROUP BY doc_id)
        |SELECT doc_id, n_tokens, max_tf,
        |  max_tf * 1.0 / n_tokens AS max_tf_ratio,
        |  n_distinct * 1.0 / n_tokens AS distinct_ratio,
        |  (max_tf * 1.0 / n_tokens > CAST(0.1 AS DOUBLE)
        |    OR n_distinct * 1.0 / n_tokens < CAST(0.2 AS DOUBLE)) AS repetitive
        |FROM agg ORDER BY doc_id""".stripMargin,
      "Per-document repetition filter (the Gopher-rule family of corpus quality cuts): dominant-term ratio and type-token ratio per doc, with a boolean `repetitive` verdict (max_tf/n > 0.1 OR distinct/n < 0.2). Both ratios are small-integer divisions — exact identical doubles in both engines, so even the boolean cut is oracle-stable (threshold literals CAST AS DOUBLE to dodge DuckDB's decimal-literal comparison). Scale: explode + two map-side-combined shuffles keyed by (doc, term) then doc; no collection, no window.") {
      (s, d) =>
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(wsTokens(lower(col("text")))).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        tf.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("max_tf"),
            count(lit(1)).as("n_distinct"))
          .select(col("doc_id"), col("n_tokens"), col("max_tf"),
            (col("max_tf") * lit(1.0d) / col("n_tokens")).as("max_tf_ratio"),
            (col("n_distinct") * lit(1.0d) / col("n_tokens")).as("distinct_ratio"),
            (col("max_tf") * lit(1.0d) / col("n_tokens") > 0.1d ||
              col("n_distinct") * lit(1.0d) / col("n_tokens") < 0.2d)
              .as("repetitive"))
          .orderBy(col("doc_id"))
    },

    Q("q100_dup_ngram_fraction",
      """SELECT doc_id,
        |  CAST(len(sh) AS BIGINT) AS n_shingles,
        |  CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS n_dup,
        |  CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
        |    / CAST(len(sh) AS DOUBLE) AS dup_fraction
        |FROM (SELECT doc_id,
        |        [array_to_string(toks[i:i+2], ' ')
        |         for i in generate_series(1, len(toks)-2)] AS sh
        |      FROM (SELECT doc_id,
        |              string_split_regex(
        |                regexp_replace(text, '^\s+|\s+$', '', 'g'),
        |                '\s+') AS toks FROM documents))
        |WHERE len(sh) > 0 ORDER BY doc_id""".stripMargin,
      "Within-document duplicated word-3-gram fraction — the Gopher-family structural-repetition cut q79's unigram ratios cannot see (a doc that loops whole PHRASES has normal term frequencies but a high duplicate-shingle share; the corpus-level complement of q85's cross-doc chunk dedup). A PURE PROJECTION — zero body shuffles, one scan; per-doc cost bounded by text length, embarrassingly parallel at 100 TB. The distinct-shingle count comes from the compiled ShingleHash64 expression (one virtual call per ROW, the tokenize/window/hash/dedup loop as compiled Scala): the composable transform/array_distinct formulations were measured at 3.3 s (string shingles) and 6.0 s (per-element xxhash64) at sf0.1 because higher-order lambdas evaluate INTERPRETED per element — this shape runs ~0.5 s. Distinctness is over 64-bit hashes (2^-64 per-pair collision, the family-wide trade, q96 note). The fraction is a small-integer division cast to double, IEEE-identical cross-engine. 3-grams because the synthetic corpus exercises them (27/500 docs non-zero at sf0.01; 5-grams are all-zero — the q99 unexercised-path lesson).") {
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            // ONE tokenization on all three legs, matching ShingleHash64's
            // Java trim + "\\s+" split: a single-space split disagrees on
            // irregular whitespace, and SQL trim strips only SPACES — a
            // tab/newline-edged text would leave a leading empty token
            // and report phantom duplicates — so the trim is a regex
            // strip of \s on both engine and oracle sides (residual gap:
            // Java trim also eats non-\s control chars ≤ U+0020 — not a
            // token boundary any real corpus uses) (review catches, r7)
            (size(split(regexp_replace(col("text"), "^\\s+|\\s+$", ""), "\\s+")) - 2)
              .cast("bigint").as("n_shingles"),
            size(graft.expressions.ShingleHash64(col("text"), 3)).cast("bigint")
              .as("n_distinct"))
          .filter(col("n_shingles") > 0)
          .select(col("doc_id"), col("n_shingles"),
            (col("n_shingles") - col("n_distinct")).as("n_dup"),
            ((col("n_shingles") - col("n_distinct")).cast("double")
              / col("n_shingles").cast("double")).as("dup_fraction"))
          .orderBy(col("doc_id"))
    },

    Q("q101_top_bigram_share",
      """WITH toks AS (SELECT doc_id,
        |         string_split_regex(
        |           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
        |       FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest([array_to_string(t[i:i+1], ' ')
        |                 for i in generate_series(1, len(t)-1)]) AS b
        |       FROM toks WHERE len(t) >= 2),
        |cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(max(c) AS BIGINT) AS top_count,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_share
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "Most-frequent word-bigram share per document — the 2-gram member of the Gopher top-n-gram cuts (q79 covers the unigram dominant term; a doc that alternates two words has max_tf 0.5 but top-bigram share ~1.0). Bigrams are positional 64-bit hashes from the COMPILED ShingleHash64.all pass — at sf0.1 this measures ~parity with the interpreted transform (the explode+shuffle dominates at these doc lengths), but it shares ONE tokenizer definition with q100 and the dedup family (regex-trim split — the interpreted form had silently used a bare single-space split), keeps the scan stage flat as text length grows, and ships 8-byte hashes instead of bigram strings into the shuffle (the family-wide 2^-64 collision trade, q96 note). One explode feeds two map-side-combined aggregations keyed (doc, hash) then doc: the q79 plan shape; no self-join, no lag window (that would sort-shuffle every token). Share is exact small-int division, stable cross-engine. 349/500 sf0.01 docs have a repeated bigram, so the max path is well exercised.") {
      (s, d) =>
        val bg = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(graft.expressions.ShingleHash64.all(col("text"), 2)).as("b"))
        bg.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_count"))
          .select(col("doc_id"), col("n_bigrams"), col("top_count"),
            (col("top_count").cast("double") / col("n_bigrams").cast("double"))
              .as("top_share"))
          .orderBy(col("doc_id"))
    },

    Q("q83_vocab_coverage",
      """WITH terms AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS term FROM documents),
        |freq AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
        |tot AS (SELECT count(*) AS n FROM terms),
        |top AS (SELECT term, cnt FROM freq ORDER BY cnt DESC, term LIMIT 1000),
        |ranked AS (
        |  SELECT term, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM top)
        |SELECT rank, term, CAST(cnt AS BIGINT) AS cnt,
        |  cum * 1.0 / n AS coverage
        |FROM ranked, tot WHERE rank <= 30 ORDER BY rank""".stripMargin,
      "Vocabulary coverage curve for tokenizer budgeting: rank terms by corpus frequency and report each rank's cumulative token coverage — the curve that answers 'how big a vocab covers X% of the corpus'. Scale discipline: the corpus-wide term counts are a map-side-combined shuffle; the global ORDER is taken only AFTER a distributed top-k (limit 1000) shrinks the frame, so the single-partition running-sum window touches a bounded row count, never the vocabulary (the same bounded-window trick as q75's buckets). Coverage is integer/integer — exact cross-engine.") {
      (s, d) =>
        val terms = Tables.documents(s, d)
          .select(explode(wsTokens(lower(col("text")))).as("term"))
        val freq = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        val tot = terms.agg(count(lit(1)).as("n"))
        val top = freq.orderBy(col("cnt").desc, col("term")).limit(1000)
        val w = Window.orderBy(col("cnt").desc, col("term"))
        val ranked = top
          .withColumn("rank", row_number().over(w).cast("bigint"))
          .withColumn("cum", sum(col("cnt")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        ranked.crossJoin(broadcast(tot))
          .filter(col("rank") <= 30)
          .select(col("rank"), col("term"), col("cnt"),
            (col("cum") * lit(1.0d) / col("n")).as("coverage"))
          .orderBy(col("rank"))
    },

    Q("q103_unigram_lm_score", q103OracleSql,
      "Per-document unigram language-model score (average negative log-likelihood of the doc's tokens under the corpus unigram distribution) — the CCNet-family quality/outlier signal: common-word documents score low, documents of rare tokens score high, and at production scale the same shape runs against a REFERENCE corpus LM to rank a new crawl (swap `vocab` for the reference table). Determinism is the q89 playbook: ln runs once per TERM (not per token) and is immediately quantized to integer micro-nats (floor — DuckDB's double→int cast rounds where Spark truncates), so every distributed sum (c, c·lnq) is an exact integer sum; avg_nll = ln(T) − Σ c·ln(cnt)/n is then one identical IEEE expression per row on identical inputs. Scale: explode → map-side-combined (doc,term) counts; the vocab table derives from those counts (second shuffle at |vocab|, not |tokens|); the score join ships 8-byte counts keyed by term, never text; ln cost is |vocab|, not |corpus|. The corpus-total is a one-row broadcast. The rare-token path is exercised: the synthetic corpus's 'dup' token (26/27165 occurrences at sf0.01) scores ~3.5 nats above the common words.") {
      (s, d) =>
        unigramNll(Tables.documents(s, d))
          .select(col("doc_id"), col("n_tokens"), col("avg_nll"))
          .orderBy(col("doc_id"))
    },

    Q("q109_lm_score_calibration",
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |dt AS (SELECT doc_id, source, w, count(*) AS c
        |       FROM tok GROUP BY doc_id, source, w),
        |vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cnt FROM dt GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
        |v2 AS (SELECT w,
        |         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS lnq
        |       FROM vocab),
        |s AS (SELECT d.doc_id, d.source, CAST(sum(d.c) AS BIGINT) AS n_tokens,
        |        CAST(sum(d.c * v.lnq) AS BIGINT) AS slnq
        |      FROM dt d JOIN v2 v USING (w) GROUP BY d.doc_id, d.source),
        |p AS (SELECT source,
        |        CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |          - (slnq * 1e-6) / n_tokens AS avg_nll
        |      FROM s, tot)
        |SELECT source, count(*) AS n_docs,
        |  round(quantile_cont(avg_nll, 0.25), 6) AS p25_nll,
        |  round(quantile_cont(avg_nll, 0.5), 6) AS p50_nll,
        |  round(quantile_cont(avg_nll, 0.75), 6) AS p75_nll,
        |  round(quantile_cont(avg_nll, 0.9), 6) AS p90_nll
        |FROM p GROUP BY source ORDER BY source""".stripMargin,
      "LM-score calibration table — how the q103 signal becomes a FILTER: per-source quantiles of the per-document unigram negative log-likelihood (the CCNet recipe buckets a crawl into head/middle/tail by exactly such per-slice perplexity cut points; a curator reads this table to set the threshold the gate applies, and a source whose p90 runs far above its p50 is outlier-heavy). The per-doc score is the SAME `unigramNll` definition q103 registers — one code path, so the calibration can never drift from the score it calibrates. Quantiles are exact interpolated percentiles over each source's per-doc doubles (Spark `percentile` == DuckDB `quantile_cont`, the q50 equivalence; round-6 absorbs interpolation-arithmetic ulps; the inputs themselves are deterministic by q103's integer micro-nat construction). Scale: everything up to the per-doc score is q103's plan (map-side-combined shuffles at |vocab| and |docs| keys); the quantile buffer then holds ONE DOUBLE PER DOCUMENT per source — the q50 full-buffer caveat applies per source slice, and q75's mergeable histogram is the in-repo swap-in once a single source exceeds executor memory.") {
      (s, d) =>
        unigramNll(Tables.documents(s, d))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            expr("percentile(avg_nll, array(0.25, 0.5, 0.75, 0.9))").as("_p"))
          .select(col("source"), col("n_docs"),
            round(col("_p").getItem(0), 6).as("p25_nll"),
            round(col("_p").getItem(1), 6).as("p50_nll"),
            round(col("_p").getItem(2), 6).as("p75_nll"),
            round(col("_p").getItem(3), 6).as("p90_nll"))
          .orderBy(col("source"))
    },

    Q("q104_zipf_slope",
      s"""WITH tok AS (
         |  SELECT source, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |  FROM documents),
         |tf AS (SELECT source, w, count(*) AS cnt FROM tok GROUP BY source, w),
         |ranked AS (
         |  SELECT source, cnt,
         |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, w) AS rank
         |  FROM tf),
         |pts AS (
         |  SELECT source,
         |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |  FROM ranked WHERE rank <= 100),
         |st AS (
         |  SELECT source, count(*) AS n,
         |    ${sql.dsumD("x")} AS sxr, ${sql.dsumD("y")} AS syr,
         |    ${sql.dsumD("x * y")} AS sxyr, ${sql.dsumD("x * x")} AS sxxr
         |  FROM pts GROUP BY source),
         |c AS (
         |  SELECT source, n, sxr * 1e-6 AS sx, syr * 1e-6 AS sy,
         |    sxyr * 1e-12 AS sxy, sxxr * 1e-12 AS sxx
         |  FROM st)
         |SELECT source, CAST(n AS BIGINT) AS n_terms,
         |  CASE WHEN n > 1 THEN
         |    (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS zipf_slope
         |FROM c ORDER BY source""".stripMargin,
      "Zipf rank-frequency slope per source: OLS fit of ln(term frequency) against ln(rank) over each source's top-100 terms — natural text sits near −1, and a source whose slope drifts toward 0 (uniform synthetic/generated text) or below −2 (boilerplate-dominated) is the corpus-health flag mixture tuning acts on. Exactly the q89 determinism playbook: rank and count are integers, ln is quantized to integer micro-nats per TERM (floor on both engines), the five sufficient statistics are exact decimal sums of integer products (x·y ≤ 1.3e14 — long-exact under ANSI), and the closed-form slope is one identical IEEE expression. Ranking ties break on (cnt DESC, term) — total order, identical binary collation both engines. Scale: term counts are one map-side-combined shuffle at |source|×|vocab|; the rank window sorts VOCABULARY rows (≪ corpus) per source, and only ≤100 quantized points per source reach the stats — the same bounded-frame trick as q83. Sources with one term emit NULL (undefined fit) rather than a 0/0 NaN.") {
      (s, d) =>
        val tf = Tables.documents(s, d)
          .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("w"))
        val pts = tf.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 100)
          .select(col("source"),
            floor(log(col("rank").cast("double")) * lit(1e6d)).cast("bigint").as("x"),
            floor(log(col("cnt").cast("double")) * lit(1e6d)).cast("bigint").as("y"))
        import graft.functions.DetAgg.dsumD
        val st = pts.groupBy(col("source")).agg(count(lit(1)).as("n"),
          dsumD(col("x")).as("sxr"), dsumD(col("y")).as("syr"),
          dsumD(col("x") * col("y")).as("sxyr"),
          dsumD(col("x") * col("x")).as("sxxr"))
        val cv = st.select(col("source"), col("n"),
          (col("sxr") * lit(1e-6d)).as("sx"), (col("syr") * lit(1e-6d)).as("sy"),
          (col("sxyr") * lit(1e-12d)).as("sxy"), (col("sxxr") * lit(1e-12d)).as("sxx"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        cv.select(col("source"), col("n").cast("bigint").as("n_terms"),
            when(col("n") > 1, slope).as("zipf_slope"))
          .orderBy(col("source"))
    },

    Q("q105_quality_gate",
      """WITH g AS (
        |  SELECT source,
        |    len(string_split_regex(trim(text), '\s+')) < 20 AS f_short,
        |    CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')) < CAST(0.32 AS DOUBLE) AS f_low_ttr,
        |    (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |       / len(string_split_regex(trim(text), '\s+')) < CAST(4.0 AS DOUBLE)
        |     OR CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |       / len(string_split_regex(trim(text), '\s+')) > CAST(5.0 AS DOUBLE)) AS f_bad_len,
        |    (len(sh) > 0 AND len(sh) > len(list_distinct(sh))) AS f_dup
        |  FROM (SELECT source, text,
        |          [array_to_string(toks[i:i+2], ' ')
        |           for i in generate_series(1, len(toks)-2)] AS sh
        |        FROM (SELECT source, text,
        |                string_split_regex(
        |                  regexp_replace(text, '^\s+|\s+$', '', 'g'),
        |                  '\s+') AS toks FROM documents)))
        |SELECT source, count(*) AS n_docs,
        |  count(*) FILTER (WHERE f_short) AS n_short,
        |  count(*) FILTER (WHERE f_low_ttr) AS n_low_ttr,
        |  count(*) FILTER (WHERE f_bad_len) AS n_bad_len,
        |  count(*) FILTER (WHERE f_dup) AS n_dup_phrases,
        |  count(*) FILTER (WHERE NOT (f_short OR f_low_ttr OR f_bad_len OR f_dup))
        |    AS n_kept,
        |  CAST(count(*) FILTER (WHERE NOT (f_short OR f_low_ttr OR f_bad_len OR f_dup)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS keep_rate
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
      "The pipeline's actual FILTER STAGE: a composite document quality gate combining four of the engine's signals — too-short (whitespace tokens < 20), low type-token ratio (< 0.32), mean token length outside [4.0, 5.0], and any duplicated word-3-gram (the q100 structural cut via the compiled ShingleHash64 expression) — reported as a per-source keep-rate with per-reason counts, the dashboard row a corpus curator reads before launching a training run. Every signal reuses the family's single tokenizer definition, so gate semantics cannot drift from the diagnostics (q28/q29/q79/q100) that explain them. All four thresholds are exercised at sf0.01 (43/49/13/27 of 500 docs trip respectively). Determinism: flags compare exact small-integer divisions against double-cast literals (the q79 convention — bare decimal literals parse as DECIMAL in DuckDB); counts are integers; keep_rate is one exact IEEE division. Scale: a pure per-document projection (zero body shuffles — the ShingleHash64 loop is compiled per row) into one map-side-combined aggregation at |source| rows; at 100 TB the gate is the same single scan the q102 sharder would fuse with.") {
      (s, d) =>
        val flags = gateFlags(Tables.documents(s, d))
        val kept = !(col("f_short") || col("f_low_ttr") || col("f_bad_len") || col("f_dup"))
        flags.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("f_short").cast("long")).as("n_short"),
            sum(col("f_low_ttr").cast("long")).as("n_low_ttr"),
            sum(col("f_bad_len").cast("long")).as("n_bad_len"),
            sum(col("f_dup").cast("long")).as("n_dup_phrases"),
            sum(kept.cast("long")).as("n_kept"))
          .select(col("source"), col("n_docs"), col("n_short"), col("n_low_ttr"),
            col("n_bad_len"), col("n_dup_phrases"), col("n_kept"),
            (col("n_kept").cast("double") / col("n_docs").cast("double")).as("keep_rate"))
          .orderBy(col("source"))
    },

    Q("q88_length_histogram",
      """WITH b AS (
        |  SELECT lang, CAST(n_chars // 64 AS INT) AS bucket FROM documents),
        |h AS (SELECT lang, bucket, count(*) AS n_docs FROM b GROUP BY lang, bucket)
        |SELECT lang, bucket * 64 AS bucket_lo, n_docs,
        |  CAST(n_docs AS DOUBLE)
        |    / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS share,
        |  CAST(sum(n_docs) OVER (PARTITION BY lang ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE) AS cum_share
        |FROM h ORDER BY lang, bucket_lo""".stripMargin,
      "Corpus length profile per language: 64-char histogram buckets with each bucket's share and cumulative share — the distribution report behind truncation/packing decisions (what fraction of docs fit a context budget). Bucketing is integer division (exact cross-engine); shares divide INTEGER cumulative counts by integer totals, one exact IEEE division each, so no float accumulates across rows. One map-side-combined shuffle to |lang|x|buckets| rows; the windows run over that tiny frame.") {
      (s, d) =>
        val h = Tables.documents(s, d)
          .select(col("lang"), expr("n_chars div 64").cast("int").as("bucket"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"))
        val wl = Window.partitionBy(col("lang"))
        val wc = wl.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        h.select(col("lang"), (col("bucket") * 64).as("bucket_lo"), col("n_docs"),
            (col("n_docs").cast("double") / sum(col("n_docs")).over(wl).cast("double")).as("share"),
            (sum(col("n_docs")).over(wc).cast("double") / sum(col("n_docs")).over(wl).cast("double")).as("cum_share"))
          .orderBy(col("lang"), col("bucket_lo"))
    },

    Q("q122_char_entropy",
      """WITH bg AS (
        |  SELECT source,
        |    unnest([substr(text, i, 2) for i in range(1, length(text))]) AS g
        |  FROM documents),
        |counts AS (SELECT source, g, count(*) AS c FROM bg GROUP BY source, g),
        |ent AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(count(*) AS BIGINT) AS distinct_bigrams,
        |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT)
        |      AS sclnq
        |  FROM counts GROUP BY source)
        |SELECT source, n_bigrams, distinct_bigrams,
        |  CAST(floor(ln(CAST(n_bigrams AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |    - (sclnq * 1e-6) / n_bigrams AS entropy_nats
        |FROM ent ORDER BY source""".stripMargin,
      "Per-source character-bigram Shannon entropy — the compressibility proxy behind the classic 'gzip filter': templated/boilerplate/repetitive text compresses well and scores LOW, natural prose sits in a band, and random bytes score near ln(distinct) — a one-number quality prior per source (per (source, crawl-date) in production) that needs no tokenizer, no language model, and no reference corpus. The algebra is q103's identity H = ln(T) − Σ c·ln(c)/T on exact integer counts: ln runs once per (source, bigram) GROUP (bounded by |sources| × charset², never per character) and is floor-quantized to integer micro-nats, so both distributed sums are exact integers and the final expression is one identical IEEE evaluation per source. Scale: the per-character explode multiplies rows by ~doc length, but partial aggregation collapses it to ≤ charset² rows per task BEFORE the one |source|×|bigram| shuffle — the exchange moves counts, never characters; a second tiny agg folds to |source| rows.") {
      (s, d) =>
        charEntropy(Tables.documents(s, d)).orderBy(col("source"))
    },

    Q("q115_script_composition",
      """WITH per AS (
        |  SELECT source, length(text) AS len,
        |    length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS l,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS dg,
        |    length(text) - length(regexp_replace(text, '[ \t\n\x0b\f\r]', '', 'g')) AS sp,
        |    length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cj
        |  FROM documents),
        |agg AS (
        |  SELECT source, CAST(sum(len) AS BIGINT) AS n_chars,
        |    CAST(sum(l) AS BIGINT) AS l, CAST(sum(dg) AS BIGINT) AS dg,
        |    CAST(sum(sp) AS BIGINT) AS sp, CAST(sum(cj) AS BIGINT) AS cj
        |  FROM per GROUP BY source)
        |SELECT source, n_chars,
        |  CAST(l AS DOUBLE) / n_chars AS letter_frac,
        |  CAST(dg AS DOUBLE) / n_chars AS digit_frac,
        |  CAST(sp AS DOUBLE) / n_chars AS space_frac,
        |  CAST(cj AS DOUBLE) / n_chars AS cjk_frac,
        |  CAST(n_chars - l - dg - sp - cj AS DOUBLE) / n_chars AS other_frac
        |FROM agg ORDER BY source""".stripMargin,
      "Per-source script/character-class composition: fractions of Latin letters, digits, whitespace, CJK, and everything else — the multilingual curation signal that flags a 'Latin' source suddenly full of CJK (encoding breakage, scraped mixed content) or a prose source turning numeric (tables, logs) BEFORE per-document language-ID is trusted; at production scale the same row per (source, crawl-date) is the drift monitor. Counting is the replace-diff trick — length(text) − length(regexp_replace(class, '')) — one linear regex pass per class, NOT a per-character extract_all that materializes a char array per doc; counts are exact integers summed map-side, and each fraction is one IEEE division of corpus-level integers (engine-identical). 'Other' derives by subtraction, so the five fractions sum to 1 exactly. One map-side-combined shuffle at |source| keys; text is scanned once and never shuffled.") {
      (s, d) =>
        def cnt(pat: String) =
          length(col("text")) - length(regexp_replace(col("text"), pat, ""))
        val agg = Tables.documents(s, d)
          .select(col("source"), length(col("text")).as("len"),
            cnt("[a-zA-Z]").as("l"), cnt("[0-9]").as("dg"),
            // explicit class, NOT \s: Java's \s includes U+000B where
            // RE2's does not — the one whitespace definition both
            // engines agree on is this spelled-out set
            cnt("[ \\t\\n\\u000B\\f\\r]").as("sp"),
            cnt("[\\u4e00-\\u9fff]").as("cj"))
          .groupBy(col("source"))
          .agg(sum(col("len")).as("n_chars"), sum(col("l")).as("l"),
            sum(col("dg")).as("dg"), sum(col("sp")).as("sp"),
            sum(col("cj")).as("cj"))
        agg.select(col("source"), col("n_chars"),
            (col("l").cast("double") / col("n_chars")).as("letter_frac"),
            (col("dg").cast("double") / col("n_chars")).as("digit_frac"),
            (col("sp").cast("double") / col("n_chars")).as("space_frac"),
            (col("cj").cast("double") / col("n_chars")).as("cjk_frac"),
            ((col("n_chars") - col("l") - col("dg") - col("sp") - col("cj"))
              .cast("double") / col("n_chars")).as("other_frac"))
          .orderBy(col("source"))
    },

    Q("q116_tokenizer_fertility",
      s"""WITH per AS (
         |  SELECT source, length(text) AS len,
         |    len(string_split_regex(trim(text), '\\s+')) AS ws,
         |    len(regexp_extract_all(lower(text), '$TokenPattern')) AS re
         |  FROM documents),
         |agg AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len) AS BIGINT) AS total_chars,
         |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |    CAST(sum(re) AS BIGINT) AS re_tokens
         |  FROM per GROUP BY source)
         |SELECT source, n_docs, total_chars, ws_tokens, re_tokens,
         |  CAST(re_tokens AS DOUBLE) / ws_tokens AS fertility,
         |  CAST(total_chars AS DOUBLE) / re_tokens AS chars_per_token
         |FROM agg ORDER BY source""".stripMargin,
      "Tokenizer fertility per source: subword-ish tokens per whitespace word (the metric tokenizer papers use to compare how hard a corpus is to tokenize) and chars per token — the numbers that turn a char-count corpus into a TOKEN budget (q102's shards, a training run's step count) and flag sources where the tokenizer fragments badly (code, URLs, non-Latin text → high fertility). Reuses q28's two token definitions EXACTLY (same `wsTokens` / `regexTokens` helpers, same oracle expressions), so the per-document counts and this corpus-level budget can never disagree. Integer sums map-side-combined to |source| keys; the two ratios are single IEEE divisions of corpus-level integers. Text scanned once, never shuffled.") {
      (s, d) =>
        val agg = Tables.documents(s, d)
          .select(col("source"), length(col("text")).as("len"),
            size(wsTokens(col("text"))).as("ws"),
            size(regexTokens(col("text"))).as("re"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_chars"),
            sum(col("ws")).as("ws_tokens"), sum(col("re")).as("re_tokens"))
        agg.select(col("source"), col("n_docs"), col("total_chars"),
            col("ws_tokens"), col("re_tokens"),
            (col("re_tokens").cast("double") / col("ws_tokens")).as("fertility"),
            (col("total_chars").cast("double") / col("re_tokens")).as("chars_per_token"))
          .orderBy(col("source"))
    },

    Q("q125_bpe_merge_step",
      """WITH wc AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |    FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |pairs AS (
        |  SELECT unnest([substr(w, i, 2)
        |                 for i in generate_series(1, length(w) - 1)]) AS pair, c
        |  FROM wc),
        |pc AS (
        |  SELECT pair, CAST(sum(c) AS BIGINT) AS n_occurrences
        |  FROM pairs GROUP BY pair)
        |SELECT pair, n_occurrences, CAST(rn AS INT) AS rn FROM (
        |  SELECT pair, n_occurrences,
        |    row_number() OVER (ORDER BY n_occurrences DESC, pair) AS rn
        |  FROM pc) t
        |WHERE rn <= 20 ORDER BY rn""".stripMargin,
      "One BPE merge iteration at corpus scale — the top-20 adjacent character pairs by weighted frequency, i.e. exactly the candidate table from which byte-pair-encoding training (Sennrich et al. 2016) greedily picks its next merge. The scale trick is the one real BPE trainers use: collapse the corpus to a (word, count) VOCABULARY first (map-side-combined groupBy — word types, not tokens, cross the shuffle), then enumerate each DISTINCT word's pairs once weighted by its count — pair-counting cost proportional to |vocab| x avg word length, independent of corpus size, so the 100 TB corpus costs one token-counting pass and everything after runs on a vocabulary that fits one executor. Iterating the loop (merge top pair, re-split, recount) is driver-side orchestration of this same query shape. Determinism: counts are exact integers end-to-end; the top-20 is total-ordered by (count DESC, pair ASC). The word-pass tokenizer is the family's lowered whitespace split (q111's DSIR pass), so the vocabulary this reads is the one the LM-scoring family already budgets against.") {
      (s, d) =>
        bpeMergeTop(Tables.documents(s, d), 20)
    },

    Q("q126_winnowing_fingerprints",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, [array_to_string(toks[i:i+2], ' ')
        |                  for i in generate_series(1, len(toks) - 2)] AS s
        |  FROM t WHERE len(toks) >= 3),
        |h AS (
        |  SELECT doc_id, [CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
        |                  for x in s] AS hs
        |  FROM sh),
        |wm AS (
        |  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles,
        |    [list_min(hs[i:i+3]) for i in generate_series(1, len(hs) - 3)] AS mins
        |  FROM h)
        |SELECT doc_id, n_shingles, CAST(len(mins) AS BIGINT) AS n_windows,
        |  CAST(len(list_distinct(mins)) AS BIGINT) AS n_fingerprints,
        |  CAST(len(list_distinct(mins)) AS DOUBLE) / CAST(len(mins) AS DOUBLE)
        |    AS density
        |FROM wm WHERE len(mins) > 0 ORDER BY doc_id""".stripMargin,
      "MOSS winnowing (Schleimer/Wilkerson/Aiken 2003) — the fingerprint-SELECTION algorithm the plagiarism/overlap-detection literature layers on top of rolling hashes: hash every word-3-gram, slide a window of 4 consecutive shingle hashes, keep each window's MINIMUM, and the distinct kept values are the document's fingerprints. The guarantee (any shared run of >= 6 tokens produces at least one shared fingerprint) with an expected density of 2/(w+1) is what makes it the principled downsampling of q31's full rolling-hash stream — this query reports per-doc fingerprint counts and realized density, the storage-budget row for a fingerprint index. Plan shape: posexplode tokens once, then lead() to assemble shingles, md5-derived 60-bit hashes (codegen'd AFTER the explode — one hash per shingle ROW, not an interpreted per-element lambda), min() over a 4-row following frame, and a count-distinct — ALL windows share one (doc_id, pos) partitioning, so the whole query is a single sort-shuffle of 8-byte hashes; at 100 TB each doc's stream lives in one partition and never leaves it. Cross-engine hash parity is the q35 playbook: 15 lowercase hex chars of md5 of the identical shingle text, parsed as the identical 60-bit integer (conv here, 0x-cast in the twin), so window minima — VALUES, not just counts — agree bit-exactly.") {
      (s, d) =>
        winnowingStats(Tables.documents(s, d), corpusKey = docKey(d))
          .orderBy(col("doc_id"))
    },

    Q("q130_bigram_lm_score",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    string_split_regex(
        |      regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS t
        |  FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |wc AS (
        |  SELECT w, CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS lnq1
        |  FROM uni GROUP BY w),
        |bgi AS (
        |  SELECT doc_id, source,
        |    unnest([t[i] || ' ' || t[i+1]
        |            for i in generate_series(1, len(t) - 1)]) AS bg
        |  FROM toks WHERE len(t) >= 2),
        |bc AS (
        |  SELECT bg, CAST(floor(ln(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT) AS lnq2
        |  FROM bgi GROUP BY bg),
        |s AS (
        |  SELECT i.doc_id, i.source, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(wc.lnq1 - bc.lnq2) AS BIGINT) AS snlq
        |  FROM bgi i
        |  JOIN wc ON wc.w = split_part(i.bg, ' ', 1)
        |  JOIN bc ON bc.bg = i.bg
        |  GROUP BY i.doc_id, i.source)
        |SELECT doc_id, source, n_bigrams,
        |  (snlq * 1e-6) / n_bigrams AS avg_cond_nll
        |FROM s ORDER BY doc_id""".stripMargin,
      "Per-document CONDITIONAL bigram LM score — q103's unigram NLL one order up: avg over adjacent word pairs of ln c(w1) − ln c(w1 w2) under corpus counts, i.e. how surprising each next-word is GIVEN its predecessor — the signal that separates 'rare words' (q103 fires) from 'rare transitions' (word salad with common words, which unigram scoring cannot see; this is the direction real CCNet-style filters take toward 5-gram LMs). Determinism is the q103 playbook verbatim: both ln terms quantize to integer micro-nats once per VOCAB ENTRY (never per instance), every distributed sum is exact-integer, and the final division is one IEEE expression per doc; c(w1) >= c(w1 w2) always, so the score is non-negative up to quantization. Scale: bigram and token instances come from the two compiled ShingleHash64.all passes ZIPPED IN-ROW by position (slice keeps alignment; no instance-level join); the text is scanned three times (bigram vocab, unigram vocab, probe side) with the hashing recomputed per scan — the q33 recompute-over-cache trade, since the exploded instance index dwarfs the input — and everything that SHUFFLES is 8-byte hashes — (doc,pair) instances join the two vocab ln-tables on their hash keys (the 2^-64 collision trade the whole n-gram family already accepts, policed by this very oracle gate), then one |docs|-key agg. The oracle recomputes on strings with split_part re-deriving w1 from the bigram text.") {
      (s, d) =>
        bigramLmScore(Tables.documents(s, d))
    },

    Q("q140_adaptive_quality_gate",
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |dt AS (SELECT doc_id, source, w, count(*) AS c
        |       FROM tok GROUP BY doc_id, source, w),
        |vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cnt FROM dt GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
        |v2 AS (SELECT w,
        |         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS lnq
        |       FROM vocab),
        |s AS (SELECT d.doc_id, d.source, CAST(sum(d.c) AS BIGINT) AS n_tokens,
        |        CAST(sum(d.c * v.lnq) AS BIGINT) AS slnq
        |      FROM dt d JOIN v2 v USING (w) GROUP BY d.doc_id, d.source),
        |p AS (SELECT source, doc_id,
        |        CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |          - (slnq * 1e-6) / n_tokens AS avg_nll
        |      FROM s, tot),
        |r AS (SELECT source, avg_nll,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY avg_nll, doc_id) AS rn,
        |        count(*) OVER (PARTITION BY source) AS nd
        |      FROM p),
        |f AS (SELECT source, avg_nll,
        |        rn <= ceil(CAST(nd AS DOUBLE) * CAST(0.75 AS DOUBLE)) AS keep
        |      FROM r)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE keep) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS kept_share,
        |  max(avg_nll) FILTER (WHERE keep) AS threshold_nll
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
      "Per-source rank-based LM quality gate — the GATE that q109's calibration table parameterizes, closing the q103 -> q109 -> gate loop: each source keeps its lowest 75% of documents by unigram NLL (the CCNet per-slice head/middle cut — per-source top-fraction, so a uniformly-noisy source cannot flood the corpus through a global threshold, and a clean source is not over-pruned by other sources' tail). Reported per source: kept count, realized share (ceil rounding makes it >= 0.75), and the effective threshold = max kept score — the number a curator would pin as that source's cut for incremental ingest. Rank-based rather than value-threshold-based deliberately: interpolated quantile VALUES differ by engine ulps exactly at the keep/drop boundary, while ranks over the deterministic integer-micro-nat scores (ties to doc_id) replay identically — so the gate itself is hash-exact cross-engine. Scale: q103's score plan (8-byte-key map-side-combined shuffles), plus one per-source window sort (the q08 cost family) and a |sources|-key aggregate; a mega-source swaps the exact rank for q75's mergeable histogram quantile at the documented boundary-approximation cost.") {
      (s, d) =>
        adaptiveQualityGate(Tables.documents(s, d), keepShare = 0.75)
    },

    Q("q147_source_js_divergence",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |cnt AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY source, term),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t
        |        FROM cnt GROUP BY source),
        |pairs AS (
        |  SELECT t1.source AS s1, t2.source AS s2, t1.t AS ta, t2.t AS tb
        |  FROM tot t1 CROSS JOIN tot t2 WHERE t1.source < t2.source),
        |l AS (SELECT p.s1, p.s2, c.term, c.c AS a
        |      FROM pairs p JOIN cnt c ON p.s1 = c.source),
        |r AS (SELECT p.s1, p.s2, c.term, c.c AS b
        |      FROM pairs p JOIN cnt c ON p.s2 = c.source),
        |u AS (
        |  SELECT COALESCE(l.s1, r.s1) AS s1, COALESCE(l.s2, r.s2) AS s2,
        |    COALESCE(l.a, 0) AS a, COALESCE(r.b, 0) AS b
        |  FROM l FULL OUTER JOIN r
        |    ON l.s1 = r.s1 AND l.s2 = r.s2 AND l.term = r.term),
        |w AS (
        |  SELECT u.s1, u.s2, p.ta, p.tb, a, b,
        |    a * p.tb + b * p.ta AS w
        |  FROM u JOIN pairs p ON u.s1 = p.s1 AND u.s2 = p.s2),
        |m AS (
        |  SELECT s1, s2, ta, tb,
        |    CAST(count(*) AS BIGINT) AS n_terms,
        |    CAST(sum(CASE WHEN a > 0 AND b > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_shared,
        |    CAST(sum(w * CAST(floor(ln(CAST(w AS DOUBLE)) * 1e6) AS BIGINT))
        |      AS BIGINT) AS sw,
        |    CAST(sum(CASE WHEN a > 0 THEN
        |        a * CAST(floor(ln(CAST(a AS DOUBLE)) * 1e6) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS sa,
        |    CAST(sum(CASE WHEN b > 0 THEN
        |        b * CAST(floor(ln(CAST(b AS DOUBLE)) * 1e6) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS sb
        |  FROM w GROUP BY s1, s2, ta, tb)
        |SELECT s1, s2, n_terms, n_shared,
        |  CAST(n_shared AS DOUBLE) / CAST(n_terms AS DOUBLE) AS shared_frac,
        |  (CAST(floor(ln(CAST(2 * ta * tb AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |     - (sw * 1e-6) / (2 * ta * tb))
        |  - 0.5 * (CAST(floor(ln(CAST(ta AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |     - (sa * 1e-6) / ta)
        |  - 0.5 * (CAST(floor(ln(CAST(tb AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |     - (sb * 1e-6) / tb) AS js_nats
        |FROM m ORDER BY s1, s2""".stripMargin,
      "Pairwise Jensen-Shannon divergence between per-source unigram distributions — the source-redundancy matrix a mixture designer reads next to q124's temperature weights (two sources with near-zero JS are the same crawl twice: merge them before weighting, or the mixture double-counts their distribution; a high-JS outlier source is the one worth upweighting for coverage). The determinism problem JS adds over q103/q122 entropy is the MIXTURE M = (P+Q)/2 having non-integer masses; solved by the common-denominator identity: weight w = a*B + b*A over W = 2AB keeps every mass an exact integer, and JS = H_W - (H_A + H_B)/2 where each H is the family's ln(T) - sum(c*ln c)/T on integer counts, ln once per GROUP floor-quantized to integer micro-nats, every distributed sum exact-int64. The w*floor(ln w * 1e6) products wrap int64 near W ~ 3.5e11 mixture mass (per-source ~4e5 tokens — only 25x over sf0.1), so the whole ledger (per-term products AND the three sums) runs UNCONDITIONALLY in decimal(38,0) on both engines — spec-proven past the int64 wrap bound with a 5e11-mass BigInt-replayed fixture; 38 digits hold any physically reachable W. Scale: ONE token explode folds to map-side-combined (source, xxhash64(term)) counts — term strings never cross a shuffle (engine-side hash keys; 2^-64 per-pair collision, the q96/q100 family trade — the oracle groups the strings themselves), the pair expansion ships only 8-byte hashes and counts bounded by |pairs| x |vocab|, and the closing aggregate runs at |pairs| keys. shared_frac (vocab overlap) rides along as the cheap first-look signal.") {
      (s, d) =>
        sourceJsDivergence(Tables.documents(s, d))
    },

    Q("q149_doremi_reweight",
      """WITH tok AS (
        |  SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |dt AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |       FROM tok GROUP BY source, w),
        |vocab AS (SELECT w, CAST(sum(c) AS BIGINT) AS cnt FROM dt GROUP BY w),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM vocab),
        |v2 AS (SELECT w,
        |         CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS lnq
        |       FROM vocab),
        |src AS (
        |  SELECT d.source, CAST(sum(d.c) AS BIGINT) AS n_tokens,
        |    CAST(sum(d.c * v.lnq) AS BIGINT) AS slnq
        |  FROM dt d JOIN v2 v USING (w) GROUP BY d.source),
        |corpus AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt,
        |                  CAST(sum(slnq) AS BIGINT) AS tslnq FROM src),
        |sc AS (
        |  SELECT source, n_tokens,
        |    CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |      - (slnq * 1e-6) / n_tokens AS nll,
        |    CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6) AS BIGINT) * 1e-6
        |      - (tslnq * 1e-6) / tt AS nllbar
        |  FROM src CROSS JOIN tot CROSS JOIN corpus),
        |b AS (
        |  SELECT source, n_tokens, nll, nll - nllbar AS excess,
        |    CAST(floor(exp(nll - nllbar) * 1e6) AS BIGINT) AS boost_micro
        |  FROM sc),
        |z AS (SELECT CAST(sum(boost_micro) AS BIGINT) AS z FROM b)
        |SELECT source, n_tokens, nll, excess, boost_micro,
        |  CAST(boost_micro AS DOUBLE) / CAST(z AS DOUBLE) AS weight
        |FROM b CROSS JOIN z ORDER BY source""".stripMargin,
      "One multiplicative-weights domain-reweighting step, the DoReMi shape (Xie et al. 2023, 'Doremi: Optimizing Data Mixtures Speeds Up Language Model Pretraining'): per source its average NLL under the corpus unigram LM, the EXCESS over the corpus-wide average (the hard-domain signal a proxy-model loss provides in the full method — the corpus LM stands in the way src0 stands in for the curated target in q111), and the renormalized mixture weight w_i proportional to exp(eta * excess_i) at eta = 1 from a uniform start (the uniform factor cancels in the normalizer). Upweights the sources the current model-proxy finds hardest — the opposite corrective to q124's temperature flattening, and the two tables TOGETHER are the mixture designer's dashboard. Determinism: the NLL legs are q103/q140's exact integer micro-nat ledgers aggregated per SOURCE; excess is a subtraction of two deterministic doubles; the one exp per source is immediately floor-quantized to integer micro-units so the normalizer is an exact integer sum and each weight one IEEE division (the q147 ln-parity trade extended to exp, |sources| evaluations total). Scale: q103's plan — token explode to map-side-combined 8-byte-key counts, vocab ln once per entry, then everything folds to |sources| rows; the two one-row totals broadcast.") {
      (s, d) =>
        doremiStep(Tables.documents(s, d))
    },

    Q("q163_curriculum_grid",
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt,
        |    CAST(len(string_split_regex(trim(text), '\s+')) < 20 AS INTEGER)
        |      + CAST(CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS DOUBLE)
        |          / len(string_split_regex(trim(text), '\s+')) < CAST(0.32 AS DOUBLE) AS INTEGER)
        |      + CAST((CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |            / len(string_split_regex(trim(text), '\s+')) < CAST(4.0 AS DOUBLE)
        |          OR CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |            / len(string_split_regex(trim(text), '\s+')) > CAST(5.0 AS DOUBLE)) AS INTEGER)
        |      + CAST((len(sh) > 0 AND len(sh) > len(list_distinct(sh))) AS INTEGER)
        |      AS n_flags
        |  FROM (SELECT doc_id, text,
        |          [array_to_string(toks[i:i+2], ' ')
        |           for i in generate_series(1, len(toks)-2)] AS sh
        |        FROM (SELECT doc_id, text,
        |                string_split_regex(
        |                  regexp_replace(text, '^\s+|\s+$', '', 'g'),
        |                  '\s+') AS toks FROM documents))),
        |b AS (
        |  SELECT n_flags,
        |    CASE WHEN nt < 32 THEN 'xs' WHEN nt < 128 THEN 's'
        |         WHEN nt < 512 THEN 'm' ELSE 'l' END AS len_bucket,
        |    nt
        |  FROM f),
        |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS total_tokens FROM b)
        |SELECT n_flags, len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS tokens,
        |  CAST(sum(nt) AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_share
        |FROM b CROSS JOIN tot
        |GROUP BY n_flags, len_bucket, total_tokens
        |ORDER BY n_flags, len_bucket""".stripMargin,
      "Curriculum occupancy grid — corpus mass binned by quality tier (how many q105 gate flags a document trips, 0..4 — the EXACT gateFlags definition, one source of truth with the gate and the q127 lift monitor) x length bucket (fixed integer thresholds <32/<128/<512/rest whitespace tokens). This is the table a curriculum or sampling schedule is built FROM: 'start on clean short documents, phase in the long tail' needs exactly this occupancy count, and the same axes drive packing efficiency (q145) and gate tuning (q105). Length buckets are integer comparisons by design, never floor(log n) — a power-of-two boundary value could round to different buckets across engines. Determinism: flag arithmetic is the q105 oracle's own comparisons cast to integers and summed; counts and token sums exact; token_share one IEEE division against the grid's own token total (every document lands in exactly one cell, so the corpus total IS the cell sum). Scale: ONE corpus scan (gateFlags' nt rider — no token re-scan, no doc_id join) into a <= 5x4-key map-side-combined aggregate; the share divisor is a window over those aggregated rows, never a second pass.") {
      (s, d) =>
        curriculumGrid(Tables.documents(s, d))
    },

    Q("q169_repeated_passages",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |ti AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM t WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    CAST('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15)
        |      AS BIGINT) AS h
        |  FROM ti),
        |hot AS (
        |  SELECT h FROM (
        |    SELECT h, count(DISTINCT doc_id) AS df FROM sh GROUP BY h)
        |  WHERE df >= 2),
        |rep AS (SELECT s.doc_id, s.pos FROM sh s JOIN hot USING (h)),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 3
        |         THEN 0 ELSE 1 END AS brk
        |  FROM rep),
        |isl2 AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS island
        |  FROM isl)
        |SELECT doc_id,
        |  CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 2 AS BIGINT) AS span_end,
        |  CAST(max(pos) + 2 - min(pos) + 1 AS BIGINT) AS span_tokens,
        |  CAST(count(*) AS BIGINT) AS n_grams
        |FROM isl2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
      "Cross-document repeated-passage CUT LIST — per document, the maximal token intervals covered by word-3-gram shingles occurring in >= 2 DISTINCT documents: the transform a substring-granularity dedup pass (the Lee et al. 2022 'Deduplicating Training Data' recipe, approximated at shingle resolution) actually executes — cut exactly these ranges, keep the rest of the document, instead of dropping whole documents (q32/q81) or matching a curated blacklist (q106/q110); q100 measures the INTRA-doc complement. Spans merge whenever their 3-token windows touch or overlap (next start - prev start <= 3), so each row is one contiguous cut with its covering-shingle count. Determinism: positions/counts exact integers; the shingle hash is the family's md5-60-bit convention (values bit-equal cross-engine via shingleHashStream — ONE definition with q126's winnowing), so df thresholds and span boundaries cannot drift; the first-position NULL lag falls to the new-island branch identically on both engines (NULL <= 3 is NULL, not true). Scale: strictly linear, no pairwise stage — one (doc_id,pos) sort shared by shingle assembly and the island windows, one map-side-combined 8-byte-hash df aggregate, one membership semi-join of positions against the df-qualified hashes (never doc x doc), and a (doc_id,island) aggregate riding the doc partitioning; at 100 TB every stage shuffles 8-byte keys and the df table prunes before the join.") {
      (s, d) =>
        repeatedPassages(Tables.documents(s, d), dfMin = 2,
          corpusKey = docKey(d))
    },

    Q("q171_passage_cut_apply",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |ti AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM t WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    CAST('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15)
        |      AS BIGINT) AS h
        |  FROM ti),
        |hot AS (
        |  SELECT h FROM (
        |    SELECT h, count(DISTINCT doc_id) AS df FROM sh GROUP BY h)
        |  WHERE df >= 2),
        |rep AS (SELECT s.doc_id, s.pos FROM sh s JOIN hot USING (h)),
        |cov AS (
        |  SELECT DISTINCT doc_id, pos FROM (
        |    SELECT doc_id, pos + unnest([0, 1, 2]) AS pos FROM rep)),
        |tk AS (
        |  SELECT doc_id, i - 1 AS pos, toks[i] AS w FROM (
        |    SELECT doc_id, toks,
        |      unnest(generate_series(1, len(toks))) AS i
        |    FROM t)),
        |fl AS (
        |  SELECT tk.doc_id, tk.pos, tk.w, cov.pos AS cpos
        |  FROM tk LEFT JOIN cov
        |    ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(cpos) AS BIGINT) AS n_cut,
        |  CAST(count(*) - count(cpos) AS BIGINT) AS n_kept,
        |  md5(coalesce(array_to_string(
        |    list(w ORDER BY pos) FILTER (WHERE cpos IS NULL), ' '), ''))
        |    AS clean_fp
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "APPLY the q169 cut list — the substring-granularity dedup TRANSFORM itself, not its report: every token covered by a cross-document-repeated word-3-gram (the shingle's three positions, repeatedPositions verbatim — ONE detection definition with q169, so the report can never disagree with the transform it describes) is cut, survivors reassemble in order, and each document emits its before/after token accounting plus the md5 fingerprint of the cleaned text — the bounded stand-in for the rewritten corpus (production writes the kept tokens; the fingerprint pins the VALUE of the reassembled text, not just its length, while keeping rows small). Every document appears exactly once: unshingleable (< 3 tokens) and untouched docs at n_cut = 0 with the full-text token fingerprint, fully-covered docs at n_kept = 0 with md5('') — identical on both engines via the empty-reassembly coalesce. Determinism: counts exact integers; the fingerprint input is the identical space-joined token sequence (array_sort over (pos, token) structs vs ORDER BY pos — pos is unique per doc, so one total order). Scale: linear end to end — coverage is |repeated starts| x 3 exploded then deduped on (doc_id, pos), the cut decision is ONE left join of the token stream on the composite 12-byte key (never a per-doc range probe), and reassembly is one doc-key aggregate whose collect_list IS the document — the inherent cost of a transform whose output is the document itself.") {
      (s, d) =>
        passageCutApply(Tables.documents(s, d), dfMin = 2,
          corpusKey = docKey(d))
    },

    Q("q172_crosssource_passages",
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |ti AS (
        |  SELECT doc_id, source, toks,
        |    unnest(generate_series(1, len(toks) - 2)) AS i
        |  FROM t WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT doc_id, source,
        |    CAST('0x' || substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15)
        |      AS BIGINT) AS h
        |  FROM ti),
        |hsrc AS (
        |  SELECT h, source, count(DISTINCT doc_id) AS nd
        |  FROM sh GROUP BY h, source),
        |pr AS (
        |  SELECT a.h, a.source AS s1, b.source AS s2
        |  FROM hsrc a JOIN hsrc b ON a.h = b.h
        |    AND (a.source < b.source
        |      OR (a.source = b.source AND a.nd >= 2)))
        |SELECT s1, s2,
        |  CAST(count(*) AS BIGINT) AS n_shared_shingles,
        |  s1 <> s2 AS cross_source
        |FROM pr GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin,
      "Source-pair rollup of the q169 cut list — for every source pair (s1 <= s2), the number of DISTINCT word-3-gram shingles the two share, with the DIAGONAL counting shingles repeated across >= 2 distinct documents of the SAME source (intra-source boilerplate). Family positioning: q96 reports the cross-source set-overlap coefficient and is blind to within-source repetition by construction (per-source distinct sets); q141 is the document-level near-dup matrix; q172's deltas are the intra-source diagonal — the cell a scraper-template audit reads first — and the q169 positional hash convention, so these cells reconcile exactly with the cut list they roll up (the spec's Sigma-C(k,2) check). Determinism: exact counts over bit-identical md5-60-bit shingle hashes (the family convention); the pair condition is one strict string comparison per row on both engines. Scale: one shingle stream with source carried as a rider column (no |positions|-row corpus re-join), one map-side-combined (h, source)-key distinct-doc aggregate, then a self-join on the 8-byte hash whose per-hash fanout is bounded by |sources|^2 — never doc x doc — into a <= |sources|^2-cell aggregate; every shuffle key is 8 bytes + a short string.") {
      (s, d) =>
        crossSourcePassages(Tables.documents(s, d), corpusKey = docKey(d))
    },

    Q("q178_repetition_runs",
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, source, unnest(toks) AS w,
        |    generate_subscripts(toks, 1) AS pos
        |  FROM t),
        |runs AS (
        |  SELECT doc_id, source, w,
        |    pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS grp
        |  FROM tok),
        |rl AS (
        |  SELECT doc_id, source, count(*) AS run_len
        |  FROM runs GROUP BY doc_id, source, w, grp),
        |mr AS (
        |  SELECT doc_id, source, max(run_len) AS max_run
        |  FROM rl GROUP BY doc_id, source)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(COALESCE(sum(CAST(max_run >= 3 AS INT)), 0) AS BIGINT)
        |    AS n_flagged,
        |  CAST(COALESCE(sum(CAST(max_run >= 3 AS INT)), 0) AS DOUBLE)
        |    / count(*) AS flag_share,
        |  CAST(max(max_run) AS BIGINT) AS max_run,
        |  CAST(sum(max_run) AS DOUBLE) / count(*) AS mean_max_run
        |FROM mr GROUP BY source ORDER BY source""".stripMargin,
      "Degenerate-repetition audit — per source, the longest consecutive SAME-TOKEN run per document rolled up to the curation signal (docs with a run >= 3, their share, the worst run, the mean): the stuck-loop detector that catches model-generated 'la la la la' degeneration, scraper pagination echoes, and markup flattened into token stutter — the within-doc repetition axis q100's duplicated-3-gram fraction does not isolate (a long run IS distinct shingles at every offset when tokens differ; a 3-gram fraction cannot say 'one token repeated 40 times'). Engine shape: the max-run is computed IN-ROW by a single higher-order aggregate fold over the token array (carry (prev, current-run, max) through one pass — zero body shuffles, the q100/q167 pure-projection rail), then one |sources|-key aggregate; the oracle expresses identical semantics as the classic gaps-and-islands window (pos minus per-token row_number), and RepetitionRunsSpec pins fold == islands on the engine side too. Determinism: run lengths and flags are exact integers; the two shares are single IEEE divisions of exact ints. Scale: the corpus is scanned once with NO per-token shuffle at all — the islands formulation would sort |tokens| rows per doc; the fold touches each token once in place — followed by a bounded |sources|-key aggregate.") {
      (s, d) =>
        repetitionRuns(Tables.documents(s, d))
    },

    Q("q186_lm_score_state_served", q103OracleSql,
      "q103's per-document unigram LM score served FROM the maintained reference vocabulary (CorpusStateStream.lmScoreAgainstState over vocab state) — the LAST maintained family's serving read, completing q180-q185: the production CCNet shape is scoring an arriving crawl against a REFERENCE corpus LM, and this registers that exact read path with q103's oracle SQL verbatim, so the hash gate proves the state-served score equals the batch self-scored one when the reference IS the corpus (term keys are Md5TokenHash64 word hashes — injective on any real vocabulary, and the expression mimics Spark trim+split exactly, so the hashed-domain aggregation is isomorphic to q103's string-keyed one; with reference == corpus every token is in-vocab, n_scored == n_tokens, and the quantized micro-nat formula is q103's bit-for-bit). The state dir is built once per (session, corpus): two doc_id-parity waves through updateVocab (ledger-protocol delta appends), then FOLDED to one snapshot row per term (foldVocab — so the gate also re-proves the fold neutral cross-engine, the q181/q184 posture). OOV accounting (the reference-vs-crawl case where the two genuinely differ) is spec-pinned on a hand-computed fixture in CorpusStateStreamSpec. Scale: arrivals explode to map-side-combined (doc, term-hash) counts joined against |vocab| persisted 8-byte keys + one broadcast total — the corpus that BUILT the vocabulary is never rescanned at read time.") {
      (s, d) =>
        graft.streaming.CorpusStateStream.lmScoreAgainstState(
            servedVocabStateDir(s, d), Tables.documents(s, d))
          .select(col("doc_id"), col("n_tokens"), col("avg_nll"))
          .orderBy(col("doc_id"))
    },

    Q("q201_forgotten_lm_state_served", q201OracleSql,
      "q186's reference-LM scoring AFTER a right-to-be-forgotten pass over the maintained vocabulary — the third leg of the deletion family (q199 index, q200 blacklist, q201 LM), and the one where deletion changes the MODEL, not just the candidate set: CorpusStateStream.forgetVocab appends the tombstoned documents' term counts NEGATED as one more ledger-committed batch, the fold nets them out, terms whose net count reaches zero leave the vocabulary through vocabState's cnt > 0 cut (they would otherwise poison the ln table), the total-token normalizer shrinks, and every survivor's micro-nat score shifts — so the hash gate proves the netted LM equals a batch retrain over exactly the surviving corpus (oracle: q103's SQL over the tombstone survivors; scoring the survivors keeps every token in-vocab, the q186 isomorphism argument). A replayed forget in the builder re-proves deletion idempotence under the gate. Scale: deletion cost is one tokenize pass over the FORGOTTEN docs into a |their vocab|-key delta append — the reference corpus is never rescanned, which is the operational difference between 'retrain the LM' and 'net out a deletion'.") {
      (s, d) =>
        graft.streaming.CorpusStateStream.lmScoreAgainstState(
            servedForgottenVocabStateDir(s, d),
            Tables.documents(s, d)
              .filter(!Sampling.tombstoned(col("doc_id"))))
          .select(col("doc_id"), col("n_tokens"), col("avg_nll"))
          .orderBy(col("doc_id"))
    },

    Q("q228_pmi_collocations", q228OracleSql,
      "COLLOCATION extraction: the corpus's top-20 adjacent-token bigrams by pointwise mutual information (PMI, Church & Hanks 1990) with a min-count cut — the lexical-statistics read a training-data curation stack runs to surface multi-word units ('new york', 'machine learning') for tokenizer audits, boilerplate review, and n-gram blocklist seeding; raw bigram frequency would just return stopword pairs, and PMI = ln(N·c(w1,w2) / (c1(w1)·c2(w2))) is the standard association correction (c1/c2 = the word's count in the left/right bigram slot, N = total bigrams). Determinism is the q103 micro-nat playbook on PMI's fraction: all four inputs are exact integers, the quotient is one fixed-shape IEEE expression quantized to integer micro-nats (floor after 1e6 — the q215 idf recipe), ties break on (w1, w2); the min-count cut (>= 4) keeps the hapax pairs whose PMI is maximal-but-meaningless out, which is also what makes the statistic useful. The oracle recomputes the whole chain from the same token arrays by DuckDB struct-list comprehension, so the hash gate proves bigram extraction, slot counts, the PMI arithmetic and ranking end-to-end. Scale: bigram extraction is IN-ROW (zip_with over the token array against its own tail — no join, no shuffle, no positions table needed), counts fold map-side at |bigram-vocab| / |vocab| keys, N broadcasts as one row, and the global top-20 is TakeOrdered over the cut survivors with the rank window on 20 rows (the q83 bounded-window convention).") {
      (s, d) =>
        pmiCollocations(
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            minCount = 4, k = 20)
          .orderBy(col("rn"))
    },

    Q("q231_bigram_lm_nll", q231OracleSql,
      "Per-document BIGRAM-LM quality score — q103's CCNet unigram NLL upgraded one Markov order: each document's average negative log-likelihood under an add-one-smoothed corpus bigram model, avg_nll = -(1/n_pairs) sum ln((c12+1)/(c1+V)), the score that separates fluent text from word-salad a unigram model cannot see (a document of real words in scrambled order scores IDENTICALLY to fluent prose under q103; the bigram model prices every transition). Determinism is the q103 decomposition applied per term: ln((c12+1)/(c1+V)) = ln(c12+1) - ln(c1+V), each quantized to integer micro-nats over exact integer counts (c12/c1 = corpus bigram/left-slot counts, V = corpus vocabulary size), per-doc sums exact integers, ONE final division as the only float op — replays bit-identically cross-engine, which the oracle (the same chain in DuckDB) checks every round. Documents with <2 tokens drop out: a bigram LM genuinely has nothing to say about them (deliberate contrast with q103's every-doc coverage, stated rather than papered over). Scale: ONE corpus scan (the token arrays checkpoint once, feeding the in-row bigram stream and the vocabulary count), map-side-combined aggregates at |bigram-vocab|/|vocab| keys, the 1-row V broadcasts, and the per-doc fold is a doc-key aggregate — the q103 cost family with a wider key. At 100 TB the c12/c1 tables are the maintainable artifact (the q186 vocab-state pattern one order up — a named future composition, not a gap: the delta-ledger mechanics transfer verbatim).") {
      (s, d) =>
        bigramNll(Tables.documents(s, d).select(col("doc_id"), col("text")))
          .orderBy(col("doc_id"))
    },

    Q("q232_bigram_lm_state_served", q231OracleSql,
      "q231's bigram-LM score served FROM MAINTAINED state — the composition q231's own scaladoc names (the q186 vocab-state pattern one Markov order up, delivered): production scores arriving crawls against a REFERENCE bigram model, so the pair counts live as (batch_id, w1, w2, delta) ledger-protocol deltas (CorpusStateStream.updateBigrams — the vocab layout with a two-hash key; crash protocol, intent-mark sign guard, LSM fold all inherited verbatim), the left-slot counts DERIVE from the same table (sum over w2 — no second ledger to drift), and the smoothing denominator's V is the co-maintained vocabulary's size. The builder folds two parity waves plus a replayed wave (ledger no-op against real state) and serves AFTER foldBigrams + foldVocab, so fold neutrality is re-proven cross-engine every round. Pairs absent from the reference score the add-one unseen value (ln(1) = 0 micro-nats EXACTLY — quantization makes the fallback exact, not approximate) and unseen left words ln(V), so the read is correct for true arrivals; with reference == corpus no fallback fires and the oracle is q231's SQL VERBATIM (hash-keyed aggregation isomorphic to string-keyed under the family's injectivity convention, the q186 argument). Scale: arrivals derive hashed pairs once and join |bigram-vocab| persisted 16-byte keys + one broadcast V — the reference corpus is never rescanned at scoring time.") {
      (s, d) =>
        graft.streaming.CorpusStateStream.bigramNllAgainstState(
            servedBigramLmDir(s, d),
            Tables.documents(s, d).select(col("doc_id"), col("text")))
          .orderBy(col("doc_id"))
    },

    Q("q233_forgotten_bigram_lm_state_served", q233OracleSql,
      "q232's served bigram-LM scoring AFTER a right-to-be-forgotten pass over BOTH maintained tables — the deletion leg where erasure must shift every probability in a 2-D model: forgetBigrams appends the tombstoned documents' pair counts negated (one more ledger-committed batch, the forgetVocab mechanic on the two-hash key), forgetVocab shrinks V, pairs whose every occurrence was deleted leave through the cnt > 0 cut (their smoothed probability falls back to the unseen value exactly as a retrain's would), left-slot counts shrink because they derive from the netted pair table, and every survivor's score shifts through c12, c1 AND V at once — so the hash gate proves the netted 2-D model equals a batch retrain over exactly the surviving corpus (oracle: q231's chain over tombstone survivors, model and scored set both). Replayed forgets on both ledgers re-prove deletion idempotence under the gate, and the mixed-sign fold before serving re-proves fold neutrality over negative deltas. Scale: deletion cost is one hashed-pair derivation over the FORGOTTEN docs appended as deltas — the reference corpus is never rescanned, the retrain-vs-net-out difference q201 priced, now at the bigram tier.") {
      (s, d) =>
        graft.streaming.CorpusStateStream.bigramNllAgainstState(
            servedForgottenBigramLmDir(s, d),
            Tables.documents(s, d).select(col("doc_id"), col("text"))
              .filter(!Sampling.tombstoned(col("doc_id"))))
          .orderBy(col("doc_id"))
    },
  )

  /** Per-document BIGRAM-LM negative log-likelihood with add-one
    * smoothing — q103's CCNet unigram score upgraded one Markov order:
    * avg_nll = −(1/n_pairs) Σ ln((c12+1)/(c1+V)) over the document's
    * adjacent pairs, where c12/c1 are corpus bigram/left-slot counts
    * and V the corpus vocabulary size. The decomposition
    * ln((c12+1)/(c1+V)) = ln(c12+1) − ln(c1+V) quantizes each term to
    * integer micro-nats independently (the q103 recipe), so per-doc
    * sums are exact integers and the one final division is the only
    * float op. Documents with <2 tokens have no pairs and drop out —
    * a bigram LM genuinely has nothing to say about them. */
  /** Adjacent-pair derivation over a token (or token-hash) array — the
    * ONE in-row bigram definition shared by [[pmiCollocations]],
    * [[bigramNll]] and the maintained bigram-LM state
    * ([[graft.streaming.CorpusStateStream.updateBigrams]]), so the
    * batch scores and the state-served ones cannot drift: the array
    * zipped against its own tail, each element a (w1, w2) struct. */
  private[graft] def adjacentPairs(arr: Column): Column = {
    val n1 = greatest(size(arr) - lit(1), lit(0))
    zip_with(slice(arr, lit(1), n1), slice(arr, lit(2), n1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  def bigramNll(docs: DataFrame): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    // ONE corpus scan: the token array persists once and feeds the
    // bigram stream AND the vocabulary count
    val arr = docs.select(col("doc_id"), toks.as("ws")).localCheckpoint()
    val bg = arr.select(col("doc_id"),
        explode(adjacentPairs(col("ws"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .localCheckpoint()
    val vRow = arr.select(explode(col("ws")).as("u"))
      .agg(countDistinct(col("u")).as("v"))
    val dbg = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val l12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .select(col("w1").as("a1"), col("w2").as("a2"),
        floor(log((col("c12") + lit(1L)).cast("double")) * lit(1e6))
          .cast("bigint").as("lnq12"))
    val l1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .crossJoin(broadcast(vRow))
      .select(col("w1").as("b1"),
        floor(log((col("c1") + col("v")).cast("double")) * lit(1e6))
          .cast("bigint").as("lnq1"))
    dbg
      .join(l12, col("w1") === col("a1") && col("w2") === col("a2"))
      .join(l1, col("w1") === col("b1"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_pairs"),
        sum(col("c") * col("lnq12")).as("s12"),
        sum(col("c") * col("lnq1")).as("s1"))
      .select(col("doc_id"), col("n_pairs"),
        (((col("s1") - col("s12")) * lit(1e-6)) / col("n_pairs"))
          .as("avg_nll"))
  }

  private def q231OracleSql: String = bigramNllOracleSqlOver("documents")

  private def q233OracleSql: String = bigramNllOracleSqlOver(
    "(SELECT * FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "')")

  /** The bigram-NLL chain over `docsRel` — shared by the batch q231,
    * the state-served q232 (verbatim) and the forgotten q233 (model
    * AND scored set both the tombstone survivors, q201's shape). */
  private def bigramNllOracleSqlOver(docsRel: String): String =
    s"""WITH htok AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM $docsRel),
       |hbg AS (
       |  SELECT doc_id, struct_extract(p, 'w1') AS w1,
       |    struct_extract(p, 'w2') AS w2
       |  FROM (SELECT doc_id, unnest([{'w1': w[i], 'w2': w[i+1]}
       |                               FOR i IN range(1, len(w))]) AS p
       |        FROM htok)),
       |hdbg AS (
       |  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c
       |  FROM hbg GROUP BY doc_id, w1, w2),
       |hc12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |         FROM hbg GROUP BY w1, w2),
       |hc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
       |        FROM hbg GROUP BY w1),
       |hv AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS v
       |       FROM (SELECT unnest(w) AS u FROM htok)),
       |hl12 AS (SELECT w1, w2,
       |    CAST(floor(ln(CAST(c12 + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |      AS lnq12 FROM hc12),
       |hl1 AS (SELECT w1,
       |    CAST(floor(ln(CAST(c1 + hv.v AS DOUBLE)) * 1e6) AS BIGINT)
       |      AS lnq1 FROM hc1, hv),
       |hs AS (
       |  SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_pairs,
       |    CAST(sum(d.c * l2.lnq12) AS BIGINT) AS s12,
       |    CAST(sum(d.c * l1.lnq1) AS BIGINT) AS s1
       |  FROM hdbg d
       |  JOIN hl12 l2 ON l2.w1 = d.w1 AND l2.w2 = d.w2
       |  JOIN hl1 l1 ON l1.w1 = d.w1
       |  GROUP BY d.doc_id)
       |SELECT doc_id, n_pairs, ((s1 - s12) * 1e-6) / n_pairs AS avg_nll
       |FROM hs ORDER BY doc_id""".stripMargin

  /** Top-k adjacent-bigram collocations by micro-nat-quantized PMI with
    * a minimum pair count. In-row bigram derivation (the token array
    * zipped against its own tail), map-side-combined counts, one
    * broadcast total, TakeOrdered top-k. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 4,
      k: Int = 20): DataFrame = {
    val toks = wsTokens(lower(col("text")))
    // the bigram stream feeds FOUR consumers (pair counts, both slot
    // counts, the total) — materialize the extraction once (the q143
    // one-derivation convention)
    val bg = docs.select(explode(adjacentPairs(toks)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .localCheckpoint()
    val c12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c2 = bg.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    val nRow = bg.agg(count(lit(1)).as("n"))
    val sc = c12.join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(nRow))
      .select(col("w1"), col("w2"), col("n_pair"),
        floor(log((col("n_pair").cast("double") * col("n")) /
            (col("c1").cast("double") * col("c2"))) * lit(1e6))
          .cast("bigint").as("pmi_mnat"))
    // global top-k: TakeOrdered on the cut survivors, then the rank
    // window sees only k rows
    val top = sc
      .orderBy(col("pmi_mnat").desc, col("w1"), col("w2")).limit(k)
    val w = Window.orderBy(col("pmi_mnat").desc, col("w1"), col("w2"))
    top.withColumn("rn", row_number().over(w))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi_mnat"),
        col("rn"))
  }

  private def q228OracleSql: String =
    s"""WITH gtok AS (
       |  SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
       |  FROM documents),
       |gbg AS (
       |  SELECT struct_extract(p, 'w1') AS w1, struct_extract(p, 'w2') AS w2
       |  FROM (SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
       |                       FOR i IN range(1, len(w))]) AS p
       |        FROM gtok)),
       |gc12 AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
       |  FROM gbg GROUP BY w1, w2 HAVING count(*) >= 4),
       |gc1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM gbg GROUP BY w1),
       |gc2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM gbg GROUP BY w2),
       |gn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gbg),
       |gsc AS (
       |  SELECT g.w1, g.w2, g.n_pair,
       |    CAST(floor(ln((CAST(g.n_pair AS DOUBLE) * gn.n)
       |      / (CAST(gc1.c1 AS DOUBLE) * gc2.c2)) * 1e6) AS BIGINT)
       |      AS pmi_mnat
       |  FROM gc12 g
       |  JOIN gc1 ON gc1.w1 = g.w1
       |  JOIN gc2 ON gc2.w2 = g.w2, gn)
       |SELECT w1, w2, n_pair, pmi_mnat, CAST(rn AS INT) AS rn
       |FROM (
       |  SELECT *, row_number() OVER (ORDER BY pmi_mnat DESC, w1, w2) AS rn
       |  FROM gsc) t
       |WHERE rn <= 20
       |ORDER BY rn""".stripMargin

  /** Build-once on-disk reference-vocabulary state for the state-served
    * LM score (q186): fold the corpus through updateVocab in two
    * doc_id-parity waves (the ledger-protocol idempotence paths
    * execute), then fold the delta log to per-term snapshots —
    * memoized per (session, corpus); protectNew = false (the durable
    * product is the on-disk state — the servedIvfStateDir contract). */
  private def servedVocabStateDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"vocabstate|$d/documents.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_vocab_state").toString)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      graft.streaming.CorpusStateStream.updateVocab(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.CorpusStateStream.updateVocab(dir)(
        docs.filter(col("doc_id") % 2 =!= 0), 1L)
      graft.streaming.CorpusStateStream.foldVocab(s, dir)
      dir
    }

  /** Build-once FORGOTTEN vocabulary state for q201: the
    * servedVocabStateDir protocol, then forgetVocab appends the
    * tombstoned documents' counts negated (plus a replayed forget —
    * ledger no-op, so the gate re-proves deletion idempotence), and a
    * final fold nets deletion against accumulation before serving. */
  private[operators] def servedForgottenVocabStateDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"vocabforget|$d/documents.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_vocabforget_state").toString)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      graft.streaming.CorpusStateStream.updateVocab(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.CorpusStateStream.updateVocab(dir)(
        docs.filter(col("doc_id") % 2 =!= 0), 1L)
      val tomb = docs.filter(Sampling.tombstoned(col("doc_id")))
      graft.streaming.CorpusStateStream.forgetVocab(dir)(tomb, 2L)
      graft.streaming.CorpusStateStream.forgetVocab(dir)(tomb, 2L) // replay
      graft.streaming.CorpusStateStream.foldVocab(s, dir)
      dir
    }

  /** Build-once maintained BIGRAM-LM state for q232: two doc_id-parity
    * waves through updateBigrams (plus a replayed wave — the ledger
    * no-op path against real state) AND updateVocab into the same dir
    * (the smoothing denominator's V reads the co-maintained
    * vocabulary), both folded before serving. Memoized per
    * (session, corpus); protectNew = false. */
  private def servedBigramLmDir(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"bigramlm|$d/documents.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_bigramlm_state").toString)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      val wave1 = docs.filter(col("doc_id") % 2 =!= 0)
      graft.streaming.CorpusStateStream.updateBigrams(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.CorpusStateStream.updateBigrams(dir)(wave1, 1L)
      graft.streaming.CorpusStateStream.updateBigrams(dir)(wave1, 1L) // replay
      graft.streaming.CorpusStateStream.updateVocab(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.CorpusStateStream.updateVocab(dir)(wave1, 1L)
      graft.streaming.CorpusStateStream.foldBigrams(s, dir)
      graft.streaming.CorpusStateStream.foldVocab(s, dir)
      dir
    }

  /** Build-once FORGOTTEN bigram-LM state for q233 (and q206's
    * lm_bigrams leg): the servedBigramLmDir build, then
    * forgetBigrams + forgetVocab append the tombstoned documents'
    * contributions negated (each with a replayed forget — ledger
    * no-ops re-proving deletion idempotence under the gate), and a
    * final fold nets the mixed-sign logs before serving. */
  private[operators] def servedForgottenBigramLmDir(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    graft.AnnSubstrate.getOrBuild(s, s"bigramlmforget|$d/documents.parquet",
        protectNew = false) {
      val dir = graft.AnnSubstrate.deleteOnExit(java.nio.file.Files
        .createTempDirectory("graft_bigramlmforget_state").toString)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      graft.streaming.CorpusStateStream.updateBigrams(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.CorpusStateStream.updateBigrams(dir)(
        docs.filter(col("doc_id") % 2 =!= 0), 1L)
      graft.streaming.CorpusStateStream.updateVocab(dir)(
        docs.filter(col("doc_id") % 2 === 0), 0L)
      graft.streaming.CorpusStateStream.updateVocab(dir)(
        docs.filter(col("doc_id") % 2 =!= 0), 1L)
      val tomb = docs.filter(Sampling.tombstoned(col("doc_id")))
      graft.streaming.CorpusStateStream.forgetBigrams(dir)(tomb, 2L)
      graft.streaming.CorpusStateStream.forgetBigrams(dir)(tomb, 2L) // replay
      graft.streaming.CorpusStateStream.forgetVocab(dir)(tomb, 2L)
      graft.streaming.CorpusStateStream.forgetVocab(dir)(tomb, 2L) // replay
      graft.streaming.CorpusStateStream.foldBigrams(s, dir)
      graft.streaming.CorpusStateStream.foldVocab(s, dir)
      dir
    }

  /** q149: one multiplicative-weights (DoReMi-style) domain reweighting
    * step from per-source excess NLL under the corpus unigram LM —
    * exp boosts floor-quantized to integer micro-units so the
    * normalizer is an exact integer sum. */
  def doremiStep(docs: DataFrame): DataFrame = {
    // (source, token) counts feed both the vocab ln-table and the source
    // ledgers: materialize once (8-byte-key rows, the q143 lesson) so the
    // downstream fan-out replicates a LEAF, not the corpus explode
    val dt = docs
      .select(col("source"), explode(wsTokens(lower(col("text")))).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val vocab = dt.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
    val v2 = vocab.select(col("w"),
      floor(log(col("cnt").cast("double")) * lit(1e6d)).cast("bigint").as("lnq"))
    // |sources| rows, read three times (corpus totals, boosts, output)
    val src = dt.join(v2, "w")
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("n_tokens"),
        sum(col("c") * col("lnq")).cast("bigint").as("slnq"))
      .localCheckpoint(true)
    // corpus token total tt == the vocab-sum total (same integer), so the
    // one corpus aggregate serves both ln(T) and the mean-NLL leg
    val corpus = src.agg(sum(col("n_tokens")).cast("bigint").as("tt"),
      sum(col("slnq")).cast("bigint").as("tslnq"))
    val b = src.crossJoin(broadcast(corpus))
      .select(col("source"), col("n_tokens"),
        (floor(log(col("tt").cast("double")) * lit(1e6d)).cast("bigint")
          * lit(1e-6d)
          - (col("slnq") * lit(1e-6d)) / col("n_tokens")).as("nll"),
        (floor(log(col("tt").cast("double")) * lit(1e6d)).cast("bigint")
          * lit(1e-6d)
          - (col("tslnq") * lit(1e-6d)) / col("tt")).as("nllbar"))
      .select(col("source"), col("n_tokens"), col("nll"),
        (col("nll") - col("nllbar")).as("excess"),
        floor(exp(col("nll") - col("nllbar")) * lit(1e6d)).cast("bigint")
          .as("boost_micro"))
    val z = b.agg(sum(col("boost_micro")).cast("bigint").as("z"))
    b.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("nll"), col("excess"),
        col("boost_micro"),
        (col("boost_micro").cast("double") / col("z").cast("double"))
          .as("weight"))
      .orderBy(col("source"))
  }

  /** q147: pairwise Jensen-Shannon divergence between per-source unigram
    * distributions via the integer common-denominator mixture (w = a*B +
    * b*A over W = 2AB) and per-group micro-nat-quantized ln ledgers. */
  def sourceJsDivergence(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tok = docs
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    // read three times (totals + both pair legs): materialize the bounded
    // 8-byte-key count table once instead of re-exploding the corpus
    val cnt = tok.select(col("source"), xxhash64(col("term")).as("th"))
      .groupBy(col("source"), col("th"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tot = cnt.groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("t"))
    val pairs = tot.select(col("source").as("s1"), col("t").as("ta"))
      .crossJoin(broadcast(tot.select(col("source").as("s2"),
        col("t").as("tb"))))
      .filter(col("s1") < col("s2"))
    val l = broadcast(pairs.select(col("s1"), col("s2")))
      .join(cnt.select(col("source").as("s1"), col("th"),
        col("c").as("a")), Seq("s1"))
    val r = broadcast(pairs.select(col("s1"), col("s2")))
      .join(cnt.select(col("source").as("s2"), col("th"),
        col("c").as("b")), Seq("s2"))
    val u = l.join(r, Seq("s1", "s2", "th"), "full_outer")
      .select(col("s1"), col("s2"),
        coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
    // the w*floor(ln w * 1e6) ledger: w can reach 2*ta*tb ~ (corpus
    // tokens)^2, whose micro-nat product wraps int64 near W ~ 3.5e11
    // mixture mass — SILENTLY on the engine side while the DuckDB
    // twin's HUGEINT sum would not, i.e. engine and oracle would
    // diverge exactly where the corpus grows. The whole ledger
    // (per-term products AND the three sums) therefore runs in
    // decimal(38,0) unconditionally: at |pairs| x |vocab| keys the
    // decimal adds are noise, every value at verify scale is integer-
    // exact in both representations (bit-identical doubles after the
    // final cast), and 38 digits hold any physically reachable W.
    val dec = "decimal(38,0)"
    val term = u.join(broadcast(pairs), Seq("s1", "s2"))
      .withColumn("w", col("a").cast(dec) * col("tb") + col("b").cast(dec) * col("ta"))
      .withColumn("wlnw", col("w") *
        floor(log(col("w").cast("double")) * lit(1e6d)).cast(dec))
      .withColumn("alna", when(col("a") > 0, col("a").cast(dec) *
        floor(log(col("a").cast("double")) * lit(1e6d)).cast(dec))
        .otherwise(lit(0L).cast(dec)))
      .withColumn("blnb", when(col("b") > 0, col("b").cast(dec) *
        floor(log(col("b").cast("double")) * lit(1e6d)).cast(dec))
        .otherwise(lit(0L).cast(dec)))
    // 2*ta*tb likewise leaves int64 arithmetic: ta/tb are exact in
    // double far beyond any real corpus (2^53 tokens), so the ln arg
    // and the divisor are double products — identical values at any
    // scale the long form could represent, defined beyond it
    val dtt = lit(2.0d) * col("ta").cast("double") * col("tb").cast("double")
    term.groupBy(col("s1"), col("s2"), col("ta"), col("tb"))
      .agg(count(lit(1)).cast("bigint").as("n_terms"),
        sum(when(col("a") > 0 && col("b") > 0, lit(1L)).otherwise(lit(0L)))
          .cast("bigint").as("n_shared"),
        sum(col("wlnw")).cast(dec).as("sw"),
        sum(col("alna")).cast(dec).as("sa"),
        sum(col("blnb")).cast(dec).as("sb"))
      .select(col("s1"), col("s2"), col("n_terms"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_terms").cast("double"))
          .as("shared_frac"),
        ((floor(log(dtt) * lit(1e6d)).cast("bigint") * lit(1e-6d)
          - (col("sw").cast("double") * lit(1e-6d)) / dtt)
          - lit(0.5d) * (floor(log(col("ta").cast("double")) * lit(1e6d))
              .cast("bigint") * lit(1e-6d)
            - (col("sa").cast("double") * lit(1e-6d)) / col("ta").cast("double"))
          - lit(0.5d) * (floor(log(col("tb").cast("double")) * lit(1e6d))
              .cast("bigint") * lit(1e-6d)
            - (col("sb").cast("double") * lit(1e-6d)) / col("tb").cast("double")))
          .as("js_nats"))
      .orderBy(col("s1"), col("s2"))
  }
}
