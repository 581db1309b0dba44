package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** The shared-substrate memo contract: build-once identity, keyed ==
  * unkeyed value equality through the public operators that consume it,
  * and explicit-key isolation (two different corpora under different
  * keys never collide). The per-family plan pins live next to their
  * operators (DedupScaleSpec's cap fingerprints, PlanSpec's q169/q181
  * regimes); this suite pins the memo itself. */
class AnnSubstrateSpec extends SparkSpec {

  test("getOrBuild runs the builder once per key and returns the same instance") {
    var builds = 0
    def make(): java.lang.Long = { builds += 1; Long.box(42L) }
    val a = AnnSubstrate.getOrBuild(spark, "spec|memo|identity")(make())
    val b = AnnSubstrate.getOrBuild(spark, "spec|memo|identity")(make())
    assert(builds == 1, "the builder ran more than once for one key")
    assert(a eq b, "the memo handed out different instances for one key")
  }

  test("keyed and unkeyed builds are value-identical through the public consumers") {
    val docs = Tables.documents(spark, sf0001)
    // distinct spec-local keys: never touch the registered corpus keys,
    // so this suite cannot warm (or be warmed by) the query registry
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(Dedup.nearDupSurvivors(docs, maxHamming = 8,
        corpusKey = Some("spec|nds|a"))) ==
      rows(Dedup.nearDupSurvivors(docs, maxHamming = 8)),
      "nearDupSurvivors diverged keyed vs unkeyed")
    assert(rows(TextAnalysis.winnowingStats(docs,
        corpusKey = Some("spec|win|a"))) ==
      rows(TextAnalysis.winnowingStats(docs)),
      "winnowingStats diverged keyed vs unkeyed")
    assert(rows(Dedup.contamination(docs,
        corpusKey = Some("spec|cont|a"))) ==
      rows(Dedup.contamination(docs)),
      "contamination diverged keyed vs unkeyed")
    val embs = Tables.embeddings(spark, sf0001)
    assert(rows(operators.Similarity.annTopK(embs, Seq(0L, 1L), 10,
        corpusKey = Some("spec|lsh|a"))) ==
      rows(operators.Similarity.annTopK(embs, Seq(0L, 1L), 10)),
      "annTopK diverged keyed vs unkeyed")
  }

  test("explicit keys isolate corpora: a second corpus under its own key gets its own build") {
    import spark.implicits._
    // two fixtures with IDENTICAL schemas but different content — the
    // failure mode the explicit-key contract exists to prevent is one
    // memoized frame answering for both
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val b = Seq((1L, "one two three four five six"),
      (2L, "seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val pa = Dedup.nearDupSurvivors(a, maxHamming = 8,
      corpusKey = Some("spec|iso|corpusA")).collect()
    val pb = Dedup.nearDupSurvivors(b, maxHamming = 8,
      corpusKey = Some("spec|iso|corpusB")).collect()
    // corpus A is a perfect twin pair -> one 2-member cluster; corpus B
    // shares no tokens -> no clusters at hamming <= 8 on 64-bit simhash
    assert(pa.length == 1 && pa.head.getAs[Long]("n_members") == 2L,
      s"corpus A expected one 2-member cluster, got ${pa.mkString(";")}")
    assert(pb.isEmpty,
      s"corpus B leaked corpus A's substrate: ${pb.mkString(";")}")
  }

  test("the retrieval trio reads the ONE memoized LSH signature frame (identity pin)") {
    // the DedupScaleSpec convention: match by backing-RDD id, never a
    // plan-string fingerprint. Constructing the registered frames
    // populates the memo (annTopK routes through the keyed path).
    def rddIds(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
    val trio = Seq("q39_ann_lsh_topk", "q128_ann_recall", "q137_rrf_fusion")
      .map(n => n -> SparkEntry.queries(n)(spark, sf0001))
    val frame = AnnSubstrate.cached[org.apache.spark.sql.DataFrame](spark,
        s"lshsig|$sf0001/embeddings.parquet|8")
      .getOrElse(fail("lshsig substrate not memoized — did the trio stop " +
        "routing through annTopK(corpusKey)?"))
    val subIds = rddIds(frame)
    assert(subIds.nonEmpty, "lshsig substrate is not checkpoint-backed")
    for ((name, df) <- trio)
      assert((rddIds(df) & subIds).nonEmpty,
        s"$name does not read the memoized LSH signature checkpoint")
  }

  test("substrate frames survive an unpersist sweep that honors protectedRddIds") {
    val docs = Tables.documents(spark, sf0001)
    val keyed = Dedup.nearDupSurvivors(docs, maxHamming = 8,
      corpusKey = Some("spec|sweep|a"))
    val before = keyed.collect()
    // the Bench sweep: unpersist everything persistent EXCEPT the
    // substrate's registered blocks, then re-read the memoized frame
    val keep = AnnSubstrate.protectedRddIds(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = false)
    }
    val after = Dedup.nearDupSurvivors(docs, maxHamming = 8,
      corpusKey = Some("spec|sweep|a")).collect()
    assert(before.map(_.toString).sorted.sameElements(
      after.map(_.toString).sorted),
      "the substrate frame did not survive the Bench unpersist sweep")
  }
}
