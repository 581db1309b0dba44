package graft.operators

import java.time.Instant

import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.expressions.InstantRef
import graft.functions.DetAgg.sql
import graft.pipeline.{Cleaning, Metadata, StatsAggregation, Validation}

/** The reference pipeline's transform surface (clean → validate → enrich
  * → aggregate, SURVEY.md §2.3-2.7) exercised as oracle-checked queries
  * over the driver testdata. The golden smart-farming fixtures are
  * covered separately in PipelineSpec; these queries prove the SAME
  * library functions against the DuckDB oracle.
  */
object PipelineOps {

  /** Validation config used for the oracle query: key / numeric-parse /
    * range rules over `events`, in reference rule order. */
  val eventsValidation: Validation.Config = Validation.Config(
    keyFields = Seq("user_id"),
    numericFields = Seq("value"),
    ranges = Seq(Validation.InRange("value", 0, 250)),
    heavyNullThreshold = 0.5)

  val queries: Seq[Q] = Seq(

    Q("q24_validation_cascade",
      """SELECT coalesce(error_reason, 'OK') AS error_reason, count(*) AS n_rows
        |FROM (
        |  SELECT CASE
        |    WHEN user_id IS NULL THEN 'Missing key: user_id'
        |    WHEN CAST(value AS DOUBLE) IS NULL OR isnan(CAST(value AS DOUBLE))
        |      THEN 'Invalid numeric in value'
        |    WHEN value < 0 OR value > 250 THEN 'value out of range [0,250]'
        |    WHEN (CAST(event_id IS NULL AS INT) + CAST(ts IS NULL AS INT)
        |        + CAST(user_id IS NULL AS INT) + CAST(event_type IS NULL AS INT)
        |        + CAST(value IS NULL AS INT) + CAST(props IS NULL AS INT)) >= 3
        |      THEN 'Too many nulls in row'
        |    END AS error_reason
        |  FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
      "Reference first-error-wins validation cascade (helpers.py:60-142) as one codegen'd Project — error distribution per reason.") {
      (s, d) =>
        Validation.withErrorReason(Tables.events(s, d), eventsValidation)
          .groupBy(coalesce(col(Validation.ErrorCol), lit("OK")).as("error_reason"))
          .agg(count(lit(1)).as("n_rows"))
          .orderBy(col("error_reason"))
    },

    Q("q25_row_hash",
      """SELECT doc_id,
        |  sha256(concat_ws('||',
        |    coalesce(CAST(doc_id AS VARCHAR), 'NULL'),
        |    coalesce(CAST(text AS VARCHAR), 'NULL'),
        |    coalesce(CAST(lang AS VARCHAR), 'NULL'),
        |    coalesce(CAST(source AS VARCHAR), 'NULL'),
        |    coalesce(CAST(n_chars AS VARCHAR), 'NULL'))) AS row_hash
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
      "Replay-stable SHA-256 row fingerprint (helpers.py:208-215) — the idempotence key for the upsert sink.") {
      (s, d) =>
        val docs = Tables.documents(s, d)
        docs.select(col("doc_id"),
            Metadata.rowHash(docs.columns.toSeq).as("row_hash"))
          .orderBy(col("doc_id"))
    },

    Q("q26_clean_trim",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(trim(text))) AS BIGINT) AS total_chars,
        |  CAST(min(length(trim(text))) AS BIGINT) AS min_chars
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
      "Cleaning stage (trim-all-strings + drop-all-null, helpers.py:46-54) feeding per-language size stats.") {
      (s, d) =>
        Cleaning.clean(Tables.documents(s, d))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).as("total_chars"),
            min(length(col("text"))).cast("bigint").as("min_chars"))
          .orderBy(col("lang"))
    },

    Q("q27_stats_aggregation",
      s"""SELECT event_type,
         |  min(event_id) AS min_event_id, max(event_id) AS max_event_id,
         |  ${sql.davg("event_id")} AS avg_event_id, ${sql.dstddev("event_id")} AS stddev_event_id,
         |  min(user_id) AS min_user_id, max(user_id) AS max_user_id,
         |  ${sql.davg("user_id")} AS avg_user_id, ${sql.dstddev("user_id")} AS stddev_user_id,
         |  min(value) AS min_value, max(value) AS max_value,
         |  ${sql.davg("value")} AS avg_value, ${sql.dstddev("value")} AS stddev_value,
         |  'oracle' AS data_source, 'events_agg' AS file_name
         |FROM events
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
      "Reference apply_aggregations (helpers.py:148-204): min/max/avg/stddev per numeric column, dynamic column discovery, deterministic decimal forms.") {
      (s, d) =>
        StatsAggregation.aggregate(Tables.events(s, d), groupCol = "event_type",
            dataSource = "oracle", fileName = "events_agg",
            ingestedAt = InstantRef.column(Instant.now())).get
          .drop("ingestion_ts") // wall-clock, not oracle-comparable
          .orderBy(col("event_type"))
    },

    Q("q99_profile_drift",
      s"""WITH s AS (
         |  SELECT *, CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '80'
         |                 THEN 'a' ELSE 'b' END AS split
         |  FROM orders),
         |m AS (
         |  SELECT split,
         |    CAST(count(DISTINCT o_custkey) AS DOUBLE) AS nd_custkey,
         |    CAST(count(DISTINCT o_orderstatus) AS DOUBLE) AS nd_status,
         |    CAST(count(DISTINCT o_orderpriority) AS DOUBLE) AS nd_priority,
         |    ${sql.davg("o_totalprice")} AS mean_price,
         |    CAST(sum(CASE WHEN (CASE WHEN o_orderkey % 7 = 0 THEN NULL
         |                             ELSE o_totalprice END) IS NULL
         |             THEN 1 ELSE 0 END) AS DOUBLE)
         |      / count(*) AS nr_masked
         |  FROM s GROUP BY split),
         |long AS (
         |  SELECT split, 'o_custkey' AS col_name, 'n_distinct' AS metric, nd_custkey AS value FROM m
         |  UNION ALL SELECT split, 'o_orderstatus', 'n_distinct', nd_status FROM m
         |  UNION ALL SELECT split, 'o_orderpriority', 'n_distinct', nd_priority FROM m
         |  UNION ALL SELECT split, 'o_totalprice', 'mean', mean_price FROM m
         |  UNION ALL SELECT split, 'o_totalprice_masked', 'null_rate', nr_masked FROM m)
         |SELECT col_name, metric,
         |  max(CASE WHEN split = 'a' THEN value END) AS a_value,
         |  max(CASE WHEN split = 'b' THEN value END) AS b_value,
         |  abs(max(CASE WHEN split = 'a' THEN value END)
         |    - max(CASE WHEN split = 'b' THEN value END)) AS drift
         |FROM long GROUP BY col_name, metric
         |ORDER BY col_name, metric""".stripMargin,
      "Column-profile DRIFT between two slices of a table — the production data-quality monitor's core question ('did today's data change shape vs yesterday's'), here over a deterministic md5 half-split standing in for the two days: per column, distinct counts, null rates, and DetAgg means computed per slice in ONE grouped pass, melted to (column, metric, a, b, |drift|) rows. The null-rate metric profiles a deterministically MASKED price column (NULL where o_orderkey % 7 = 0) because the TPC-H-shaped test tables contain no physical NULLs — an always-zero null rate would leave the null-counting aggregate unexercised by the oracle; the mask makes both the rate (~1/7, split-dependent) and its drift real, engine-compared numbers. All metrics are exact-integer-derived or DetAgg doubles, so even the drift column hash-matches. Scale: one map-side-combined grouped aggregate over the table (multi-distinct expands the pass by the metric count, the standard trade); the melt/pivot runs on a |columns|x|metrics| frame.") {
      (s, d) =>
        val sp = Tables.orders(s, d)
          .withColumn("split",
            when(Sampling.hashBucket(col("o_orderkey")) < "80", "a").otherwise("b"))
        val m = sp.groupBy(col("split")).agg(
          countDistinct(col("o_custkey")).cast("double").as("nd_custkey"),
          countDistinct(col("o_orderstatus")).cast("double").as("nd_status"),
          countDistinct(col("o_orderpriority")).cast("double").as("nd_priority"),
          graft.functions.DetAgg.davg(col("o_totalprice")).as("mean_price"),
          (sum(when(when(col("o_orderkey") % 7 === 0, lit(null))
              .otherwise(col("o_totalprice")).isNull, 1).otherwise(0)).cast("double")
            / count(lit(1))).as("nr_masked"))
        val long = m.select(col("split"), expr(
          """stack(5,
            |  'o_custkey', 'n_distinct', nd_custkey,
            |  'o_orderstatus', 'n_distinct', nd_status,
            |  'o_orderpriority', 'n_distinct', nd_priority,
            |  'o_totalprice', 'mean', mean_price,
            |  'o_totalprice_masked', 'null_rate', nr_masked) AS (col_name, metric, value)""".stripMargin))
        val a = max(when(col("split") === "a", col("value"))).as("a_value")
        val b = max(when(col("split") === "b", col("value"))).as("b_value")
        long.groupBy(col("col_name"), col("metric"))
          .agg(a, b,
            abs(max(when(col("split") === "a", col("value")))
              - max(when(col("split") === "b", col("value")))).as("drift"))
          .orderBy(col("col_name"), col("metric"))
    },
  )
}
