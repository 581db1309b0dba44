package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Q, Tables}
import graft.functions.DetAgg._

/** Event-time windowing over the `events` table.
  *
  * Each transform is a plain `DataFrame => DataFrame`, so the SAME code
  * runs in batch (here, oracle-checked) and under Structured Streaming
  * (graft.streaming wires watermarks around them — see
  * [[graft.streaming.EventStreams]]). That one-definition-two-runtimes
  * property is the core Spark idiom for a real-time pipeline: the
  * streaming job cannot drift from the batch backfill.
  *
  * Scale posture: time-window groupBys shuffle on (window, key) — bounded
  * cardinality, safe at any input size. The range-frame query shuffles on
  * user_id only; per-user timelines are assumed executor-sized (true for
  * clickstream-shaped data; a hot key would be salted upstream).
  */
object EventWindows {

  /** Tumbling 1-hour windows per event_type. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsumD(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Sliding 1-hour windows every 30 minutes (each event in 2 windows). */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), davg(col("value")).as("avg_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("avg_value"))

  /** Gap-based session windows (5 min) per user. */
  def sessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Per-user trailing 5-minute activity via a RANGE frame on event time. */
  def trailingActivity(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-300000000L, 0L) // 300 s in microseconds
    events
      .withColumn("ts_us", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_recent"),
        dsum(col("value")).over(w).cast("double").as("recent_value"))
  }

  /** Secondary-sort formulation of the q77 EWMA — the UNBOUNDED-group
    * scale path. q77 collects each (user, day)'s values into one array
    * (fine while a group fits an executor, the clickstream case); this
    * variant never materializes a group: repartition by the group key,
    * sortWithinPartitions by (key, ts, event_id), then ONE streaming pass
    * per partition folds contiguous runs — constant memory per task no
    * matter how large a single group grows. Same shuffle count as the
    * aggregate (one exchange + local sort), bit-identical output
    * (EventAnalyticsSpec pins parity against q77's fold). */
  def ewmaSecondarySort(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"),
        to_date(col("ts")).cast("timestamp").as("day"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Long, Double)]
      .repartition(col("user_id"), col("day"))
      .sortWithinPartitions(col("user_id"), col("day"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        // contiguous-run fold: groups never co-reside in memory
        new Iterator[(Long, java.sql.Timestamp, Int, Double)] {
          private val rows = it.buffered
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, java.sql.Timestamp, Int, Double) = {
            val (user, day, _, _, x0) = rows.next()
            var n = 1
            var y = x0
            while (rows.hasNext && rows.head._1 == user && rows.head._2 == day) {
              y = 0.3d * rows.next()._5 + 0.7d * y
              n += 1
            }
            (user, day, n, y)
          }
        }
      }
      .toDF("user_id", "day", "n_events", "ewma")
  }

  /** Weekly growth-accounting ledger (q91): one per-user ordered pass
    * over distinct active weeks; each row explodes into its status
    * record (new / retained / resurrected) plus an optional churn record
    * attributed to the following week (bounded by the last observed
    * week). Exposed as a method so tests can drive the resurrected /
    * churned / gap-week branches on synthetic data — the fixed corpus's
    * users are all continuously active, which exercises only new and
    * retained. */
  def growthLedger(events: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val week7 = expr("INTERVAL 7 DAY")
    val active = events
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk")).distinct()
    val seq = active
      .withColumn("prev_wk", lag(col("wk"), 1).over(wU))
      .withColumn("next_wk", lead(col("wk"), 1).over(wU))
    val maxw = events.agg(date_trunc("week", max(col("ts"))).as("mw"))
    val statusRec = struct(col("wk").as("week"),
      when(col("prev_wk").isNull, "new")
        .when(col("prev_wk") === col("wk") - week7, "retained")
        .otherwise("resurrected").as("kind"))
    val churnRec = struct((col("wk") + week7).as("week"), lit("churned").as("kind"))
    val emitsChurn = (col("next_wk").isNull || col("next_wk") > col("wk") + week7) &&
      col("wk") + week7 <= col("mw")
    val recs = seq.crossJoin(broadcast(maxw))
      .select(explode(when(emitsChurn, array(statusRec, churnRec))
        .otherwise(array(statusRec))).as("r"))
      .select(col("r.week").as("week"), col("r.kind").as("kind"))
    def kindCount(k: String) =
      sum(when(col("kind") === k, 1).otherwise(0)).as(s"n_$k")
    recs.groupBy(col("week"))
      .agg(kindCount("new"), kindCount("retained"),
        kindCount("resurrected"), kindCount("churned"))
  }

  /** q72_funnel's oracle SQL — shared VERBATIM with its state-served
    * stream read (q192–q196 family), so a hash match there proves the
    * fMGWS machine's persisted records and the batch recompute are
    * value-identical (the q118/q188 sharing convention). */
  private val q72OracleSql: String = q72OracleSqlOver("events")

  /** q72's chain over an arbitrary events relation — `"events"` renders
    * the historical q72/q192 SQL byte-equal; q205 passes the
    * tombstone-survivor subquery, because a user-level forget removes
    * every one of the user's finalized stage records: the funnel must
    * count as if the user never existed. */
  private def q72OracleSqlOver(evRel: String): String =
    s"""WITH v AS (
       |  SELECT user_id, min(ts) AS t1 FROM $evRel
       |  WHERE event_type = 'view' GROUP BY user_id),
       |c AS (
       |  SELECT e.user_id, min(e.ts) AS t2 FROM $evRel e
       |  JOIN v ON e.user_id = v.user_id
       |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
       |p AS (
       |  SELECT e.user_id, min(e.ts) AS t3 FROM $evRel e
       |  JOIN c ON e.user_id = c.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
       |SELECT (SELECT count(*) FROM v) AS n_view,
       |       (SELECT count(*) FROM c) AS n_click,
       |       (SELECT count(*) FROM p) AS n_purchase""".stripMargin

  /** The tombstone-survivor events relation (the shared md5-bucket rule
    * on user_id) — spliced into each machine's batch-twin SQL for the
    * forgotten-sink reads q205/q208–q211: a user-level forget removes
    * every finalized record of the user, so each analytic must count as
    * if the user never existed. */
  private def survEventsRel: String =
    "(SELECT * FROM events WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <> '" +
      Sampling.TombstoneHex + "')"

  private def q205OracleSql: String = q72OracleSqlOver(survEventsRel)

  /** q73_retention_cohorts's oracle SQL — shared VERBATIM with its state-served
    * stream read (q192–q196 family), so a hash match there proves the
    * fMGWS machine's persisted records and the batch recompute are
    * value-identical (the q118/q188 sharing convention). */
  private val q73OracleSql: String = q73OracleSqlOver("events")

  private def q73OracleSqlOver(evRel: String): String =
    s"""WITH firstw AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
      |  FROM $evRel GROUP BY user_id),
      |active AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      |  FROM $evRel)
      |SELECT f.cohort AS cohort_week,
      |  CAST(epoch(a.wk - f.cohort) / 604800 AS INT) AS week_n,
      |  count(*) AS n_users
      |FROM active a JOIN firstw f ON a.user_id = f.user_id
      |GROUP BY cohort_week, week_n
      |ORDER BY cohort_week, week_n""".stripMargin

  /** q77_ewma_smoothing's oracle SQL — shared VERBATIM with its state-served
    * stream read (q192–q196 family), so a hash match there proves the
    * fMGWS machine's persisted records and the batch recompute are
    * value-identical (the q118/q188 sharing convention). */
  private val q77OracleSql: String = q77OracleSqlOver("events")

  private def q77OracleSqlOver(evRel: String): String =
    s"""WITH g AS (
      |  SELECT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
      |    list(value ORDER BY ts, event_id) AS vals
      |  FROM $evRel GROUP BY user_id, CAST(ts AS DATE))
      |SELECT user_id, day, CAST(len(vals) AS INT) AS n_events,
      |  list_reduce(vals,
      |    (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc) AS ewma
      |FROM g ORDER BY user_id, day""".stripMargin

  /** q98_session_conversion's oracle SQL — shared VERBATIM with its state-served
    * stream read (q192–q196 family), so a hash match there proves the
    * fMGWS machine's persisted records and the batch recompute are
    * value-identical (the q118/q188 sharing convention). */
  private val q98OracleSql: String = q98OracleSqlOver("events")

  private def q98OracleSqlOver(evRel: String): String =
    s"""WITH marked AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM $evRel
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), numbered AS (
      |  SELECT user_id, ts, event_type,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked),
      |sessions AS (
      |  SELECT user_id, sid, min(ts) AS session_start,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM numbered GROUP BY user_id, sid)
      |SELECT CAST(CAST(session_start AS DATE) AS TIMESTAMP) AS day,
      |  count(*) AS n_sessions,
      |  CAST(sum(converted) AS BIGINT) AS n_converted,
      |  CAST(sum(converted) AS DOUBLE) / count(*) AS conversion_rate
      |FROM sessions GROUP BY day ORDER BY day""".stripMargin

  /** q86_event_transitions's oracle SQL — shared VERBATIM with its state-served
    * stream read (q192–q196 family), so a hash match there proves the
    * fMGWS machine's persisted records and the batch recompute are
    * value-identical (the q118/q188 sharing convention). */
  private val q86OracleSql: String = q86OracleSqlOver("events")

  private def q86OracleSqlOver(evRel: String): String =
    s"""WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM $evRel)
      |SELECT prev, event_type AS next, count(*) AS n,
      |  CAST(count(*) AS DOUBLE)
      |    / CAST(sum(count(*)) OVER (PARTITION BY prev) AS DOUBLE) AS p
      |FROM seq WHERE prev IS NOT NULL
      |GROUP BY prev, next
      |ORDER BY prev, next""".stripMargin

  val queries: Seq[Q] = Seq(

    Q("q20_range_frame_window",
      """SELECT user_id, event_id, n_recent, recent_value FROM (
        |  SELECT user_id, event_id,
        |    count(*) OVER w AS n_recent,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS VARCHAR) AS DOUBLE) AS recent_value
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |               RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW))
        |ORDER BY user_id, event_id""".stripMargin,
      "Event-time RANGE frame: trailing 5-minute per-user count/sum without a self-join — one shuffle on user_id.") {
      (s, d) =>
        trailingActivity(Tables.events(s, d))
          .orderBy(col("user_id"), col("event_id"))
    },

    Q("q21_tumbling_window",
      s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
         |  count(*) AS n_events,
         |  ${sql.dsumD("value")} AS total_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
      "Tumbling 1 h event-time windows per type — the batch twin of the streaming aggregation in graft.streaming.") {
      (s, d) =>
        tumbling(Tables.events(s, d))
          .orderBy(col("window_start"), col("event_type"))
    },

    Q("q22_sliding_window",
      s"""SELECT window_start, count(*) AS n_events, ${sql.davg("value")} AS avg_value
         |FROM (
         |  SELECT unnest([b, b - INTERVAL 30 MINUTE]) AS window_start, value
         |  FROM (SELECT CAST(time_bucket(INTERVAL 30 MINUTE, ts) AS TIMESTAMP) AS b, value
         |        FROM events))
         |GROUP BY window_start
         |ORDER BY window_start""".stripMargin,
      "Sliding 1 h / 30 min windows: Spark expands each event into its 2 covering windows before the shuffle.") {
      (s, d) =>
        sliding(Tables.events(s, d))
          .orderBy(col("window_start"))
    },

    Q("q23_session_window",
      """WITH marked AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), numbered AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        |FROM numbered
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
      "Gap-based session windows (5 min): Spark session_window vs the classic gaps-and-islands SQL formulation.") {
      (s, d) =>
        sessions(Tables.events(s, d))
          .orderBy(col("user_id"), col("session_start"))
    },

    Q("q66_gap_fill",
      s"""WITH ev AS (
         |  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, value
         |  FROM events WHERE user_id <= 5),
         |hourly AS (
         |  SELECT user_id, hour, ${sql.davg("value")} AS v, count(*) AS n_events
         |  FROM ev GROUP BY user_id, hour),
         |bounds AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM ev GROUP BY user_id),
         |grid AS (
         |  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
         |  FROM bounds)
         |SELECT g.user_id, g.hour,
         |  coalesce(h.n_events, 0) AS n_events,
         |  last_value(h.v IGNORE NULLS) OVER (
         |    PARTITION BY g.user_id ORDER BY g.hour
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
         |  CAST(h.v IS NULL AS INT) AS is_gap
         |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
         |ORDER BY g.user_id, g.hour""".stripMargin,
      "Time-series resample + gap-fill: each user's hourly grid comes from sequence()/explode between their own bounds, empty hours join as NULL and forward-fill via last(ignoreNulls) over a running frame. Grid generation is per-key and bounded by the key's own span — no global calendar table, no driver loop.") {
      (s, d) =>
        val ev = Tables.events(s, d).filter(col("user_id") <= 5)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"), col("value"))
        val hourly = ev.groupBy(col("user_id"), col("hour"))
          .agg(davg(col("value")).as("v"), count(lit(1)).as("n_events"))
        val grid = ev.groupBy(col("user_id"))
          .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "hour"), "left")
          .select(col("user_id"), col("hour"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            last(col("v"), ignoreNulls = true).over(w).as("value_ffill"),
            col("v").isNull.cast("int").as("is_gap"))
          .orderBy(col("user_id"), col("hour"))
    },

    Q("q72_funnel", q72OracleSql,
      "Ordered funnel (first view -> later click -> later purchase): each stage is one per-user min + one user_id-co-partitioned join — never the 3-way event self-join the naive funnel explodes into. Stage frames shrink monotonically, so each join's build side only gets smaller.") {
      (s, d) =>
        val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
        def stage(tpe: String, prev: DataFrame, prevT: String, t: String) =
          ev.filter(col("event_type") === tpe)
            .join(prev, Seq("user_id"))
            .filter(col("ts") > col(prevT))
            .groupBy(col("user_id")).agg(min(col("ts")).as(t))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val c = stage("click", v, "t1", "t2")
        val p = stage("purchase", c, "t2", "t3")
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click"))))
          .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase"))))
    },

    Q("q73_retention_cohorts", q73OracleSql,
      "Weekly retention cohorts: users bucketed by first-activity week, counted in each later active week. Two per-user aggregates plus one user_id-co-partitioned join; cohort output cardinality is weeks², independent of event volume.") {
      (s, d) =>
        val ev = Tables.events(s, d)
        val firstw = ev.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).as("cohort"))
        val active = ev.select(col("user_id"),
          date_trunc("week", col("ts")).as("wk")).distinct()
        active.join(firstw, Seq("user_id"))
          .groupBy(col("cohort").as("cohort_week"),
            ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort"))) / 604800)
              .cast("int").as("week_n"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_n"))
    },

    Q("q77_ewma_smoothing", q77OracleSql,
      "Exponentially weighted moving average per (user, day): y_1 = x_1, y_n = 0.3*x_n + 0.7*y_(n-1) over (ts, event_id)-ordered values. The recursion is inherently sequential, so it runs as an aggregate() left fold over each group's collected values — Spark aggregate() and DuckDB list_reduce are BOTH strict sequential left folds, so the doubles compare bit-equal with no rounding (the q35/q49 fold-parity result). Scale: one shuffle on (user, day); the collected array is one group's events, bounded by per-user-per-day volume, never the stream (an unbounded-key variant would stream via flatMapGroupsWithState like FunnelStream). Literals are CAST AS DOUBLE in the twin because bare 0.3 parses as DECIMAL in DuckDB.") {
      (s, d) =>
        val ev = Tables.events(s, d)
        val grouped = ev
          // DATE vs TIMESTAMP dtypes canonicalize differently in the
          // driver compare — emit midnight timestamps like q73's cohorts
          .groupBy(col("user_id"), to_date(col("ts")).cast("timestamp").as("day"))
          .agg(sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("value")))).as("evs"))
          .withColumn("vals", transform(col("evs"), e => e.getField("value")))
        grouped.select(col("user_id"), col("day"),
            size(col("vals")).as("n_events"),
            aggregate(
              slice(col("vals"), lit(2), size(col("vals")) - 1),
              element_at(col("vals"), 1),
              (acc, x) => lit(0.3d) * x + lit(0.7d) * acc).as("ewma"))
          .orderBy(col("user_id"), col("day"))
    },

    Q("q89_linear_trend",
      s"""WITH base AS (
         |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
         |  FROM events),
         |t0 AS (SELECT min(us) AS us0 FROM base),
         |pts AS (
         |  SELECT event_type,
         |    (us - us0) // 60000000 AS m,
         |    CAST(floor(value * 1e6) AS BIGINT) AS v
         |  FROM base, t0),
         |s AS (
         |  SELECT event_type, count(*) AS n,
         |    ${sql.dsumD("m")} AS sm, ${sql.dsumD("v")} AS sv,
         |    ${sql.dsumD("m * v")} AS smv, ${sql.dsumD("m * m")} AS smm
         |  FROM pts GROUP BY event_type),
         |c AS (
         |  SELECT event_type, n,
         |    sm / 1440e0 AS sx, sv * 1e-6 AS sy,
         |    smv * 1e-6 / 1440e0 AS sxy, smm / 2073600e0 AS sxx
         |  FROM s)
         |SELECT event_type, n,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         |  (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
         |FROM c ORDER BY event_type""".stripMargin,
      "Per-group ordinary-least-squares trend (value vs event time), BIT-reproducible cross-engine: x and y are quantized to exact INTEGERS first (minutes since the first event via integer division; floor(value*1e6) micro-units — floor because DuckDB's double->int cast rounds where Spark's truncates), so every summed element and product (m*v <= 2.4e13, long-exact) is an integer whose decimal cast can never hit a rounding boundary — the failure mode that a naive sum of x*x doubles at ~4e8 magnitude actually exhibits (the double->decimal tie behavior of the two engines diverges with probability ~ulp/grid per element). The five sufficient statistics are then exact, the unit rescale (minutes->days, micro->value) and the closed-form slope/intercept are identical IEEE expressions on identical inputs. Two passes (global min + one map-side-combined shuffle to |groups| rows); intercept = estimated value at corpus start.") {
      (s, d) =>
        val base = Tables.events(s, d).select(col("event_type"),
          unix_micros(col("ts")).as("us"), col("value"))
        val t0 = base.agg(min(col("us")).as("us0"))
        val pts = base.crossJoin(broadcast(t0)).select(col("event_type"),
          expr("(us - us0) div 60000000").as("m"),
          floor(col("value") * lit(1e6d)).as("v"))
        val st = pts.groupBy(col("event_type")).agg(count(lit(1)).as("n"),
          dsumD(col("m")).as("sm"), dsumD(col("v")).as("sv"),
          dsumD(col("m") * col("v")).as("smv"),
          dsumD(col("m") * col("m")).as("smm"))
        val cv = st.select(col("event_type"), col("n"),
          (col("sm") / lit(1440.0d)).as("sx"),
          (col("sv") * lit(1e-6d)).as("sy"),
          (col("smv") * lit(1e-6d) / lit(1440.0d)).as("sxy"),
          (col("smm") / lit(2073600.0d)).as("sxx"))
        val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
        cv.select(col("event_type"), col("n"),
            slope.as("slope"),
            ((col("sy") - slope * col("sx")) / col("n")).as("intercept"))
          .orderBy(col("event_type"))
    },

    Q("q90_user_entropy",
      """WITH c AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY user_id, event_type),
        |u AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types,
        |    list_transform(list(CAST(c AS DOUBLE) ORDER BY event_type),
        |                   x -> x * ln(x)) AS terms
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n, n_types,
        |  round(ln(n) - list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms),
        |                            (a, x) -> a + x) / n, 6) AS entropy
        |FROM u ORDER BY user_id""".stripMargin,
      "Behavioral entropy per user: Shannon entropy of the user's event-type distribution via H = ln(n) - (Σ c·ln(c))/n — the identity avoids materializing probabilities. The Σ is a strict sequential left fold over event_type-ORDERED counts (Spark aggregate() / DuckDB list_reduce with a prepended 0.0 seed — the q77 fold-parity trick), so the addition order is pinned cross-engine; ln() is the one libm call, absorbed by rounding to 6 decimals (a 1-ulp divergence flips a 6-dp boundary with probability ~1e-10 — the q41 precedent). Scale: two map-side-combined shuffles; per-user state is ≤ |event types| counts.") {
      (s, d) =>
        val c = Tables.events(s, d)
          .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
        c.groupBy(col("user_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"),
            transform(sort_array(collect_list(struct(col("event_type"), col("c")))),
              e => e.getField("c").cast("double")).as("cs"))
          .select(col("user_id"), col("n"), col("n_types"),
            round(log(col("n")) -
              aggregate(transform(col("cs"), x => x * log(x)), lit(0.0d), _ + _)
                / col("n"), 6).as("entropy"))
          .orderBy(col("user_id"))
    },

    Q("q91_growth_accounting",
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
        |  FROM events),
        |seq AS (
        |  SELECT user_id, wk,
        |    lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
        |  FROM active),
        |maxw AS (
        |  SELECT CAST(date_trunc('week', max(ts)) AS TIMESTAMP) AS mw FROM events),
        |recs AS (
        |  SELECT wk AS week,
        |    CASE WHEN prev_wk IS NULL THEN 'new'
        |         WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
        |         ELSE 'resurrected' END AS kind
        |  FROM seq
        |  UNION ALL
        |  SELECT wk + INTERVAL 7 DAY AS week, 'churned' AS kind
        |  FROM seq, maxw
        |  WHERE (next_wk IS NULL OR next_wk > wk + INTERVAL 7 DAY)
        |    AND wk + INTERVAL 7 DAY <= mw)
        |SELECT week,
        |  CAST(sum(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(sum(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |  CAST(sum(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
        |  CAST(sum(CASE WHEN kind = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
        |FROM recs GROUP BY week ORDER BY week""".stripMargin,
      "Weekly growth accounting — the product-analytics ledger: per week, users split into NEW (first-ever active week), RETAINED (also active the prior week), RESURRECTED (active before, but not the prior week), and CHURNED (active the prior week, absent this one; attributed to the following week, reported up to the last observed week — a churn-only gap week appears with zero actives). ONE per-user ordered pass (lag/lead over distinct active weeks) emits every ledger record — each seq row explodes into its status record plus an optional churn record — so there are no per-week self-joins and no replayed subtrees (the two-branch formulation re-ran the distinct+window chain three times; this one runs it once). Outputs are exact integers. Scale: DISTINCT (user, week) collapses event volume first; the single user_id exchange dominates; weekly frames are |weeks|-sized.") {
      (s, d) => growthLedger(Tables.events(s, d)).orderBy(col("week"))
    },

    Q("q98_session_conversion", q98OracleSql,
      "Sessionized conversion rate — the per-day fraction of 5-minute-gap sessions containing a purchase, rounding out the product-analytics family (q23 defines the sessions, q72 funnels across whole histories, this measures conversion WITHIN a visit). Spark's session_window aggregation against the classic gaps-and-islands SQL twin (the q23 parity, extended with a conversion flag); sessions are attributed to their start date; the rate is an exact int/int division. One shuffle on (session, user); the daily rollup is map-side-combined to |days| rows. Both stages live in streaming/SessionStream and run UNCHANGED under Structured Streaming (watermark + append mode) — SessionStreamSpec pins the parity.") {
      (s, d) =>
        graft.streaming.SessionStream.dailyConversion(
            graft.streaming.SessionStream.sessions(Tables.events(s, d)))
          .orderBy(col("day"))
    },

    Q("q86_event_transitions", q86OracleSql,
      "First-order Markov transition matrix over per-user event sequences: lag() pairs each event with its predecessor (one shuffle on user_id), bigram counts map-side-combine down to |types|² rows, and row-normalized probabilities come from a window over that tiny matrix. The probability is an exact small-integer division, identical IEEE result in both engines. The 100 TB posture: everything after the single user_id exchange is O(|event types|²), independent of event volume.") {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wp = Window.partitionBy(col("prev"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("prev", lag(col("event_type"), 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type").as("next"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            col("n").cast("double") / sum(col("n")).over(wp).cast("double"))
          .orderBy(col("prev"), col("next"))
    },

    Q("q93_partial_agg_merge",
      s"""WITH daily AS (
         |  SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
         |    count(*) AS n, ${sql.dsum("value")} AS s,
         |    min(value) AS mn, max(value) AS mx
         |  FROM events GROUP BY event_type, day)
         |SELECT event_type,
         |  CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE) AS total_value,
         |  CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE) / CAST(sum(n) AS BIGINT) AS avg_value,
         |  min(mn) AS min_value, max(mx) AS max_value,
         |  count(*) AS n_days
         |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin,
      "Incremental-aggregation algebra: per-(type, day) PARTIAL aggregates (count, decimal sum, min, max — each a commutative monoid) merge into per-type totals, and the oracle computes the same totals from the SAME two-level rollup — while the EventAnalyticsSpec invariant pins the merged result equal to aggregating the raw stream directly. This is the contract an incremental 100 TB pipeline lives on: yesterday's materialized partials + today's delta re-aggregate WITHOUT rescanning history, valid precisely because DetAgg's decimal sums are exact and associative (a double sum would drift between the merged and direct paths). The merge also demonstrates avg's decomposition (sum-of-sums / sum-of-counts) — avg is NOT a monoid on its own outputs.") {
      (s, d) =>
        val daily = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).cast("timestamp").as("day"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("s"),
            min(col("value")).as("mn"), max(col("value")).as("mx"))
        daily.groupBy(col("event_type"))
          .agg(sum(col("n")).as("n_events"),
            sum(col("s")).cast("double").as("total_value"),
            (sum(col("s")).cast("double") / sum(col("n"))).as("avg_value"),
            min(col("mn")).as("min_value"), max(col("mx")).as("max_value"),
            count(lit(1)).as("n_days"))
          .orderBy(col("event_type"))
    },

    Q("q78_zscore_outliers",
      s"""WITH m AS (
         |  SELECT event_type,
         |    ${sql.davg("value")} AS mean,
         |    ${sql.dstddev("value")} AS std
         |  FROM events GROUP BY event_type)
         |SELECT e.event_id, e.event_type, e.value,
         |  (e.value - m.mean) / m.std AS z
         |FROM events e JOIN m ON e.event_type = m.event_type
         |WHERE abs((e.value - m.mean) / m.std) > 3
         |ORDER BY e.event_id""".stripMargin,
      "Population z-score outlier detection (|z| > 3) per event_type: two-pass — a 5-row mean/stddev aggregate under the DetAgg discipline (deterministic decimal sums of x and x², identical expression shape in the twin, so the stats are IDENTICAL doubles in both engines), broadcast-joined back onto the stream. From identical stats, z is the same IEEE expression on both sides (IEEE division and sqrt are exactly rounded), so the output needs no rounding and the |z|>3 cut cannot flip. Scale: one map-side-combined shuffle for stats + a broadcast join — no window over the full table, no second shuffle.") {
      (s, d) =>
        val ev = Tables.events(s, d)
        val m = ev.groupBy(col("event_type"))
          .agg(davg(col("value")).as("mean"), dstddev(col("value")).as("std"))
        ev.join(broadcast(m), Seq("event_type"))
          .withColumn("z", (col("value") - col("mean")) / col("std"))
          .filter(abs(col("z")) > 3)
          .select(col("event_id"), col("event_type"), col("value"), col("z"))
          .orderBy(col("event_id"))
    },

    Q("q192_funnel_state_served", q72OracleSql,
      "q72's ordered funnel served FROM the records a REAL flatMapGroupsWithState stream persisted — the first of the five fMGWS machines (funnel, retention, EWMA, bigram, sessionizer) to face the driver's hash gate the way every foreachBatch-maintained family does (q180–q191). The build runs FunnelStream as a genuine Structured-Streaming job: file source over the corpus events split into two time waves plus a watermark-draining marker, THREE separate start()s against one checkpoint (each boundary a real restart that reloads fMGWS state), event-time timeouts draining idle users, append-mode parquet sink with commit log. The read is a 3-column conditional-count aggregate over the persisted stage records; the oracle is q72's SQL VERBATIM — so a hash match proves end-to-end, cross-engine, that the stream's exactly-once stage records (including WatermarkBuffer's admission/drain order and the completed-user tombstone) reproduce the batch min/join cascade. Scale: the deployment shape — per-user state is 3 longs + the watermark-horizon buffer, the sink accumulates finalized records once, and the analytic reads RECORDS (|stages| rows), never replaying event history.") {
      (s, d) =>
        graft.streaming.ServedEventStreams.records(s, servedFunnelDir(s, d))
          .agg(
            coalesce(sum(when(col("stage") === 1, 1L)), lit(0L)).as("n_view"),
            coalesce(sum(when(col("stage") === 2, 1L)), lit(0L)).as("n_click"),
            coalesce(sum(when(col("stage") === 3, 1L)), lit(0L)).as("n_purchase"))
    },

    Q("q193_retention_state_served", q73OracleSql,
      "q73's weekly retention cohorts served FROM the (user, week) records RetentionStream persisted across the three-leg restart protocol — the cohort table maintained the way a product-analytics deployment runs it: each user's cohort week fixes at their first finalized event (provably min(ts), by the watermark-ordered finalization argument), each later active week emits exactly once, and the restart boundary proves the O(1) per-user state (cohort + last week) survives checkpoint reload. The read is the q73 rollup over persisted records; the oracle is q73's SQL VERBATIM, so the driver re-proves stream == batch — including the Monday-00:00-UTC week truncation twin — cross-engine every round. Scale: state is O(|users|) with no history term; the cohort matrix read is |weeks|² regardless of event volume.") {
      (s, d) =>
        graft.streaming.ServedEventStreams.records(s, servedRetentionDir(s, d))
          .groupBy(col("cohort_week"), col("week_n"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_n"))
    },

    Q("q194_ewma_state_served", q77OracleSql,
      "q77's per-(user, day) EWMA served FROM the day records EwmaStream persisted — the whole-day-atomic fMGWS machine under the hash gate: a day buffers while open, finalizes EXACTLY once when the watermark passes its end (event-time timeout guaranteeing the close with no further arrivals), and the finalization fold (sort by (ts, event_id), y1 = x1, yn = 0.3xn + 0.7yn-1) is the SAME strict left fold as q77's batch aggregate — so the persisted doubles compare bit-equal with no rounding. The restart boundary reloads open-day buffers from the checkpoint; the oracle is q77's SQL VERBATIM (DuckDB list_reduce is the same strict fold). The read is a pure select over persisted records. Scale: state per key is one open day's events inside the watermark horizon — |users| x O(1 day), never stream history.") {
      (s, d) =>
        graft.streaming.ServedEventStreams.records(s, servedEwmaDir(s, d))
          .select(col("user_id"), col("day"), col("n_events"), col("ewma"))
          .orderBy(col("user_id"), col("day"))
    },

    Q("q195_transitions_state_served", q86OracleSql,
      "q86's Markov transition matrix served FROM the bigram records BigramStream persisted — per-user consecutive-pair records emitted exactly once as each later event finalizes, with ONE carried event per user as long-lived state (the sequence analogue of the funnel tombstone: removing it would swallow a transition at every restart). The three-leg protocol makes the carry cross a genuine restart boundary, and the oracle — q86's SQL VERBATIM — makes the driver prove the persisted pair set equals the batch lag() pairs under the identical (ts, event_id) order, cross-engine. The read aggregates |types|² cells from the records and row-normalizes over that tiny matrix. Scale: everything after the per-user exchange is O(|event types|²), independent of volume; the record sink grows with transitions, not state.") {
      (s, d) =>
        val wp = Window.partitionBy(col("prev"))
        graft.streaming.ServedEventStreams.records(s, servedBigramDir(s, d))
          .groupBy(col("prev"), col("next"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            col("n").cast("double") / sum(col("n")).over(wp).cast("double"))
          .orderBy(col("prev"), col("next"))
    },

    Q("q196_session_state_served", q98OracleSql,
      "q98's sessionized conversion rate served FROM the finalized session records the streaming session_window aggregation persisted — the built-in-stateful member of the five-machine family (no custom transition: batch and streaming share the LITERAL q98 first-stage code), run under the same three-leg restart protocol: open sessions survive the checkpoint reload, a (session, user) row commits exactly once when the watermark passes the session close, and the stateless daily rollup runs over the persisted sink. The oracle is q98's SQL VERBATIM, so the driver re-proves the streaming session boundaries (5-minute gap semantics under watermark finalization) against the gaps-and-islands batch twin cross-engine. Scale: state is bounded by concurrently-OPEN sessions, the sink by total sessions; the rollup reads |sessions| rows, never events.") {
      (s, d) =>
        graft.streaming.SessionStream.dailyConversion(
            graft.streaming.ServedEventStreams.records(s, servedSessionDir(s, d)))
          .orderBy(col("day"))
    },

    Q("q205_forgotten_funnel_state_served", q205OracleSql,
      "q192's stream-served funnel AFTER a user-level right-to-be-forgotten pass — the deletion family's sixth leg, covering the EVENT-analytics state: a GDPR request names a USER, and what a product deployment must scrub is the finalized per-user records its analytics serve from — ServedEventStreams.forgetUsers anti-joins the tombstoned user_ids out of the persisted stage records under the two-rename swap (the keyed-1:1 mechanic; the swap consumes the retired sink's streaming commit log, the file-sink compaction convention), after which the funnel must count as if those users never existed: the oracle is q72's SQL over the tombstone-survivor events (the shared md5-bucket rule on user_id). The machine's in-flight fMGWS state is bounded per user and expires with the watermark — the records are the durable artifact, and they are what this read proves clean; a replayed forget re-proves deletion idempotence under the gate. The build runs its OWN three-leg stream (never the shared q192 sink — the forget mutates in place). Scale: deletion is one broadcast anti-join over |finalized stages| fixed-width rows — never an event-history replay, which is the entire point of serving analytics from records.") {
      (s, d) =>
        graft.streaming.ServedEventStreams.records(s,
            servedForgottenFunnelDir(s, d))
          .agg(
            coalesce(sum(when(col("stage") === 1, 1L)), lit(0L)).as("n_view"),
            coalesce(sum(when(col("stage") === 2, 1L)), lit(0L)).as("n_click"),
            coalesce(sum(when(col("stage") === 3, 1L)), lit(0L)).as("n_purchase"))
    },

    Q("q208_forgotten_retention_state_served", q73OracleSqlOver(survEventsRel),
      "q193's retention cohorts served AFTER a user-level right-to-be-forgotten pass — q205 proved the record-sink deletion mechanic on the funnel only; this and q209-q211 close the remaining four machines, so EVERY stream-served event analytic now faces the hash gate over its forgotten sink. The mechanic is the shared ServedEventStreams.forgetUsers (broadcast anti-join of tombstoned user_ids out of the persisted (user, cohort, week) records under the two-rename swap, against a RETIRED sink generation with the stream stopped); the oracle is q73's SQL over the tombstone-survivor events — the forgotten cohort matrix must count as if the users never existed, which for retention means whole cohort ROWS can shrink or vanish, not just totals. Its own three-leg stream run + a replayed forget (idempotence under the gate). Scale: one anti-join over |(user, week)| fixed-width records — never an event-history replay.") {
      (s, d) =>
        graft.streaming.ServedEventStreams.records(s,
            servedForgottenRetentionDir(s, d))
          .groupBy(col("cohort_week"), col("week_n"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy(col("cohort_week"), col("week_n"))
    },

    Q("q209_forgotten_ewma_state_served", q77OracleSqlOver(survEventsRel),
      "q194's per-(user, day) EWMA served AFTER a user-level forget against its record sink — the per-user-keyed machine where deletion is cleanest (every record of a tombstoned user vanishes whole, surviving users' smoothed doubles must ride through BIT-EQUAL: the forget may not perturb a single surviving fold). Same shared forgetUsers mechanic + replayed forget; oracle = q77's SQL over tombstone-survivor events. Scale: one broadcast anti-join over |user-days| records.") {
      (s, d) =>
        graft.streaming.ServedEventStreams.records(s,
            servedForgottenEwmaDir(s, d))
          .select(col("user_id"), col("day"), col("n_events"), col("ewma"))
          .orderBy(col("user_id"), col("day"))
    },

    Q("q210_forgotten_transitions_state_served", q86OracleSqlOver(survEventsRel),
      "q195's Markov transition matrix served AFTER a user-level forget — the machine where deletion changes DERIVED cells, not just rows: removing a user's bigram records re-normalizes every per-prev probability over the surviving mass, so the oracle (q86's SQL over tombstone-survivor events) proves the renormalization falls out of serving from records rather than needing any recompute. Same shared forgetUsers mechanic + replayed forget. Scale: the anti-join runs over |transitions| records; the matrix rollup stays O(|event types|^2).") {
      (s, d) =>
        val wp = Window.partitionBy(col("prev"))
        graft.streaming.ServedEventStreams.records(s,
            servedForgottenBigramDir(s, d))
          .groupBy(col("prev"), col("next"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            col("n").cast("double") / sum(col("n")).over(wp).cast("double"))
          .orderBy(col("prev"), col("next"))
    },

    Q("q211_forgotten_session_state_served", q98OracleSqlOver(survEventsRel),
      "q196's sessionized daily conversion served AFTER a user-level forget — the built-in-stateful machine (streaming session_window) under the deletion gate: tombstoned users' finalized session records anti-join out whole, and the daily rollup (counts, conversion RATES over the surviving denominator) must equal q98's gaps-and-islands chain over tombstone-survivor events, which is the oracle. Same shared forgetUsers mechanic + replayed forget, its own three-leg stream. Scale: one anti-join over |sessions| records; the rollup never touches events.") {
      (s, d) =>
        graft.streaming.SessionStream.dailyConversion(
            graft.streaming.ServedEventStreams.records(s,
              servedForgottenSessionDir(s, d)))
          .orderBy(col("day"))
    },
  )

  /** Build-once streaming runs behind q192–q196 (one per machine,
    * memoized per session x corpus): ServedEventStreams' three-leg
    * restart protocol over the corpus events, each leg a separate
    * start() against one checkpoint. The served reads above pay only
    * the record scan. */
  private def servedFunnelDir(s: SparkSession, d: String): String =
    graft.streaming.ServedEventStreams.stagesDir(s, d, "funnelstages")(ev =>
      graft.streaming.FunnelStream.funnelStages(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  /** Build-once FORGOTTEN record sink for one of the five machines
    * (q205/q208–q211): its OWN stream run (never the shared q192–q196
    * sinks — the forget mutates in place), then
    * ServedEventStreams.forgetUsers with the shared tombstone rule plus
    * a replayed forget (no-op, so the hash gate re-proves deletion
    * idempotence). Memoized so timed reps pay only the record read —
    * the forget never executes inside a timed rep. */
  private def forgottenStagesDir(s: SparkSession, d: String, name: String)(
      mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : String =
    graft.AnnSubstrate.getOrBuild(s, s"$name|$d/events.parquet",
        protectNew = false) {
      val dir = graft.streaming.ServedEventStreams.stagesDir(s, d,
        name + "stages")(mk)
      val tomb = Tables.events(s, d).select(col("user_id"))
        .filter(Sampling.tombstoned(col("user_id"))).distinct()
      graft.streaming.ServedEventStreams.forgetUsers(s, dir, tomb)
      graft.streaming.ServedEventStreams.forgetUsers(s, dir, tomb) // replay
      dir
    }

  private[operators] def servedForgottenFunnelDir(s: SparkSession, d: String): String =
    forgottenStagesDir(s, d, "funnelforget")(ev =>
      graft.streaming.FunnelStream.funnelStages(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  private[operators] def servedForgottenRetentionDir(s: SparkSession, d: String): String =
    forgottenStagesDir(s, d, "retentionforget")(ev =>
      graft.streaming.RetentionStream.retentionStages(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  private[operators] def servedForgottenEwmaDir(s: SparkSession, d: String): String =
    forgottenStagesDir(s, d, "ewmaforget")(ev =>
      graft.streaming.EwmaStream.ewmaStages(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  private[operators] def servedForgottenBigramDir(s: SparkSession, d: String): String =
    forgottenStagesDir(s, d, "bigramforget")(ev =>
      graft.streaming.BigramStream.bigrams(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  private[operators] def servedForgottenSessionDir(s: SparkSession, d: String): String =
    forgottenStagesDir(s, d, "sessionforget")(ev =>
      graft.streaming.SessionStream.sessions(ev,
        graft.streaming.ServedEventStreams.Delay))

  private def servedRetentionDir(s: SparkSession, d: String): String =
    graft.streaming.ServedEventStreams.stagesDir(s, d, "retentionstages")(ev =>
      graft.streaming.RetentionStream.retentionStages(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  private def servedEwmaDir(s: SparkSession, d: String): String =
    graft.streaming.ServedEventStreams.stagesDir(s, d, "ewmastages")(ev =>
      graft.streaming.EwmaStream.ewmaStages(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  private def servedBigramDir(s: SparkSession, d: String): String =
    graft.streaming.ServedEventStreams.stagesDir(s, d, "bigramstages")(ev =>
      graft.streaming.BigramStream.bigrams(ev,
        graft.streaming.ServedEventStreams.Delay).toDF())

  private def servedSessionDir(s: SparkSession, d: String): String =
    graft.streaming.ServedEventStreams.stagesDir(s, d, "sessionstages")(ev =>
      graft.streaming.SessionStream.sessions(ev,
        graft.streaming.ServedEventStreams.Delay))
}
