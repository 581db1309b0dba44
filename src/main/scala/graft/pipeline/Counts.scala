package graft.pipeline

import org.apache.spark.sql.DataFrame

/** Counting helpers mirroring the reference's audit counters
  * (/root/reference/code/Main.py:143-145).
  *
  * The reference calls PySpark's `rdd.countApprox(5000)` (returns int);
  * the Scala API returns a `PartialResult` — `initialValue` gives the
  * best estimate available when the timeout fires (SURVEY.md §4.3-8).
  * The ingest pipeline uses neither helper: [[IngestPipeline.processGroup]]
  * observes its exact counts in the pass that fills its cache.
  */
object Counts {

  /** Time-bounded approximate count (reference semantics). */
  def approxCount(df: DataFrame, timeoutMs: Long = 5000L): Long =
    df.rdd.countApprox(timeoutMs).initialValue.mean.toLong

  /** Exact count (`df.count()`). */
  def exactCount(df: DataFrame): Long = df.count()
}
