package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.DetAgg

/** Per-group statistics over every numeric column, re-expressing
  * /root/reference/code/helpers.py:148-204 (`apply_aggregations`).
  *
  * Output schema matches the reference: `min_<c>/max_<c>/avg_<c>/stddev_<c>`
  * per numeric column plus `data_source`, `file_name`, `ingestion_ts`;
  * rows with a missing group column fall into a literal "unknown" group
  * (helpers.py:167-170 adds the column only when absent; we additionally
  * coalesce nulls the same way the reference's groupBy would surface them).
  *
  * avg/stddev are the [[DetAgg]] decimal forms — the same math as
  * Spark's `avg`/`stddev_samp`, but reproducible under any partitioning
  * (and oracle-comparable). This is one hash-aggregate with
  * map-side partial aggregation: the shuffle carries |groups| × 4×|cols|
  * values, independent of input size.
  */
object StatsAggregation {

  private val NumericTypes: Set[DataType] =
    Set(DoubleType, IntegerType, FloatType, LongType)

  /** Numeric columns by the reference's own type test (helpers.py:173). */
  def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(f => NumericTypes.contains(f.dataType)).map(_.name).toSeq

  def statsExprs(cols: Seq[String]): Seq[Column] =
    cols.flatMap { c =>
      Seq(
        min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c"),
        DetAgg.davg(col(c)).as(s"avg_$c"),
        DetAgg.dstddev(col(c)).as(s"stddev_$c"))
    }

  /** `ingestedAt` fills `ingestion_ts`: an [[graft.expressions.InstantRef]]
    * column, so the plan's generated code does not change with the time. */
  def aggregate(
      df: DataFrame,
      groupCol: String = "sensor_id",
      dataSource: String = "minio_bucket",
      fileName: String = "",
      ingestedAt: Column): Option[DataFrame] = {
    val withGroup =
      if (df.columns.contains(groupCol)) df
      else df.withColumn(groupCol, lit("unknown"))
    val numerics = numericCols(df)
    if (numerics.isEmpty) None
    else {
      val exprs = statsExprs(numerics)
      Some(withGroup
        .groupBy(col(groupCol))
        .agg(exprs.head, exprs.tail: _*)
        .withColumn("data_source", lit(dataSource))
        .withColumn("file_name", lit(fileName))
        .withColumn("ingestion_ts", ingestedAt))
    }
  }
}
