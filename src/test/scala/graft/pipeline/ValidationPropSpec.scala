package graft.pipeline

import java.time.Instant

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.expressions.InstantRef

/** Property-based invariants of the validation/metadata core
  * (SURVEY.md §5.2-2), over ScalaCheck-generated dirty rows shaped like
  * the reference's corrupted fixture: null keys, out-of-range numerics,
  * heavy-null rows, benign rows. Raw ScalaCheck with fixed seeds (the
  * scalatestplus bridge isn't on the offline classpath). */
class ValidationPropSpec extends SparkSpec {

  private def samples(n: Int, count: Int): Seq[List[Row]] =
    (1 to count).map(i =>
      Gen.listOfN(n, genRow).pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val schema = StructType(Seq(
    StructField("sensor_id", StringType),
    StructField("temperature_C", DoubleType),
    StructField("humidity", DoubleType),
    StructField("note", StringType)))

  private val cfg = Validation.Config(
    keyFields = Seq("sensor_id"),
    numericFields = Seq("temperature_C"),
    ranges = Seq(Validation.InRange("temperature_C", -50, 50)),
    heavyNullThreshold = 0.5)

  private val genRow: Gen[Row] = for {
    sensor <- Gen.oneOf(Gen.const(null: String), Gen.alphaStr.map("S" + _))
    temp <- Gen.oneOf(
      Gen.choose(-49.9, 49.9), Gen.choose(50.1, 500.0),
      Gen.const(Double.NaN), Gen.choose(-500.0, -50.1))
    hum <- Gen.oneOf(Gen.const(null.asInstanceOf[java.lang.Double]),
      Gen.choose(0.0, 100.0).map(java.lang.Double.valueOf))
    note <- Gen.oneOf(Gen.const(null: String), Gen.const("  padded  "), Gen.alphaStr)
  } yield Row(sensor, temp: java.lang.Double, hum, note)

  private def toDf(rows: List[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 5)), schema)

  test("good and bad partition the input exactly; good rows satisfy every rule") {
    samples(60, 5).foreach { rows =>
      val df = toDf(rows)
      val (good, bad, annotated) = Validation.split(df, cfg)
      try {
        assert(good.count() + bad.count() == df.count())
        assert(good.filter("sensor_id IS NULL").count() == 0)
        assert(good.filter("temperature_C < -50 OR temperature_C > 50").count() == 0)
        assert(good.filter("isnan(temperature_C)").count() == 0)
        assert(bad.filter(s"${Validation.ErrorCol} IS NULL").count() == 0)
      } finally annotated.unpersist()
    }
  }

  test("row hash: stable under repartition, sensitive to any column change") {
    import org.apache.spark.sql.functions._
    samples(30, 5).foreach { rows =>
      val df = toDf(rows)
      val cols = df.columns.toSeq
      val h1 = df.select(graft.pipeline.Metadata.rowHash(cols).as("h"))
        .collect().map(_.getString(0)).sorted.toSeq
      val h2 = df.repartition(7).select(graft.pipeline.Metadata.rowHash(cols).as("h"))
        .collect().map(_.getString(0)).sorted.toSeq
      assert(h1 == h2)
      // flipping one column changes every row's hash
      val flipped = df.withColumn("note",
        concat_ws("x", coalesce(col("note"), lit("")), lit("!")))
      val h3 = flipped.select(graft.pipeline.Metadata.rowHash(cols).as("h"))
        .collect().map(_.getString(0)).toSet
      assert(h1.toSet.intersect(h3).isEmpty)
    }
  }

  test("stats aggregation emits 4 stats per numeric column plus metadata") {
    samples(40, 3).foreach { rows =>
      val df = toDf(rows)
      val agg = StatsAggregation.aggregate(df, "sensor_id", "test", "t",
        InstantRef.column(Instant.now())).get
      val numerics = StatsAggregation.numericCols(df)
      val statCols = agg.columns.filter(c =>
        c.startsWith("min_") || c.startsWith("max_") ||
        c.startsWith("avg_") || c.startsWith("stddev_"))
      assert(statCols.length == 4 * numerics.length)
      assert(Seq("data_source", "file_name", "ingestion_ts")
        .forall(agg.columns.contains))
    }
  }

  test("stats aggregation accepts an int column whose square overflows an int") {
    import org.apache.spark.sql.functions.stddev_samp
    import spark.implicits._
    val df = Seq(("s1", 50000), ("s1", 1), ("s1", 46341), ("s2", 7))
      .toDF("sensor_id", "reading")
    val agg = StatsAggregation.aggregate(df, ingestedAt = InstantRef.column(Instant.now())).get
      .orderBy("sensor_id").select("stddev_reading").collect()
    val ref = df.groupBy("sensor_id").agg(stddev_samp("reading"))
      .orderBy("sensor_id").collect()
    val want = ref(0).getDouble(1)
    assert(math.abs(agg(0).getDouble(0) - want) / want < 1e-9)
    assert(agg(1).isNullAt(0)) // one row: no sample stddev
  }
}
