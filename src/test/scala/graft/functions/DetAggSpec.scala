package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.DetAgg._

class DetAggSpec extends SparkSpec {
  import spark.implicits._

  private lazy val xs = (1 to 10000).map(i => math.sin(i) * 1e6)

  test("dsum is identical across partitionings (order-independence)") {
    val sums = Seq(1, 3, 7, 32).map { p =>
      xs.toDF("x").repartition(p).agg(dsum($"x")).head.getDecimal(0)
    }
    assert(sums.distinct.size == 1)
  }

  test("dsum/davg agree with double aggregation within float tolerance") {
    val df = xs.toDF("x")
    val exact = df.agg(dsumD($"x"), davg($"x")).head
    val ref = df.agg(sum($"x"), avg($"x")).head
    assert(math.abs(exact.getDouble(0) - ref.getDouble(0)) < 1e-3)
    assert(math.abs(exact.getDouble(1) - ref.getDouble(1)) < 1e-6)
  }

  test("dstddev matches stddev_samp within tolerance") {
    // integral inputs whose square overflows their own type: an int
    // above 46,340, a long above 3.04e9
    val ints = (Seq(50000) ++ (1 to 1000).map(i => (i * 37) % 60000)).toDF("x")
    val longs = (Seq(4000000000L) ++ (1 to 1000).map(i => i * 7919L)).toDF("x")
    Seq(xs.toDF("x"), ints, longs).foreach { df =>
      val got = df.agg(dstddev($"x")).head
      val ref = df.agg(stddev_samp($"x")).head
      assert(math.abs(got.getDouble(0) - ref.getDouble(0)) / ref.getDouble(0) < 1e-9)
    }
  }

  test("floating inputs square in their own type (bit-identical x² leg)") {
    val doubles = xs.toDF("x")
    val floats = xs.map(_.toFloat).toDF("x")
    Seq(doubles, floats).foreach { df =>
      val n = count($"x").cast("double")
      val s1 = dsumD($"x")
      val s2 = decimalSum($"x" * $"x").cast("double")
      val row = df.agg(dstddev($"x"),
        sqrt((s2 - s1 * s1 / n) / (n - lit(1.0d)))).head
      assert(row.getDouble(0) == row.getDouble(1))
    }
  }

  test("dstddev of a single value is null, of constant column is 0") {
    assert(Seq(5.0).toDF("x").agg(dstddev($"x")).head.isNullAt(0))
    val c = Seq.fill(100)(3.14).toDF("x").agg(dstddev($"x")).head.getDouble(0)
    assert(math.abs(c) < 1e-12)
  }

  // --- the one exact sum (expressions.DetSum, primitive-long slots)
  //     pinned bit-equal to the decimal-cast sum it replaced ----------

  /** The reference: Spark's own sum over the DECIMAL(38,6) cast. */
  private def decimalSum(c: org.apache.spark.sql.Column) = sum(c.cast(DetAgg.Dec))

  private def assertBitEqual(df: org.apache.spark.sql.DataFrame): Unit = {
    val row = df.agg(dsum($"x"), decimalSum($"x")).head
    assert(!row.isNullAt(1), "empty reference")
    assert(row.getDecimal(0) == row.getDecimal(1),
      s"dsum ${row.getDecimal(0)} != decimal sum ${row.getDecimal(1)}")
  }

  test("fast dsum == wide decimal sum, bit-exact, over adversarial doubles") {
    // adversarial mix: tie-adjacent fractions, negatives, denormal-ish
    // tails, the documented ~1e9 magnitude bound, exact halves at the
    // 6th decimal (the HALF_UP boundary), and nulls
    val rnd = new scala.util.Random(42)
    val xs: Seq[java.lang.Double] = (1 to 20000).map { i =>
      val v: Double = i % 7 match {
        case 0 => (rnd.nextDouble() - 0.5) * 2e9
        case 1 => rnd.nextInt(1000000).toDouble / 1000.0 + 0.0000005
        case 2 => -math.exp(rnd.nextDouble() * 20) / 1e3
        case 3 => rnd.nextDouble() * 1e-9
        case 4 => math.sin(i) * 1e6
        case 5 => rnd.nextInt(2000000).toDouble * 0.0000005 // exact half-micros
        case _ => rnd.nextDouble()
      }
      if (i % 97 == 0) null else java.lang.Double.valueOf(v)
    }
    assertBitEqual(xs.toDF("x").repartition(11))
  }

  test("fast dsum == wide decimal sum on integral inputs (exact long path)") {
    val vs: Seq[Long] = Seq(0L, 1L, -1L, 999999L, -999999L,
      1000000007L, -987654321L, 9200000000000L, -9200000000000L) ++
      (1 to 5000).map(i => (math.sin(i) * 4e12).toLong)
    assertBitEqual(vs.toDF("x").repartition(7))
  }

  test("fast dsum: empty and all-null groups yield null (sum semantics)") {
    val e = Seq.empty[java.lang.Double].toDF("x").agg(dsum($"x")).head
    assert(e.isNullAt(0))
    val n = Seq[java.lang.Double](null, null).toDF("x").agg(dsum($"x")).head
    assert(n.isNullAt(0))
  }

  test("dsum == decimal sum on wide inputs: doubles to 1e20, long extremes, long x²") {
    val rnd = new scala.util.Random(13)
    val wideDoubles = (1 to 4000).map { i =>
      val v = (1.0 + rnd.nextDouble()) * math.pow(10, 13 + i % 8)
      if (i % 3 == 0) -v else v
    } ++ (1 to 1000).map(i => math.sin(i) * 1e6) // mixed with in-range values
    assertBitEqual(wideDoubles.toDF("x").repartition(9))
    assertBitEqual(Seq(Long.MinValue, Long.MaxValue, Long.MaxValue, -1L, 7L)
      .toDF("x").repartition(3))
    // WidenIntegral x² of longs: decimal(38,0) inputs up to ~1e31,
    // the group total still inside DECIMAL(38,6)
    val longs = (Seq(3100000000000000L, -3099999999999999L, 2345678901234567L) ++
      (1 to 3000).map(i => (math.sin(i) * 1e13).toLong)).toDF("y")
    val sq = longs.select({
      val w = graft.expressions.WidenIntegral($"y"); (w * w).as("x") })
    assert(sq.schema("x").dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
    assertBitEqual(sq.repartition(5))
  }

  test("dsum is exact past 9.2e12 and throws beyond DECIMAL(38,6)") {
    val big = Seq(1.0e13d).toDF("x").agg(dsum($"x")).head.getDecimal(0)
    assert(big.compareTo(new java.math.BigDecimal("10000000000000")) == 0, big)
    // an element above DECIMAL(38,6) (33 integral digits)
    intercept[ArithmeticException] {
      Seq(1.0e33d).toDF("x").agg(dsum($"x")).head
    }
    // in-range elements whose group total overflows DECIMAL(38,6)
    intercept[ArithmeticException] {
      Seq(6.0e31d, 6.0e31d).toDF("x").agg(dsum($"x")).head
    }
  }

  test("q01, q27 and q89 run dsum inside HashAggregate") {
    Seq("q01_pricing_summary", "q27_stats_aggregation", "q89_linear_trend").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf001)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate"), s"$q: no HashAggregate\n$plan")
      assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
        s"$q: dsum left the primitive hash aggregate\n$plan")
    }
  }

  test("DetSum.toMicros matches the decimal cast's unscaled value exactly") {
    val rnd = new scala.util.Random(7)
    val vs = (1 to 50000).map(_ => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(13)))
    vs.foreach { d =>
      val fast = graft.expressions.DetSum.toMicros(d)
      val cast = new java.math.BigDecimal(java.lang.Double.toString(d))
        .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue().longValueExact()
      assert(fast == cast, s"$d: $fast != $cast")
    }
  }
}
