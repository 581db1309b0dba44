package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.{Locale, SplittableRandom}

import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its
  * seed: no clock, no hash-map iteration order, no locale. */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def shuffle[T](xs: IndexedSeq[T], r: SplittableRandom): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }

  // ---- documents and embeddings shaped like the sf0.1 test tables ----

  /** The sf0.1 `documents` table's vocabulary (5,000 documents of 10 to
    * 100 words, mean 54, drawn uniformly from these 30 words; 41 % `en`,
    * the rest `zh`/`es`/`fr`/`de` in near-equal shares, 20 sources). */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  def doc(id: Long, r: SplittableRandom): Doc = {
    val n = 10 + r.nextInt(91)
    val text = Iterator.fill(n)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    Doc(id, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}")
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def docBytes(d: Doc): Array[Byte] =
    s"${d.id}\t${d.text}\t${d.lang}\t${d.source}\n".getBytes(UTF_8)

  val Dim = 64
  val Labels = 10

  /** 64-d unit vectors around one of ten seeded label centres. */
  def embeddings(n: Int, seed: Long): IndexedSeq[(Long, Array[Float], Int)] = {
    val rc = rng(seed, 11)
    val centres = IndexedSeq.fill(Labels)(unit(Array.fill(Dim)(rc.nextDouble() * 2 - 1)))
    val r = rng(seed, 12)
    (0 until n).map { i =>
      val l = r.nextInt(Labels)
      val v = unit(Array.tabulate(Dim)(k => centres(l)(k) + (r.nextDouble() * 2 - 1) * 0.35))
      (i.toLong, v.map(_.toFloat), l)
    }
  }
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def embBytes(e: (Long, Array[Float], Int)): Array[Byte] =
    (s"${e._1}\t${e._3}\t" + e._2.map(f => java.lang.Float.floatToIntBits(f)).mkString(",") + "\n")
      .getBytes(UTF_8)

  def fmt(d: Double, places: Int): String = String.format(Locale.ROOT, s"%.${places}f", Double.box(d))
}

/** The reference's 22-column smart-farming feed (FIXTURES.md section 1.1)
  * with injected defects (section 1.2). */
object Farm {
  val schema: StructType = StructType(Seq(
    "farm_id" -> StringType, "region" -> StringType, "crop_type" -> StringType,
    "soil_moisture_%" -> FloatType, "soil_pH" -> FloatType, "temperature_C" -> FloatType,
    "rainfall_mm" -> FloatType, "humidity_%" -> FloatType, "sunlight_hours" -> FloatType,
    "irrigation_type" -> StringType, "fertilizer_type" -> StringType,
    "pesticide_usage_ml" -> FloatType, "sowing_date" -> DateType,
    "harvest_date" -> DateType, "total_days" -> IntegerType,
    "yield_kg_per_hectare" -> FloatType, "sensor_id" -> StringType,
    "timestamp" -> TimestampType, "latitude" -> DoubleType, "longitude" -> DoubleType,
    "NDVI_index" -> FloatType, "crop_disease_status" -> StringType
  ).map { case (n, t) => StructField(n, t, nullable = true) })
  val names: IndexedSeq[String] = schema.fieldNames.toIndexedSeq
  private val numeric: Set[String] = schema.fields.filter(f =>
    Set[DataType](FloatType, DoubleType, IntegerType).contains(f.dataType)).map(_.name).toSet
  val Temp: Int = names.indexOf("temperature_C")
  val Sensor: Int = names.indexOf("sensor_id")
  val Ts: Int = names.indexOf("timestamp")

  /** Stems: files of the registered feed find `<stem>.json` in the schema
    * directory; the other feed has none and takes the inference fallback. */
  val RegisteredStem = "Smart_Farming_Crop_Yield_2024"
  val InferredStem = "farm_sensor_feed"

  /** Defect families and the reason first-error-wins validation gives
    * each (key fields sensor_id, timestamp, temperature_C; numeric and
    * range rules on temperature_C; heavy-null at half the columns). */
  sealed trait Family
  case object NullKey extends Family
  case object NonNumeric extends Family
  case object OutOfRange extends Family
  case object HeavyNull extends Family
  case object ColumnShift extends Family
  /** Every field empty: cleaning drops the row before validation. */
  case object AllNull extends Family

  def reason(f: Family): String = f match {
    case NullKey => "Missing key: sensor_id"
    // an unparseable number reads as null under the registered schema,
    // so the key rule, which runs first, claims it
    case NonNumeric => "Missing key: temperature_C"
    case OutOfRange => "temperature_C out of range [-50,50]"
    case HeavyNull => "Too many nulls in row"
    // the extra field moves sensor_id's text into the timestamp column
    case ColumnShift => "Missing key: timestamp"
    case AllNull => ""
  }

  /** Families a file can carry. Non-numeric and shifted rows need the
    * registered schema: under inference they retype whole columns. */
  def families(csv: Boolean, registered: Boolean): IndexedSeq[Family] =
    if (!registered) IndexedSeq(NullKey, OutOfRange, HeavyNull)
    else if (csv) IndexedSeq(NullKey, NonNumeric, OutOfRange, HeavyNull, ColumnShift)
    else IndexedSeq(NullKey, NonNumeric, OutOfRange, HeavyNull)

  private val Regions = IndexedSeq("North India", "South India", "East Africa",
    "Central USA", "South USA")
  private val Crops = IndexedSeq("Wheat", "Rice", "Maize", "Cotton", "Soybean")
  private val Irrigation = IndexedSeq("None", "Drip", "Sprinkler", "Manual")
  private val Fertilizer = IndexedSeq("Organic", "Inorganic", "Mixed")
  private val Disease = IndexedSeq("None", "Mild", "Moderate", "Severe")

  /** One good row as text fields (the reference CSV's formats). */
  def row(r: SplittableRandom): Array[String] = {
    def u(lo: Double, hi: Double, p: Int) = Gen.fmt(lo + r.nextDouble() * (hi - lo), p)
    def pick(xs: IndexedSeq[String]) = xs(r.nextInt(xs.size))
    val days = 90 + r.nextInt(61)
    val sow = java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(90))
    val ts = java.time.LocalDate.of(2024, 3, 1).plusDays(r.nextInt(200))
    Array(f"FARM${1 + r.nextInt(500)}%04d", pick(Regions), pick(Crops),
      u(10, 45, 2), u(5.5, 7.5, 2), u(15, 35, 2), u(50, 300, 2), u(40, 90, 2),
      u(4, 10, 2), pick(Irrigation), pick(Fertilizer), u(5, 50, 2),
      sow.toString, sow.plusDays(days).toString, days.toString, u(2000, 6000, 2),
      f"SENS${1 + r.nextInt(500)}%04d", ts.toString, u(10, 35, 6), u(70, 90, 6),
      u(0.3, 0.9, 2), pick(Disease))
  }

  /** Applies a defect in place; returns the fields (a shifted CSV row has 23). */
  def damage(f: Family, v: Array[String], r: SplittableRandom): Array[String] = f match {
    case NullKey => v(Sensor) = null; v
    case NonNumeric => v(Temp) = "n/a"; v
    case OutOfRange => v(Temp) = Gen.fmt(55 + r.nextDouble() * 20, 2); v
    case HeavyNull =>
      val keep = Set(Sensor, Ts, Temp)
      Gen.shuffle(v.indices.filterNot(keep), r).take(12).foreach(v(_) = null); v
    case ColumnShift => (v.head +: "" +: v.tail).toArray
    case AllNull => Array.fill[String](v.length)(null)
  }

  def csvLine(v: Array[String]): String = v.map(x => if (x == null) "" else x).mkString(",")

  def jsonLine(v: Array[String]): String = names.indices.filter(v(_) != null).map { i =>
    val x = v(i)
    val lit = if (numeric(names(i)) && x != "n/a") x else Json.str(x)
    s"${Json.str(names(i))}:$lit"
  }.mkString("{", ",", "}")

  /** What one generated file holds, for the output checks. */
  final case class Expect(rows: Long, allNull: Long, reasons: Map[String, Long]) {
    def bad: Long = reasons.values.sum
    def +(o: Expect): Expect = Expect(rows + o.rows, allNull + o.allNull,
      (reasons.keySet ++ o.reasons.keySet).map(k =>
        k -> (reasons.getOrElse(k, 0L) + o.reasons.getOrElse(k, 0L))).toMap)
  }
  val NoRows: Expect = Expect(0, 0, Map.empty)

  /** A file's text and expectations: `rows` lines after the header, of
    * which 4 % are defective (round-robin over the file's families) and
    * 0.5 % (at least one) are all-null. */
  def file(rows: Int, csv: Boolean, registered: Boolean, r: SplittableRandom): (String, Expect) = {
    val fams = families(csv, registered)
    val nBad = math.max(fams.size, math.round(rows * 0.04).toInt)
    val nNull = math.max(1, rows / 200)
    val kinds: IndexedSeq[Option[Family]] = Gen.shuffle(
      (0 until nBad).map(i => Some(fams(i % fams.size))) ++
        IndexedSeq.fill(nNull)(Some(AllNull)) ++
        IndexedSeq.fill(rows - nBad - nNull)(None), r)
    val sb = new StringBuilder
    if (csv) sb.append(names.mkString(",")).append('\n')
    kinds.foreach { k =>
      val v = k.fold(row(r))(damage(_, row(r), r))
      sb.append(if (csv) csvLine(v) else jsonLine(v)).append('\n')
    }
    val reasons = (0 until nBad).groupBy(i => reason(fams(i % fams.size)))
      .map { case (k, v) => k -> v.size.toLong }
    (sb.toString, Expect(rows, nNull, reasons))
  }
}
