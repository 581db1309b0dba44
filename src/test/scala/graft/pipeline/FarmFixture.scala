package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.types._

/** Smart-farming input files generated in the test itself, so the write
  * path's end-to-end tests need no external data. The schema is the
  * reference dataset's 22 columns; rows are deterministic in their index.
  * Each defect family is one row shape whose first-error-wins reason is
  * known exactly (key fields sensor_id, timestamp, temperature_C; numeric
  * and range rules on temperature_C; heavy-null at half the columns). */
object FarmFixture {

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

  private val names = schema.fieldNames.toIndexedSeq
  private val Temp = names.indexOf("temperature_C")
  private val Sensor = names.indexOf("sensor_id")
  private val Ts = names.indexOf("timestamp")

  val validation: Validation.Config = Validation.Config(
    keyFields = Seq("sensor_id", "timestamp", "temperature_C"),
    numericFields = Seq("temperature_C"),
    ranges = Seq(Validation.InRange("temperature_C", -50, 50)),
    heavyNullThreshold = 0.5)

  /** Good rows cycle over this many sensor ids. */
  val Sensors = 5

  sealed abstract class Defect(val reason: String)
  case object NullKey extends Defect("Missing key: sensor_id")
  // an unparseable number reads as null under the registered schema, so
  // the key rule, which runs first, claims it
  case object NonNumeric extends Defect("Missing key: temperature_C")
  case object OutOfRange extends Defect("temperature_C out of range [-50,50]")
  case object HeavyNull extends Defect(Validation.HeavyNullReason)
  // the extra field moves sensor_id's text into the timestamp column
  case object ColumnShift extends Defect("Missing key: timestamp")
  val Defects: Seq[Defect] = Seq(NullKey, NonNumeric, OutOfRange, HeavyNull, ColumnShift)

  /** One good row's text fields; `i` picks every value. */
  def goodRow(i: Int): Array[String] = {
    val sow = java.time.LocalDate.of(2024, 1, 1).plusDays(i % 90)
    val days = 90 + i % 60
    Array(f"FARM${i % 50}%04d", Seq("North India", "East Africa", "Central USA")(i % 3),
      Seq("Wheat", "Rice", "Maize")(i % 3), f"${10 + i % 35}.25", f"${5.5 + (i % 20) / 10.0}%.2f",
      f"${15 + i % 20}.5", f"${50 + i % 250}.75", f"${40 + i % 50}.5", f"${4 + i % 6}.5",
      Seq("Drip", "Sprinkler", "None")(i % 3), Seq("Organic", "Mixed")(i % 2), f"${5 + i % 45}.5",
      sow.toString, sow.plusDays(days).toString, days.toString, f"${2000 + i * 7 % 4000}.5",
      f"SENS${i % Sensors}%04d", f"2024-03-${1 + i % 28}%02d 10:${i % 60}%02d:00",
      f"${10 + (i % 25) / 1.0}%.6f", f"${70 + (i % 20) / 1.0}%.6f", f"0.${3 + i % 6}",
      Seq("None", "Mild", "Severe")(i % 3))
  }

  def defectRow(d: Defect, i: Int): Array[String] = {
    val v = goodRow(i)
    d match {
      case NullKey => v(Sensor) = null; v
      case NonNumeric => v(Temp) = "n/a"; v
      case OutOfRange => v(Temp) = "61.5"; v
      case HeavyNull =>
        v.indices.filterNot(Set(Sensor, Ts, Temp)).take(12).foreach(v(_) = null); v
      case ColumnShift => (v.head +: "" +: v.tail).toArray
    }
  }

  /** Every field empty: cleaning drops the row before validation. */
  def allNullRow: Array[String] = Array.fill[String](names.size)(null)

  def csv(rows: Seq[Array[String]]): String =
    (names.mkString(",") +: rows.map(_.map(x => if (x == null) "" else x).mkString(",")))
      .mkString("", "\n", "\n")

  def json(rows: Seq[Array[String]]): String = rows.map { v =>
    names.indices.filter(v(_) != null).map { i =>
      val numeric = Set[DataType](FloatType, DoubleType, IntegerType)(schema(i).dataType)
      val value = if (numeric && v(i).toDoubleOption.nonEmpty) v(i) else "\"" + v(i) + "\""
      s""""${names(i)}":$value"""
    }.mkString("{", ",", "}")
  }.mkString("", "\n", "\n")

  /** `good` clean rows (indices from `from`), `perDefect` rows of each
    * defect family and `allNull` all-null rows, in a fixed interleaving. */
  def rows(good: Int, perDefect: Int = 0, allNull: Int = 0, from: Int = 0): Seq[Array[String]] = {
    val bad = for (k <- 0 until perDefect; d <- Defects) yield defectRow(d, from + good + k)
    val ok = (from until from + good).map(goodRow)
    val mixed = ok.zipAll(bad, null, null).flatMap { case (a, b) => Seq(a, b) }.filter(_ != null)
    mixed ++ Seq.fill(allNull)(allNullRow)
  }

  /** The quarantine reasons `rows(_, perDefect)` yields. */
  def reasons(perDefect: Int): Map[String, Long] =
    Defects.map(_.reason -> perDefect.toLong).toMap

  /** Writes `text` as `<dir>/<name>` and registers the schema as
    * `<schemaDir>/<stem>.json`, the lookup [[SchemaRegistry]] makes. */
  def land(dir: Path, schemaDir: Path, name: String, text: String): Path = {
    Files.createDirectories(dir); Files.createDirectories(schemaDir)
    Files.write(schemaDir.resolve(SchemaRegistry.schemaFileFor(name)), schema.json.getBytes(UTF_8))
    Files.write(dir.resolve(name), text.getBytes(UTF_8))
  }
}
