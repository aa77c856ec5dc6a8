package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** F9/F10 — the validated field-type smart constructors of the reference's
  * `FieldDataTypes` (`Types.fs:191-694`): every leaf value enters the graph
  * through a bounds/format check and is rejected with a message otherwise.
  * Scala loses F#'s units-of-measure, so these return `Either[String, A]`
  * wrappers (SURVEY §7.4 hard part 5: units live in names + newtypes).
  *
  * Each validator also has a `Column` form (`*Ok`) for the ingest boundary
  * at scale — a vectorized CHECK constraint that filters/flags invalid
  * rows inside codegen instead of collecting to the driver.
  */
object Fields {

  final case class ShortText private[model] (value: String) extends AnyVal
  final case class LongText private[model] (value: String) extends AnyVal
  final case class Doi private[model] (value: String) extends AnyVal
  final case class IntRange private[model] (lo: Int, hi: Int)
  /** Stored ×100, like the reference (`Types.fs:368-372`). */
  final case class Percent private[model] (valueTimes100: Double) extends AnyVal
  final case class Latitude private[model] (dd: Double) extends AnyVal
  final case class Longitude private[model] (dd: Double) extends AnyVal
  final case class Depth private[model] (cm: Double) extends AnyVal

  /** `Text.createShort` (`Types.fs:204-209`): non-empty, ≤ 100 chars. */
  def createShortText(s: String): Either[String, ShortText] =
    if (s == null || s.isEmpty) Left("Short text must not be empty")
    else if (s.length > 100) Left("Short text must be less than 100 characters")
    else Right(ShortText(s))

  /** `Text.create` (`Types.fs:211-214`): non-empty. */
  def createText(s: String): Either[String, LongText] =
    if (s == null || s.isEmpty) Left("Text must not be empty") else Right(LongText(s))

  /** `DigitalObjectIdentifier.create` (`Types.fs:317-325`): extracts the
    * DOI from bare or URL form. The reference's regex leaves the dot
    * after `10` unescaped (any character matches there) — escaped here,
    * per the documented format (SURVEY §4: don't replicate known bugs).
    */
  private val DoiRe = """(10\.\d{4,9}/[-._;()/:A-Za-z0-9]+)""".r
  def createDoi(s: String): Either[String, Doi] =
    DoiRe.findFirstMatchIn(Option(s).getOrElse("")) match {
      case Some(m) => Right(Doi(m.group(1)))
      case None => Left("DOIs must be in the format 10.1126/science.aar3646 " +
        "or https://doi.org/10.1126/science.aar3646")
    }

  /** `IntRange.create` (`Types.fs:343-352`): `"12 - 14"` → ordered pair. */
  private val RangeRe = """^([0-9]+) - ([0-9]+)""".r
  def createIntRange(s: String): Either[String, IntRange] =
    RangeRe.findFirstMatchIn(Option(s).getOrElse("")) match {
      case Some(m) =>
        val (a, b) = (m.group(1).toInt, m.group(2).toInt)
        Right(IntRange(math.min(a, b), math.max(a, b)))
      case None => Left("Ranges should be in the format 12 - 14")
    }

  /** `Percent.create` (`Types.fs:368-372`): input in [0,1], stored ×100. */
  def createPercent(p: Double): Either[String, Percent] =
    if (p >= 0.0 && p <= 1.0) Right(Percent(p * 100.0))
    else Left("Percent must be between 0 and 100")

  /** `Geography.createLatitude/Longitude` (`Types.fs:399-405`). */
  def createLatitude(dd: Double): Either[String, Latitude] =
    if (dd >= -89.9 && dd <= 89.9) Right(Latitude(dd))
    else Left("Latitude must be between -90 and 90 degrees")

  def createLongitude(dd: Double): Either[String, Longitude] =
    if (dd >= -180.0 && dd <= 180.0) Right(Longitude(dd))
    else Left("Longitude must be between -180 and 180 degrees")

  /** `Geography.Polygon.TryCreate` (`Types.fs:453-481`): WKT
    * `POLYGON((lon lat, ...))`, every point bounds-checked. The reference
    * `createPolygon` accepts 2 points despite its own error message
    * (`Types.fs:407-409`, `p < 2` off-by-one); we enforce the documented
    * ≥ 3 (SURVEY §4: don't replicate known bugs).
    */
  private val PolyRe = """^POLYGON ?\(\((.*)\)\)""".r
  def createPolygon(wkt: String): Either[String, Seq[(Latitude, Longitude)]] =
    PolyRe.findFirstMatchIn(Option(wkt).getOrElse("")) match {
      case None => Left("Polygon must be WKT: POLYGON((lon lat, lon lat, ...))")
      case Some(m) =>
        val parts = m.group(1).split(",").map(_.trim.split(" "))
        if (parts.length < 3) Left("Polygons must have at least three points")
        else if (!parts.forall(_.length == 2)) Left("Each polygon point needs 'lon lat'")
        else {
          val parsed = parts.toSeq.map { p =>
            for {
              lon <- p(0).toDoubleOption.toRight(s"bad longitude '${p(0)}'")
                .flatMap(createLongitude)
              lat <- p(1).toDoubleOption.toRight(s"bad latitude '${p(1)}'")
                .flatMap(createLatitude)
            } yield (lat, lon)
          }
          parsed.collectFirst { case Left(e) => Left(e) }
            .getOrElse(Right(parsed.collect { case Right(x) => x }))
        }
    }

  /** `Geography.createCoordinate` (`Types.fs:411-414`): DMS pair regex. */
  private val DmsRe = ("""^([0-9]{1,2})[:°]([0-9]{1,2})[:'′]?([0-9]{1,2}(?:\.[0-9]+)?)?["″]([NS]),""" +
    """([0-9]{1,3})[:°]([0-9]{1,2})[:'′]?([0-9]{1,2}(?:\.[0-9]+)?)?["″]([EW])$""").r
  def createCoordinateDms(s: String): Either[String, String] =
    if (DmsRe.matches(Option(s).getOrElse(""))) Right(s)
    else Left("Coordinate was not in the format: 40°26'46\"N,79°01'00\"W")

  /** `StratigraphicSequence.createDepth` (`Types.fs:502-503`): cm ≥ 0. */
  def createDepth(cm: Double): Either[String, Depth] =
    if (cm >= 0.0) Right(Depth(cm)) else Left("Depth cannot be negative")

  /** F10 — `asMonth` (`Types.fs:661-674`). */
  private val months = Vector("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  def asMonth(i: Int): Option[String] =
    if (i >= 1 && i <= 12) Some(months(i - 1)) else None

  // ------------------------------------------------- Column-form checks

  /** Vectorized CHECK constraints for the ingest boundary: keep the scan
    * + filter in whole-stage codegen, no driver round-trips.
    */
  def latitudeOk(c: Column): Column = c.isNotNull && c >= -89.9 && c <= 89.9
  def longitudeOk(c: Column): Column = c.isNotNull && c >= -180.0 && c <= 180.0
  def shortTextOk(c: Column): Column = c.isNotNull && length(c) > 0 && length(c) <= 100

  /** Partition a DataFrame into (valid, invalid-with-reason) under a set
    * of named column checks — the scale form of the reference's
    * per-field `Result` accumulation.
    */
  def validate(df: DataFrame, checks: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    val failures = array(checks.map { case (name, ok) =>
      when(!ok, lit(name)).otherwise(lit(null))
    }: _*)
    val flagged = df.withColumn("__failures", array_compact(failures))
    (flagged.filter(size(col("__failures")) === 0).drop("__failures"),
      flagged.filter(size(col("__failures")) > 0)
        .withColumn("failed_checks", col("__failures")).drop("__failures"))
  }
}
