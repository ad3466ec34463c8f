package graft.functions

import java.time.{ZoneId, ZoneOffset}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{
  Expression, GenericInternalRow, TernaryExpression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Native Catalyst expression `graft_solar_position(ts_utc, lat, lon)`
  * → `struct<el: double, az: double>`: the sun's true (geometric)
  * elevation and its azimuth clockwise from north in [0°, 360°), both
  * in degrees, by the published Sandia "Ephemeris" algorithm (Grover
  * Hughes, EPHEM / SAND85-0273, the algorithm behind pvlib
  * `solarposition.ephemeris`). See [[graft.functions.Solar.ephemerisPosition]].
  *
  * The calendar fields (year, day of year, hour, minute, whole second)
  * are read in the session time zone, as Spark's `year`/`hour`/...
  * read them; a TIMESTAMP_NTZ input is read as wall-clock fields, as
  * Spark reads it. A null input gives a null struct.
  */
case class SolarPosition(
    first: Expression,
    second: Expression,
    third: Expression,
    timeZoneId: Option[String] = None)
    extends TernaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = SolarPosition.Schema
  override def prettyName: String = "graft_solar_position"

  override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Option(tz))

  @transient private lazy val fieldZone: ZoneId =
    if (first.dataType == TimestampNTZType) ZoneOffset.UTC else zoneId

  override protected def nullSafeEval(ts: Any, lat: Any, lon: Any): Any =
    SolarPosition.compute(ts.asInstanceOf[Long], lat.asInstanceOf[Double], lon.asInstanceOf[Double], fieldZone)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zone = ctx.addReferenceObj("zone", fieldZone, classOf[ZoneId].getName)
    defineCodeGen(ctx, ev, (t, la, lo) => s"graft.functions.SolarPosition.compute($t, $la, $lo, $zone)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SolarPosition {
  val Schema: StructType = StructType(Seq(
    StructField("el", DoubleType, nullable = false),
    StructField("az", DoubleType, nullable = false)))

  // the doubles nearest π/180 and 180/π, as in `Solar` and the SQL oracles
  private val DegToRad = 0.017453292519943295
  private val RadToDeg = 57.29577951308232

  // Spark's `pmod` on doubles: a negative remainder is lifted by one more fmod
  private def pmod(a: Double, n: Double): Double = {
    val r = a % n
    if (r < 0) (r + n) % n else r
  }

  // Spark's `atan2` adds 0.0 to both arguments, so −0.0 reads as +0.0
  private def atan2(y: Double, x: Double): Double = Math.atan2(y + 0.0, x + 0.0)

  /** Shared by interpreted eval and generated code. Each line is one
    * step of the algorithm, in the operation order of the equivalent
    * Spark built-in expressions: `floor` truncates to a long, sidereal
    * time and the mean anomaly wrap by `pmod`, Kepler's equation
    * E ← M + deg(e)·sin(E) runs five fixed-point steps (with e ≈ 0.0167
    * the error contracts by ~e per step, so five land ~1e-9°, inside
    * pvlib's own 1e-5° exit), and an hour angle beyond ±180° wraps by
    * 360°.
    */
  def compute(micros: Long, latDeg: Double, lonDeg: Double, zone: ZoneId): InternalRow = {
    val day = DateTimeUtils.microsToDays(micros, zone)
    val yr = DateTimeUtils.getYear(day) - 1900
    val ez = 365.0 * yr + Math.floor((yr - 1).toDouble / 4.0).toLong - 0.5 +
      DateTimeUtils.getDayInYear(day)
    val uh = DateTimeUtils.getHours(micros, zone) + DateTimeUtils.getMinutes(micros, zone) / 60.0 +
      DateTimeUtils.getSeconds(micros, zone) / 3600.0
    val t = ez / 36525.0
    val frac = 6.0 / 24.0 + 38.0 / 1440.0 + (45.836 + 8640184.542 * t + 0.0929 * t * t) / 86400.0
    val gmst0 = 360.0 * (frac - Math.floor(frac).toLong)
    val locast = pmod(360.0 + lonDeg + pmod(gmst0 + 360.0 * (1.0027379093 * uh / 24.0), 360.0), 360.0)
    val epoch = ez + uh / 24.0
    val t1 = epoch / 36525.0
    val obliq = (23.452294 - 0.0130125 * t1 - 1.64e-06 * t1 * t1 + 5.03e-07 * t1 * t1 * t1) * DegToRad
    val mlper = 281.22083 + 4.70684e-05 * epoch + 0.000453 * t1 * t1 + 3e-06 * t1 * t1 * t1
    val manom = pmod(358.47583 + 0.985600267 * epoch - 0.00015 * t1 * t1 - 3e-06 * t1 * t1 * t1, 360.0)
    val ecc = 0.01675104 - 4.18e-05 * t1 - 1.26e-07 * t1 * t1
    var ea = manom
    var i = 0
    while (i < 5) {
      ea = manom + RadToDeg * ecc * Math.sin(ea * DegToRad)
      i += 1
    }
    val eclon = (pmod(mlper + 2.0 * RadToDeg *
      atan2(Math.sqrt((1.0 + ecc) / (1.0 - ecc)) * Math.tan(ea * DegToRad / 2.0), 1.0), 360.0) -
      20.0 / 3600.0) * DegToRad
    val dec = Math.asin(Math.sin(obliq) * Math.sin(eclon))
    val ha0 = locast - RadToDeg * atan2(Math.cos(obliq) * Math.sin(eclon), Math.cos(eclon))
    val ha = (ha0 - (if (Math.abs(ha0) > 180.0) 360.0 * Math.signum(ha0) else 0.0)) * DegToRad
    val sinLat = Math.sin(latDeg * DegToRad)
    val cosLat = Math.cos(latDeg * DegToRad)
    val az0 = RadToDeg * atan2(-Math.sin(ha), cosLat * Math.tan(dec) - sinLat * Math.cos(ha))
    val el = RadToDeg * Math.asin(cosLat * Math.cos(dec) * Math.cos(ha) + sinLat * Math.sin(dec))
    new GenericInternalRow(Array[Any](el, if (az0 < 0.0) az0 + 360.0 else az0))
  }
}
