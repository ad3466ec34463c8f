package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Sandia/pvlib ephemeris as the staged chain of Spark built-in
  * `withColumn` projections that `Solar.ephemerisPosition` replaced,
  * kept verbatim as the reference semantics the native
  * `graft_solar_position` is pinned against bit for bit
  * (`ExpressionSpec`). Catalyst inlines the chain into every use of its
  * outputs, so a plan that reads the elevation several times grows to
  * megabytes; use it only on small frames.
  */
object EphemerisChain {
  private val DegToRad = 0.017453292519943295
  private val RadToDeg = 57.29577951308232

  def withEphemerisPosition(
      df: org.apache.spark.sql.DataFrame,
      tsUtc: Column,
      latDeg: Double,
      lonDeg: Double,
      elOut: String,
      azOut: String
  ): org.apache.spark.sql.DataFrame = {
    val abber = 20.0 / 3600.0
    val sinLat = math.sin(latDeg * DegToRad)
    val cosLat = math.cos(latDeg * DegToRad)
    val yr = year(tsUtc) - lit(1900)
    val yrBegin = lit(365.0) * yr + floor((yr - lit(1)).cast("double") / lit(4.0)) - lit(0.5)
    val c = col _
    df
      .withColumn("__eph_ez", yrBegin + dayofyear(tsUtc))
      .withColumn("__eph_uh", hour(tsUtc) + minute(tsUtc) / lit(60.0) + second(tsUtc) / lit(3600.0))
      .withColumn("__eph_gmst0", {
        val t = c("__eph_ez") / lit(36525.0)
        val frac = lit(6.0 / 24.0) + lit(38.0 / 1440.0) +
          (lit(45.836) + lit(8640184.542) * t + lit(0.0929) * t * t) / lit(86400.0)
        lit(360.0) * (frac - floor(frac))
      })
      .withColumn("__eph_locast",
        pmod(lit(360.0 + lonDeg) +
          pmod(c("__eph_gmst0") + lit(360.0) * (lit(1.0027379093) * c("__eph_uh") / lit(24.0)),
            lit(360.0)),
          lit(360.0)))
      .withColumn("__eph_epoch", c("__eph_ez") + c("__eph_uh") / lit(24.0))
      .withColumn("__eph_t1", c("__eph_epoch") / lit(36525.0))
      .withColumn("__eph_obliq",
        (lit(23.452294) - lit(0.0130125) * c("__eph_t1") -
          lit(1.64e-06) * c("__eph_t1") * c("__eph_t1") +
          lit(5.03e-07) * c("__eph_t1") * c("__eph_t1") * c("__eph_t1")) * lit(DegToRad))
      .withColumn("__eph_mlper",
        lit(281.22083) + lit(4.70684e-05) * c("__eph_epoch") +
          lit(0.000453) * c("__eph_t1") * c("__eph_t1") +
          lit(3e-06) * c("__eph_t1") * c("__eph_t1") * c("__eph_t1"))
      .withColumn("__eph_manom",
        pmod(lit(358.47583) + lit(0.985600267) * c("__eph_epoch") -
          lit(0.00015) * c("__eph_t1") * c("__eph_t1") -
          lit(3e-06) * c("__eph_t1") * c("__eph_t1") * c("__eph_t1"), lit(360.0)))
      .withColumn("__eph_ecc",
        lit(0.01675104) - lit(4.18e-05) * c("__eph_t1") -
          lit(1.26e-07) * c("__eph_t1") * c("__eph_t1"))
      // Kepler fixed point, one projection per iteration (each __eph_ea
      // is referenced once by the next, so inlining here is harmless —
      // the tree stays linear): E ← M + deg(e)·sin(rad(E)). Five steps
      // over-converge pvlib's own 1e-5° exit at e ≈ 0.0167.
      .withColumn("__eph_ea", c("__eph_manom"))
      .transform { d0 =>
        (1 to 5).foldLeft(d0) { (d, _) =>
          d.withColumn("__eph_ea",
            c("__eph_manom") + lit(RadToDeg) * c("__eph_ecc") * sin(c("__eph_ea") * lit(DegToRad)))
        }
      }
      .withColumn("__eph_eclon",
        (pmod(c("__eph_mlper") +
          lit(2.0 * RadToDeg) * atan2(
            sqrt((lit(1.0) + c("__eph_ecc")) / (lit(1.0) - c("__eph_ecc"))) *
              tan(c("__eph_ea") * lit(DegToRad) / lit(2.0)),
            lit(1.0)),
          lit(360.0)) - lit(abber)) * lit(DegToRad))
      .withColumn("__eph_dec", asin(sin(c("__eph_obliq")) * sin(c("__eph_eclon"))))
      .withColumn("__eph_ha0",
        c("__eph_locast") - lit(RadToDeg) *
          atan2(cos(c("__eph_obliq")) * sin(c("__eph_eclon")), cos(c("__eph_eclon"))))
      .withColumn("__eph_ha",
        (c("__eph_ha0") - when(abs(c("__eph_ha0")) > lit(180.0),
          lit(360.0) * signum(c("__eph_ha0"))).otherwise(lit(0.0))) * lit(DegToRad))
      .withColumn("__eph_az0", lit(RadToDeg) *
        atan2(-sin(c("__eph_ha")),
          lit(cosLat) * tan(c("__eph_dec")) - lit(sinLat) * cos(c("__eph_ha"))))
      .withColumn(elOut, lit(RadToDeg) *
        asin(lit(cosLat) * cos(c("__eph_dec")) * cos(c("__eph_ha")) +
          lit(sinLat) * sin(c("__eph_dec"))))
      .withColumn(azOut,
        when(c("__eph_az0") < lit(0.0), c("__eph_az0") + lit(360.0)).otherwise(c("__eph_az0")))
      .drop("__eph_ez", "__eph_uh", "__eph_gmst0", "__eph_locast", "__eph_epoch",
        "__eph_t1", "__eph_obliq", "__eph_mlper", "__eph_manom", "__eph_ecc",
        "__eph_ea", "__eph_eclon", "__eph_dec", "__eph_ha0", "__eph_ha", "__eph_az0")
  }
}
