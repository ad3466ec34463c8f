package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Solar-geometry scalar functions as column expressions: Spark
  * built-ins, plus the native `graft_solar_position` expression for the
  * ephemeris position ([[ephemerisPosition]]) — no UDFs.
  *
  * Formulas follow the public Cooper/Spencer equations used by the
  * reference (`pvsystemprofiler/utilities/declination_equation.py:4-32`,
  * hour angle `hour_angle_equation.py:9-26`, daylight hours
  * `latitude/hours_daylight.py:6-15`).
  */
object Solar {
  // explicit decimal literals (the doubles nearest π/180 and 180/π):
  // SQL oracles multiply by these same literals, so both engines run
  // bit-identical arithmetic — a computed math.Pi/180.0 could differ
  // from the parsed literal in the last ulp (the q37 contract)
  private val DegToRad = 0.017453292519943295
  private val RadToDeg = 57.29577951308232

  /** Cooper declination (degrees) from day-of-year — Duffie eq.
    * (1.6.1a), `declination_equation.py:4-12`.
    */
  def declinationDeg(doy: Column): Column =
    lit(23.45) * sin(lit(2.0 * math.Pi) * (doy + lit(284.0)) / lit(365.0))

  /** Spencer declination (degrees) from day-of-year — Duffie eq.
    * (1.6.1b), the Fourier form (`declination_equation.py:15-32`):
    * (180/π)·(0.006918 − 0.399912 cos b + 0.070257 sin b
    * − 0.006758 cos 2b + 0.000907 sin 2b − 0.002697 cos 3b
    * + 0.00148 sin 3b), b = 2π(doy−1)/365.
    */
  def declinationSpencerDeg(doy: Column): Column = {
    val b = lit(2.0 * math.Pi) * (doy - lit(1.0)) / lit(365.0)
    lit(RadToDeg) * (lit(0.006918)
      - lit(0.399912) * cos(b) + lit(0.070257) * sin(b)
      - lit(0.006758) * cos(lit(2.0) * b) + lit(0.000907) * sin(lit(2.0) * b)
      - lit(0.002697) * cos(lit(3.0) * b) + lit(0.00148) * sin(lit(3.0) * b))
  }

  /** Spencer equation of time (minutes) from day-of-year, with the
    * book's 229.18 min/rad approximation.
    */
  def equationOfTimeMin(doy: Column): Column = {
    val b = lit(2.0 * math.Pi) * (doy - lit(1.0)) / lit(365.0)
    lit(229.18) * (lit(0.000075)
      + lit(0.001868) * cos(b) - lit(0.032077) * sin(b)
      - lit(0.014615) * cos(lit(2.0) * b) - lit(0.04089) * sin(lit(2.0) * b))
  }

  /** Duffie equation of time (minutes): the same Spencer series with
    * the exact A = 1440/2π min/rad factor the reference's study
    * modules use (`utilities/equation_of_time.py:33-56`).
    */
  def equationOfTimeDuffieMin(doy: Column): Column = {
    val b = lit(2.0 * math.Pi) * (doy - lit(1.0)) / lit(365.0)
    // the double nearest 1440/2π, as an explicit literal mirrored by
    // the SQL oracles (same last-ulp contract as DegToRad/RadToDeg)
    lit(229.1831180523293) * (lit(0.000075)
      + lit(0.001868) * cos(b) - lit(0.032077) * sin(b)
      - lit(0.014615) * cos(lit(2.0) * b) - lit(0.04089) * sin(lit(2.0) * b))
  }

  /** Da Rosa / Haghdadi equation of time (minutes):
    * 9.87 sin 2b − 7.53 cos b − 1.5 sin b, b = 2π(doy−81)/365
    * (`utilities/equation_of_time.py:11-31`).
    */
  def equationOfTimeDaRosaMin(doy: Column): Column = {
    val b = lit(2.0 * math.Pi) * (doy - lit(81.0)) / lit(365.0)
    lit(9.87) * sin(lit(2.0) * b) - lit(7.53) * cos(b) - lit(1.5) * sin(b)
  }

  /** Daylight hours at `latDeg` for declination `declDeg`
    * (sunset-hour-angle formula).
    */
  def daylightHours(latDeg: Double, declDeg: Column): Column = {
    val x = -tan(lit(latDeg * DegToRad)) * tan(declDeg * lit(DegToRad))
    val clamped = greatest(lit(-1.0), least(lit(1.0), x))
    lit(2.0 / 15.0) * acos(clamped) * lit(RadToDeg)
  }

  /** Sun position by the published Sandia "Ephemeris" algorithm
    * (Grover Hughes, EPHEM / SAND85-0273, the algorithm behind pvlib
    * `solarposition.ephemeris`): one native expression,
    * `graft_solar_position` ([[SolarPosition]]), returning
    * `struct<el, az>`. This is the SPA-parity path for the reference's
    * polar transform (`polar_transform.py:69-78` binds pvlib
    * `get_solarposition`): against the NREL SPA it agrees to ~0.01°
    * over 1950–2050, vs the ~0.1–0.3° of the Cooper-declination +
    * Spencer-EoT approximation ([[declinationDeg]]/[[equationOfTimeMin]])
    * — the residual that could move a borderline sample one bin in the
    * polar tables.
    *
    * Project the struct once (`withColumn`/`select ... as`) and read
    * `el`/`az` from the projected column: Catalyst keeps a projected
    * non-cheap expression that is read more than once as one
    * evaluation, but a filter on it is still pushed below the
    * projection and evaluates it again.
    *
    * @param tsUtc timestamp column already in UTC (the session zone;
    *   shift local fixed-offset stamps by the zone offset first, as
    *   the reference does)
    * @return `el`: true (geometric) elevation, degrees — compose
    *   [[apparentElevationDeg]] for the refraction-corrected angle
    *   pvlib reports as `apparent_elevation`; `az`: azimuth degrees
    *   clockwise from north in [0°, 360°)
    */
  def ephemerisPosition(tsUtc: Column, latDeg: Double, lonDeg: Double): Column = {
    GraftFunctions.ensure()
    call_function("graft_solar_position", tsUtc, lit(latDeg), lit(lonDeg))
  }

  /** Atmospheric-refraction correction (degrees) for a true
    * (geometric) elevation `e0Deg`, the Bennett formula as applied
    * by NREL SPA — the correction behind pvlib's
    * `apparent_elevation`, which the reference's polar transform bins
    * (`polar_transform.py:71-90`):
    * Δe = (P/1010)·(283/(273+T)) · 1.02 / (60·tan(e0 + 10.3/(e0+5.11)))
    * with P in millibars, T in °C, angles in degrees; applied only
    * when the sun is above SPA's refraction horizon
    * (e0 ≥ −(0.26667 + 0.5667)), zero below. Defaults are pvlib's
    * (sea-level standard atmosphere, 12 °C): correction ≈ 0.48° at
    * the horizon, ≈ 0.16° at 5° elevation, < 0.1° above ~9°.
    */
  def bennettRefractionDeg(
      e0Deg: Column,
      pressureMbar: Double = 1013.25,
      tempC: Double = 12.0
  ): Column = {
    val atmosFactor = (pressureMbar / 1010.0) * (283.0 / (273.0 + tempC))
    // SPA's refraction horizon is the sun's angular radius plus the
    // horizon refraction term, -(0.26667 + 0.5667): spelled as the
    // same expression pvlib evaluates so the boundary double is
    // bit-identical (ADVICE r12: a -0.8334 literal left a ~3e-5 deg
    // band corrected here but not by pvlib)
    when(e0Deg >= lit(-(0.26667 + 0.5667)),
      lit(atmosFactor) * lit(1.02) /
        (lit(60.0) * tan((e0Deg + lit(10.3) / (e0Deg + lit(5.11))) * lit(DegToRad))))
      .otherwise(lit(0.0))
  }

  /** Apparent (refraction-corrected) elevation in degrees:
    * `e0 + bennettRefractionDeg(e0)`.
    */
  def apparentElevationDeg(
      e0Deg: Column,
      pressureMbar: Double = 1013.25,
      tempC: Double = 12.0
  ): Column =
    e0Deg + bennettRefractionDeg(e0Deg, pressureMbar, tempC)
}
