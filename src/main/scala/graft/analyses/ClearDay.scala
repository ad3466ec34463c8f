package graft.analyses

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TimeAxis

/** Clear-day detection against a LOCAL clear-sky envelope (reference
  * `clear_day_detection.py:40-103`): a day is clear when its profile
  * tracks the shape of the best recent days — per-slot rolling 90th
  * percentile over a ±`windowDays` neighborhood — with high cosine
  * similarity AND captures most of the envelope's energy. Weather is
  * episodic, so cloudy days decorrelate from the local envelope even
  * in seasons with low absolute power.
  *
  * Execution: one [[SiteLane]] pass over the bounded (slot × day)
  * grid — per-site state is slots·days doubles (≈10⁵ for a year of
  * 5-min data), flat in scan rate, fleet-parallel across executors
  * (DESIGN §2 rule 2).
  */
object ClearDay {

  /** @return (site, day, env_corr, energy_ratio, clear) per day */
  def detect(
      spark: SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      slotsPerDay: Int,
      windowDays: Int = 10,
      corrThreshold: Double = 0.98,
      energyThreshold: Double = 0.8
  ): DataFrame = {
    import spark.implicits._
    require(86400 % slotsPerDay == 0,
      s"slotsPerDay must divide 86400 (got $slotsPerDay) — otherwise slot boundaries " +
        "drift and end-of-day samples fall outside the grid silently")
    val freqS = (86400 / slotsPerDay).toLong
    val rows = df
      .select(
        col(site).cast("long").as("site"),
        to_date(col(tsCol)).cast("string").as("day"),
        (TimeAxis.secondsOfDay(col(tsCol)) / freqS).cast("int").as("slot"),
        col(valueCol).cast("double").as("v")
      )
      .as[(Long, String, Int, Double)]
    SiteLane(rows, (r: (Long, String, Int, Double)) => r._1) { (siteId, it) =>
      val buf = it.toArray
      val days = buf.map(_._2).distinct.sorted
      val dayIdx = days.zipWithIndex.toMap
      val nD = days.length
      val m = Array.fill(slotsPerDay, nD)(0.0)
      buf.foreach { case (_, day, slot, v) =>
        // MAX on slot collisions (two samples landing in one slot):
        // plain assignment would keep whichever the shuffle happened
        // to deliver last — partition-order-dependent output. Max is
        // commutative, so the matrix is deterministic under any
        // arrival order (and power is nonnegative, matching the
        // zero-initialized grid).
        if (slot >= 0 && slot < slotsPerDay && v > m(slot)(dayIdx(day)))
          m(slot)(dayIdx(day)) = v
      }
      // per-slot rolling p90 envelope over ±windowDays of CALENDAR
      // time: window bounds by date distance, not observed-day rank —
      // across a data gap the rank window would mix seasons
      val epochDay = days.map(s => java.time.LocalDate.parse(s).toEpochDay)
      val env = Array.ofDim[Double](slotsPerDay, nD)
      var d = 0
      var loP = 0
      var hiP = 0
      while (d < nD) {
        while (epochDay(loP) < epochDay(d) - windowDays) loP += 1
        if (hiP < d) hiP = d
        while (hiP < nD && epochDay(hiP) <= epochDay(d) + windowDays) hiP += 1
        val lo = loP
        val hi = hiP
        var s = 0
        while (s < slotsPerDay) {
          val w = java.util.Arrays.copyOfRange(m(s), lo, hi)
          java.util.Arrays.sort(w)
          val pos = 0.9 * (w.length - 1)
          val i0 = pos.toInt
          val frac = pos - i0
          env(s)(d) =
            if (i0 + 1 < w.length) w(i0) * (1 - frac) + w(i0 + 1) * frac else w(i0)
          s += 1
        }
        d += 1
      }
      (0 until nD).iterator.map { d2 =>
        var num = 0.0; var mm = 0.0; var ee = 0.0; var sm = 0.0; var se = 0.0
        var s = 0
        while (s < slotsPerDay) {
          val a = m(s)(d2); val b = env(s)(d2)
          num += a * b; mm += a * a; ee += b * b; sm += a; se += b
          s += 1
        }
        // emit and THRESHOLD statistics quantized by the engine-
        // portable product form (round-half-away-from-zero on x*1e6,
        // exactly SQL round(x*1e6)): the raw doubles differ across
        // engines at ulp scale (summation order, quantile
        // interpolation), so a verdict on the raw value could flip
        // cross-engine on a knife-edge day while the reported
        // numbers agree — the d37 lesson applied here. floor(p+0.5)
        // was close but diverges from SQL round on negative halves
        // and where the +0.5 addition itself rounds up.
        def q6(x: Double): Double = {
          val pAbs = math.abs(x * 1e6)
          val fl = math.floor(pAbs)
          math.copySign(if (pAbs - fl >= 0.5) fl + 1.0 else fl, x * 1e6) / 1e6
        }
        val corrRaw = if (mm > 0 && ee > 0) num / math.sqrt(mm * ee) else 0.0
        val eratioRaw = if (se > 1e-9) sm / se else 0.0
        val corr = q6(corrRaw)
        val eratio = q6(eratioRaw)
        (siteId, days(d2), corr, eratio,
          corr > corrThreshold && eratio > energyThreshold)
      }
    }.toDF("site", "day", "env_corr", "energy_ratio", "clear")
  }

  /** The engine's default clear-day table over the harness events
    * grain (15-minute slots, ±10-day envelope) — the ONE definition
    * shared by the hash-gated q54 query and the `clear_days` SQL
    * view, so they cannot desynchronize.
    */
  def detectDefault(spark: SparkSession, events: DataFrame): DataFrame =
    detect(spark, events, "user_id", "ts", "value", 96, 10)
}
