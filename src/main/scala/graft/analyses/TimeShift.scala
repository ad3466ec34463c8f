package graft.analyses

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

import graft.operators.TimeAxis
import graft.solvers.Kernels

/** Time-shift detection and correction (reference
  * `algorithms/time_shifts.py:47-199, 345-361` and
  * `data_handler.py:585-645`): detect per-day clock shifts from the
  * solar-noon series with a piecewise-constant fit, then roll each
  * day's slots back — the join-back pattern where a solver's per-day
  * output is broadcast onto the raw (site, day, slot) grain.
  */
object TimeShift {

  /** Per-day shift table: (site, day, shift_h, roll_slots).
    * Solar noon per day → pwc+seasonal fit → shift = pwc − its
    * median, rounded to the slot grid.
    *
    * @param sumCard use the nonconvex cardinality-penalized pwc fit
    *   (the reference's QSS `sum_card=True` re-solve after the convex
    *   pass, `data_handler.py:1356-1405`): shift plateaus come out
    *   exactly flat and jump unshrunk, at the cost of a nonconvex
    *   refinement per site. Default false — the reference's default
    *   CLARABEL (convex) path.
    */
  def detect(spark: SparkSession, df: DataFrame, site: String, tsCol: String, valueCol: String, slotsPerDay: Int, sumCard: Boolean = false): DataFrame = {
    import spark.implicits._
    fitLane(spark, df, site, tsCol, valueCol, sumCard) { (siteId, days, fit) =>
      fit match {
        case None => days.iterator.map(d => (siteId, d._2, 0.0, 0))
        case Some((pwc, _)) =>
          val base = Kernels.median(pwc)
          days.indices.iterator.map { i =>
            val shiftH = pwc(i) - base
            val rollSlots = math.round(shiftH * slotsPerDay / 24.0).toInt
            (siteId, days(i)._2, shiftH, rollSlots)
          }
      }
    }.toDF("site", "day", "shift_h", "roll_slots")
  }

  /** [[detect]]'s solver internals exposed per day — the columns
    * `plot_time_shift_analysis_results` (`data_handler.py:2236-2290`)
    * draws: the daily solar-noon metric, the piecewise-constant shift
    * detector `s1`, the seasonal component `s2` (the reference plots
    * `s1 + s2` as the signal model), and the fit-participation flag.
    * Same per-site solver lane and same fit as [[detect]]; `used` is
    * false for the <10-day fallback where no fit runs (s1 = s2 = 0).
    *
    * @return (site, day, metric, s1, s2, used)
    */
  def components(spark: SparkSession, df: DataFrame, site: String, tsCol: String, valueCol: String, sumCard: Boolean = false): DataFrame = {
    import spark.implicits._
    fitLane(spark, df, site, tsCol, valueCol, sumCard) { (siteId, days, fit) =>
      fit match {
        case None => days.iterator.map(d => (siteId, d._2, d._3, 0.0, 0.0, false))
        case Some((pwc, seasonal)) =>
          days.indices.iterator.map(i => (siteId, days(i)._2, days(i)._3, pwc(i), seasonal(i), true))
      }
    }.toDF("site", "day", "metric", "s1", "s2", "used")
  }

  /** The lane [[detect]] and [[components]] share: the per-(site, day)
    * power-weighted centre-of-mass hour, then per site, days in order
    * (ISO dates order as strings), the pwc + weekly-seasonal fit —
    * `None` below 10 days, where no fit runs.
    */
  private def fitLane[O: Encoder](spark: SparkSession, df: DataFrame, site: String, tsCol: String, valueCol: String, sumCard: Boolean)(
      emit: (Long, Array[(Long, String, Double)], Option[(Array[Double], Array[Double])]) => Iterator[O]
  ): Dataset[O] = {
    import spark.implicits._
    val com = df
      .groupBy(col(site).cast("long").as("site"), to_date(col(tsCol)).cast("string").as("day"))
      .agg(
        sum(TimeAxis.hourOfDay(col(tsCol)) * col(valueCol)).as("hv"),
        sum(col(valueCol)).as("sv")
      )
      // try_divide: a dead day (zero total power) must not kill the
      // fleet job under ANSI mode
      .select(col("site"), col("day"), try_divide(col("hv"), col("sv")).as("com_hour"))
      .filter(col("com_hour").isNotNull)
      .as[(Long, String, Double)]
    SiteLane(com, (r: (Long, String, Double)) => r._1, col("day")) { (siteId, it) =>
      val days = it.toArray
      val t = Array.tabulate(days.length)(_.toDouble)
      val y = days.map(_._3)
      // weekly basis: periodic within any window, so it cannot absorb
      // a one-time clock-shift step (a 365 d basis over a shorter span
      // is non-periodic and would eat the step)
      val fit = if (days.length < 10) None
        else Some(Kernels.tvSeasonalFit(y, t, lambdaTv = 10.0, harmonics = 1, period = 7.0, sumCard = sumCard))
      emit(siteId, days, fit)
    }
  }

  /** Apply the per-day roll to the raw grain: broadcast the shift
    * table, `slot' = (slot − roll) mod slotsPerDay` (reference
    * `time_shifts.py:345-361` circular roll).
    */
  def correct(df: DataFrame, shifts: DataFrame, site: String, tsCol: String, slotsPerDay: Int): DataFrame = {
    val freqS = (86400 / slotsPerDay).toLong
    val withSlot = df
      .withColumn("day", to_date(col(tsCol)).cast("string"))
      .withColumn("slot", (TimeAxis.secondsOfDay(col(tsCol)) / freqS).cast("int"))
    graft.operators.SideJoin.back(
        withSlot,
        shifts.select(col("site").as(site), col("day"), col("roll_slots")),
        Seq(site, "day"),
        "left"
      )
      .withColumn("slot_corrected",
        TimeAxis.rollSlot(col("slot"), -coalesce(col("roll_slots"), lit(0)), slotsPerDay))
  }
}
