package graft.analyses

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.operators.{SideJoin, TimeAxis}
import graft.solvers.Kernels

/** Sunrise/sunset estimation with holdout-tuned sun-detection
  * threshold (reference `algorithms/sunrise_sunset_estimation.py`,
  * `SunriseSunset.run_optimizer`, lines 184-335).
  *
  * The reference scans a 21-point log-spaced threshold grid; for each
  * threshold it computes rough per-day sunrise/sunset times from the
  * scaled power matrix (`daytime.py:41-46` `detect_sun` +
  * `sunrise_sunset.py:11-28` `rise_set_rough`), fits smooth periodic
  * quantile models (`tl1_l2d2p365`, τ=0.1 rise / τ=0.9 set) on an
  * 80/20 holdout, and keeps the smallest threshold whose holdout
  * ℓ1 error is within 10% of the best — guarded by a physical
  * plausibility rule (seasonal range of both fitted curves > 15 min,
  * `sunrise_sunset_estimation.py:249-264`).
  *
  * Spark-first split:
  *  - '''Stage A''' ([[roughGrid]]) is one relational pass over the
  *    raw scan: the whole grid is evaluated as 2×|grid| conditional
  *    aggregates per (site, day) — the scan is NOT multiplied by the
  *    grid size, and the only shuffle is the (site, day) groupBy.
  *  - '''Stage B''' ([[estimates]]) runs the per-site optimizer on
  *    bounded day-grain state (|days| × 2|grid| doubles per site)
  *    fleet-parallel through the per-site [[SiteLane]].
  *  - '''Stage C''' ([[sunupMask]]) broadcasts the day-grain
  *    estimates back to the scan — no scan shuffle.
  *
  * The holdout split is a deterministic index hash rather than the
  * reference's seeded `np.random.shuffle` (same 80/20 proportions,
  * reproducible across engines and runs).
  */
object SunriseSunset {

  /** (site, day, sr_arr, ss_arr): one site-day of [[roughGrid]]. */
  private type GridRow = (Long, String, Seq[Double], Seq[Double])

  /** `np.logspace(-5, -1, searchPts)` (`sunrise_sunset_estimation.py:199`). */
  def thresholdGrid(searchPts: Int = 21): Array[Double] =
    Array.tabulate(searchPts)(i => math.pow(10.0, -5.0 + 4.0 * i / (searchPts - 1).toDouble))

  /** Per-(site, day) rough sunrise/sunset hour at EVERY grid
    * threshold, in one scan pass. Scaling per `daytime.py:50-53`
    * `scale_data`: high = p99 of the signal, low = max(min, −0.005·
    * high), scaled = (v − low)/high (rounded to 6 dp so the
    * threshold compare is stable cross-engine). A day's sunrise is
    * null when the first above-threshold sample IS the day's first
    * sample (sun already up at the start of the matrix column —
    * `rise_set_rough`'s `argmax != 0` guard), symmetrically for
    * sunset at the day's last sample.
    *
    * Returns (site, day, sr_arr, ss_arr): fractional hours (6 dp),
    * null-elements where the guard fired, arrays indexed by grid
    * position.
    */
  def roughGrid(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      searchPts: Int = 21
  ): DataFrame = {
    val ths = thresholdGrid(searchPts)
    // self-routing exact percentiles: p99 and min (= the 0.0 level)
    // — callers pass derived frames (the filled grid in the stage-12
    // re-estimate), which [[Percentiles.exact]] routes to the
    // single-evaluation sort form; scan-shaped callers get the
    // histogram route. Bit-identical to the percentile aggregate
    val scale = graft.operators.Percentiles
      .exact(df, Seq(site), valueCol, Seq(0.99 -> "__hi", 0.0 -> "__mn"))
      .withColumn("__lo", greatest(col("__mn"), lit(-0.005) * col("__hi")))
      .select(col(site), col("__hi"), col("__lo"))
    val h = TimeAxis.hourOfDay(col(tsCol))
    val scaled = round((col(valueCol) - col("__lo")) / col("__hi"), 6)
    val aggs = ths.zipWithIndex.flatMap { case (th, k) =>
      Seq(
        min(when(scaled > th, h)).as(s"__sr$k"),
        max(when(scaled > th, h)).as(s"__ss$k")
      )
    } ++ Seq(min(h).as("__hf"), max(h).as("__hl"))
    SideJoin.back(df, scale, Seq(site))
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(aggs.head, aggs.tail: _*)
      .select(
        col(site), col("day"),
        array(ths.indices.map(k =>
          when(col(s"__sr$k") =!= col("__hf"), round(col(s"__sr$k"), 6))): _*).as("sr_arr"),
        array(ths.indices.map(k =>
          when(col(s"__ss$k") =!= col("__hl"), round(col(s"__ss$k"), 6))): _*).as("ss_arr")
      )
  }

  /** [[roughGrid]] unpivoted to (site, day, th_idx, sunrise_h,
    * sunset_h) — the SQL-expressible gate surface (q55).
    */
  def roughGridLong(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      searchPts: Int = 21
  ): DataFrame =
    roughGrid(df, site, tsCol, valueCol, searchPts)
      .select(col(site), col("day"),
        posexplode(arrays_zip(col("sr_arr"), col("ss_arr"))).as(Seq("th_idx", "__z")))
      .select(col(site), col("day"), col("th_idx"),
        col("__z.sr_arr").as("sunrise_h"), col("__z.ss_arr").as("sunset_h"))

  /** Result of the per-site threshold optimization. */
  final case class SiteFit(
      thIdx: Int,
      threshold: Double,
      hoErr: Double,
      plausible: Boolean,
      srRough: Array[Double],
      ssRough: Array[Double],
      srEst: Array[Double],
      ssEst: Array[Double]
  )

  /** Deterministic 80/20 holdout: day index d is held out iff its
    * Knuth-hash bucket lands in the top 20% (the q34 idiom — same
    * proportions as the reference's seeded shuffle, reproducible).
    */
  private def isTest(d: Int): Boolean =
    ((d.toLong * 2654435761L) & 0x7fffffffL) % 100 >= 80

  /** The `run_optimizer` grid search on one site's day-grain state.
    *
    * @param srGrid srGrid(k)(d): rough sunrise hour at threshold k on
    *   day d, NaN where missing; ssGrid symmetric.
    * @param t calendar day offsets (phase axis for the periodic fit).
    */
  def optimizeSite(
      srGrid: Array[Array[Double]],
      ssGrid: Array[Array[Double]],
      t: Array[Double],
      ths: Array[Double],
      period: Double = Kernels.YearPeriod,
      harmonics: Int = 3
  ): SiteFit = {
    val nTh = ths.length
    val n = t.length
    val errs = Array.fill(nTh)(1e2)
    var k = 0
    while (k < nTh) {
      val sr = srGrid(k)
      val ss = ssGrid(k)
      val nSr = sr.count(!_.isNaN)
      val nSs = ss.count(!_.isNaN)
      // reference gate: >60% of days must have a measurable time
      if (n > 0 && nSr.toDouble / n > 0.6 && nSs.toDouble / n > 0.6) {
        // train = valid ∧ ¬test; fit evaluates at every t
        val srTrain = Array.tabulate(n)(d => if (isTest(d)) Double.NaN else sr(d))
        val ssTrain = Array.tabulate(n)(d => if (isTest(d)) Double.NaN else ss(d))
        val srFit = Kernels.quantileFourierFit(srTrain, t, tau = 0.1, harmonics, period)
        val ssFit = Kernels.quantileFourierFit(ssTrain, t, tau = 0.9, harmonics, period)
        if (!srFit(0).isNaN && !ssFit(0).isNaN) {
          // physical-plausibility guard (PVO ID#30121,
          // `sunrise_sunset_estimation.py:249-264`): the seasonal
          // range of both curves must exceed 15 minutes
          val plausible =
            srFit.max - srFit.min > 0.25 && ssFit.max - ssFit.min > 0.25
          if (plausible) {
            var sum = 0.0
            var m = 0
            var d = 0
            while (d < n) {
              if (isTest(d)) {
                if (!sr(d).isNaN) { sum += math.abs(sr(d) - srFit(d)); m += 1 }
                if (!ss(d).isNaN) { sum += math.abs(ss(d) - ssFit(d)); m += 1 }
              }
              d += 1
            }
            if (m > 0) errs(k) = sum / m
          }
        }
      }
      k += 1
    }
    // smallest threshold within 10% of the best holdout error. <= not
    // <: with a perfect fit (minErr == 0) a strict compare matches
    // NOTHING and would fall back to index 0 — a threshold that may
    // have failed the 60% gate outright (the reference's `ho_error <
    // 1.1 * min_val` selection crashes on that same edge)
    val minErr = errs.min
    val selected = errs.indices.find(errs(_) <= 1.1 * minErr).getOrElse(0)
    val sr = srGrid(selected)
    val ss = ssGrid(selected)
    val srEst = Kernels.quantileFourierFit(sr, t, tau = 0.1, harmonics, period)
    val ssEst = Kernels.quantileFourierFit(ss, t, tau = 0.9, harmonics, period)
    val plausible = !srEst(0).isNaN && !ssEst(0).isNaN &&
      srEst.max - srEst.min > 0.25 && ssEst.max - ssEst.min > 0.25 &&
      errs(selected) < 1e2
    SiteFit(selected, ths(selected), errs(selected), plausible, sr, ss, srEst, ssEst)
  }

  /** Fleet-wide optimizer: per-(site, day) smoothed sunrise/sunset
    * estimates with the selected threshold. Output: (site, day,
    * th_idx, threshold, ho_err, plausible, sunrise_rough,
    * sunset_rough, sunrise_est, sunset_est).
    */
  def estimates(
      spark: SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      searchPts: Int = 21,
      period: Double = Kernels.YearPeriod,
      harmonics: Int = 3
  ): DataFrame = {
    import spark.implicits._
    val ths = thresholdGrid(searchPts)
    val nan = lit(Double.NaN)
    val grid = roughGrid(df, site, tsCol, valueCol, searchPts)
      .select(
        col(site).cast("long").as("site"), col("day").cast("string"),
        transform(col("sr_arr"), x => coalesce(x, nan)).as("sr_arr"),
        transform(col("ss_arr"), x => coalesce(x, nan)).as("ss_arr")
      )
      .as[GridRow]
    // the CPU-dense per-site optimizer, one site at a time, days in
    // order (ISO dates order as strings)
    SiteLane(grid, (r: GridRow) => r._1, col("day")) { (siteId, it) =>
      val days = it.toArray
      val n = days.length
      // CALENDAR offsets keep the periodic phase honest across gaps
      val ep0 = java.time.LocalDate.parse(days(0)._2).toEpochDay
      val t = days.map(d => (java.time.LocalDate.parse(d._2).toEpochDay - ep0).toDouble)
      val srGrid = Array.tabulate(ths.length, n)((k, d) => days(d)._3(k))
      val ssGrid = Array.tabulate(ths.length, n)((k, d) => days(d)._4(k))
      val fit = optimizeSite(srGrid, ssGrid, t, ths, period, harmonics)
      (0 until n).iterator.map { d =>
        (siteId, days(d)._2, fit.thIdx, fit.threshold, fit.hoErr, fit.plausible,
          fit.srRough(d), fit.ssRough(d), fit.srEst(d), fit.ssEst(d))
      }
    }
      .toDF(site, "day", "th_idx", "threshold", "ho_err", "plausible",
        "sunrise_rough", "sunset_rough", "sunrise_est", "sunset_est")
      .withColumn("day", col("day").cast("date"))
  }

  /** Stage C: the estimated sun-up mask at scan grain
    * (`sunup_mask_estimated`, `sunrise_sunset_estimation.py:301-306`):
    * a row is sun-up iff sunrise_est ≤ hour < sunset_est on its day.
    * Day-grain estimates broadcast back — the scan never shuffles.
    */
  def sunupMask(df: DataFrame, est: DataFrame, site: String, tsCol: String): DataFrame = {
    val h = TimeAxis.hourOfDay(col(tsCol))
    // BOTH curves must be numeric: NaN compares as larger-than-any in
    // Spark, so an unguarded `h < NaN-sunset` would read true and mark
    // every post-sunrise hour (midnight included) as sun-up on a site
    // whose sunset curve failed to fit
    def num(c: Column): Column = c.isNotNull && !isnan(c)
    SideJoin.back(
      df.withColumn("day", to_date(col(tsCol))),
      est.select(col(site), col("day"), col("sunrise_est"), col("sunset_est")),
      Seq(site, "day")
    )
      .withColumn("sunup",
        num(col("sunrise_est")) && num(col("sunset_est")) &&
          h >= col("sunrise_est") && h < col("sunset_est"))
  }

  /** Restrict a scan to its estimated sun-up window — the pipeline
    * wiring (reference `run_pipeline` stage 3 feeds the estimated
    * mask to downstream stages). Used by
    * `DataHandler.runPipeline(estimateSunTimes = true)`.
    *
    * Sites whose optimizer came back `plausible = false` (the
    * reference's physical-plausibility guard) keep ALL their rows:
    * applying an unvalidated mask would either feed garbage windows
    * downstream or — when the fit is all-NaN — silently drop the
    * whole site from the pipeline with no error row.
    */
  def applySunupFilter(
      spark: SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      searchPts: Int = 21,
      period: Double = Kernels.YearPeriod
  ): DataFrame = {
    val est = estimates(spark, df, site, tsCol, valueCol, searchPts, period)
    val plaus = est.groupBy(col(site)).agg(max(col("plausible")).as("__plausible"))
    SideJoin.back(sunupMask(df, est, site, tsCol), plaus, Seq(site))
      .filter(!col("__plausible") || col("sunup"))
      .drop("sunup", "day", "sunrise_est", "sunset_est", "__plausible")
  }
}
