package graft.analyses

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Solar
import graft.operators.TimeAxis

/** System-profiler estimates from the power signal alone (reference
  * `pvsystemprofiler/`: `longitude_study.py`, `latitude_study.py`) —
  * per-day daylight-duration and solar-noon signals turned into
  * latitude/longitude medians.
  *
  * One aggregation over the raw table per call: the day-grain signal
  * table is the only shuffle, and the latitude/longitude day
  * estimates are scalar column expressions on it.
  */
object Profiler {

  private val DegToRad = 0.017453292519943295
  private val RadToDeg = 57.29577951308232

  /** Per-site location estimate: daylight hours → latitude (Duffie
    * hour-angle inversion), energy center-of-mass + equation of time
    * → longitude; per-site medians over the day estimates.
    *
    * @return (<site>, lat_est, lon_est, n_days)
    */
  // (the q37 oracle-gated path — rough rise/set from the 5% threshold)
  //
  // gmtOffsetHours: the reference estimator's required gmt_offset
  // (`estimator.py:40`) — the timestamps' fixed offset from UTC (local
  // standard time; 0 for UTC-stamped feeds like the gate tables). Only
  // the longitude inversion needs it; latitude (daylight duration) and
  // the orientation fit (noon-relative hour angles) are offset-free.
  def estimateLocation(
      df: DataFrame, site: String, tsCol: String, valueCol: String,
      gmtOffsetHours: Double = 0.0): DataFrame = {
    val siteMax = df.groupBy(col(site)).agg(round(max(col(valueCol)) * 0.05, 6).as("thr"))
    val h = TimeAxis.hourOfDay(col(tsCol))
    val daily = df
      .join(broadcast(siteMax), Seq(site))
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(
        (max(when(col(valueCol) > col("thr"), h)) - min(when(col(valueCol) > col("thr"), h))).as("dl_h"),
        // CoM from rounded sums (see the q11 note in SparkEntry) +
        // try_divide dead-day guard
        round(sum(TimeAxis.secondsOfDay(col(tsCol)) * col(valueCol)), 2).as("num_sv"),
        round(sum(col(valueCol)), 2).as("sum_v")
      )
      .withColumn("com_hour", try_divide(col("num_sv") / 3600.0, col("sum_v")))
    val doy = dayofyear(col("day"))
    val declRad = Solar.declinationDeg(doy) * lit(DegToRad)
    val eot = Solar.equationOfTimeMin(doy)
    daily
      .withColumn("lat_day", atan(-cos(lit(7.5) * col("dl_h") * lit(DegToRad)) / tan(declRad)) * lit(RadToDeg))
      .withColumn("lon_day",
        lit(-15.0) * (col("com_hour") - lit(gmtOffsetHours) - lit(12.0) + eot / lit(60.0)))
      .groupBy(col(site))
      .agg(
        round(percentile(col("lat_day"), lit(0.5)), 6).as("lat_est"),
        round(percentile(col("lon_day"), lit(0.5)), 6).as("lon_est"),
        count(lit(1)).as("n_days")
      )
  }

  /** [[estimateLocation]] fed by the holdout-TUNED smoothed
    * sunrise/sunset estimates instead of the rough 5%-threshold
    * times — the reference's `optimized_sunrise_sunset.py` path
    * (`get_optimized_sunrise_sunset` → latitude/longitude studies):
    * daylight = set − rise of the smoothed curves, solar noon =
    * their midpoint, then the identical Duffie inversion and
    * equation-of-time correction. On noisy multi-year sites the
    * smoothed curves cut the day-estimate variance the rough times
    * carry — which is exactly why the reference tunes the threshold
    * before profiling. Solver-path (quantile fits) → spec-gated
    * (SunriseSunsetSpec recovers a known lat/lon through it); q37
    * stays the oracle-gated relational analog.
    */
  def estimateLocationOptimized(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      searchPts: Int = 21,
      gmtOffsetHours: Double = 0.0
  ): DataFrame = {
    val est = SunriseSunset.estimates(spark, df, site, tsCol, valueCol, searchPts)
    val doy = dayofyear(col("day"))
    val declRad = Solar.declinationDeg(doy) * lit(DegToRad)
    val eot = Solar.equationOfTimeMin(doy)
    est
      .filter(col("plausible") && !isnan(col("sunrise_est")) && !isnan(col("sunset_est")))
      .withColumn("dl_h", col("sunset_est") - col("sunrise_est"))
      .withColumn("noon_h", (col("sunrise_est") + col("sunset_est")) / 2.0)
      .withColumn("lat_day",
        atan(-cos(lit(7.5) * col("dl_h") * lit(DegToRad)) / tan(declRad)) * lit(RadToDeg))
      .withColumn("lon_day",
        lit(-15.0) * (col("noon_h") - lit(gmtOffsetHours) - lit(12.0) + eot / lit(60.0)))
      .groupBy(col(site))
      .agg(
        round(percentile(col("lat_day"), lit(0.5)), 6).as("lat_est"),
        round(percentile(col("lon_day"), lit(0.5)), 6).as("lon_est"),
        first(col("threshold")).as("threshold"),
        count(lit(1)).as("n_days")
      )
  }

  /** Per-site tilt/azimuth estimate (reference `tilt_azimuth_study.py`
    * via `run_curve_fit(select_function(latitude, None, None))`,
    * `angle_of_incidence/curve_fitting.py:12-37`): the scan reduces
    * to a bounded (day-of-year, hour) clear-sky envelope grid per
    * site, and the per-site Duffie-model Levenberg-Marquardt fit
    * ([[graft.solvers.Cluster.tiltAzimuthFit]]) runs on <= 366x24
    * points of state inside `mapGroups`. Azimuth is reported in the
    * Duffie convention (0 = south, east negative).
    *
    * Solar time: hours are equation-of-time corrected per day
    * (`Solar.equationOfTimeMin`, the reference's `clock_to_solar`
    * path) and centered on the site's rise/set-MIDPOINT noon — dawn
    * and dusk detection is horizon-driven, so the midpoint is
    * azimuth-unbiased, where an energy-center-of-mass origin shifts
    * WITH the azimuth and the fit then absorbs gamma into the time
    * axis (measured: gamma collapsed toward 0). The same rise/set
    * day table also supplies the default latitude (daylight-hours
    * inversion) so the default path costs one day-grain aggregation
    * plus the capacity and cell scans — not a separate
    * estimateLocation pass.
    *
    * @param latOverride optional (site, lat_est) table; defaults to
    *   the daylight-hours latitude from the shared rise/set table.
    *   The reference likewise feeds a precalculated latitude.
    * @return (<site>, lat_est, tilt_deg, azimuth_duffie_deg, n_cells)
    *   with NaN angles when the fit is degenerate (reference: np.nan
    *   on curve_fit failure).
    */
  def estimateOrientation(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      latOverride: Option[DataFrame] = None
  ): DataFrame = {
    import spark.implicits._
    val withLat = orientationCells(spark, df, site, tsCol, valueCol, latOverride)
      .filter(col("ct") > OrientationDaytimeThreshold)
      .as[(String, Int, Int, Double, Double, Double)]
    val fitted = withLat.groupByKey(_._1)
      .mapGroups { (siteId: String, it: Iterator[(String, Int, Int, Double, Double, Double)]) =>
        val pts = it.toArray
        val latDeg = pts(0)._6
        val (b, g) = fitOrientation(
          pts.map(_._2), pts.map(_._3), pts.map(_._4),
          noonH = pts(0)._5, latDeg = latDeg, spencer = false)
        (siteId, latDeg, b, g, pts.length)
      }
      .toDF(site, "lat_est", "tilt_deg", "azimuth_duffie_deg", "n_cells")
    fitted
  }

  /** The reference's default daytime threshold for the orientation
    * fit's envelope cells (normalized power > 0.2 — panel clearly in
    * the sun; `tilt_azimuth_study.py` `filter_data` analog).
    */
  val OrientationDaytimeThreshold: Double = 0.2

  /** The bounded envelope-cell table feeding the orientation fit —
    * exposed so the tilt/azimuth config-sweep study
    * ([[Study.tiltAzimuthStudy]]) and the q63 oracle gate can consume
    * the SAME derivation the fit uses (one definition, no drift):
    * per (site, day-of-year, solar-hour slot), the max p99-normalized
    * power, the site's EoT-corrected rise/set-midpoint noon, and the
    * latitude estimate.
    *
    * Cells are UNFILTERED by the daytime threshold: `ct` is the
    * envelope max, so applying `ct > thr` downstream drops exactly
    * the cells a pre-aggregation `np > thr` filter would have — and
    * keeping the filter out of the aggregation lets a threshold SWEEP
    * reuse one cell table (the study's x1/x2 axis).
    *
    * @return (__site string, doy, hslot, ct, noon, lat_est)
    */
  /** Per-day seasonal daytime thresholds for the tilt/azimuth study's
    * (x1, x2) quantile axis (reference `tilt_azimuth_study.py:193-198`
    * + `daytime_threshold_quantile.py`): for each config, y = the
    * per-day x2-quantile of the site's values, threshold =
    * [[graft.solvers.Kernels.seasonalQuantileTrend]](y, x1) — the
    * smooth seasonal component of the pinball + D²-penalty
    * decomposition — normalized by the site's p99 capacity so it
    * compares against [[orientationCells]]' normalized envelope.
    *
    * Plan shape: ONE day-grain aggregation computes every distinct
    * x2 quantile as a column; the per-site fits run in `mapGroups`
    * over the bounded day series (≤366 × nConfigs values of state);
    * output is day-grain tiny at any scan scale. Spans ≤ 366 days
    * (doy-keyed, like the study's season windows).
    *
    * @return (__site, doy, cfg_id, x1, x2, thr_norm)
    */
  def seasonalDaytimeThresholds(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      configs: Seq[(Double, Double)]
  ): DataFrame = {
    import spark.implicits._
    require(configs.nonEmpty, "at least one (x1, x2) config is required")
    val p2s = configs.map(_._2).distinct
    val qAggs = p2s.zipWithIndex.map { case (p2, i) =>
      percentile(col(valueCol), lit(p2)).as(s"__q_$i")
    }
    val ev = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    val day = ev
      .groupBy(col(site).cast("string").as("__site"), to_date(col(tsCol)).as("__day"))
      .agg(qAggs.head, qAggs.tail: _*)
    val cap = ev.groupBy(col(site).cast("string").as("__site"))
      .agg(percentile(col(valueCol), lit(0.99)).as("__cap"))
    val joined = day.join(broadcast(cap), Seq("__site"))
      .select(col("__site"), col("__day").cast("string").as("__day"), col("__cap"),
        array(p2s.indices.map(i => col(s"__q_$i")): _*).as("__qs"))
      .as[(String, String, Double, Seq[Double])]
    val cfgArr = configs.toArray
    val p2Idx = cfgArr.map { case (_, p2) => p2s.indexOf(p2) }
    joined
      .groupByKey(_._1)
      .flatMapGroups { (siteId: String, it: Iterator[(String, String, Double, Seq[Double])]) =>
        val rows = it.toArray.sortBy(_._2)
        val capV = rows(0)._3
        val doys = rows.map(r => java.time.LocalDate.parse(r._2).getDayOfYear)
        cfgArr.indices.iterator.flatMap { c =>
          val (x1, x2) = cfgArr(c)
          val y = rows.map(_._4(p2Idx(c)))
          val thr = graft.solvers.Kernels.seasonalQuantileTrend(y, x1)
          rows.indices.iterator.map { i =>
            (siteId, doys(i), c, x1, x2, thr(i) / capV)
          }
        }
      }
      .toDF("__site", "doy", "cfg_id", "x1", "x2", "thr_norm")
  }

  def orientationCells(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      latOverride: Option[DataFrame] = None
  ): DataFrame = {
    import graft.operators.SideJoin
    val eotH = Solar.equationOfTimeMin(dayofyear(to_date(col(tsCol)))) / lit(60.0)
    // FUSED derivation (optimization round 14). The round-13 form
    // still made FOUR row-grain passes over the (possibly rebuilt)
    // input: rise/set threshold max, the rise/set day aggregation,
    // the p99 capacity, and the envelope-cell aggregation. The
    // rise/set day table and the cell table share the common
    // refinement grain (site, day, hslot), so ONE row-grain
    // aggregation at that grain now carries the rise/set min/max
    // partials AND the envelope max, and one site-grain pass computes
    // both per-site scalars (threshold max + p99 capacity). Row-grain
    // passes: 4 → 2; the two consumers of the partial table re-read
    // its shuffle via ReusedExchange. Values are unchanged:
    // min/max partials re-aggregate to the identical day min/max, and
    // max(v)/cap ≡ max(v/cap) for the per-site constant cap (division
    // by a positive constant is monotone and the maximizing row is the
    // same row; NaN/null rows flow identically through both forms) —
    // ProbeCells (in git history) full-join parity: 0 mismatches,
    // q63/q66 oracle green.
    //
    // MEASURED (round 7, sf0.1 filled-matrix path): an .rdd persist
    // of the rise/set table, despite removing a duplicate scan-grain
    // aggregation, DOUBLED q66 (3.8 → 8.3 s) — the Row-encoder
    // boundary costs more than the re-executed aggregation it saves.
    // The partial table stays relational (ReusedExchange, no persist).
    val siteStats = df.groupBy(col(site)).agg(
      max(col(valueCol)).as("__site_max"),
      percentile(col(valueCol), lit(0.99)).as("__cap"))
    val h0 = TimeAxis.hourOfDay(col(tsCol))
    val h = h0 + eotH
    val partial = SideJoin.back(df, siteStats, Seq(site))
      .withColumn("__thr", round(col("__site_max") * 0.01, 6))
      .groupBy(col(site), to_date(col(tsCol)).as("day"),
        floor(h).cast("int").as("hslot"))
      .agg(
        min(when(col(valueCol) > col("__thr"), h0)).as("__pr"),
        max(when(col(valueCol) > col("__thr"), h0)).as("__ps"),
        max(col(valueCol)).as("__pv"),
        first(col("__cap")).as("__cap"))
    // rise/set day table re-aggregated from the (site, day, hslot)
    // partials — identical to DayStats.riseSetRough(df, ..., 0.01)
    // (min-of-mins / max-of-maxes over a partition of the day's rows)
    val rs = partial
      .groupBy(col(site), col("day"))
      .agg(min(col("__pr")).as("sunrise_h"), max(col("__ps")).as("sunset_h"))
      .withColumn("daylight_h", col("sunset_h") - col("sunrise_h"))
      .withColumn("__eot_h",
        Solar.equationOfTimeMin(dayofyear(col("day"))) / lit(60.0))
    // noon and (default) latitude are BOTH site-grain medians over the
    // same day-grain rise/set table — one aggregation computes both
    // columns (optimization round 13), and since noon is a per-site
    // CONSTANT consumed only per cell, it attaches AFTER the cell
    // aggregation with the latitude. On the latOverride path the
    // default-latitude percentile (and its per-day trig) is skipped
    // outright — the override was computed upstream (q85/estimateAll).
    val declRad = Solar.declinationDeg(dayofyear(col("day"))) * lit(DegToRad)
    val noonAgg = percentile(
      (col("sunrise_h") + col("sunset_h")) / 2.0 + col("__eot_h"), lit(0.5)).as("__noon")
    val noonLat = latOverride match {
      case None =>
        rs.withColumn("__lat_day",
            atan(-cos(lit(7.5) * col("daylight_h") * lit(DegToRad)) / tan(declRad)) * lit(RadToDeg))
          .groupBy(col(site))
          .agg(noonAgg, percentile(col("__lat_day"), lit(0.5)).as("lat_est"))
      case Some(l) =>
        rs.groupBy(col(site)).agg(noonAgg)
          .join(l.select(col(site), col("lat_est")), Seq(site))
    }
    val cells = partial
      .groupBy(col(site).cast("string").as("__site"),
        dayofyear(col("day")).as("doy"), col("hslot"))
      .agg((max(col("__pv")) / first(col("__cap"))).as("ct"))
    cells
      .join(broadcast(noonLat.select(col(site).cast("string").as("__site"),
        col("__noon").as("noon"), col("lat_est"))), Seq("__site"))
      .select(col("__site"), col("doy"), col("hslot"), col("ct"), col("noon"), col("lat_est"))
  }

  /** The per-site Duffie cosθ curve fit on envelope cells, shared by
    * [[estimateOrientation]] (Cooper declination) and the tilt/azimuth
    * study's declination axis. Runs on bounded state inside
    * `mapGroups`; returns (tilt°, azimuth° Duffie convention).
    */
  private[analyses] def fitOrientation(
      doys: Array[Int],
      hslots: Array[Int],
      cts: Array[Double],
      noonH: Double,
      latDeg: Double,
      spencer: Boolean
  ): (Double, Double) = {
    val delta =
      if (!spencer) doys.map(d => math.toRadians(
        23.45 * math.sin(2 * math.Pi * (d + 284.0) / 365.0)))
      else doys.map { d =>
        val b = 2 * math.Pi * (d - 1.0) / 365.0
        0.006918 - 0.399912 * math.cos(b) + 0.070257 * math.sin(b) -
          0.006758 * math.cos(2 * b) + 0.000907 * math.sin(2 * b) -
          0.002697 * math.cos(3 * b) + 0.00148 * math.sin(3 * b)
      }
    val omega = hslots.map(s => math.toRadians(15.0 * (s + 0.5 - noonH)))
    // the observed envelope is only PROPORTIONAL to cos(theta)
    // (p99 capacity normalization, calibration); max(cos theta)
    // over a year is ~1 for any sane orientation, so normalize by
    // the max cell
    val ctMax = cts.max
    val ct = cts.map(_ / ctMax)
    val (b, g) = graft.solvers.Cluster.tiltAzimuthFit(
      delta, omega, ct, math.toRadians(latDeg))
    (math.toDegrees(b), math.toDegrees(g))
  }

  /** The one-call configuration report (reference
    * `pvsystemprofiler/estimator.py:186-215` `estimate_all`): per site,
    * longitude + latitude from the day-grain location pass, then
    * tilt/azimuth from the Duffie curve fit seeded with that latitude —
    * with the reference's two filtering knobs:
    *
    *  - `dayInterval`: restrict the ORIENTATION fit to days-of-year in
    *    `(lo, hi)` exclusive (`estimator.py:218-223` day_range) —
    *    location estimation keeps the full span, as in the reference;
    *  - `clearDaysOnly`: restrict the orientation fit to days the
    *    clear-day detector labels clear (`estimator.py:72-75`
    *    `daily_flags.clear`), via a left-semi join against
    *    [[ClearDay.detect]] — row-grain data never duplicates.
    *
    * Plan shape: the location pass is one day-grain aggregation; the
    * clear-day filter adds the bounded per-site grid pass; the
    * orientation fit reduces to ≤ 366×24 envelope cells per site
    * before any solver runs. Fleet-parallel throughout — no stage
    * holds more than one site's day grid.
    *
    * @return (<site>, lon_est, lat_est, tilt_deg, azimuth_duffie_deg,
    *   n_days, n_cells)
    */
  def estimateAll(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      dayInterval: Option[(Int, Int)] = None,
      clearDaysOnly: Boolean = false,
      clearSlotsPerDay: Int = 288,
      // the reference's estimate_all defaults BOTH solar-noon and
      // daylight to "optimized_estimates" (`estimator.py:41-43`) — the
      // holdout-tuned sunrise/sunset curves — because the rough
      // threshold window is panel-plane-limited and biases the
      // daylight inversion; mirror that default here
      optimizedLocation: Boolean = true,
      gmtOffsetHours: Double = 0.0
  ): DataFrame = {
    val loc0 =
      if (optimizedLocation)
        estimateLocationOptimized(spark, df, site, tsCol, valueCol,
          gmtOffsetHours = gmtOffsetHours)
          .select(col(site), col("lat_est"), col("lon_est"), col("n_days"))
      else estimateLocation(df, site, tsCol, valueCol, gmtOffsetHours)
    // the location pass (the 21-threshold holdout grid on the
    // optimized path — the most expensive stage here) feeds TWO
    // consumers: the orientation fit's latitude override and the final
    // join. Spark plans no subtree reuse, so materialize it once as a
    // persisted RDD (ContextCleaner-freed; the semanticDedup idiom)
    val locRdd = loc0.rdd.setName("estimateAll location pass")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val loc = spark.createDataFrame(locRdd, loc0.schema)
    val afterInterval = dayInterval match {
      case Some((lo, hi)) =>
        df.filter(dayofyear(to_date(col(tsCol))) > lo && dayofyear(to_date(col(tsCol))) < hi)
      case None => df
    }
    val forOrient =
      if (!clearDaysOnly) afterInterval
      else {
        // ClearDay.detect keys sites as long internally; a non-numeric
        // site column would null-cast and silently empty the semi-join
        require(df.schema(site).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"clearDaysOnly requires a numeric $site column (ClearDay.detect keys sites as long); " +
            "map string site keys to a surrogate id first")
        // detect on the FULL frame, not the day-windowed one: the
        // detector's ±windowDays rolling p90 envelope would see a
        // truncated span near the window edges and flip verdicts vs
        // the reference, which computes daily_flags.clear on the full
        // matrix before any day_range filtering. The dayInterval cut
        // is applied by the semi-join's left side (afterInterval).
        val clear = ClearDay.detect(spark, df, site, tsCol, valueCol, clearSlotsPerDay)
          .filter(col("clear"))
          .select(col("site").as("__csite"), col("day").as("__cday"))
        afterInterval.join(
          clear,
          col(site).cast("long") === col("__csite") &&
            to_date(col(tsCol)).cast("string") === col("__cday"),
          "left_semi")
      }
    val orient = estimateOrientation(
      spark, forOrient, site, tsCol, valueCol,
      latOverride = Some(loc.select(col(site), col("lat_est"))))
    loc.join(
      orient.select(col(site), col("tilt_deg"), col("azimuth_duffie_deg"), col("n_cells")),
      Seq(site), "left")
      .select(col(site), col("lon_est"), col("lat_est"), col("tilt_deg"),
        col("azimuth_duffie_deg"), col("n_days"), col("n_cells"))
  }

  /** Estimate-vs-truth comparison table (reference
    * `ground_truth_estimator.py`'s role as the accuracy harness): join
    * [[estimateAll]] output to a known-parameter table and report
    * per-site signed errors, the azimuth error wrapped to (−180, 180],
    * and the great-circle distance between estimated and true
    * location (haversine, km — the reference's own error metric for
    * coordinates).
    *
    * @param truth (<site>, lat_deg, lon_deg, tilt_deg, az_deg)
    * @return per-site (<site>, estimates..., truth...,
    *   lat_err, lon_err, tilt_err, az_err, dist_km)
    */
  def compareToTruth(estimates: DataFrame, truth: DataFrame, site: String): DataFrame = {
    val t = truth.select(col(site), col("lat_deg").as("lat_true"),
      col("lon_deg").as("lon_true"), col("tilt_deg").as("tilt_true"),
      col("az_deg").as("az_true"))
    val j = estimates.join(broadcast(t), Seq(site))
    val azRaw = col("azimuth_duffie_deg") - col("az_true")
    // wrap to (-180, 180]: subtract the nearest whole turn
    val azErr = azRaw - round(azRaw / 360.0, 0) * 360.0
    val dLat = radians(col("lat_est") - col("lat_true"))
    val dLon = radians(col("lon_est") - col("lon_true"))
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(col("lat_true"))) * cos(radians(col("lat_est"))) * pow(sin(dLon / 2), 2)
    val distKm = lit(2.0 * 6371.0) * asin(sqrt(a))
    j.withColumn("lat_err", col("lat_est") - col("lat_true"))
      .withColumn("lon_err", col("lon_est") - col("lon_true"))
      .withColumn("tilt_err", col("tilt_deg") - col("tilt_true"))
      .withColumn("az_err", azErr)
      .withColumn("dist_km", distKm)
  }

  /** Panel tilt/azimuth from a roof-plane normal vector — the
    * geometry core of the reference's KML ground-truth pipeline
    * (`ground_truth_estimator.py` `normalVec`/`tiltAz`): tilt =
    * atan2(√(x²+y²), z) (z forced skyward), azimuth = 90° − atan2(y, x)
    * folded into [−90°, 90°] exactly as the reference folds it. The
    * KML/file parsing around it is I/O plumbing; the conversion is the
    * reusable arithmetic, exposed as column expressions so a truth
    * table can be derived from surveyed plane normals at any fleet
    * size.
    *
    * @return struct(tilt_deg, az_deg)
    */
  def tiltAzimuthFromNormal(x: Column, y: Column, z: Column): Column = {
    val zUp = abs(z)
    val xs = when(z < 0, -x).otherwise(x)
    val ys = when(z < 0, -y).otherwise(y)
    val tilt = degrees(atan2(sqrt(xs * xs + ys * ys), zUp))
    val azRaw = lit(90.0) - degrees(atan2(ys, xs))
    val az = when(azRaw < -90.0, azRaw + 180.0)
      .when(azRaw > 90.0, lit(180.0) - azRaw)
      .otherwise(azRaw)
    struct(tilt.as("tilt_deg"), az.as("az_deg"))
  }
}
