package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.analyses.{Pipeline, Profiler, SiteReport}
import graft.operators.{DayStats, Dilation, Filling, TimeAxis}

/** API-parity facade over the engine's operators, mirroring the
  * reference's `DataHandler` entry point (`data_handler.py:53-220`):
  * a user of the reference drives everything through
  * `DataHandler(df).run_pipeline()` + named accessors, so the engine
  * exposes the same verbs with the same meanings — each a one-line
  * delegation to the operator that implements it (no logic lives
  * here; every delegate keeps its own oracle/spec coverage).
  *
  * Differences by design: the facade is FLEET-grain (every method
  * returns per-site relational results, keyed by `site`, instead of
  * mutating single-site state), and plotting methods return the tidy
  * DataFrame the reference plot draws (`plot*Table` delegates to
  * [[graft.analyses.PlotTables]]) rather than a rendered figure — the
  * engine takes no rendering dependency.
  *
  * @param df       long-form power table
  * @param site     site/system key column
  * @param tsCol    timestamp column
  * @param valueCol power column
  */
class DataHandler(
    df: DataFrame,
    site: String = "site",
    tsCol: String = "ts",
    valueCol: String = "value"
) {
  private val spark = df.sparkSession

  /** `run_pipeline` (`data_handler.py:220`): the full per-site
    * analysis — quality, clear days, clipping, quality clustering,
    * capacity changes, time shifts, loss factors — one job fleet-wide.
    *
    * @param estimateSunTimes when true, reference pipeline stage 3:
    *   run the holdout-tuned [[graft.analyses.SunriseSunset]]
    *   optimizer first and restrict every downstream stage to the
    *   estimated sun-up window (`sunrise_sunset_estimation.py:184-335`);
    *   sites whose fit fails the plausibility guard keep all rows.
    * @param period seasonal period override for the solver stages —
    *   `None` picks annual/weekly from each site's span (see
    *   [[graft.analyses.Pipeline.run]]).
    */
  def runPipeline(
      estimateSunTimes: Boolean = false,
      period: Option[Double] = None
  ): Dataset[SiteReport] = {
    val input =
      if (estimateSunTimes)
        graft.analyses.SunriseSunset.applySunupFilter(spark, df, site, tsCol, valueCol)
      else df
    Pipeline.run(spark, input, site, tsCol, valueCol, period)
  }

  /** `SunriseSunset.run_optimizer` estimates per (site, day):
    * threshold-tuned smoothed sunrise/sunset times.
    */
  def sunriseSunsetEstimates(): DataFrame =
    graft.analyses.SunriseSunset.estimates(spark, df, site, tsCol, valueCol)

  /** Location estimates from the TUNED smoothed rise/set curves —
    * the reference's `optimized_sunrise_sunset.py` profiling path.
    */
  def estimateLocationOptimized(): DataFrame =
    Profiler.estimateLocationOptimized(spark, df, site, tsCol, valueCol)

  /** Per-site tilt/azimuth estimate (reference `tilt_azimuth_study.py`
    * — the Duffie 1.6.2 fit at known latitude).
    */
  def estimateOrientation(latOverride: Option[DataFrame] = None): DataFrame =
    Profiler.estimateOrientation(spark, df, site, tsCol, valueCol, latOverride)

  /** `LatitudeStudy(data_handler).run(...)`
    * (`latitude_study.py:29-197`): the config cross-product sweep —
    * see [[graft.analyses.Study.latitudeStudy]] for axes and the
    * one-scan sweep shape.
    */
  def latitudeStudy(
      includeFilled: Boolean = true,
      includeOptimized: Boolean = false
  ): DataFrame =
    graft.analyses.Study.latitudeStudy(spark, df, site, tsCol, valueCol,
      includeFilled = includeFilled, includeOptimized = includeOptimized)

  /** `LongitudeStudy(data_handler, gmt_offset).run(...)`
    * (`longitude_study.py:31-225`), estimator axis included. */
  def longitudeStudy(
      gmtOffsetHours: Double = 0.0,
      includeFilled: Boolean = true,
      includeOptimized: Boolean = false
  ): DataFrame =
    graft.analyses.Study.longitudeStudy(spark, df, site, tsCol, valueCol,
      gmtOffsetHours = gmtOffsetHours, includeFilled = includeFilled,
      includeOptimized = includeOptimized)

  /** `TiltAzimuthStudy(data_handler).run(...)`
    * (`tilt_azimuth_study.py:39-353`): season × declination ×
    * daytime-threshold sweep over the cosθ fit. */
  def tiltAzimuthStudy(
      daytimeThresholds: Seq[Double] = Seq(Profiler.OrientationDaytimeThreshold),
      useFilled: Boolean = false,
      filledSlotsPerDay: Int = 96
  ): DataFrame =
    graft.analyses.Study.tiltAzimuthStudy(spark, df, site, tsCol, valueCol,
      daytimeThresholds = daytimeThresholds,
      useFilled = useFilled, filledSlotsPerDay = filledSlotsPerDay)

  /** The day-quality DBSCAN clustering (`data_handler.py:1172-1199`,
    * the pipeline's `cluster` stage) as a queryable per-day table
    * with canonical order-free labels — see
    * [[graft.analyses.QualityClusters.dbscanDayClusters]].
    */
  def detectQualityClusters(eps: Double = 0.06, minPts: Int = 3): DataFrame =
    graft.analyses.QualityClusters.dbscanDayClusters(
      spark, df, site, tsCol, valueCol, eps, minPts)

  /** The FILLED-matrix re-estimate (reference pipeline stage 12,
    * `get_optimized_sunrise_sunset(filled_data_matrix=...)`,
    * `optimized_sunrise_sunset.py:21-27`): run the threshold-tuned
    * optimizer on the densified/night-zeroed/interpolated grid rather
    * than the raw scan — the cleaned-data estimates the reference
    * stores alongside the raw ones. Timestamps are synthesized back
    * from (day, slot) at the grid's own cadence.
    */
  def sunriseSunsetEstimatesFilled(slotsPerDay: Int = 288): DataFrame = {
    val freqS = 86400L / slotsPerDay
    val filled = Filling.filledDayGrid(df, site, tsCol, valueCol, slotsPerDay)
      .select(col("site"),
        (col("day").cast("timestamp").cast("long") + col("slot") * freqS)
          .cast("timestamp").as("ts"),
        col("filled"))
    graft.analyses.SunriseSunset.estimates(spark, filled, "site", "ts", "filled")
  }

  /** `generate_extra_matrix` (`data_handler.py:1128-1147`): an extra
    * measured column embedded on the power matrix's (site, day, slot)
    * grid, plus its daytime-completeness audit (q58's gate). Apply
    * time-shift corrections with [[graft.operators.TimeAxis.fixDst]] /
    * the q47 row-grain shift join before calling when needed.
    */
  def generateExtraMatrix(extra: org.apache.spark.sql.Column, slotsPerDay: Int = 288)
      : (DataFrame, DataFrame) = {
    val freqS = 86400L / slotsPerDay
    val grid = TimeAxis.withDaySlot(
      df.select(col(site).as("site"), col(tsCol), col(valueCol), extra.as("extra_v")),
      tsCol, freqS)
    val audit = DayStats.extraQuality(df, site, tsCol, valueCol, extra)
    (grid, audit)
  }

  /** `report(return_values=True)` (`data_handler.py:718`): the
    * reference's summary dictionary as a per-site relation —
    * length (years), capacity, sampling (minutes), quality score,
    * clearness score, clipping flag, capacity-change flag, time-shift
    * flag.
    */
  def report(): DataFrame = {
    val freq = TimeAxis.inferFrequency(df, Seq(site), tsCol)
      .withColumnRenamed(site, "site")
    runPipeline().toDF()
      .join(freq, Seq("site"), "left")
      .select(
        col("site"),
        round(col("nDays") / lit(365.2425), 3).as("length_years"),
        col("capacity"),
        (col("freq_s") / 60.0).as("sampling_minutes"),
        col("qualityScore").as("quality_score"),
        col("clearFrac").as("clearness_score"),
        col("clipped").as("inverter_clipping"),
        (col("capacityChanges") > 0).as("capacity_change"),
        (col("timeShiftDays") > 0).as("time_shift_correction"),
        col("degrRateP50").as("degradation_pct_per_year"),
        col("errors")
      )
  }

  /** `make_data_matrix` (`data_handler.py:1091`): the raw day/slot
    * matrix embedding in long form — (site, day, slot, value).
    */
  def makeDataMatrix(slotsPerDay: Int = 288): DataFrame = {
    val freqS = 86400L / slotsPerDay
    TimeAxis.withDaySlot(
      df.select(col(site).as("site"), col(tsCol).as(tsCol), col(valueCol)), tsCol, freqS)
  }

  /** `make_filled_data_matrix` (`data_handler.py:1110`): densified
    * grid with nighttime zeroing and in-day interpolation.
    */
  def makeFilledDataMatrix(slotsPerDay: Int = 288): DataFrame =
    Filling.filledDayGrid(df, site, tsCol, valueCol, slotsPerDay)

  /** `get_density_scores` (`data_handler.py:1201`). */
  def getDensityScores(): DataFrame =
    DayStats.dailyDensity(df, site, tsCol, valueCol)

  /** `get_linearity_scores` (`data_handler.py:1217`). */
  def getLinearityScores(): DataFrame =
    DayStats.linearityMode(df, site, tsCol, valueCol)

  /** `get_daily_scores` / quality flag table (`data_handler.py:1149`). */
  def getDailyScores(minCount: Long = 5L): DataFrame =
    DayStats.qualityFlags(df, site, tsCol, valueCol, minCount)

  /** `score_data_set` (`data_handler.py:1232`). */
  def scoreDataSet(minCount: Long = 5L): DataFrame =
    DayStats.datasetScores(getDailyScores(minCount), site)

  /** `clipping_check` (`data_handler.py:1244`): per-day clipping
    * statistics (clip1 = daily max vs site max, clip2 = clipped-mass
    * share of the normalized profile).
    */
  def clippingCheck(): DataFrame =
    DayStats.clipStats(df, site, tsCol, valueCol)

  /** Capacity estimate (p95 of the power column, the reference's
    * `capacity_estimate` attribute). Exact and self-routing
    * ([[graft.operators.Percentiles.exact]]): arbitrary user frames
    * are safe here — a derived or non-deterministic frame routes to
    * the single-evaluation sort form; only deterministic scan-shaped
    * frames take the two-pass histogram form, which cross-checks its
    * two passes (key presence + flagged-bin populations) and raises
    * on any detectable disagreement — the one case counts cannot see
    * is an exact same-count value swap inside a flagged bin (see
    * [[graft.operators.Percentiles.exactByHistogram]]).
    */
  def capacityEstimate(): DataFrame =
    DayStats.capacity(df, site, valueCol)

  /** `fix_dst` (`data_handler.py:842`): tz-database DST repair to a
    * fixed-offset clock.
    */
  def fixDst(zone: String, fixedOffsetHours: Int): DataFrame =
    TimeAxis.fixDst(df, tsCol, zone, fixedOffsetHours)

  /** `apply_time_dilation` (`data_handler.py:2369`): sunrise→sunset
    * energy-preserving resample onto `nBins` dilated slots.
    */
  def applyTimeDilation(nBins: Int = 100): DataFrame =
    Dilation.dilate(spark, df, site, tsCol, valueCol, nBins)

  /** `estimate_longitude` + `estimate_latitude`
    * (`data_handler.py:1502-1525`, `pvsystemprofiler/`): per-site
    * medians of per-day estimates.
    */
  def estimateLocation(gmtOffsetHours: Double = 0.0): DataFrame =
    Profiler.estimateLocation(df, site, tsCol, valueCol, gmtOffsetHours)

  /** `estimate_location_and_orientation` (`data_handler.py:1595`) /
    * `ConfigurationEstimator.estimate_all`: the one-call combined
    * lon/lat/tilt/az report with the reference's day-interval and
    * clear-day filter knobs.
    */
  def estimateLocationAndOrientation(
      dayInterval: Option[(Int, Int)] = None,
      clearDaysOnly: Boolean = false,
      gmtOffsetHours: Double = 0.0
  ): DataFrame =
    Profiler.estimateAll(spark, df, site, tsCol, valueCol,
      dayInterval = dayInterval, clearDaysOnly = clearDaysOnly,
      gmtOffsetHours = gmtOffsetHours)

  /** `detect_clear_days` (`data_handler.py:1416`): per-(site, day)
    * clear verdicts from the envelope-correlation + energy-ratio
    * detector.
    */
  def detectClearDays(slotsPerDay: Int = 288): DataFrame =
    graft.analyses.ClearDay.detect(spark, df, site, tsCol, valueCol, slotsPerDay)

  /** `estimate_quantiles` + `detect_clear_sky`
    * (`data_handler.py:2376-2396`): smooth periodic quantile fits on
    * the dilated grain with the 2-state clear-sky DP on the ratio.
    */
  def estimateQuantilesAndDetect(nBins: Int = 40): DataFrame =
    graft.analyses.Quantiles.estimateAndDetect(
      spark, applyTimeDilation(nBins), nBins)

  // ---- plot-table face -------------------------------------------------
  // The engine takes no rendering dependency; each reference `plot_*`
  // method maps to the tidy DataFrame holding exactly what that plot
  // draws (see [[graft.analyses.PlotTables]] for the method table and
  // per-table contracts). These delegates complete the facade so a
  // reference user's `dh.plot_heatmap()` call becomes
  // `dh.plotHeatmapTable()` piped to their plotting layer.

  /** `plot_heatmap` (`data_handler.py:1627`). */
  def plotHeatmapTable(slotsPerDay: Int = 48): DataFrame =
    graft.analyses.PlotTables.heatmapTable(df, site, tsCol, valueCol, slotsPerDay)

  /** `plot_daily_signals` (`data_handler.py:1746`). */
  def plotDailySignalsTable(startDay: Int = 0, numDays: Int = 5,
      filled: Boolean = true, slotsPerDay: Int = 48): DataFrame =
    graft.analyses.PlotTables.dailySignalsTable(
      df, site, tsCol, valueCol, startDay, numDays, filled, slotsPerDay)

  /** `plot_density_signal` (`data_handler.py:1877`). */
  def plotDensitySignalTable(minCount: Long = 10L): DataFrame =
    graft.analyses.PlotTables.densitySignalTable(df, site, tsCol, valueCol, minCount)

  /** `plot_clipping` (`data_handler.py:2102`). */
  def plotClippingTable(): DataFrame =
    graft.analyses.PlotTables.clippingTable(df, site, tsCol, valueCol)

  /** `plot_daily_max_cdf`'s curve (`data_handler.py:2169`). */
  def plotDailyMaxCdfTable(): DataFrame =
    graft.analyses.PlotTables.dailyMaxCdfTable(df, site, tsCol, valueCol)

  /** `plot_daily_max_pdf`'s histogram panel (`data_handler.py:2154`,
    * `clipping.py:226`). */
  def plotDailyMaxPdfTable(numBins: Int = 100): DataFrame =
    graft.analyses.PlotTables.dailyMaxPdfTable(df, site, tsCol, valueCol, numBins)

  /** `plot_cdf_analysis` / `plot_daily_max_cdf_and_pdf`'s fitted-CDF,
    * diff, and point-mass surface (`data_handler.py:2184-2214`,
    * `clipping.py:131-198`). */
  def plotCdfAnalysisTable(gridPts: Int = 5000): DataFrame =
    graft.analyses.PlotTables.cdfAnalysisTable(df, site, tsCol, valueCol, gridPts)

  /** `plot_capacity_change_analysis` (`data_handler.py:2215`). */
  def plotCapacityChangeTable(jumpThreshold: Double = 0.1): DataFrame =
    graft.analyses.PlotTables.capacityChangeTable(df, site, tsCol, valueCol, jumpThreshold)

  /** `plot_bundt` (`data_handler.py:2467`). */
  def plotBundtTable(nBins: Int = 100, thresholdFrac: Double = 0.01): DataFrame =
    graft.analyses.PlotTables.bundtTable(spark, df, site, tsCol, valueCol, nBins, thresholdFrac)

  /** `plot_polar_transform` (`data_handler.py:2543`) — SPA-parity
    * positions (the Sandia/pvlib ephemeris, round 13) with apparent
    * (Bennett-refraction-corrected) elevation binning, matching the
    * reference's pvlib binding end to end; see
    * [[graft.analyses.PlotTables.polarTransformTable]]. */
  def plotPolarTransformTable(latDeg: Double, lonDeg: Double, tzOffset: Int,
      elevationRound: Int = 1, azimuthRound: Int = 2,
      positionAlgo: String = "ephemeris"): DataFrame =
    graft.analyses.PlotTables.polarTransformTable(
      df, site, tsCol, valueCol, latDeg, lonDeg, tzOffset, elevationRound, azimuthRound,
      positionAlgo)

  /** `plot_daily_energy` (`data_handler.py:2028`). */
  def plotDailyEnergyTable(slotsPerDay: Int = 288, minCount: Long = 5L): DataFrame =
    graft.analyses.PlotTables.dailyEnergyTable(df, site, tsCol, valueCol, slotsPerDay, minCount)

  /** `plot_data_quality_scatter` (`data_handler.py:1991`). */
  def plotDataQualityScatterTable(): DataFrame =
    graft.analyses.PlotTables.dataQualityScatterTable(spark, df, site, tsCol, valueCol)

  /** `plot_time_shift_analysis_results` (`data_handler.py:2236`). */
  def plotTimeShiftTable(): DataFrame =
    graft.analyses.PlotTables.timeShiftTable(spark, df, site, tsCol, valueCol)

  /** `plot_circ_dist` (`data_handler.py:2297`): good/bad days from the
    * q19 rule; pass your own day-grain flags (e.g.
    * [[detectClearDays]]'s verdict) for the clear/cloudy variants.
    */
  def plotCircDistTable(flag: String = "good", numBins: Int = 48,
      minCount: Long = 5L): DataFrame = {
    require(flag == "good" || flag == "bad", s"flag must be good|bad (got $flag)")
    val flags = DayStats.qualityFlags(df, site, tsCol, valueCol, minCount)
      .select(col(site).as("site"), col("day"),
        (if (flag == "good") col("good_day") else !col("good_day")).as("__f"))
    graft.analyses.PlotTables.circDistTable(flags, "__f", numBins)
  }

  /** `find_clipped_times` (`data_handler.py:1258-1262` →
    * `clipping.py:109-128`): the per-(site, day, slot) boolean
    * clipped-times mask (`boolean_masks.clipped_times`), in the
    * (site, day, slot, flag) shape [[augmentDataFrame]] attaches.
    * See [[graft.operators.DayStats.clippedTimes]] for the rule and
    * plan shape.
    */
  def findClippedTimes(slotsPerDay: Int = 288): DataFrame = {
    require(86400 % slotsPerDay == 0,
      s"slotsPerDay must divide 86400 (got $slotsPerDay)")
    val freqS = 86400L / slotsPerDay
    DayStats.clippedTimes(df, site, tsCol, valueCol)
      .select(
        col(site).as("site"), col("day"),
        (TimeAxis.secondsOfDay(col(tsCol)) / freqS).cast("int").as("slot"),
        col("clipped"))
  }

  /** `fit_statistical_clear_sky_model` (`data_handler.py:968-1006`):
    * the statistical clear-sky fit IS the smooth periodic quantile at
    * `quantileLevel` — the engine's dilated-grain quantile surface
    * (`estimate_quantiles`, [[estimateQuantilesAndDetect]]) with the
    * requested level as the high tau.
    *
    * @return (site, day, dil_slot, dil_value, scsf) — the fit on the
    *   dilated grain (the grain the reference fits on before
    *   undilating for presentation).
    */
  def fitStatisticalClearSky(quantileLevel: Double = 0.9, nBins: Int = 40): DataFrame =
    // the single-tau solver lane: this surface exposes ONLY the high
    // quantile, so fitting the other two levels (and running the
    // clear-sky DP) was discarded work — ~2/3 of the IRLS cost
    // (optimization round 13). Callers needing all three quantiles or
    // the clear labels use [[estimateQuantilesAndDetect]].
    graft.analyses.Quantiles.estimateSingle(
      spark, applyTimeDilation(nBins), nBins, tau = quantileLevel)
      .select(col("site"), col("day"), col("dil_slot"), col("dil_value"),
        col("q_fit").as("scsf"))

  /** `calculate_scsf_performance_index` (`data_handler.py:1010-1018`,
    * displayed undilated via the `data_handler.py:2376-2465` path):
    * per-day measured/clear energy ratio against the SCSF model,
    * reported on the reference's ORIGINAL measurement grid — both the
    * measured signal and the fit are mapped back from the dilated
    * grain through the q56-gated [[graft.operators.Dilation.undilate]]
    * (same rise/set table the dilation used), then summed per day.
    * Round 13: composing undilate removed the engine's last
    * documented grain deviation on this surface; the per-day RATIO is
    * unchanged from the dilated form (undilation is the same
    * energy-preserving piecewise-constant integral on both columns,
    * so the per-day scale factor cancels — pinned by
    * DataHandlerSpec), but the energy columns now carry the
    * reference's display grain.
    *
    * @param outSlots slots per day of the output grid (288 = the
    *   reference's 5-minute default)
    * @return (site, day, measured_energy, clear_energy, scsf_pi)
    */
  def scsfPerformanceIndex(
      quantileLevel: Double = 0.9,
      nBins: Int = 40,
      outSlots: Int = 288
  ): DataFrame = {
    val fit = fitStatisticalClearSky(quantileLevel, nBins)
    val rs = graft.operators.Dilation.riseSetTable(df, site, tsCol, valueCol)
    // BOTH columns undilate in ONE pass (Dilation.undilate2): the
    // previous two-branch form re-executed the solver-priced fit
    // subtree per branch (exchange reuse shares the solver lane's
    // shuffle, not its post-shuffle IRLS stage) and joined two
    // day-grain aggregates that were never apart — optimization round
    // 13, same-JVM A/B at the 40-bin/288-slot default: 4.6–4.7 →
    // 3.7–4.1 s warm (ProbeTau, in git history). Per-column undilate
    // arithmetic is bit-identical to the two-pass form.
    graft.operators.Dilation.undilate2(
        spark,
        fit.select(col("site"), col("day"), col("dil_slot"),
          col("dil_value"), col("scsf")),
        rs, outSlots)
      .groupBy(col("site"), col("day"))
      .agg(
        sum(col("value_1")).as("measured_energy"),
        sum(col("value_2")).as("clear_energy"))
      .withColumn("scsf_pi",
        try_divide(col("measured_energy"), col("clear_energy")))
  }

  /** `augment_data_frame` (`data_handler.py:1020`): join a day-grain
    * (or (day, slot)-grain) boolean mask back onto the row-grain
    * frame as a named column — the fleet-grain twin of the
    * reference's matrix-mask column attach. `mask` must carry
    * (site, day[, slot], <flag>); rows with no mask row get false.
    *
    * The mask is OR-aggregated to its key grain first, so a mask
    * carrying extra sub-key rows (e.g. a per-dilated-slot clear table
    * attached at day grain) flags a row when ANY of its key's mask
    * rows are true — and the attach can never multiply row count.
    *
    * @param slotsPerDay the grain the mask's `slot` column was built
    *   at (ignored for day-grain masks); must match the mask or the
    *   join keys miss
    */
  def augmentDataFrame(
      mask: DataFrame,
      flagCol: String,
      columnName: String,
      slotsPerDay: Int = 288
  ): DataFrame = {
    val subDaily = mask.columns.contains("slot")
    require(86400 % slotsPerDay == 0,
      s"slotsPerDay must divide 86400 (got $slotsPerDay)")
    val freqS = 86400L / slotsPerDay
    val keyed = df
      .withColumn("__site", col(site).cast("string"))
      .withColumn("__day", to_date(col(tsCol)).cast("string"))
      .withColumn("__slot", (TimeAxis.secondsOfDay(col(tsCol)) / freqS).cast("int"))
    val keys = Seq("__site", "__day") ++ (if (subDaily) Seq("__slot") else Seq.empty)
    val mk = mask.select(
      (Seq(col("site").cast("string").as("__site"),
        col("day").cast("string").as("__day")) ++
        (if (subDaily) Seq(col("slot").cast("int").as("__slot")) else Seq.empty) :+
        col(flagCol).cast("boolean").as(columnName)): _*)
      .groupBy(keys.map(col): _*)
      .agg(max(col(columnName)).as(columnName)) // boolean max = OR
    keyed
      .join(mk, keys, "left")
      .withColumn(columnName, coalesce(col(columnName), lit(false)))
      .drop("__site", "__day", "__slot")
  }
}
