package graft.analyses

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.operators.{DayStats, Filling, SideJoin}

/** The tidy DataFrames behind the reference's most-used plot methods
  * (`data_handler.py:1627-2236`): the engine deliberately takes no
  * rendering dependency, so each `plot_*` entry point maps to ONE
  * table here holding exactly the values that plot draws — a user
  * pipes it to their plotting layer of choice.
  *
  * | reference method                  | table                    |
  * |-----------------------------------|--------------------------|
  * | `plot_heatmap` (:1627)            | [[heatmapTable]]         |
  * | `plot_daily_signals` (:1746)      | [[dailySignalsTable]]    |
  * | `plot_density_signal` (:1877)     | [[densitySignalTable]]   |
  * | `plot_clipping` (:2102)           | [[clippingTable]]        |
  * | `plot_daily_max_cdf` (:2169)      | [[dailyMaxCdfTable]]     |
  * | `plot_daily_max_pdf` (:2154)      | [[dailyMaxPdfTable]]     |
  * | `plot_cdf_analysis`,
  * |   `plot_daily_max_cdf_and_pdf`
  * |   (:2184-2214)                    | [[cdfAnalysisTable]]     |
  * | `plot_capacity_change_analysis`
  * |   (:2215)                         | [[capacityChangeTable]]  |
  * | `plot_bundt` (:2467)              | [[bundtTable]]           |
  * | `plot_polar_transform` (:2543)    | [[polarTransformTable]]  |
  * | `plot_daily_energy` (:2028)       | [[dailyEnergyTable]]     |
  * | `plot_data_quality_scatter`
  * |   (:1991)                         | [[dataQualityScatterTable]] |
  * | `plot_time_shift_analysis_results`
  * |   (:2236)                         | [[timeShiftTable]]       |
  * | `plot_circ_dist` (:2297)          | [[circDistTable]]        |
  *
  * Every table is a thin projection of an existing gated operator —
  * no new math, no new shuffles beyond what those operators already
  * pay. The heatmap grid (the one every user draws first) carries its
  * own cross-engine oracle gate (q92).
  */
object PlotTables {

  /** `plot_heatmap`'s (day × slot) matrix in tidy form: one row per
    * grid cell, both matrices as columns (`raw` is null off-sample;
    * `filled` is the cleaned/interpolated value). `day_index` is the
    * calendar offset from the site's first day — the matrix row the
    * reference indexes by.
    *
    * @return (site, day, day_index, slot, raw, filled)
    */
  def heatmapTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      slotsPerDay: Int = 48
  ): DataFrame = {
    val grid = Filling.filledDayGrid(
      df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull),
      site, tsCol, valueCol, slotsPerDay)
    // first-day via a broadcast side aggregate, not a window over the
    // slot-grain grid (a per-site window would shuffle the whole grid
    // for one day-grain scalar)
    val firstDay = grid.groupBy(col("site")).agg(min(col("day")).as("__d0"))
    SideJoin.back(grid, firstDay, Seq("site"))
      .withColumn("day_index", datediff(col("day"), col("__d0")))
      .select(col("site"), col("day"), col("day_index"), col("slot"),
        col("raw"), col("filled"))
  }

  /** `plot_daily_signals`' raveled day slice: `num_days` consecutive
    * matrix columns starting at `start_day`, flattened to one
    * x-position per sample (the reference's `ravel=True` view).
    *
    * @return (site, day, slot, ravel_pos, value)
    */
  def dailySignalsTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      startDay: Int = 0,
      numDays: Int = 5,
      filled: Boolean = true,
      slotsPerDay: Int = 48
  ): DataFrame = {
    require(numDays > 0, s"numDays must be positive, got $numDays")
    heatmapTable(df, site, tsCol, valueCol, slotsPerDay)
      .filter(col("day_index") >= startDay && col("day_index") < startDay + numDays)
      .withColumn("ravel_pos",
        (col("day_index") - startDay) * slotsPerDay + col("slot"))
      .select(col("site"), col("day"), col("slot"), col("ravel_pos"),
        (if (filled) col("filled") else col("raw")).as("value"))
  }

  /** `plot_density_signal`'s per-day series: the daily data density
    * (fraction of samples above 2% of capacity — the q08 metric) with
    * the good-day flag the reference overlays (`flag="good"/"bad"`).
    *
    * @return (site, day, density, good_day)
    */
  def densitySignalTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      minCount: Long = 10L
  ): DataFrame =
    DayStats.dailyDensity(df, site, tsCol, valueCol)
      .join(
        DayStats.qualityFlags(df, site, tsCol, valueCol, minCount)
          .select(col(site), col("day"), col("good_day")),
        Seq(site, "day"), "left")
      .select(col(site).as("site"), col("day"), col("density"),
        coalesce(col("good_day"), lit(false)).as("good_day"))

  /** `plot_clipping`'s two per-day score series (clip1 = daily max /
    * site max; clip2 = fraction of normalized energy within 0.5% of
    * the daily max) plus the candidate-clipped flag the reference
    * marks in red (the q49 candidate rule `clip1 > 0.05 ∧ clip2 >
    * 0.1`; the site-level verdict stays q49's).
    *
    * @return (site, day, clip1, clip2, clip_candidate)
    */
  def clippingTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String
  ): DataFrame =
    DayStats.clipStats(df, site, tsCol, valueCol)
      .select(col(site).as("site"), col("day"), col("clip1"), col("clip2"),
        (col("clip1") > 0.05 && col("clip2") > 0.1).as("clip_candidate"))

  /** `plot_daily_max_cdf` / `plot_daily_max_pdf` /
    * `plot_cdf_analysis`: each day's maximum with its empirical CDF
    * position (percent_rank over the site's days — the sorted curve
    * the CDF plot draws; a histogram of `daily_max` is the PDF).
    *
    * @return (site, day, daily_max, cdf)
    */
  def dailyMaxCdfTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String
  ): DataFrame = {
    val w = Window.partitionBy(col(site)).orderBy(col("daily_max"))
    DayStats.dailyMax(df, site, tsCol, valueCol)
      .withColumn("cdf", percent_rank().over(w))
      .select(col(site).as("site"), col("day"), col("daily_max"), col("cdf"))
  }

  /** `plot_daily_max_pdf`'s histogram panel (`clipping.py:226-236`:
    * `plt.hist(data[data > 0], bins=100)` of the clip1 statistic =
    * daily max / site max): per-site equal-width binning of the
    * POSITIVE clip1 values over [min, max], last bin right-inclusive
    * (numpy semantics — bin = min(floor((x−lo)·B/(hi−lo)), B−1); at
    * an exact bin edge this can differ from `np.histogram` by one
    * ulp-class assignment, which the 6-dp edge columns make visible).
    * A constant distribution (hi = lo) follows numpy's degenerate
    * range expansion — `np.histogram` widens a zero-width range to
    * (lo − 0.5, lo + 0.5), landing the point mass mid-range (bin 50
    * of 100, up to the same edge-ulp class as above).
    * Day-grain input ⇒ the whole table is a window + aggregate over
    * the q48-gated clipStats day rows — no extra scan of the raw
    * table. Cross-engine hash-gated (q96).
    *
    * @return (site, bin, x_lo, x_hi, n_days) — only occupied bins
    */
  def dailyMaxPdfTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      numBins: Int = 100
  ): DataFrame = {
    val w = Window.partitionBy(col(site))
    val b = numBins.toDouble
    DayStats.clipStats(df, site, tsCol, valueCol)
      .filter(col("clip1") > 0.0)
      .withColumn("__lo0", min(col("clip1")).over(w))
      .withColumn("__hi0", max(col("clip1")).over(w))
      // numpy degenerate-range expansion: a constant distribution
      // (hi = lo) histograms over (lo − 0.5, lo + 0.5), not a
      // zero-width range (ADVICE r12); the generic bin formula then
      // lands the point mass mid-range on its own
      .withColumn("__lo",
        when(col("__hi0") === col("__lo0"), col("__lo0") - lit(0.5)).otherwise(col("__lo0")))
      .withColumn("__hi",
        when(col("__hi0") === col("__lo0"), col("__lo0") + lit(0.5)).otherwise(col("__hi0")))
      .withColumn("bin",
        least(
          floor((col("clip1") - col("__lo")) * lit(b) / (col("__hi") - col("__lo"))),
          lit((numBins - 1).toLong)).cast("int"))
      .groupBy(col(site).as("site"), col("bin"))
      .agg(
        first(col("__lo")).as("__l"), first(col("__hi")).as("__h"),
        count(lit(1)).as("n_days"))
      // product quantizer, not round(x, 6) — cross-engine decimal
      // rounding (the q64 class)
      .select(col("site"), col("bin"),
        (round((col("__l") + col("bin") * (col("__h") - col("__l")) / lit(b)) * lit(1e6)) / lit(1e6)).as("x_lo"),
        (round((col("__l") + (col("bin") + 1) * (col("__h") - col("__l")) / lit(b)) * lit(1e6)) / lit(1e6)).as("x_hi"),
        col("n_days"))
  }

  /** `plot_cdf_analysis` / `plot_daily_max_cdf_and_pdf`'s analysis
    * surface (`clipping.py:131-198` `pointmass_detection` +
    * `calculate_cdf`): per site, the clip1 empirical CDF resampled
    * to an even `gridPts`-point x-grid (scipy `interp1d` linear
    * semantics over `[0] ++ sorted positives ++ [1]`, including its
    * duplicate-1.0 endpoint quirk), the sparse-second-difference PWL
    * fit ([[graft.solvers.Kernels.cdfPwlFit]]), its first
    * difference (the piecewise-constant PDF estimate `plot_pdf`
    * overlays), the reference's 3-window curvature/slope metric, and
    * the reduced point-mass flags — the reference's cluster-argmax
    * reduction replayed verbatim, INCLUDING its index quirk (the
    * argmax slices `metric` with `point_masses` indices, one
    * position off; preserved so detected masses match).
    *
    * Per-site state is the day-grain clip1 array + the fixed grid —
    * bounded by days-per-site, the per-site solver-lane contract;
    * sites solve in parallel via `flatMapGroups`.
    *
    * @return (site, i, x, y_emp, y_fit, d1, metric, is_point_mass):
    *   one row per grid index i; `d1` null at the last point,
    *   `metric` null at both ends (where the reference doesn't
    *   define them)
    */
  def cdfAnalysisTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      gridPts: Int = 5000,
      lambdaD2: Double = 100.0,
      threshold: Double = -0.35
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val clip1 = DayStats.clipStats(df, site, tsCol, valueCol)
      .select(col(site).cast("string").as("s"), col("clip1").cast("double"))
      .as[(String, Double)]
    clip1.groupByKey(_._1).flatMapGroups { (siteId, it) =>
      val res = cdfPointMassAnalysis(it.map(_._2).toArray, gridPts, lambdaD2, threshold)
      res.iterator.map { case (i, x, ye, yf, d1, m, pm) => (siteId, i, x, ye, yf, d1, m, pm) }
    }.toDF("site", "i", "x", "y_emp", "y_fit", "d1", "metric", "is_point_mass")
  }

  /** The per-site math behind [[cdfAnalysisTable]], exposed for the
    * spec: replicates `clipping.py` `calculate_cdf` (:360-370) +
    * `pointmass_detection` (:133-198) on one site's clip1 array.
    */
  private[graft] def cdfPointMassAnalysis(
      data: Array[Double],
      gridPts: Int,
      lambdaD2: Double,
      threshold: Double
  ): Array[(Int, Double, Double, Double, java.lang.Double, java.lang.Double, Boolean)] = {
    require(gridPts >= 8, s"cdf analysis needs a grid of at least 8 points, got $gridPts")
    // calculate_cdf: x = [0] ++ sorted positives ++ [1], y = linspace
    val pos = data.filter(_ > 0.0).sorted
    val xs = 0.0 +: pos :+ 1.0
    val m = xs.length
    val ys = Array.tabulate(m)(j => j.toDouble / (m - 1))
    // interp1d(kind="linear"): searchsorted-left clipped to [1, m-1]
    val n = gridPts
    val xRs = Array.tabulate(n)(i => i.toDouble / (n - 1))
    val yRs = xRs.map { q =>
      var j = java.util.Arrays.binarySearch(xs, q)
      if (j >= 0) { while (j > 0 && xs(j - 1) == q) j -= 1 } // left-most
      else j = -j - 1
      val hi = math.min(math.max(j, 1), m - 1)
      val lo = hi - 1
      ys(lo) + (ys(hi) - ys(lo)) / (xs(hi) - xs(lo)) * (q - xs(lo))
    }
    val fit = graft.solvers.Kernels.cdfPwlFit(yRs, lambdaD2 = lambdaD2)
    val d1 = Array.tabulate(n - 1)(i => fit(i + 1) - fit(i))
    val lc = Array.tabulate(n - 2)(i => fit(i + 2) - 2 * fit(i + 1) + fit(i))
    val rs = d1 // ref_slope = diff1[:-1]; indexed 0..n-3 below
    // metric = elementwise min of the 1-, 2-, and 3-wide curvature
    // sums over the local slope (clipping.py:146-170)
    val metric = Array.tabulate(n - 2) { i =>
      val a = lc(i) / rs(i)
      val b = if (i < n - 3) (lc(i) + lc(i + 1)) / rs(i) else lc(n - 3) / rs(n - 3)
      val c =
        if (i < n - 4) (lc(i) + lc(i + 1) + lc(i + 2)) / rs(i)
        else lc(i) / rs(i) // last two: local_curv[-2:]/ref_slope[-2:]
      math.min(a, math.min(b, c))
    }
    val pm = new Array[Boolean](n)
    var i = 0
    while (i < n - 2) {
      pm(i + 1) = metric(i) <= threshold && rs(i) > 3e-4
      i += 1
    }
    // endpoint catch: PDF ends in a point mass at the high value
    val d1Max = d1.max
    val last = d1(n - 2)
    if (last > 1e-3 || math.abs(last - d1Max) <= 1e-8 + 1e-5 * math.abs(d1Max))
      pm(n - 2) = true
    // cluster reduce — verbatim replay of clipping.py:179-195,
    // including the off-by-one metric slice (point_masses index
    // space used to slice the length-(n−2) metric array)
    val pmReduce = new Array[Boolean](n)
    var begin = -1
    var ix = 0
    while (ix < n - 1) {
      if (!pm(ix) && pm(ix + 1)) begin = ix + 1
      else if (pm(ix) && !pm(ix + 1)) {
        val end = ix
        val lo = begin
        val hi = math.min(end, n - 3)
        if (lo > hi || lo >= n - 2) pmReduce(begin) = true // empty slice → ValueError branch
        else {
          var best = lo; var k = lo + 1
          while (k <= hi) { if (metric(k) > metric(best)) best = k; k += 1 }
          pmReduce(begin + (best - lo)) = true
        }
      }
      ix += 1
    }
    Array.tabulate(n) { j =>
      (j, xRs(j), yRs(j), fit(j),
        if (j < n - 1) java.lang.Double.valueOf(d1(j)) else null,
        if (j >= 1 && j <= n - 2) java.lang.Double.valueOf(metric(j - 1)) else null,
        pmReduce(j))
    }
  }

  /** `plot_capacity_change_analysis`: the per-day capacity signal
    * (log of the daily max, the quantity the reference's capacity
    * clustering segments) with the q51 jump days and the resulting
    * segment label — consecutive days between detected capacity jumps
    * share a `segment`, the cluster id the reference colors by.
    *
    * @return (site, day, daily_max, log_daily_max, is_jump, segment)
    */
  def capacityChangeTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      jumpThreshold: Double = 0.1
  ): DataFrame = {
    val daily = df
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(max(col(valueCol)).as("daily_max"))
      .withColumn("ldm", log(greatest(col("daily_max"), lit(1e-9))))
    val w = Window.partitionBy(col(site)).orderBy(col("day"))
    // the q51 jump rule: 7-day-before vs 7-day-after log-level shift,
    // local-max suppression inside a ±3-day neighborhood
    val jumps = daily
      .withColumn("avg_before", avg(col("ldm")).over(w.rowsBetween(-7, -1)))
      .withColumn("avg_after", avg(col("ldm")).over(w.rowsBetween(0, 6)))
      .withColumn("jump_r", round(col("avg_after") - col("avg_before"), 6))
      .withColumn("nbr_max", max(abs(col("jump_r"))).over(w.rowsBetween(-3, 3)))
      .withColumn("is_jump",
        col("jump_r").isNotNull &&
          abs(col("jump_r")) > jumpThreshold && abs(col("jump_r")) === col("nbr_max"))
    jumps
      .withColumn("segment",
        sum(when(col("is_jump"), 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col(site).as("site"), col("day"), col("daily_max"),
        col("ldm").as("log_daily_max"), col("is_jump"), col("segment"))
  }

  /** `plot_bundt`'s (day-of-year × dilation-slot) matrix in tidy form
    * (`data_handler.py:2467-2541`, aggregate path): the sundial-
    * dilated signal, Feb 29 dropped, day-of-year compacted exactly as
    * the reference compacts it (`doy[doy > 59] -= 1` — applied to
    * EVERY post-Feb-28 date, leap year or not, quirk preserved), and
    * the cross-year nanmedian per (doy, slot) cell. One row per
    * (site, doy ∈ [1, 365], dil_slot) cell with at least one
    * observation.
    *
    * @return (site, doy, dil_slot, med_v, n_years)
    */
  def bundtTable(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      nBins: Int = 100,
      thresholdFrac: Double = 0.01
  ): DataFrame = {
    val dil = graft.operators.Dilation.dilate(
      spark, df, site, tsCol, valueCol, nBins, thresholdFrac)
    dil
      .withColumn("__d", to_date(col("day")))
      .filter(!(month(col("__d")) === 2 && dayofmonth(col("__d")) === 29))
      .withColumn("doy",
        (dayofyear(col("__d")) - when(dayofyear(col("__d")) > 59, 1).otherwise(0)).cast("int"))
      .groupBy(col("site"), col("doy"), col("dil_slot"))
      .agg(
        percentile(col("dil_value"), lit(0.5)).as("med_v"),
        countDistinct(year(col("__d"))).as("n_years"))
  }

  /** `plot_polar_transform`'s azimuth–elevation heat grid
    * (`data_handler.py:2543-2585`, `polar_transform.py:63-105`): the
    * signal binned by rounded solar azimuth/elevation with the
    * reference's `my_round(x, c) = c·round(x/c)` bins, entries below
    * the horizon dropped, mean power per bin (the reference's default
    * `agg_func="mean"`). Solar position from the engine's explicit-
    * literal geometry (Cooper declination + EoT solar time + the
    * spherical-triangle azimuth) rather than an ephemeris library —
    * same inputs the studies fit. The reference restricts to
    * clear-day rows (`boolean_selection`); pass the frame already
    * filtered to apply that mask.
    *
    * @return (site, az_bin, el_bin, mean_v, n)
    */
  /** `plot_daily_energy`'s series (`data_handler.py:2028-2100`): the
    * filled-matrix daily energy (the q50-gated surface — sum of the
    * densified day grid × 24/slots) with the calendar day index the
    * reference plots on, plus the good-day flag its `flag="good"` /
    * `"bad"` overlays select on (the engine's q19-gated rule).
    * Clear/cloudy overlays are day-grain joins of
    * [[graft.analyses.ClearDay.detect]] — left to the caller, which
    * keeps this table one scan of the filled grid.
    *
    * @return (site, day, day_index, energy, good_day)
    */
  def dailyEnergyTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      slotsPerDay: Int = 288,
      minCount: Long = 5L
  ): DataFrame = {
    val grid = Filling.filledDayGrid(
      df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull),
      site, tsCol, valueCol, slotsPerDay)
    val energy = grid.groupBy(col("site"), col("day"))
      .agg((sum(col("filled")) * 24.0 / lit(slotsPerDay.toDouble)).as("energy"))
    val flags = DayStats.qualityFlags(df, site, tsCol, valueCol, minCount)
      .select(col(site).as("site"), col("day"), col("good_day"))
    val firstDay = energy.groupBy(col("site")).agg(min(col("day")).as("__d0"))
    SideJoin.back(
      SideJoin.back(energy, firstDay, Seq("site")),
      flags, Seq("site", "day"), "left")
      .select(col("site"), col("day"),
        datediff(col("day"), col("__d0")).as("day_index"),
        col("energy"),
        coalesce(col("good_day"), lit(false)).as("good_day"))
  }

  /** `plot_data_quality_scatter`'s points (`data_handler.py:1991-2026`):
    * one row per (site, day) with the density score (q08's surface),
    * the engine's linearity fraction (q09's modal-diff surface rolled
    * to `mode_cnt / n_diffs` — the reference normalizes by
    * `n · density_baseline` instead, so absolute values differ while
    * the ranking the scatter shows is preserved), and the q67-gated
    * DBSCAN quality-cluster label the reference colors by. The
    * reference's decision boundaries ride along as constant columns.
    *
    * @return (site, day, density, linearity, cluster_day, is_core,
    *   density_lower_threshold, density_upper_threshold,
    *   linearity_threshold)
    */
  def dataQualityScatterTable(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      densityLowerThreshold: Double = 0.6,
      densityUpperThreshold: Double = 1.05,
      linearityThreshold: Double = 0.1
  ): DataFrame = {
    val density = DayStats.dailyDensity(df, site, tsCol, valueCol)
      .select(col(site).cast("string").as("site"), col("day"), col("density"))
    val lin = DayStats.linearityMode(df, site, tsCol, valueCol)
      .select(col(site).cast("string").as("site"), col("day"),
        (col("mode_cnt").cast("double") / col("n_diffs")).as("linearity"))
    val clusters = QualityClusters.dbscanDayClusters(
        spark, df, site, tsCol, valueCol)
      .select(col("site").cast("string").as("site"), col("day"),
        col("cluster_day"), col("is_core"))
    density
      .join(lin, Seq("site", "day"), "left")
      .join(clusters, Seq("site", "day"), "left")
      .withColumn("density_lower_threshold", lit(densityLowerThreshold))
      .withColumn("density_upper_threshold", lit(densityUpperThreshold))
      .withColumn("linearity_threshold", lit(linearityThreshold))
  }

  /** `plot_time_shift_analysis_results`' series
    * (`data_handler.py:2236-2290`): per (site, day) the solar-noon
    * metric, the shift detector `s1`, the signal model `s1 + s2`, and
    * the filtered-day flag — [[TimeShift.components]]' output with
    * the model column the plot overlays.
    *
    * @return (site, day, metric, s1, signal_model, used)
    */
  def timeShiftTable(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String
  ): DataFrame =
    TimeShift.components(spark, df, site, tsCol, valueCol)
      .select(col("site"), col("day"), col("metric"), col("s1"),
        (col("s1") + col("s2")).as("signal_model"), col("used"))

  /** `plot_circ_dist`'s polar histogram (`data_handler.py:2297-2350`):
    * flagged days binned around the year circle. Day-of-year is taken
    * from the calendar date (the reference's `start_doy + k` walk over
    * contiguous matrix columns), folded mod 365 and cut into
    * `numBins` equal arcs over [0, 2π) — fixed-origin bins rather
    * than the reference's `np.histogram` data-range bins, so empty
    * leading/trailing arcs are representable and the binning is
    * integer-exact cross-engine (q95's gate).
    *
    * @param dayFlags day-grain frame carrying (site, day, `flagCol`)
    *   — e.g. [[graft.operators.DayStats.qualityFlags]] for
    *   good/bad, [[ClearDay.detect]] for clear/cloudy
    * @return (site, bin, theta_center, n_days) — flagged-day count
    *   per arc; `theta_center` in radians, 6-dp
    */
  def circDistTable(
      dayFlags: DataFrame,
      flagCol: String,
      numBins: Int = 48
  ): DataFrame = {
    val doy = (dayofyear(col("day")) - 1) % 365
    dayFlags
      .filter(col(flagCol))
      // explicit floor: Spark's double→int cast truncates but
      // DuckDB's ROUNDS — floor() agrees everywhere (q64 lesson class)
      .groupBy(col("site"), floor(doy * numBins / lit(365)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n_days"))
      .withColumn("theta_center",
        round((col("bin") + lit(0.5)) * lit(2.0 * math.Pi / numBins), 6))
      .select(col("site"), col("bin"), col("theta_center"), col("n_days"))
  }

  /** `plot_polar_transform`'s (azimuth × elevation) aggregate
    * (`polar_transform.py:64-103`): solar position from Cooper
    * declination + EoT hour angle, elevation made APPARENT with the
    * Bennett/SPA refraction correction
    * ([[graft.functions.Solar.bennettRefractionDeg]]) to match the
    * reference's pvlib `apparent_elevation` binning (round 12 — the
    * engine previously binned geometric elevation, which put
    * near-horizon samples one bin low; with the correction the
    * horizon filter and the bin grid now agree with the reference to
    * the bin grid, the residual being the sub-refraction difference
    * between the Cooper/EoT position and pvlib's SPA ephemeris).
    * Samples whose GEOMETRIC elevation is slightly below zero but
    * whose apparent elevation clears the horizon are included,
    * exactly as the reference's `apparent_elevation >= 0` cut keeps
    * them.
    */
  /** @param positionAlgo `"ephemeris"` (default — the published
    *   Sandia/pvlib ephemeris, [[graft.functions.Solar.ephemerisPosition]],
    *   SPA parity to ~0.01°, matching the reference's pvlib
    *   `get_solarposition` binding at `polar_transform.py:69-78`) or
    *   `"cooper"` (the Cooper-declination + Spencer-EoT approximation
    *   the q46 oracle replays relationally — kept for the
    *   cross-engine gate and for callers matching the engine's study
    *   modules, which use Cooper throughout like the reference's own
    *   `pvsystemprofiler`)
    */
  def polarTransformTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      latDeg: Double,
      lonDeg: Double,
      tzOffset: Int,
      elevationRound: Int = 1,
      azimuthRound: Int = 2,
      positionAlgo: String = "ephemeris"
  ): DataFrame = {
    import graft.functions.Solar
    import graft.operators.TimeAxis
    val DegToRad = 0.017453292519943295
    val RadToDeg = 57.29577951308232
    val base = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    val (aug, elDeg, azDeg) = positionAlgo match {
      case "ephemeris" =>
        // the reference shifts its naive fixed-offset local stamps to
        // UTC before calling pvlib (`polar_transform.py:69-72`)
        val utcTs = timestamp_seconds(unix_timestamp(col(tsCol)) - lit(tzOffset * 3600L))
        (base.withColumn("__pos", Solar.ephemerisPosition(utcTs, latDeg, lonDeg)),
          col("__pos.el"), col("__pos.az"))
      case "cooper" =>
        val sinPhi = math.sin(latDeg * DegToRad)
        val cosPhi = math.cos(latDeg * DegToRad)
        val doy = dayofyear(to_date(col(tsCol)))
        val declRad = Solar.declinationDeg(doy) * lit(DegToRad)
        // local standard time → true solar time: EoT plus the longitude
        // offset from the zone meridian (15°·tzOffset)
        val solarH = TimeAxis.hourOfDay(col(tsCol)) +
          Solar.equationOfTimeMin(doy) / lit(60.0) +
          lit((lonDeg - 15.0 * tzOffset) / 15.0)
        val haRad = (lit(15.0) * (solarH - lit(12.0))) * lit(DegToRad)
        val sinEl = lit(sinPhi) * sin(declRad) + lit(cosPhi) * cos(declRad) * cos(haRad)
        val el = asin(greatest(lit(-1.0), least(lit(1.0), sinEl))) * lit(RadToDeg)
        // azimuth from north, clockwise (the pvlib convention the
        // reference bins): atan2(sin H, cos H·sinφ − tanδ·cosφ) + 180
        val az = atan2(sin(haRad), cos(haRad) * lit(sinPhi) - tan(declRad) * lit(cosPhi)) *
          lit(RadToDeg) + lit(180.0)
        (base, el, az)
      case other =>
        throw new IllegalArgumentException(
          s"positionAlgo must be 'ephemeris' or 'cooper', got '$other'")
    }
    def roundTo(x: org.apache.spark.sql.Column, c: Int) =
      (lit(c.toDouble) * round(x / lit(c.toDouble))).cast("int")
    aug
      .withColumn("__el", Solar.apparentElevationDeg(elDeg))
      .filter(col("__el") >= 0.0)
      .groupBy(
        col(site).as("site"),
        roundTo(azDeg, azimuthRound).as("az_bin"),
        roundTo(col("__el"), elevationRound).as("el_bin"))
      .agg(avg(col(valueCol)).as("mean_v"), count(lit(1)).as("n"))
  }
}
