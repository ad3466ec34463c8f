package graft.analyses

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.operators.{DayStats, SideJoin, TimeAxis}
import graft.solvers.{Cluster, Kernels}

/** Per-(site, day) fact row — the bounded per-site state handed to the
  * solver stages. O(num_days) doubles per site regardless of raw scan
  * rate, so executor memory is flat in data size (SURVEY §4.1).
  *
  * Primitive fields only, by design: the fleet shuffle moves these as
  * Tungsten UnsafeRows and the typed decode constructs ONE flat
  * object per row with unboxed constructor arguments. (Round 13 —
  * the previous lane pulled a generic Tuple9 through an RDD shuffle:
  * 9 boxed fields + 2 key boxes per day row, ~280M transient objects
  * at fleet16 grain, and that allocation churn was exactly the
  * memory-bandwidth sensitivity that made the fleet lane the first
  * casualty of host co-tenancy in rounds 10–12.)
  */
case class DayRow(
    site: Long,
    dayIdx: Double, // days since the site's first day
    energy: Double,
    density: Double,
    dailyMax: Double,
    comHour: Double,
    nObs: Long,
    capacity: Double,
    smoothness: Double
)

/** Fleet result row (reference `sdt_dask/dask_tool/runner.py:44-194`):
  * one row per site with pipeline metrics, loss attribution, and
  * per-stage error strings (best-effort semantics — a failing stage
  * nulls its columns and records the error instead of killing the
  * site, mirroring `data_handler.py:456-575`).
  */
case class SiteReport(
    site: Long,
    nDays: Int,
    capacity: Double,
    qualityScore: Double,
    clearFrac: Double,
    clearSkyDays: Int,
    clipped: Boolean,
    qualityClusters: Int,
    abnormalDays: Int,
    capacityChanges: Int,
    timeShiftDays: Int,
    lossDegradation: Double,
    lossSoiling: Double,
    lossWeather: Double,
    lossOutage: Double,
    degrRateP50: Double,
    degrRateP025: Double,
    degrRateP975: Double,
    mcSamples: Int,
    mcConverged: Boolean,
    errors: String
)

/** The fleet pipeline (reference `DataHandler.run_pipeline`,
  * `data_handler.py:326-716`) re-expressed Spark-first:
  *
  *  - stages 1–2 (standardize, day stats) are one relational plan over
  *    all sites at once — aggregation with map-side combine, shuffle
  *    volume O(sites × days);
  *  - solver stages run fleet-parallel in one [[SiteLane]] (a fixed
  *    site partitioner, sorted by site then day) — the Dask per-site
  *    task graph (`runner.py:177-194`) becomes Spark
  *    partition-parallelism, one job for the whole fleet.
  */
object Pipeline {

  /** The solver lane's sort: site, then day. */
  private implicit val dayRowOrdering: Ordering[DayRow] = new Ordering[DayRow] {
    override def compare(a: DayRow, b: DayRow): Int = {
      val c = java.lang.Long.compare(a.site, b.site)
      if (c != 0) c else java.lang.Double.compare(a.dayIdx, b.dayIdx)
    }
  }

  /** The day-grain aggregate list both [[dayStats]] and [[dayRows]]
    * emit — one definition so the two frames cannot drift.
    */
  private def dayAggExprs(tsCol: String, valueCol: String) = {
    val h = TimeAxis.hourOfDay(col(tsCol))
    Seq(
      (sum(col(valueCol)) * 24.0 / count(lit(1))).as("energy"),
      avg(when(col(valueCol) > col("capacity") * 0.02, 1.0).otherwise(0.0)).as("density"),
      max(col(valueCol)).as("daily_max"),
      coalesce(try_divide(sum(h * col(valueCol)), sum(col(valueCol))), lit(Double.NaN)).as("com_hour"),
      count(col(valueCol)).as("n_obs"),
      first(col("capacity")).as("capacity")
    )
  }

  /** Build the DayStats fact table for a long (site, ts, value)
    * input. Single aggregation pass + one [[SideJoin]] (broadcast by
    * default) of the per-site capacity.
    */
  def dayStats(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    // null rows carry no signal and would (a) bias energy low — the
    // mean-power×24 divides by the ALL-row count — and (b) let an
    // all-null day emit null energy/max that crashes run()'s
    // non-nullable decode outside the per-stage catch
    val clean = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    val cap = DayStats.capacity(clean, site, valueCol)
    val aggs = dayAggExprs(tsCol, valueCol)
    SideJoin.back(clean, cap, Seq(site))
      .groupBy(col(site).as("site"), to_date(col(tsCol)).as("day"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The solver stages' per-(site, day) input frame: [[dayStats]]
    * plus the day index and the intra-day smoothness signal
    * (Σ|2nd difference| of the value in time order — the reference's
    * `get_clear_day_scores` smoothness channel,
    * `clear_day_detection.py`). Smoothness is a SEPARATE window
    * branch joined at day grain so [[dayStats]] itself keeps its
    * shuffle-light partial-aggregate plan (p06/p07's relational spine
    * never pays the row-grain window).
    */
  private[graft] def dayRows(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String
  ): DataFrame = {
    val clean = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    // Round-11 fusion (VERDICT r10 item 2): the smoothness Σ|Δ²| used
    // to be a SEPARATE window branch joined back at day grain, making
    // dayRows re-evaluate the raw value subtree three times (capacity
    // agg, day agg, smoothness window — Spark plans trees, not DAGs).
    // Computing __d2 via the (site, day)-partitioned window and then
    // aggregating ALL the day stats in the SAME plan removes the
    // extra full scan AND the join: the groupBy on (site, day) reuses
    // the window's hash partitioning (no Exchange between them —
    // pinned by PlanSpec's dayRows test). Values are bit-identical:
    // the window neither drops nor reorders rows for the aggregate,
    // and sum(abs(__d2)) over the nulls of the first two slots of a
    // day matches the old branch exactly. (Probed and rejected
    // earlier: collect_list fusion — 25M structs per pass, GC storm.)
    // dayStats itself keeps its shuffle-light partial-aggregate plan
    // for the relational spine (p06/p07) which never pays the window.
    // The capacity side contributes two further COLUMN-PRUNED passes
    // (the histogram percentile's bin-count + candidate scans) — the
    // deliberate trade against shuffling every (site, value) row.
    val cap = DayStats.capacity(clean, site, valueCol)
    // __day is materialized ONCE and used as the same attribute in
    // both the window partitioning and the groupBy keys: Spark's
    // EnsureRequirements then sees the window's hashpartitioning
    // (site, __day) already satisfies the aggregate's distribution,
    // so no second Exchange appears (grouping on a fresh
    // to_date(ts) expression would re-shuffle the day-grain rows).
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(site), col("__day")).orderBy(col(tsCol))
    val aggs = dayAggExprs(tsCol, valueCol) :+
      sum(abs(col("__d2"))).as("smoothness")
    val stats = SideJoin.back(clean, cap, Seq(site))
      .withColumn("__day", to_date(col(tsCol)))
      .withColumn("__d2",
        col(valueCol) - lit(2.0) * lag(col(valueCol), 1).over(wd)
          + lag(col(valueCol), 2).over(wd))
      .groupBy(col(site).as("site"), col("__day").as("day"))
      .agg(aggs.head, aggs.tail: _*)
    // first_day via a window over the DAY-GRAIN stats (thousands of
    // rows), not a separate aggregate joined back — a firstDay branch
    // would re-evaluate the whole subtree above.
    val wSite = org.apache.spark.sql.expressions.Window.partitionBy(col("site"))
    stats
      .withColumn("first_day", min(col("day")).over(wSite))
      .withColumn("day_idx", datediff(col("day"), col("first_day")).cast("double"))
      .select(
        col("site"), col("day_idx"), col("energy"), col("density"),
        col("daily_max"), col("com_hour"), col("n_obs"), col("capacity"),
        // a <3-obs day has no 2nd difference: -1 = "no signal" (a sum
        // of |·| is never negative), excluded from the clear-day rule
        // and from the fleet smoothness scale in analyzeSite
        coalesce(col("smoothness"), lit(-1.0)).as("smoothness"))
  }

  /** Run the full per-site analysis fleet-wide.
    *
    * @param period seasonal period (days) for the quality / clear /
    *   capacity / clear-sky / loss fits. `None` (default) picks it
    *   from the observed span per site: annual (365.2425, the
    *   reference's `tl1_l2d2p365` / `l2_l1d1_l2d2p365` period,
    *   `signal_decompositions.py:45-185`) once a site spans ≥ ~18
    *   months, weekly below that — short fixtures can't identify an
    *   annual harmonic, multi-year sites alias under a weekly one.
    * @param faultInjector chaos-testing seam (the reference's per-site
    *   error-channel contract, `sdt_dask/dask_tool/runner.py:54-60`):
    *   invoked as (siteId, stageName) at every solver-stage entry
    *   inside the executor task; a throw is routed into that site's
    *   `errors` column exactly like a real stage fault. Every solver
    *   stage is deliberately total on real data (probed: empty /
    *   all-NaN / ±Inf / 1-day inputs all degrade gracefully), so this
    *   seam is how the channel itself stays tested end to end. Must
    *   be serializable; the default is a no-op.
    */
  def run(
      spark: SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      period: Option[Double] = None,
      faultInjector: (Long, String) => Unit = (_, _) => ()
  ): Dataset[SiteReport] = {
    import spark.implicits._
    val rows = dayRows(df, site, tsCol, valueCol)
      .select(col("site"), col("day_idx").as("dayIdx"), col("energy"),
        col("density"), col("daily_max").as("dailyMax"),
        col("com_hour").as("comHour"), col("n_obs").as("nObs"),
        col("capacity"), col("smoothness"))
      .as[DayRow]
    val solved = SiteLane(rows, (r: DayRow) => r.site) { (siteId, days) =>
      Iterator.single(analyzeSite(siteId, days.toArray, period, faultInjector(siteId, _)))
    }
    spark.createDataset(solved)
  }

  /** Per-site analysis on bounded state; each stage is best-effort. */
  def analyzeSite(
      siteId: Long,
      days: Array[DayRow],
      period: Option[Double] = None,
      faultInjector: String => Unit = _ => ()
  ): SiteReport = {
    val n = days.length
    val t = days.map(_.dayIdx)
    // Span-aware seasonal period (see run()): annual once the site
    // spans ≥ 548 days (~18 months — enough to identify the annual
    // harmonic), weekly otherwise. The time-shift stage stays weekly
    // regardless: its pwc component must absorb one-time steps, which
    // a longer-than-step seasonal basis would smooth away.
    val span = if (n > 1) t.last - t.head else 0.0
    val seasonPeriod = period.getOrElse(if (span >= 548.0) Kernels.YearPeriod else 7.0)
    val energy = days.map(_.energy)
    val density = days.map(_.density)
    val dailyMax = days.map(_.dailyMax)
    val comHour = days.map(_.comHour)
    val capacity = if (n > 0) days(0).capacity else Double.NaN
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]

    def stage[A](name: String, default: A)(f: => A): A =
      try { faultInjector(name); f }
      catch { case e: Throwable => errs += s"$name: ${e.getMessage}"; default }

    // data quality: density fit (tl1_l2d2p365 analog) + flags
    val quality = stage("quality", Double.NaN) {
      val fit = Kernels.quantileFourierFit(density, t, tau = 0.5, harmonics = 2, period = seasonPeriod)
      val good = density.indices.count { i =>
        val rel = if (fit(i) != 0.0) density(i) / fit(i) else 0.0
        rel > 0.6 && rel < 1.5
      }
      good.toDouble / math.max(n, 1)
    }

    // clear days — the reference's three-signal `flag_clear_cloudy`
    // rule (`clear_day_detection.py`): normalized smoothness (1 −
    // Σ|2nd diff|/fleet max) over its τ=0.9 seasonal fit > 0.9, AND
    // normalized energy over its τ=0.9 seasonal fit > 0.8 (clamped to
    // [0,1]), AND density over its τ=0.85 seasonal fit > 0.9. The
    // earlier 2-signal rule (energy + raw density) read the golden
    // fixture at 0.28 vs the reference's 0.4922 — the smoothness
    // channel is what separates bright-but-variable days from clear
    // ones (GoldenPipelineSpec's report case pins the band).
    val smoothRaw = days.map(_.smoothness)
    val clearFrac = stage("clear", Double.NaN) {
      val tcMax = smoothRaw.foldLeft(0.0)((a, v) =>
        if (v.isNaN || v < 0.0) a else math.max(a, v))
      val tc1 = smoothRaw.map(v =>
        if (v.isNaN || v < 0.0 || tcMax <= 0.0) 0.0 else 1.0 - v / tcMax)
      val deMax = energy.foldLeft(0.0)((a, v) => if (v.isNaN) a else math.max(a, v))
      val de1 = energy.map(v => if (v.isNaN || deMax <= 0.0) 0.0 else v / deMax)
      val tcFit = Kernels.quantileFourierFit(tc1, t, tau = 0.9, harmonics = 2, period = seasonPeriod)
      val deFit = Kernels.quantileFourierFit(de1, t, tau = 0.9, harmonics = 2, period = seasonPeriod)
      val dnFit = Kernels.quantileFourierFit(density, t, tau = 0.85, harmonics = 2, period = seasonPeriod)
      val clear = t.indices.count { i =>
        val tcn = if (tcFit(i) > 0) tc1(i) / tcFit(i) else 0.0
        val den = math.min(math.max(if (deFit(i) > 0) de1(i) / deFit(i) else 0.0, 0.0), 1.0)
        val dsc = if (dnFit(i) > 0) density(i) / dnFit(i) else 0.0
        tcn > 0.9 && den > 0.8 && dsc > 0.9
      }
      clear.toDouble / math.max(n, 1)
    }

    // clipping: CDF of daily max → flat segment (point mass) detection
    val clipped = stage("clipping", false) {
      val sorted = dailyMax.filterNot(_.isNaN).sorted
      if (sorted.length < 10) false
      else {
        val fit = Kernels.cdfPwlFit(sorted, lambdaD2 = 100.0)
        val d = fit.indices.drop(1).map(i => fit(i) - fit(i - 1))
        val span = math.max(sorted.last - sorted.head, 1e-9)
        // a long run of near-zero slope in the upper CDF = point mass
        // at max. "Flat" must be judged against the TYPICAL gap
        // span/n, not an absolute span fraction: with an absolute
        // 0.001·span cutoff any series past ~1000 days has mean gaps
        // below it and every site reads as clipped
        val flatThr = 0.3 * span / d.length
        val flat = d.zipWithIndex.count { case (dd, i) => i > d.length / 2 && dd < flatThr }
        flat > d.length / 10
      }
    }

    // quality clustering: DBSCAN on normalized (density, daily_max)
    // day-score pairs (reference `data_handler.py:1172-1199`)
    val (nClusters, abnormal) = stage("cluster", (-1, -1)) {
      // NaN sorts greatest: one NaN daily max would make mScale NaN
      // and every normalized coordinate NaN — all days "abnormal"
      // with no error recorded
      val finite = dailyMax.filterNot(_.isNaN)
      val mScale = math.max(if (finite.nonEmpty) finite.max else 1e-9, 1e-9)
      val labels = Cluster.dbscan2d(density, dailyMax.map(_ / mScale), eps = 0.06, minPts = 3)
      val k = labels.filter(_ >= 0).distinct.length
      (k, labels.count(_ == -1))
    }

    // capacity changes: pwc fit on log daily max, weight chosen by
    // deterministic-holdout grid search (reference
    // `capacity_change.py:132-182`). For multi-year series with real
    // degradation drift, use Kernels.tvSeasonalTrendFit (the full
    // l1_pwc_smoothper_trend analog with an explicit trend component).
    val capChanges = stage("capacity", -1) {
      val logMax = dailyMax.map(v => math.log(math.max(v, 1e-6)))
      val (_, pwc, _) = Kernels.optimizeTvWeight(logMax, t, Array(2.0, 5.0, 15.0),
        harmonics = 1, period = seasonPeriod, l1Residual = true)
      val rounded = pwc.map(v => math.round(v / 0.05) * 0.05)
      rounded.sliding(2).count(p => p.length == 2 && math.abs(p(1) - p(0)) > 1e-9)
    }

    // time shifts: pwc fit on solar-noon series (weekly basis — a
    // longer-than-window period would absorb one-time steps)
    val shiftDays = stage("timeshift", -1) {
      val medCom = Kernels.median(comHour) // hoisted: the map ran a full sort per NaN day
      val valid = comHour.map(v => if (v.isNaN) medCom else v)
      val (pwc, _) = Kernels.tvSeasonalFit(valid, t, lambdaTv = 10.0, harmonics = 1, period = 7.0)
      val base = Kernels.median(pwc)
      pwc.count(v => math.abs(v - base) > 0.5)
    }

    // clear-sky labeling: 2-state Viterbi DP on the energy/envelope
    // ratio (reference `clear_sky_detection.py:84-108` via §3.3)
    val clearSkyDays = stage("clearsky", -1) {
      val fit = Kernels.quantileFourierFit(energy, t, tau = 0.9, harmonics = 2, period = seasonPeriod)
      val ratio = energy.indices.map { i =>
        if (fit(i) > 0) energy(i) / fit(i) else Double.NaN
      }.toArray
      Kernels.viterbi2(ratio).count(identity)
    }

    // loss factors: soiling-separation decomposition + exact Shapley
    // (reference `soiling.py:78-178` + `loss_factor_analysis.py:620-656`)
    val losses = stage("loss", Array.fill(4)(Double.NaN)) {
      val (soil, rate, seasonal) = Kernels.soilingSeparation(energy, t, period = seasonPeriod, harmonics = 2)
      val degrF = t.map(d => math.exp(rate * d))
      // baseline = the MODELED seasonal envelope, not actual/(soil·degr):
      // a baseline derived from actual energy collapses to ~0 on outage
      // days, so the outage player had nothing to explain and outages
      // were invisible in the attribution. With a modeled baseline the
      // weather player is the true residual factor rather than a
      // constant-1 placeholder (whose Shapley share was identically 0).
      val baseline = seasonal.map(v => math.max(v, 1e-9))
      val weather = energy.indices.map { i =>
        if (energy(i) <= 0.0) 1.0 // outage day: its own player explains it
        else {
          val denom = math.max(baseline(i) * soil(i) * degrF(i), 1e-9)
          math.min(math.max(energy(i) / denom, 0.0), 2.0)
        }
      }.toArray
      val outage = energy.map(e => if (e <= 0.0) 0.0 else 1.0)
      val attr = Kernels.shapleyAttribution(baseline, Array(degrF, soil, weather, outage))
      val total = baseline.sum
      attr.map(a => if (total > 0) a / total else Double.NaN)
    }

    // Monte-Carlo degradation-rate uncertainty with the reference's
    // stabilization exit (`loss_factor_analysis.py:78-197`): draw
    // (τ, stiffness, 20% holdout) samples until the running
    // P50/P2.5/P97.5 stop moving (≥ 20, ≤ 500 samples — "typically
    // stabilizes in 50–100"). Seeded per site, so p01 rows stay
    // deterministic. Rates are annualized %/yr, the units
    // DataHandler.report exposes as degradation_pct_per_year.
    val (mcRates, mcSamples, mcConverged) =
      stage("mc", (Array(Double.NaN, Double.NaN, Double.NaN), 0, false)) {
        if (n < 20) (Array(Double.NaN, Double.NaN, Double.NaN), 0, false)
        else Kernels.mcDegradationRate(
          energy, t, seed = 0x9E3779B97F4A7C15L * (siteId + 1),
          period = seasonPeriod, harmonics = 2)
      }

    SiteReport(
      site = siteId,
      nDays = n,
      capacity = capacity,
      qualityScore = quality,
      clearFrac = clearFrac,
      clearSkyDays = clearSkyDays,
      clipped = clipped,
      qualityClusters = nClusters,
      abnormalDays = abnormal,
      capacityChanges = capChanges,
      timeShiftDays = shiftDays,
      lossDegradation = losses(0),
      lossSoiling = losses(1),
      lossWeather = losses(2),
      lossOutage = losses(3),
      degrRateP50 = mcRates(0),
      degrRateP025 = mcRates(1),
      degrRateP975 = mcRates(2),
      mcSamples = mcSamples,
      mcConverged = mcConverged,
      errors = errs.mkString("; ")
    )
  }

  /** The reference's one-call `DataHandler.report` summary
    * (`data_handler.py:718-783`) as a DataFrame keyed the way its
    * dict is: run the pipeline, attach the per-site sampling rate,
    * and project the report fields under the reference's names.
    * `length` is years (num_days/365), `sampling` is minutes
    * (modal Δt — the q06 contract), booleans mirror the dict's
    * verdict entries. Day-grain detail behind the scalars lives in
    * the gated operators (clipping days → q48/q49 and
    * [[PlotTables.clippingTable]]; capacity segments →
    * [[PlotTables.capacityChangeTable]]).
    *
    * @return (site, length, capacity, sampling, quality_score,
    *   clearness_score, inverter_clipping, capacity_change,
    *   time_shift_correction, errors)
    */
  def report(
      spark: SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      period: Option[Double] = None
  ): DataFrame = {
    val reports = run(spark, df, site, tsCol, valueCol, period).toDF()
    val sampling = TimeAxis.inferFrequency(
        df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull), Seq(site), tsCol)
      .select(col(site).cast("long").as("site"),
        (col("freq_s") / lit(60.0)).as("sampling"))
    reports.join(broadcast(sampling), Seq("site"), "left")
      .select(
        col("site"),
        (col("nDays") / lit(365.0)).as("length"),
        col("capacity"),
        col("sampling"),
        col("qualityScore").as("quality_score"),
        col("clearFrac").as("clearness_score"),
        col("clipped").as("inverter_clipping"),
        (col("capacityChanges") > 0).as("capacity_change"),
        (col("timeShiftDays") > 0).as("time_shift_correction"),
        col("errors"))
  }
}
