package graft.analyses

import java.time.ZoneId

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

import graft.operators.{DayStats, SideJoin, TimeAxis}
import graft.solvers.{Cluster, Kernels}

/** Per-(site, day) fact row — the bounded per-site state handed to the
  * solver stages: O(num_days) doubles per site regardless of the raw
  * scan rate. Built inside the fleet lane's task from that site's raw
  * rows ([[Pipeline.siteDays]]), so it never crosses a shuffle; flat
  * primitive fields, one object per day.
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

/** One raw observation on the fleet lane: `ts` in epoch microseconds. */
private[graft] case class RawObs(site: Long, ts: Long, value: Double)

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
  * `data_handler.py:326-716`) re-expressed Spark-first, as ONE
  * shuffle: the raw `(site, ts, value)` rows cross one [[SiteLane]]
  * (placed by site id, sorted by site, `ts`, value), and each
  * task builds a site's day rows ([[siteDays]]: capacity p95, day
  * aggregates, smoothness) and runs its solver stages
  * ([[analyzeSite]]) in the same pass — the Dask per-site task graph
  * (`runner.py:177-194`) becomes Spark partition-parallelism, one
  * exchange and two stages for the whole fleet.
  *
  * Memory: a task holds one site's raw rows in a `ts` and a value
  * array grown by doubling, plus the p95's sorted copy — up to about
  * 40 B per row at peak, since the last doubling briefly holds the old
  * and new arrays together: a site at 1-minute cadence for 20 years
  * (10.5 M rows) peaks at about 400 MB. The lane's sort also buffers
  * the partition's rows, as `UnsafeRow`s in Spark's sorter, which
  * spills to disk under Spark's execution-memory limit; a row becomes
  * a `RawObs` only as its site is read. Parallelism is across sites
  * only: a fleet with fewer sites than cores leaves cores idle.
  */
object Pipeline {

  /** Build the DayStats fact table for a long (site, ts, value)
    * input. Single aggregation pass + one [[SideJoin]] (broadcast by
    * default) of the per-site capacity. The fleet lane's
    * [[siteDays]] computes the same aggregates per site in `ts`
    * order (DayRowLaneSpec pins the two against each other).
    */
  def dayStats(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    // null rows carry no signal and would (a) bias energy low — the
    // mean-power×24 divides by the ALL-row count — and (b) let an
    // all-null day emit null energy/max
    val clean = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
    val cap = DayStats.capacity(clean, site, valueCol)
    val h = TimeAxis.hourOfDay(col(tsCol))
    val v = col(valueCol)
    SideJoin.back(clean, cap, Seq(site))
      .groupBy(col(site).as("site"), to_date(col(tsCol)).as("day"))
      .agg(
        (sum(v) * 24.0 / count(lit(1))).as("energy"),
        avg(when(v > col("capacity") * 0.02, 1.0).otherwise(0.0)).as("density"),
        max(v).as("daily_max"),
        coalesce(try_divide(sum(h * v), sum(v)), lit(Double.NaN)).as("com_hour"),
        count(v).as("n_obs"),
        first(col("capacity")).as("capacity"))
  }

  /** The solver stages' per-(site, day) input as a frame: `(site,
    * day_idx, energy, density, daily_max, com_hour, n_obs, capacity,
    * smoothness)`, the rows [[run]] hands to [[analyzeSite]], built by
    * the same lane.
    */
  private[graft] def dayRows(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String
  ): DataFrame = {
    import df.sparkSession.implicits._
    dayLane(df, site, tsCol, valueCol)((_, days) => days.iterator)
      .toDF("site", "day_idx", "energy", "density", "daily_max", "com_hour", "n_obs",
        "capacity", "smoothness")
  }

  /** The fleet lane: key the non-null raw rows by site through
    * [[SiteLane]] and hand each site's [[siteDays]] to `solve`. Rows
    * sort by `ts`, then by the value's IEEE total-order bits
    * (`graft_double_order_bits`): Spark's double sort ties -0.0 with
    * 0.0, and the bits pin the order of rows that share a timestamp as
    * `Double.compare` does (-0.0 before 0.0, NaN last).
    */
  private def dayLane[O: Encoder](df: DataFrame, site: String, tsCol: String, valueCol: String)(
      solve: (Long, Array[DayRow]) => Iterator[O]
  ): Dataset[O] = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.ensure(spark)
    val zone = DateTimeUtils.getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
    // a TIMESTAMP_NTZ column is cast to TIMESTAMP (exact under the
    // engine's UTC session, as in sources.Tables); the site is left to
    // `as[RawObs]`'s upcast, which widens an int and refuses a lossy type
    val raw = df.filter(col(site).isNotNull && col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(site).as("site"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts"),
        col(valueCol).cast("double").as("value"))
      .as[RawObs]
    SiteLane(raw, (r: RawObs) => r.site, col("ts"), call_function("graft_double_order_bits", col("value"))) {
      (id, rows) => solve(id, siteDays(id, rows, zone))
    }
  }

  /** Spark's `>` on doubles: NaN is the greatest value and equal to
    * itself, and -0.0 equals 0.0 (`SQLOrderingUtil.compareDoubles`).
    */
  private def gt(a: Double, b: Double): Boolean =
    a != b && java.lang.Double.compare(a, b) > 0

  /** One site's day rows from its raw rows in (`ts`, value) order —
    * the values of the relational form `dayStats` + Σ|Δ²| smoothness
    * + day index, bit for bit (DayRowLaneSpec):
    *
    *  - day = the session-zone date of `ts` (`to_date`); hour = whole
    *    seconds since that date's start / 3600.0;
    *  - capacity = the site's exact p95 as `Percentile.getPercentile`
    *    takes it (`pos = 0.95·(n−1)`, floor/ceil keys, equal-key
    *    short-circuit, linear interpolation);
    *  - every sum starts at 0.0 and adds in `ts` order, as Spark's
    *    `Sum` does; `max` and `>` follow Spark's double ordering;
    *  - `com_hour` is NaN where Σv == 0.0 (`try_divide` → null →
    *    `coalesce`); smoothness is Σ|(v − 2·v₋₁) + v₋₂| within the
    *    day (the reference's `get_clear_day_scores` smoothness
    *    channel, `clear_day_detection.py`), or −1.0 ("no signal",
    *    which `analyzeSite` leaves out) for a day with fewer than 3
    *    rows.
    *
    * A day's rows are contiguous in `ts` order: always in UTC, and in
    * any zone whose clock never falls back across midnight.
    */
  private def siteDays(siteId: Long, rows: Iterator[RawObs], zone: ZoneId): Array[DayRow] = {
    var ts = new Array[Long](1024)
    var vs = new Array[Double](1024)
    var n = 0
    rows.foreach { r =>
      if (n == ts.length) {
        ts = java.util.Arrays.copyOf(ts, n * 2)
        vs = java.util.Arrays.copyOf(vs, n * 2)
      }
      ts(n) = r.ts
      vs(n) = r.value
      n += 1
    }
    if (n == 0) return Array.empty
    val capacity = {
      val sorted = java.util.Arrays.copyOf(vs, n)
      java.util.Arrays.sort(sorted)
      val pos = 0.95 * (n - 1).toDouble
      val lo = math.floor(pos).toLong
      val hi = math.ceil(pos).toLong
      val lk = sorted(lo.toInt)
      val hk = sorted(hi.toInt)
      if (lo == hi || lk == hk) lk
      else (hi.toDouble - pos) * lk + (pos - lo.toDouble) * hk
    }
    val densityFloor = capacity * 0.02
    val out = scala.collection.mutable.ArrayBuffer.empty[DayRow]
    val firstDay = DateTimeUtils.microsToDays(ts(0), zone)
    var i = 0
    while (i < n) {
      // the zone is consulted once per day, not once per row
      val day = DateTimeUtils.microsToDays(ts(i), zone)
      val dayStartS = Math.floorDiv(DateTimeUtils.daysToMicros(day, zone), 1000000L)
      // at least this row, should a midnight that falls back put it
      // past the next day's start
      val next = math.max(DateTimeUtils.daysToMicros(day + 1, zone), ts(i) + 1)
      var cnt = 0L
      var dense = 0L
      var sum = 0.0
      var hourSum = 0.0
      var mx = 0.0
      var smooth = 0.0
      var p1 = 0.0
      var p2 = 0.0
      while (i < n && ts(i) < next) {
        val v = vs(i)
        sum += v
        if (gt(v, densityFloor)) dense += 1
        if (cnt == 0 || gt(v, mx)) mx = v
        hourSum += (Math.floorDiv(ts(i), 1000000L) - dayStartS).toDouble / 3600.0 * v
        if (cnt >= 2) smooth += math.abs((v - 2.0 * p1) + p2)
        p2 = p1
        p1 = v
        cnt += 1
        i += 1
      }
      out += DayRow(siteId, (day - firstDay).toDouble, sum * 24.0 / cnt.toDouble,
        dense.toDouble / cnt.toDouble, mx, if (sum == 0.0) Double.NaN else hourSum / sum,
        cnt, capacity, if (cnt < 3) -1.0 else smooth)
    }
    out.toArray
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
    dayLane(df, site, tsCol, valueCol) { (siteId, days) =>
      Iterator.single(analyzeSite(siteId, days, period, faultInjector(siteId, _)))
    }
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
