package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.analyses.{DayRow, Pipeline, SiteReport}
import graft.operators.DayStats
import graft.solvers.{Cluster, Kernels}
import graft.sources.Synth

/** A `Synth.pvFleet` input shape. */
final case class FleetShape(sites: Int, days: Int, slots: Int) {
  def rows: Long = sites.toLong * days * slots
}

/** The two fleet workloads: one batch caller running `Pipeline.run`
  * again and again on one cached fleet (a closed loop, one client).
  */
object Fleet {

  /** 4 sites × 730 days × 1-minute slots: row-grain relational work
    * (the `dayRows` window and aggregates, the capacity percentile
    * passes) dominates, one site per core.
    */
  val Dense = FleetShape(sites = 4, days = 730, slots = 1440)

  /** 16 sites × 730 days × hourly slots: the per-site solver lane
    * dominates and the relational plan is small.
    */
  val Wide = FleetShape(sites = 16, days = 730, slots = 24)

  def pipeline(spark: SparkSession, input: DataFrame, ts: String, value: String): DataFrame =
    Pipeline.run(spark, input, "site", ts, value).toDF()

  /** Degradation the generator applies, in %/year: power × (1 − 5e-5 · day). */
  val TrueDegradationPctPerYear: Double = -0.00005 * Kernels.YearPeriod * 100.0

  /** Problems in the reports against the generator's truth: one clean
    * report per site covering every day; on the unstepped sites a
    * degradation rate within 0.5 %/year of the generated one; and a
    * capacity estimate that singles out the site whose capacity halves
    * mid-series. `capacityChanges` is not checked: it counts level
    * moves of the fitted series, which soiling resets make on every
    * site (README, "Output checks").
    */
  def check(reports: Seq[SiteReport], shape: FleetShape, capStep: Int): Seq[String] = {
    val p = ArrayBuffer.empty[String]
    val sites = reports.map(_.site).sorted
    if (sites != (0 until shape.sites).map(_.toLong)) p += s"report sites ${sites.mkString(",")}"
    reports.filter(_.errors.nonEmpty).foreach(s => p += s"site ${s.site} errors: ${s.errors}")
    reports.filter(_.nDays != shape.days).foreach(s => p += s"site ${s.site} nDays ${s.nDays}")
    reports.filterNot(s => s.qualityScore >= 0.0 && s.qualityScore <= 1.0 && s.clearFrac >= 0.0 && s.clearFrac <= 1.0)
      .foreach(s => p += s"site ${s.site} scores out of [0, 1]")
    reports.filter(_.mcSamples <= 0).foreach(s => p += s"site ${s.site} drew no Monte-Carlo samples")
    val (stepped, rest) = reports.partition(_.site == capStep)
    rest.filterNot(s => math.abs(s.degrRateP50 - TrueDegradationPctPerYear) <= 0.5).foreach { s =>
      p += f"site ${s.site} degradation ${s.degrRateP50}%.3f %%/yr, generated $TrueDegradationPctPerYear%.3f"
    }
    if (stepped.isEmpty || rest.exists(_.capacity * 0.95 <= stepped.head.capacity))
      p += s"capacity step on site $capStep not singled out: capacities " +
        reports.sortBy(_.site).map(s => f"${s.capacity}%.3f").mkString(",")
    p.toSeq
  }

  def run(spark: SparkSession, shape: FleetShape, o: Opts, sessionS: Double, tr: Tracer, r: Report): Unit = {
    val rng = new scala.util.Random(o.seed)
    val capStep = rng.nextInt(shape.sites)
    tr.unit = "setup"
    val (input, buildS) = Bench.seconds {
      tr("sources.build") {
        val df = Synth.pvFleet(spark, shape.sites, shape.days, shape.slots, capStep).cache()
        Bench.noop(df)
        df
      }
    }
    val owned = spark.sparkContext.getPersistentRDDs.size
    // the cold unit is collected so its reports can be checked
    val (reports, coldS) = Bench.seconds {
      r.attempt("cold Pipeline.run") {
        Pipeline.run(spark, input, "site", "ts", "power").collect().toSeq
      }.getOrElse(Nil)
    }
    if (reports.nonEmpty) {
      val problems = check(reports, shape, capStep)
      if (problems.nonEmpty) r.fail(s"reports: ${problems.mkString("; ")}")
    }
    System.err.println(f"[perfbench] setup: session $sessionS%.1f s, input $buildS%.1f s, cold unit $coldS%.1f s")
    def unit(i: Int): Double =
      Bench.seconds(r.attempt(s"Pipeline.run #$i")(Bench.noop(pipeline(spark, input, "ts", "power"))))._2

    // one warm unit outside the measurement: the first warm units are
    // still visibly faster each time (JIT), the later ones level off
    unit(-1)
    if (!o.trace) {
      val heap = ArrayBuffer.empty[Double]
      val walls = Bench.loop(o.seconds) { i => val w = unit(i); heap += Bench.liveHeapMb(); w }
      r.add("setup_s", sessionS + buildS + coldS, "s")
      r.add("rows_per_s", shape.rows / Stats.median(walls), "rows/s")
      r.add("query_s_p50", Stats.median(walls), "s")
      r.add("query_s_p90", Stats.percentile(walls, 90), "s")
      r.add("heap_live_peak_mb", heap.max, "MB")
    } else {
      val stats = SparkStats.install(spark)
      val units = ArrayBuffer.empty[UnitStats]
      val walls = Bench.loop(o.seconds, minUnits = 2) { i =>
        if (i % 2 == 0) unit(i)
        else {
          tr.unit = s"run-$i"
          Bench.seconds {
            r.attempt(s"traced Pipeline.run #$i") {
              units += stats.measure(s"run-$i") {
                tr("analyses.run")(Bench.noop(pipeline(spark, input, "ts", "power")))
              }._2
            }
          }._2
        }
      }
      r.add("sources.build_s", buildS, "s")
      r.add("sources.input_rows", shape.rows, "count")
      Layers.fleet(spark, input, "ts", "power", rng, tr, r, runs = 0)
      r.add("solvers.mc_samples", reports.map(_.mcSamples).sum, "count")
      r.add("analyses.site_errors", reports.count(_.errors.nonEmpty), "count")
      Layers.catalogProbe(spark, o, tr, r)
      Bench.addSparkMetrics(r, units.toSeq, spark.sparkContext.getPersistentRDDs.size - owned)
      Bench.addSelfTimes(r, tr)
      r.add("trace.overhead_frac", Bench.overhead(walls), "ratio")
    }
    input.unpersist()
  }
}

/** Spans around the benchmark's calls into each layer's public
  * functions, for the traced run.
  */
object Layers {

  /** Operators, solvers and analyses on a (site, ts, value) fleet:
    * `Pipeline.dayRows` and `DayStats.capacity` through the no-op sink,
    * then every solver kernel `analyzeSite` calls, with its arguments,
    * on the collected day rows of a seeded sample of sites, and
    * `analyzeSite` itself. `runs` extra traced `Pipeline.run` calls
    * are made first for a workload whose own units are not fleet runs.
    */
  def fleet(
      spark: SparkSession,
      input: DataFrame,
      ts: String,
      value: String,
      rng: scala.util.Random,
      tr: Tracer,
      r: Report,
      runs: Int
  ): Unit = {
    import spark.implicits._
    tr.unit = "operators"
    (0 until runs).foreach { i =>
      r.attempt(s"layer Pipeline.run #$i")(tr("analyses.run")(Bench.noop(Fleet.pipeline(spark, input, ts, value))))
    }
    val clean = input.filter(col(ts).isNotNull && col(value).isNotNull)
    (0 until 2).foreach { i =>
      r.attempt(s"dayRows #$i")(tr("operators.day_rows")(Bench.noop(Pipeline.dayRows(input, "site", ts, value))))
      r.attempt(s"capacity #$i")(tr("operators.capacity")(Bench.noop(DayStats.capacity(clean, "site", value))))
    }
    val dayRows = Pipeline.dayRows(input, "site", ts, value)
    r.add("operators.day_rows_out", dayRows.count().toDouble, "count")
    val runS = Stats.median(tr.durations("analyses.run"))
    val dayRowsS = Stats.median(tr.durations("operators.day_rows"))
    r.add("operators.day_rows_s", dayRowsS, "s")
    r.add("operators.capacity_s", Stats.median(tr.durations("operators.capacity")), "s")
    r.add("analyses.run_s", runS, "s")
    r.add("analyses.lane_s", runS - dayRowsS, "s")

    val siteIds = dayRows.select(col("site").cast("long")).distinct().as[Long].collect().sorted
    val sample = rng.shuffle(siteIds.toSeq).take(3)
    val days = dayRows.filter(col("site").isin(sample: _*))
      .select(col("site").cast("long").as("site"), col("day_idx").as("dayIdx"), col("energy"),
        col("density"), col("daily_max").as("dailyMax"), col("com_hour").as("comHour"),
        col("n_obs").as("nObs"), col("capacity"), col("smoothness"))
      .as[DayRow].collect().groupBy(_.site).map { case (s, ds) => s -> ds.sortBy(_.dayIdx) }
    sample.foreach { s =>
      tr.unit = s"site-$s"
      r.attempt(s"solver kernels on site $s")(kernels(s, days.getOrElse(s, Array.empty), tr))
      r.attempt(s"analyzeSite $s")(tr("analyses.analyze_site")(Pipeline.analyzeSite(s, days.getOrElse(s, Array.empty))))
    }
    val perSite = math.max(sample.length, 1)
    Seq("quantile_fourier", "cdf_pwl", "tv_weight", "tv_seasonal", "soiling", "shapley",
      "mc_degradation", "viterbi", "dbscan").foreach { k =>
      r.add(s"solvers.${k}_s", tr.durations(s"solvers.$k").sum / perSite, "s")
    }
    val site = tr.durations("analyses.analyze_site")
    r.add("analyses.analyze_site_s_p50", Stats.median(site), "s")
    r.add("analyses.analyze_site_s_p90", Stats.percentile(site, 90), "s")
  }

  /** Each kernel `Pipeline.analyzeSite` calls, with the arguments it
    * derives from one site's day rows, one span per call.
    */
  private def kernels(siteId: Long, days: Array[DayRow], tr: Tracer): Unit = {
    val n = days.length
    val t = days.map(_.dayIdx)
    val span = if (n > 1) t.last - t.head else 0.0
    val period = if (span >= 548.0) Kernels.YearPeriod else 7.0
    val energy = days.map(_.energy)
    val density = days.map(_.density)
    val dailyMax = days.map(_.dailyMax)
    def qf(y: Array[Double], tau: Double) =
      tr("solvers.quantile_fourier")(Kernels.quantileFourierFit(y, t, tau = tau, harmonics = 2, period = period))
    qf(density, 0.5)
    val smooth = days.map(_.smoothness)
    val tcMax = smooth.foldLeft(0.0)((a, v) => if (v.isNaN || v < 0.0) a else math.max(a, v))
    val deMax = energy.foldLeft(0.0)((a, v) => if (v.isNaN) a else math.max(a, v))
    qf(smooth.map(v => if (v.isNaN || v < 0.0 || tcMax <= 0.0) 0.0 else 1.0 - v / tcMax), 0.9)
    qf(energy.map(v => if (v.isNaN || deMax <= 0.0) 0.0 else v / deMax), 0.9)
    qf(density, 0.85)
    val sorted = dailyMax.filterNot(_.isNaN).sorted
    if (sorted.length >= 10) tr("solvers.cdf_pwl")(Kernels.cdfPwlFit(sorted, lambdaD2 = 100.0))
    val finite = dailyMax.filterNot(_.isNaN)
    val mScale = math.max(if (finite.nonEmpty) finite.max else 1e-9, 1e-9)
    tr("solvers.dbscan")(Cluster.dbscan2d(density, dailyMax.map(_ / mScale), eps = 0.06, minPts = 3))
    tr("solvers.tv_weight") {
      Kernels.optimizeTvWeight(dailyMax.map(v => math.log(math.max(v, 1e-6))), t, Array(2.0, 5.0, 15.0),
        harmonics = 1, period = period, l1Residual = true)
    }
    val comHour = days.map(_.comHour)
    val medCom = Kernels.median(comHour)
    tr("solvers.tv_seasonal") {
      Kernels.tvSeasonalFit(comHour.map(v => if (v.isNaN) medCom else v), t, lambdaTv = 10.0, harmonics = 1, period = 7.0)
    }
    val envelope = qf(energy, 0.9)
    val ratio = energy.indices.map(i => if (envelope(i) > 0) energy(i) / envelope(i) else Double.NaN).toArray
    tr("solvers.viterbi")(Kernels.viterbi2(ratio))
    val (soil, rate, seasonal) = tr("solvers.soiling")(Kernels.soilingSeparation(energy, t, period = period, harmonics = 2))
    val degrF = t.map(d => math.exp(rate * d))
    val baseline = seasonal.map(v => math.max(v, 1e-9))
    val weather = energy.indices.map { i =>
      if (energy(i) <= 0.0) 1.0
      else math.min(math.max(energy(i) / math.max(baseline(i) * soil(i) * degrF(i), 1e-9), 0.0), 2.0)
    }.toArray
    val outage = energy.map(e => if (e <= 0.0) 0.0 else 1.0)
    tr("solvers.shapley")(Kernels.shapleyAttribution(baseline, Array(degrF, soil, weather, outage)))
    if (n >= 20) tr("solvers.mc_degradation") {
      Kernels.mcDegradationRate(energy, t, seed = 0x9E3779B97F4A7C15L * (siteId + 1), period = period, harmonics = 2)
    }
  }

  /** One small catalog entry per family, for a workload whose own
    * units are not catalog calls: each is issued once to warm it, then
    * once traced.
    */
  val FamilyProbe = Seq("d24_token_chunks", "e12_prototype_prune", "m03_multimodal_pack",
    "p05_pvpro_post", "q74_mc_draw_stream", "t02_mixture_weights")

  def catalogProbe(spark: SparkSession, o: Opts, tr: Tracer, r: Report): Unit = {
    FamilyProbe.foreach { q =>
      r.attempt(s"$q warm-up")(Bench.noop(graft.SparkEntry.queries(q)(spark, o.dataDir)))
      tr.unit = q
      r.attempt(q)(Catalog.traced(spark, q, o.dataDir, tr))
    }
    Catalog.addCatalogLayers(r, tr)
  }
}
