package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Daily-statistics aggregates — the engine's central fact table
  * (SURVEY §1.4 "DayStats"): one row per (site, day) with scores and
  * flags. Mirrors the reference's `DailyScores`/`DailyFlags`
  * (`data_handler.py:2613-2645`) but built fleet-wide in single
  * aggregation jobs instead of per-site numpy vectors.
  *
  * Scale: all of these are partial-aggregatable `groupBy(site, day)`
  * or `groupBy(site)` plans — map-side combine keeps shuffle volume at
  * O(sites × days), not O(rows), no matter the raw scan rate.
  */
object DayStats {

  /** Daily energy: `sum(day) * 24 / samples-per-day` (reference
    * `data_handler.py:1121-1125`). Input long layout (site, ts, value).
    */
  def dailyEnergy(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame =
    df.groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg((sum(col(valueCol)) * 24.0 / count(lit(1))).as("energy"))

  /** Per-site capacity estimate: exact 95th percentile of all values
    * (reference `data_handler.py:431`). Self-routing exact selection
    * rather than the `percentile` aggregate — bit-identical result
    * (see [[Percentiles.exact]]): a scan-shaped input takes the
    * histogram-prune route with no row-grain shuffle (the
    * `percentile` ObjectHashAggregate measured 5.5–9.9 s of the
    * 25M-row fleet16 headline, round 11, and dominated its GC
    * variance); a derived or non-deterministic input takes the
    * single-evaluation sort route automatically.
    */
  def capacity(df: DataFrame, site: String, valueCol: String): DataFrame =
    Percentiles.exact(df, site, valueCol, 0.95, "capacity")

  /** Sketch-state capacity for the 100 TB deployment: exact
    * `percentile` buffers EVERY value of a group in the aggregation
    * state (per-site memory grows with scan rate × years — the one
    * reference aggregate whose state is not trivially bounded);
    * `approx_percentile` keeps a fixed-size histogram sketch instead,
    * with RANK error ≤ 1/accuracy — note value error is unbounded at
    * a distribution cliff (measured 69% at one site), so the contract
    * `OperatorSpec` calibrates is the rank window, not the value.
    */
  def capacityApprox(df: DataFrame, site: String, valueCol: String, accuracy: Int = 10000): DataFrame =
    df.groupBy(col(site))
      .agg(approx_percentile(col(valueCol), lit(0.95), lit(accuracy)).as("capacity"))

  /** Daily density: fraction of slots with value above 2% of the
    * site's capacity (reference `data_quality.py:35-41`). Capacity is
    * joined back (one row per site) under the [[SideJoin]] strategy.
    */
  def dailyDensity(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    val cap = capacity(df, site, valueCol)
    SideJoin.back(df, cap, Seq(site))
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(avg(when(col(valueCol) > col("capacity") * 0.02, 1.0).otherwise(0.0)).as("density"))
  }

  /** Daily max and site-global max (clipping stats, reference
    * `algorithms/clipping.py:54-57`).
    */
  def dailyMax(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    val daily = df
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(max(col(valueCol)).as("daily_max"))
    val w = Window.partitionBy(col(site))
    daily.withColumn("site_max", max(col("daily_max")).over(w))
  }

  /** Clipping statistics (reference `algorithms/clipping.py:54-68`):
    * per (site, day), `clip1` = daily max / site-global max and
    * `clip2` = fraction of the day's max-normalized energy generated
    * within 0.5% of that day's max. One aggregation of the raw scan at
    * the (site, day) grain plus two [[SideJoin]] join-backs of tiny
    * side tables (site-days and sites) — the scan itself is read twice
    * but never shuffled at row grain, so the plan holds at any scale.
    */
  def clipStats(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame =
    clipStatsFull(df, site, tsCol, valueCol)
      .select(col(site), col("day"), col("clip1"), col("clip2"))

  /** [[clipStats]] keeping the intermediate `daily_max` / `site_max`
    * columns the clipped-times mask needs (same plan, wider select).
    */
  private[graft] def clipStatsFull(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    val daily = df
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(max(col(valueCol)).as("daily_max"))
    val np = col(valueCol) / col("daily_max")
    // site max via a window over the DAY-GRAIN aggregate (a per-site
    // max of ≤ days rows) — a separate aggregation branch would
    // re-scan the raw table a third time with no exchange reuse
    val wSite = Window.partitionBy(col(site))
    SideJoin.back(df.withColumn("day", to_date(col(tsCol))), daily, Seq(site, "day"))
      .filter(col("daily_max") > 0)
      .groupBy(col(site), col("day"))
      .agg(
        first(col("daily_max")).as("daily_max"),
        sum(when(np > 0.995, np).otherwise(lit(0.0))).as("sum_clip"),
        sum(np).as("sum_np")
      )
      .withColumn("site_max", max(col("daily_max")).over(wSite))
      .select(
        col(site), col("day"), col("daily_max"), col("site_max"),
        (col("daily_max") / col("site_max")).as("clip1"),
        try_divide(col("sum_clip"), col("sum_np")).as("clip2")
      )
  }

  /** `find_clipped_times` (reference `clipping.py:109-128`, reached
    * via `data_handler.py:1258-1262`): the per-sample boolean
    * clipped-times mask — SURVEY §1.1 row 5's one boolean-mask family
    * member q48/q49 did not materialize. A sample is clipped when its
    * site shows inverter clipping (q49's verdict), its site-max-
    * normalized value sits within 1% of ANY clip1 point mass (the
    * q49 relational point-mass rule: ≥3-day buckets on the 0.01
    * grid), and it lies within 2% of its own day's max.
    *
    * Plan shape: the day-grain clip stats are persisted once and all
    * four site-grain side branches (masses, clipped days, verdict,
    * mass array) derive from the persisted RDD (the q49/
    * QualityClusters idiom — without it each branch re-runs the
    * two-scan clipStats subtree); the row test itself is one
    * broadcast join-back of a (site, day) side plus a (site) side
    * carrying the ≤handful point masses as an array — row grain
    * preserved 1:1, no row-grain shuffle at any scale.
    *
    * @return (site, day DATE, ts, value, clipped BOOLEAN) — feed to
    *   [[graft.DataHandler.augmentDataFrame]] via a (site, day, slot)
    *   projection, or aggregate for a clipped-slot census.
    */
  def clippedTimes(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val cs0 = clipStatsFull(df, site, tsCol, valueCol)
      .withColumn("clip2r", round(col("clip2") * lit(1e6)) / lit(1e6))
    val csRdd = cs0.rdd.setName("clipped-times day stats").persist()
    val cs = spark.createDataFrame(csRdd, cs0.schema)
    try {
      val masses = cs
        .withColumn("mass", round(col("clip1") / lit(0.01)) * lit(0.01))
        .groupBy(col(site), col("mass"))
        .agg(count(lit(1)).as("n_bucket"))
        .filter(col("n_bucket") >= 3)
      val clipped = cs
        .filter(col("clip1") > 0.05 && col("clip2r") > 0.1)
        .join(broadcast(masses), Seq(site))
        .filter(abs(col("clip1") - col("mass")) < 0.0075)
        .select(col(site), col("day")).distinct()
        .groupBy(col(site)).agg(count(lit(1)).as("n_clipped"))
      val siteSide = cs.groupBy(col(site)).agg(count(lit(1)).as("n_days"))
        .join(broadcast(clipped), Seq(site), "left")
        .join(broadcast(
          masses.groupBy(col(site))
            .agg(sort_array(collect_list(col("mass"))).as("__masses"))),
          Seq(site), "left")
        .select(col(site),
          (coalesce(col("n_clipped"), lit(0L)) > col("n_days") * 0.01)
            .as("__clipping_site"),
          col("__masses"))
        .localCheckpoint(true)
      val daySide = cs.select(col(site), col("day"), col("daily_max"), col("site_max"))
        .localCheckpoint(true)
      val rows = df.withColumn("day", to_date(col(tsCol)))
      // left joins: days filtered out of the stats (daily_max ≤ 0) and
      // sites with no masses keep their rows, flagged false — the
      // reference's all-false mask for non-clipping systems
      val joined = SideJoin.back(
        SideJoin.back(rows, daySide, Seq(site, "day"), "left"),
        siteSide, Seq(site), "left")
      joined.select(
        col(site), col("day"), col(tsCol), col(valueCol),
        (coalesce(col("__clipping_site"), lit(false)) &&
          coalesce(exists(col("__masses"),
            m => abs(col(valueCol) / col("site_max") - m) < 0.01), lit(false)) &&
          when(col("daily_max").isNotNull && col("daily_max") =!= 0.0,
            col(valueCol) / col("daily_max") >= 0.98).otherwise(lit(false)))
          .as("clipped"))
    } finally {
      csRdd.unpersist(blocking = false)
    }
  }

  /** Linearity score core: deterministic per-day mode of rounded first
    * differences (reference `data_quality.py:56-83`). Mode tie-break:
    * higher count, then smaller diff. Returns (site, day, modal_diff,
    * mode_cnt, n_diffs).
    */
  def linearityMode(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col(site), to_date(col(tsCol))).orderBy(col(tsCol))
    val diffs = df
      .withColumn("day", to_date(col(tsCol)))
      .withColumn("__diff", round(col(valueCol) - lag(col(valueCol), 1).over(wOrd), 4))
      .filter(col("__diff").isNotNull)
    val counts = diffs
      .groupBy(col(site), col("day"), col("__diff").as("modal_diff"))
      .agg(count(lit(1)).as("mode_cnt"))
    // mode + total in ONE aggregate over the counts: min_by on the
    // (-count, diff) ordering struct is the deterministic tie-break
    // (highest count, then smallest diff), and the per-day diff total
    // is just the sum of the counts — no second window pass, no
    // totals join (two shuffles fewer than the row_number() form)
    counts
      .groupBy(col(site), col("day"))
      .agg(
        min_by(
          struct(col("modal_diff"), col("mode_cnt")),
          struct((-col("mode_cnt")).as("nc"), col("modal_diff").as("md"))
        ).as("__m"),
        sum(col("mode_cnt")).as("n_diffs")
      )
      .select(col(site), col("day"), col("__m.modal_diff").as("modal_diff"),
        col("__m.mode_cnt").as("mode_cnt"), col("n_diffs"))
  }

  /** Daily second-difference smoothness: L1 norm of the discrete 2nd
    * difference (clear-day metric, reference
    * `clear_day_detection.py:64-68`).
    */
  def smoothnessL1(df: DataFrame, site: String, tsCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(site), to_date(col(tsCol))).orderBy(col(tsCol))
    df.withColumn("day", to_date(col(tsCol)))
      .withColumn(
        "__d2",
        col(valueCol) - lit(2.0) * lag(col(valueCol), 1).over(w) + lag(col(valueCol), 2).over(w)
      )
      .groupBy(col(site), col("day"))
      .agg(sum(abs(col("__d2"))).as("smoothness"))
  }

  /** Rough sunrise/sunset: first/last hour with value above a fraction
    * of the site max (reference `sunrise_sunset.py:11-27`). Threshold
    * rounded to 6 dp for cross-engine determinism at compare time.
    */
  def riseSetRough(df: DataFrame, site: String, tsCol: String, valueCol: String, frac: Double): DataFrame = {
    val siteMax = df.groupBy(col(site)).agg(max(col(valueCol)).as("site_max"))
    val h = TimeAxis.hourOfDay(col(tsCol))
    SideJoin.back(df, siteMax, Seq(site))
      .withColumn("__thr", round(col("site_max") * frac, 6))
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(
        min(when(col(valueCol) > col("__thr"), h)).as("sunrise_h"),
        max(when(col(valueCol) > col("__thr"), h)).as("sunset_h")
      )
      .withColumn("daylight_h", col("sunset_h") - col("sunrise_h"))
  }

  /** Per-day quality flags + per-site dataset score (reference
    * `data_quality.py:13-25`, `data_handler.py:1232-1242`): a day is
    * "good" when it has enough samples and positive mean signal; the
    * site quality score is the fraction of good days.
    */
  def qualityFlags(df: DataFrame, site: String, tsCol: String, valueCol: String, minCount: Long): DataFrame =
    df.groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(count(col(valueCol)).as("n_obs"), avg(col(valueCol)).as("avg_v"))
      .withColumn("good_day", (col("n_obs") >= minCount) && (col("avg_v") > 0.0))

  /** Extra-column quality audit — the scoring half of
    * `generate_extra_matrix` (reference `data_handler.py:1128-1147`):
    * an extra measured column (irradiance, temperature — here any
    * column expression) is embedded on the power matrix's grid
    * ([[TimeAxis.withDaySlot]] does the embed; time-shift application
    * is q47's row-grain correction), and its completeness is scored
    * over DAYTIME cells only — daytime per `find_daytime`
    * (`daytime.py:11-38`): power scaled by the site's p5/p95 band,
    * cells ≥ `threshold`. Day-grain output (the reference's per-site
    * `extra_quality_scores` is its trivial rollup): (site, day,
    * n_daytime, n_extra_daytime, extra_sum, extra_quality).
    */
  def extraQuality(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      extra: Column,
      threshold: Double = 0.01
  ): DataFrame = {
    // self-routing exact percentiles (see [[Percentiles.exact]]):
    // both levels in one pass over the (possibly derived) input, no
    // per-site distinct-value buffer; a scan-shaped input takes the
    // near-shuffle-free histogram route automatically
    val scale = Percentiles
      .exact(df, Seq(site), valueCol, Seq(0.05 -> "__p05", 0.95 -> "__p95"))
      .withColumn("__lo", greatest(col("__p05"), lit(0.0)))
      .select(col(site), col("__lo"), col("__p95"))
    // 6-dp-rounded scaled compare: boundary-stable cross-engine (q55).
    // try_divide: a constant-signal site (p95 == lo — e.g. one sample)
    // has no daytime band; null scaled → filtered, never a
    // DIVIDE_BY_ZERO under ANSI mode. The oracle mirrors the null.
    val scaled = round(try_divide(col(valueCol) - col("__lo"), col("__p95") - col("__lo")), 6)
    SideJoin.back(df.withColumn("__extra", extra), scale, Seq(site))
      .filter(scaled >= threshold)
      .groupBy(col(site), to_date(col(tsCol)).as("day"))
      .agg(
        count(lit(1)).as("n_daytime"),
        count(col("__extra")).as("n_extra_daytime"),
        round(sum(col("__extra")), 2).as("extra_sum"))
      .withColumn("extra_quality",
        round(col("n_extra_daytime") / col("n_daytime").cast("double"), 6))
  }

  def datasetScores(dayFlags: DataFrame, site: String): DataFrame =
    dayFlags
      .groupBy(col(site))
      .agg(
        avg(col("good_day").cast("double")).as("quality_score"),
        count(lit(1)).as("n_days")
      )
}
