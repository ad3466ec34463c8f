package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Cleaning / filling operators (reference `solardatatools/data_filling.py`,
  * `data_handler.py:419-430`). All pure column expressions or windows —
  * fully codegen'd, no UDFs.
  */
object Filling {

  /** Values outside [minV, maxV] become null (reference
    * `data_handler.py:419-430`: clamp-to-NaN).
    */
  def clampToNull(v: Column, minV: Double, maxV: Double): Column =
    when(v.between(minV, maxV), v)

  /** Non-negative clamp (reference `data_filling.py:15`). */
  def nonNeg(v: Column): Column = greatest(v, lit(0.0))

  /** Linear interpolation of nulls within each key group, ordered by a
    * numeric axis (epoch seconds): the standard Spark window idiom —
    * last non-null before, first non-null after, weight by axis
    * distance. Ends stay at the nearest anchor (ffill/bfill), matching
    * `pandas.interpolate(limit_direction="both")` on interior+edge gaps.
    *
    * Reference: `data_filling.py:24-28` (per-day-column interpolate).
    * One window shuffle per call; no driver materialization.
    */
  def interpolateLinear(
      df: DataFrame,
      keys: Seq[String],
      axisCol: String,
      valueCol: String,
      outCol: String
  ): DataFrame = {
    val wAll = Window.partitionBy(keys.map(col): _*).orderBy(col(axisCol))
    val before = wAll.rowsBetween(Window.unboundedPreceding, 0)
    val after = wAll.rowsBetween(0, Window.unboundedFollowing)
    val prevV = last(col(valueCol), ignoreNulls = true).over(before)
    val nextV = first(col(valueCol), ignoreNulls = true).over(after)
    val prevX = last(when(col(valueCol).isNotNull, col(axisCol)), ignoreNulls = true).over(before)
    val nextX = first(when(col(valueCol).isNotNull, col(axisCol)), ignoreNulls = true).over(after)
    val t = (col(axisCol) - col("__px")).cast("double") / (col("__nx") - col("__px")).cast("double")
    df.withColumn("__pv", prevV)
      .withColumn("__nv", nextV)
      .withColumn("__px", prevX)
      .withColumn("__nx", nextX)
      .withColumn(
        outCol,
        when(col(valueCol).isNotNull, col(valueCol))
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          .when(col("__nx") === col("__px"), col("__pv"))
          .otherwise(col("__pv") + t * (col("__nv") - col("__pv")))
      )
      .drop("__pv", "__nv", "__px", "__nx")
  }

  /** The reference's `make_filled_data_matrix` (`data_handler.py:
    * 1110-1126` + `data_filling.py:13-28`) as one relational plan:
    * densify each (site, day) onto the full slot grid, clamp
    * negatives to 0, zero nighttime gaps outside a smoothed
    * sunrise/sunset band (rough per-day first/last slot above 0.5% of
    * site capacity, smoothed by a ±7-day rolling median — the
    * seasonal-solver analog of `sunrise_sunset_estimation.py`), and
    * linearly interpolate the remaining in-day gaps.
    *
    * Returns (site, day, slot, raw, filled). Output volume is the
    * dense matrix (site-days × slotsPerDay) — the same size the
    * reference materializes, but built distributedly: one (site, day,
    * slot) aggregation of the scan, day-grain side tables broadcast,
    * and per-(site, day) interpolation windows that parallelize
    * across the fleet.
    */
  def filledDayGrid(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      slotsPerDay: Int
  ): DataFrame = {
    // Opt-in session-scoped materialization for multi-query harnesses
    // (spark.graft.filledGrid.cache=true, set by the Verify/Bench
    // mains): the q50/q64/q65/q66/q88/q89 gate family each rebuild
    // this same grid from the same scan — memoizing on the
    // CANONICALIZED input plan (exprIds normalized, so repeated
    // `Tables.events(dir)` reads hit) shares one persisted build
    // across them. Default OFF: an engine operator must not pin
    // executor memory behind a caller's back at 100 TB; the cached
    // frame is sites×days×slotsPerDay rows — the dense matrix the
    // reference materializes per site, bounded and spill-safe under
    // MEMORY_AND_DISK for any fleet the harness runs.
    if (df.sparkSession.conf.getOption("spark.graft.filledGrid.cache").contains("true")) {
      val key = (df.queryExecution.analyzed.canonicalized,
        site, tsCol, valueCol, slotsPerDay)
      gridCache.getOrElseUpdate(key,
        filledDayGridImpl(df, site, tsCol, valueCol, slotsPerDay)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    } else filledDayGridImpl(df, site, tsCol, valueCol, slotsPerDay)
  }

  private val gridCache = scala.collection.concurrent.TrieMap.empty[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, String, String, Int),
    DataFrame]

  private def filledDayGridImpl(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      slotsPerDay: Int
  ): DataFrame = {
    val spark = df.sparkSession
    require(86400 % slotsPerDay == 0,
      s"slotsPerDay must divide 86400 (got $slotsPerDay) — otherwise end-of-day slots " +
        "fall off the grid and their data is silently dropped by the grid join")
    val freqS = 86400 / slotsPerDay
    // the slotted aggregate feeds the rise/set derivation AND the
    // final grid join, and Spark plans no exchange reuse across those
    // branches — without a persist each branch re-scans the raw table
    // (5 full scans observed). Persist as RDDs (ContextCleaner frees
    // them when the result plan is collected and dropped): `slotted`
    // is matrix-sized → MEMORY_AND_DISK; `rough` is day-grain-tiny.
    // NaN readings are MISSING data (the reference's pervasive-NaN
    // convention) — they must not enter the slot mean. This mattered
    // less under avg(double), which visibly poisoned the slot to NaN;
    // the integer-micro lift below would instead cast round(NaN) to 0
    // and silently deflate the mean (and the DuckDB replay would error
    // on the cast), so the filter is now explicit.
    val clean = df.filter(col(valueCol).isNotNull && !isnan(col(valueCol)))
    val slotted0 = clean
      .groupBy(
        col(site).as("site"),
        to_date(col(tsCol)).as("day"),
        // secondsOfDay, NOT epoch % 86400: `day` is session-tz local,
        // so the slot must be too — the epoch form silently wraps a
        // non-UTC session's local day through slot 0
        (TimeAxis.secondsOfDay(col(tsCol)) / freqS).cast("int").as("slot")
      )
      // exact integer-micro mean, NOT avg(double): the float avg's
      // partial-aggregation order varies run to run, and downstream
      // study gates threshold the 6-dp-rounded scaled value — an ulp
      // flip at a rounding boundary moves a day's sunrise/sunset slot
      // (observed as the q64 hash flake). Integer sum is order-free;
      // the division order (/1e6 then /n) is pinned to match the
      // DuckDB oracle expression exactly.
      .agg(
        (sum(round(col(valueCol) * 1e6).cast("long")).cast("double") / 1e6 /
          count(col(valueCol))).as("raw"))
    val slottedRdd = slotted0.rdd
      .setName("filledDayGrid slotted matrix")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val slotted = spark.createDataFrame(slottedRdd, slotted0.schema)
    // the ONE capacity definition (DayStats.capacity) — duplicating
    // the aggregate here let the fill path drift from the fact table
    val cap = DayStats.capacity(df, site, valueCol).withColumnRenamed(site, "site")
    // rough sunrise/sunset slots per day, smoothed by a ±7-day median
    val rough0 = SideJoin.back(slotted, cap, Seq("site"))
      .groupBy(col("site"), col("day"))
      .agg(
        min(when(col("raw") > col("capacity") * 0.005, col("slot"))).as("sr_rough"),
        max(when(col("raw") > col("capacity") * 0.005, col("slot"))).as("ss_rough")
      )
    val roughRdd = rough0.rdd.setName("filledDayGrid rise/set").persist()
    val rough = spark.createDataFrame(roughRdd, rough0.schema)
    // ±7-day rolling median via a day-grain range self-join (medians
    // are not frameable window aggregates); `rough` is site-day grain,
    // so the join-back side is tiny at any raw-data scale
    val riseSet = SideJoin.back(
        rough.select(col("site"), col("day")),
        rough.select(
          col("site"), col("day").as("day2"),
          col("sr_rough"), col("ss_rough")),
        Seq("site"))
      .filter(abs(datediff(col("day2"), col("day"))) <= 7)
      .groupBy(col("site"), col("day"))
      .agg(
        floor(percentile(col("sr_rough"), lit(0.5))).cast("int").as("sr_s"),
        floor(percentile(col("ss_rough"), lit(0.5))).cast("int").as("ss_s")
      )
    val grid = riseSet
      .select(col("site"), col("day"), col("sr_s"), col("ss_s"),
        explode(sequence(lit(0), lit(slotsPerDay - 1))).as("slot"))
    val night = col("slot") < col("sr_s") || col("slot") > col("ss_s")
    val base = grid
      .join(slotted, Seq("site", "day", "slot"), "left")
      .withColumn("__v",
        when(col("raw").isNotNull, greatest(col("raw"), lit(0.0)))
          .when(night, lit(0.0)))
    interpolateLinear(base, Seq("site", "day"), "slot", "__v", "filled")
      .select(col("site"), col("day"), col("slot"), col("raw"),
        coalesce(col("filled"), lit(0.0)).as("filled"))
  }
}
