package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Energy-preserving dilation: re-sample each day's signal onto a
  * fixed sunrise→sunset grid (reference
  * `solardatatools/algorithms/dilation.py:84-122, 204-301`).
  *
  * Semantics: with I(t) the cumulative trapezoid integral of the
  * signal, dilated bin i gets (I(g_{i+1}) − I(g_i)) / Δg on an
  * `nBins`-interval grid between sunrise and sunset — so the total
  * energy within daylight is preserved exactly (up to float assoc).
  *
  * Execution: `groupByKey(site, day).flatMapGroups` on bounded
  * per-day state (≤ slots-per-day samples) — fleet-parallel, no
  * driver data, no shuffle beyond the one hash exchange on
  * (site, day).
  */
object Dilation {

  /** Linear interpolation of the cumulative integral at time x. */
  private def interpCum(ts: Array[Double], cum: Array[Double], vs: Array[Double], x: Double): Double = {
    val n = ts.length
    if (x <= ts(0)) return 0.0
    if (x >= ts(n - 1)) return cum(n - 1)
    var lo = 0
    var hi = n - 1
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) <= x) lo = mid else hi = mid
    }
    // integral of the linear segment from ts(lo) to x
    val dt = ts(lo + 1) - ts(lo)
    val frac = if (dt > 0) (x - ts(lo)) / dt else 0.0
    val vx = vs(lo) + frac * (vs(lo + 1) - vs(lo))
    cum(lo) + (vs(lo) + vx) / 2.0 * (x - ts(lo))
  }

  /** Dilate a long (site, ts, value) frame. Rise/set per day are the
    * first/last hours where value exceeds `thresholdFrac` of the
    * site max. Output: (site, day, dil_slot ∈ [0, nBins), dil_value).
    */
  def dilate(
      spark: SparkSession,
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      nBins: Int = 100,
      thresholdFrac: Double = 0.01
  ): DataFrame = {
    import spark.implicits._
    val siteMax = df.groupBy(col(site)).agg(max(col(valueCol)).as("site_max"))
    // null guard before the non-nullable tuple decode: upstream
    // cleaning (clampToNull) deliberately produces null values, and a
    // single null ts/value row must not kill the fleet job
    val rows = SideJoin.back(
        df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull), siteMax, Seq(site))
      .select(
        col(site).cast("long").as("site"),
        to_date(col(tsCol)).cast("string").as("day"),
        TimeAxis.hourOfDay(col(tsCol)).as("h"),
        col(valueCol).cast("double").as("v"),
        col("site_max").as("m")
      )
      .as[(Long, String, Double, Double, Double)]
    rows
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String), it: Iterator[(Long, String, Double, Double, Double)]) =>
        val (siteId, day) = key
        // (h, v) sort, not h alone: two samples sharing a timestamp
        // otherwise keep their ARRIVAL order, and the trapezoid
        // cumulative depends on which of them borders the next
        // segment — arrival order is partition-dependent, so the
        // output would be nondeterministic (and ungateable)
        val pts = it.toArray.sortBy(p => (p._3, p._4))
        val thr = pts.head._5 * thresholdFrac
        val lit = pts.filter(p => p._4 > thr)
        if (lit.length < 2) Iterator.empty
        else {
          val rise = lit.head._3
          val set = lit.last._3
          if (set <= rise) Iterator.empty
          else {
            val seg = pts.filter(p => p._3 >= rise && p._3 <= set)
            val ts = seg.map(_._3)
            val vs = seg.map(_._4)
            val cum = new Array[Double](ts.length)
            var i = 1
            while (i < ts.length) {
              cum(i) = cum(i - 1) + (vs(i) + vs(i - 1)) / 2.0 * (ts(i) - ts(i - 1))
              i += 1
            }
            val dg = (set - rise) / nBins
            (0 until nBins).iterator.map { b =>
              val a = interpCum(ts, cum, vs, rise + b * dg)
              val z = interpCum(ts, cum, vs, rise + (b + 1) * dg)
              (siteId, day, b, (z - a) / dg)
            }
          }
        }
      }
      .toDF("site", "day", "dil_slot", "dil_value")
  }

  /** The (site, day, rise_h, set_h) table [[dilate]] derives
    * internally, exposed as the companion [[undilate]] needs: same
    * rule (hours of the first/last sample strictly above
    * thresholdFrac × site max), so a round-trip caller does not
    * re-implement the threshold logic and silently drift from it.
    * Days dilate skips (fewer than 2 lit samples) may still appear
    * here; undilate's join ignores them.
    */
  def riseSetTable(
      df: DataFrame,
      site: String,
      tsCol: String,
      valueCol: String,
      thresholdFrac: Double = 0.01
  ): DataFrame = {
    val siteMax = df.groupBy(col(site)).agg(max(col(valueCol)).as("site_max"))
    SideJoin.back(df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull), siteMax, Seq(site))
      .filter(col(valueCol) > col("site_max") * thresholdFrac)
      .groupBy(col(site).cast("long").as("site"), to_date(col(tsCol)).cast("string").as("day"))
      .agg(
        min(TimeAxis.hourOfDay(col(tsCol))).as("rise_h"),
        max(TimeAxis.hourOfDay(col(tsCol))).as("set_h"))
  }

  /** Undilate: map a dilated (site, day, dil_slot, dil_value) frame
    * back onto an `outSlots`-per-day hour grid spanning rise→set,
    * again preserving energy (piecewise-constant density integral).
    * Requires the same rise/set used for dilation, passed as columns
    * (site, day, rise_h, set_h).
    */
  def undilate(
      spark: SparkSession,
      dilated: DataFrame,
      riseSet: DataFrame,
      outSlots: Int
  ): DataFrame =
    undilateN(spark, dilated, riseSet, outSlots, Seq("dil_value"))
      .select(col("site"), col("day"), col("out_slot"), col("values")(0).as("value"))

  /** [[undilate]] over TWO value columns of the same dilated grain in
    * ONE pass — (site, day, dil_slot, v1, v2) → (site, day, out_slot,
    * value_1, value_2). Each output column is bit-identical to a
    * separate undilate of that column. Exists because
    * [[graft.DataHandler.scsfPerformanceIndex]] undilates the measured
    * and fitted columns of ONE frame: two separate undilate passes
    * re-execute the whole solver-priced fit subtree (Spark reuses the
    * solver lane's shuffle, not its post-shuffle IRLS stage) and pay a
    * (site, day) join to re-align what was never apart — measured
    * optimization round 13 (same-JVM interleaved A/B at sf0.1,
    * 40 bins → 288 slots, ProbeTau in git history): 4.6–4.7 s →
    * 3.7–4.1 s warm.
    */
  def undilate2(
      spark: SparkSession,
      dilated: DataFrame,
      riseSet: DataFrame,
      outSlots: Int
  ): DataFrame = {
    val cols = dilated.columns
    require(cols.length == 5,
      s"undilate2 expects (site, day, dil_slot, v1, v2), got ${cols.mkString(", ")}")
    undilateN(spark, dilated, riseSet, outSlots, Seq(cols(3), cols(4)))
      .select(col("site"), col("day"), col("out_slot"),
        col("values")(0).as("value_1"), col("values")(1).as("value_2"))
  }

  /** The per-(site, day) undilate pass over `valueCols`, one
    * accumulator per column: (site, day, out_slot, values).
    */
  private def undilateN(
      spark: SparkSession,
      dilated: DataFrame,
      riseSet: DataFrame,
      outSlots: Int,
      valueCols: Seq[String]
  ): DataFrame = {
    import spark.implicits._
    // riseSet is (site, day)-grain — route it through the engine's
    // side-table join strategy (broadcast by default; `dilated` is
    // matrix-sized and must never shuffle for this attach)
    val joined = SideJoin.back(dilated, riseSet, Seq("site", "day"))
      .select(
        col("site").cast("long"), col("day").cast("string"),
        col("dil_slot").cast("int"), array(valueCols.map(col(_).cast("double")): _*),
        col("rise_h").cast("double"), col("set_h").cast("double")
      )
      .as[(Long, String, Int, Array[Double], Double, Double)]
    joined
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, String), it: Iterator[(Long, String, Int, Array[Double], Double, Double)]) =>
        val (siteId, day) = key
        val bins = it.toArray.sortBy(_._3)
        if (bins.isEmpty) Iterator.empty
        else {
          val rise = bins.head._5
          val set = bins.head._6
          val nV = valueCols.length
          // the grid size comes from the MAX dil_slot, and each bin is
          // positioned by its OWN dil_slot — a frame with a dropped or
          // filtered slot must leave a hole, not silently shift every
          // later bin onto the wrong time interval (bins.length would)
          val nBins = bins.last._3 + 1
          val dg = (set - rise) / nBins
          val dh = (set - rise) / outSlots
          // piecewise-constant density: integral over [a, b). Every
          // edge is a DIRECT product (rise + i·dg / rise + k·dh, one
          // float rounding each), never an accumulated a + dh: when
          // an out-slot boundary and a bin edge coincide in real
          // arithmetic (any commensurable grid pair), the direct
          // forms round to the SAME double, so the overlap there is
          // exactly zero-width and is excluded — the accumulated form
          // left ~1-ulp slivers that added order-sensitive 1e-16-
          // relative terms to the sums (q98's cross-engine gate
          // caught ±1-micro flips from exactly this). Consecutive out
          // slots also share their boundary double exactly, so the
          // per-day integral partitions without gap or overlap.
          (0 until outSlots).iterator.map { k =>
            val a = rise + k * dh
            val b = rise + (k + 1) * dh
            val s = new Array[Double](nV)
            var i = 0
            while (i < bins.length) {
              val g0 = rise + bins(i)._3 * dg
              val g1 = rise + (bins(i)._3 + 1) * dg
              val lo = math.max(a, g0)
              val hi = math.min(b, g1)
              if (hi > lo) {
                val wdt = hi - lo
                var j = 0
                while (j < nV) { s(j) += bins(i)._4(j) * wdt; j += 1 }
              }
              i += 1
            }
            (siteId, day, k, s.map(_ / dh))
          }
        }
      }
      .toDF("site", "day", "out_slot", "values")
  }
}
