package graft.analyses

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}

import graft.solvers.Kernels

/** One dilated-grain observation as the solver lane decodes it: flat
  * primitive fields, one object per row. The lane shuffles and sorts
  * the row's columns; the object exists only while its site is read.
  */
private[analyses] case class DilRow(
    site: Long,
    day: String,
    dilSlot: Int,
    dilValue: Double
)

/** Smooth periodic quantile estimation + clear-sky detection on the
  * dilated grain (reference §3.3 lifecycle: `PVQuantiles`
  * `algorithms/quantile_estimation.py:20-94` and `detect_clear_sky`
  * `data_handler.py:2396-2465`).
  *
  * Input is the output of [[graft.operators.Dilation.dilate]] —
  * (site, day, dil_slot, dil_value) — so per-site state is bounded at
  * nBins·num_days doubles regardless of raw scan rate. Each site fits
  * a 2-period Fourier quantile model (daily period = the dilated
  * grid, yearly period = 365.2425 days) per requested tau, then runs
  * the 2-state Viterbi DP on the value/q-hi ratio to label clear
  * periods.
  */
object Quantiles {

  /** One site's solver input, accumulated streaming from the sorted
    * shuffle into primitive arrays (no per-row tuple/boxing, no
    * day→offset hash map, LocalDate parsed once per distinct day):
    * `days` in first-seen (= chronological) order, per-row `dayIdx`
    * into it, the dilated slot, the time axis t = dayOffset·nBins +
    * slot, and the values y.
    */
  private[analyses] final class SiteBlock(
      val site: Long,
      val days: Array[String],
      val dayIdx: Array[Int],
      val slots: Array[Int],
      val t: Array[Double],
      val y: Array[Double]
  )

  /** Streams one site's sorted rows into a [[SiteBlock]]: days in
    * first-seen (= chronological) order, and CALENDAR day offsets,
    * not observed-day ranks — a data gap must advance the
    * yearly-period phase, or every post-gap day evaluates the
    * seasonal basis out of phase.
    */
  private def siteBlock(siteId: Long, rows: Iterator[DilRow], nBins: Int): SiteBlock = {
    val days = scala.collection.mutable.ArrayBuffer.empty[String]
    val dayIdx = new scala.collection.mutable.ArrayBuilder.ofInt
    val slots = new scala.collection.mutable.ArrayBuilder.ofInt
    val t = new scala.collection.mutable.ArrayBuilder.ofDouble
    val y = new scala.collection.mutable.ArrayBuilder.ofDouble
    var curDay: String = null
    var day0 = 0L
    var curOff = 0.0
    while (rows.hasNext) {
      val r = rows.next()
      if (r.day != curDay) {
        curDay = r.day
        val ep = java.time.LocalDate.parse(r.day).toEpochDay
        if (days.isEmpty) day0 = ep
        curOff = (ep - day0).toDouble
        days += r.day
      }
      dayIdx += days.length - 1
      slots += r.dilSlot
      t += curOff * nBins.toDouble + r.dilSlot
      y += r.dilValue
    }
    new SiteBlock(siteId, days.toArray, dayIdx.result(), slots.result(), t.result(), y.result())
  }

  /** The dilated-grain [[SiteLane]]: (day, slot) secondary sort (ISO
    * `yyyy-MM-dd` days order as strings), one [[SiteBlock]] per site.
    */
  private def solverLane[T: Encoder](
      spark: SparkSession,
      dilated: DataFrame,
      nBins: Int
  )(solve: SiteBlock => Iterator[T]): DataFrame = {
    import spark.implicits._
    val rows = dilated
      .select(
        col("site").cast("long").as("site"), col("day").cast("string").as("day"),
        col("dil_slot").cast("int").as("dilSlot"), col("dil_value").cast("double").as("dilValue")
      )
      .as[DilRow]
    SiteLane(rows, (r: DilRow) => r.site, col("day"), col("dilSlot")) { (siteId, it) =>
      solve(siteBlock(siteId, it, nBins))
    }.toDF()
  }

  /** @param crossBasis false (default) fits the additive 2-period
    *                    Fourier model — the throughput choice for the
    *                    fleet pipeline; true fits the full spcqe-style
    *                    cross-product basis ([[Kernels.quantileCrossFit]],
    *                    golden-matched to the reference solver in
    *                    `GoldenQuantileSpec`) where the daily profile
    *                    shape modulates across the season.
    * @return (site, day, dil_slot, dil_value, q_lo, q_mid, q_hi, clear)
    */
  def estimateAndDetect(
      spark: SparkSession,
      dilated: DataFrame,
      nBins: Int = 100,
      tauLo: Double = 0.1,
      tauMid: Double = 0.5,
      tauHi: Double = 0.9,
      harmonicsDaily: Int = 3,
      harmonicsYearly: Int = 2,
      crossBasis: Boolean = false
  ): DataFrame = {
    import spark.implicits._
    val bases = Seq((nBins.toDouble, harmonicsDaily), (365.2425 * nBins, harmonicsYearly))
    solverLane[(Long, String, Int, Double, Double, Double, Double, Boolean)](
      spark, dilated, nBins) { blk =>
      val Seq(lo, mid, hi) =
        if (crossBasis)
          Seq(tauLo, tauMid, tauHi).map(tau =>
            Kernels.quantileCrossFit(blk.y, blk.t, tau, nBins.toDouble, harmonicsDaily,
              365.2425 * nBins, harmonicsYearly))
        else
          // one shared trig design for all three quantile levels
          Kernels.quantileFourierFitMultiTaus(blk.y, blk.t, Seq(tauLo, tauMid, tauHi), bases)
      val n = blk.y.length
      val ratio = new Array[Double](n)
      var i = 0
      while (i < n) {
        ratio(i) = if (hi(i) > 1e-9) blk.y(i) / hi(i) else Double.NaN
        i += 1
      }
      val clear = Kernels.viterbi2(ratio)
      (0 until n).iterator.map { j =>
        (blk.site, blk.days(blk.dayIdx(j)), blk.slots(j), blk.y(j),
          lo(j), mid(j), hi(j), clear(j))
      }
    }.toDF("site", "day", "dil_slot", "dil_value", "q_lo", "q_mid", "q_hi", "clear")
  }

  /** ONE quantile level, no clear-sky DP — the fit
    * [[graft.DataHandler.fitStatisticalClearSky]] consumes (it selects
    * only `q_hi`, and its gated consumers — q94/q98 — gate the fit
    * through FINITENESS and grain, never through its bits). Fitting
    * only the requested tau skips ~2/3 of the IRLS work and the
    * Viterbi pass (optimization round 13; same-JVM interleaved A/B at
    * sf0.1/40 bins: 2.9–3.1 s → 2.2–2.3 s warm, ProbeTau in git
    * history). The fitted values differ from the 3-tau path in the IRLS
    * convergence tail only when IRLS converges inside the iteration cap
    * (the 3-tau path warm-starts each tau from the previous one's
    * coefficients, the single-tau path cold-starts from the LS fit —
    * both reach the same 1e-7 coefficient fixed point when they
    * converge; a cap-limited fit can differ beyond the tail);
    * callers that gate all three quantiles (p03,
    * `estimateQuantilesAndDetect`) keep [[estimateAndDetect]].
    *
    * @return (site, day, dil_slot, dil_value, q_fit)
    */
  def estimateSingle(
      spark: SparkSession,
      dilated: DataFrame,
      nBins: Int = 100,
      tau: Double = 0.9,
      harmonicsDaily: Int = 3,
      harmonicsYearly: Int = 2
  ): DataFrame = {
    import spark.implicits._
    val bases = Seq((nBins.toDouble, harmonicsDaily), (365.2425 * nBins, harmonicsYearly))
    solverLane[(Long, String, Int, Double, Double)](spark, dilated, nBins) { blk =>
      val fit = Kernels.quantileFourierFitMultiTaus(blk.y, blk.t, Seq(tau), bases).head
      (0 until blk.y.length).iterator.map { j =>
        (blk.site, blk.days(blk.dayIdx(j)), blk.slots(j), blk.y(j), fit(j))
      }
    }.toDF("site", "day", "dil_slot", "dil_value", "q_fit")
  }
}
