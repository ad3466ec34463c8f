package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.analyses.{Pipeline, Quantiles, Shade, SiteLane, TimeShift}
import graft.operators.{DayStats, Dilation}
import graft.sources.Synth

/** End-to-end demo of the solar lifecycle on the synthetic fleet:
  * generate → pipeline report → dilation → quantile envelopes +
  * clear-sky → shade summary → time-shift table. Shows library
  * ergonomics and doubles as a runnable smoke for the whole stack.
  *
  * Usage: runMain graft.examples.FleetDemo [nSites] [nDays]
  */
object FleetDemo {
  def main(args: Array[String]): Unit = {
    val nSites = args.headOption.map(_.toInt).getOrElse(3)
    val nDays = args.lift(1).map(_.toInt).getOrElse(90)
    val spark = GraftSession.local()
    val fleet = Synth.pvFleet(spark, nSites, nDays, slotsPerDay = 48, capStep = 1).cache()

    val report = Pipeline.run(spark, fleet, "site", "ts", "power")
    println("[demo] fleet report:")
    report.toDF().orderBy("site").show(truncate = false)

    val dil = Dilation.dilate(spark, fleet, "site", "ts", "power", nBins = 50)
    val env = Quantiles.estimateAndDetect(spark, dil, nBins = 50).cache()
    val clearFrac = env.agg(avg(col("clear").cast("double"))).collect()(0).getDouble(0)
    println(f"[demo] dilated grid rows: ${env.count()}, clear-sky fraction: $clearFrac%.3f")

    val shade = Shade.siteSummary(Shade.slotShade(env, nBins = 50))
    println("[demo] shade summary (mirror envelope):")
    shade.orderBy("site").show()

    val pcaShade = Shade.siteSummary(Shade.pcaShade(spark, dil, nBins = 50, k = 2))
    println("[demo] shade summary (fleet-PCA basis):")
    pcaShade.orderBy("site").show()

    val shifts = TimeShift.detect(spark, fleet, "site", "ts", "power", slotsPerDay = 48)
    val nShifted = shifts.filter(col("roll_slots") =!= 0).count()
    println(s"[demo] days with detected clock shift: $nShifted")

    // PVPro-style post-processing of each site's daily energy
    import spark.implicits._
    val daily = DayStats.dailyEnergy(fleet, "site", "ts", "power")
    val firstDay = daily.groupBy(col("site")).agg(min(col("day")).as("first_day"))
    val series = daily.join(broadcast(firstDay), Seq("site"))
      .select(col("site"), datediff(col("day"), col("first_day")).cast("double").as("t"), col("energy"))
      .as[(Long, Double, Double)]
    val trendRows = SiteLane(series, (r: (Long, Double, Double)) => r._1, col("t")) { (siteId, it) =>
      val rows = it.toArray
      val (trend, _) = graft.solvers.Kernels.pvproDecompose(rows.map(_._3), rows.map(_._2))
      Iterator.single((siteId, if (trend.nonEmpty) trend.head - trend.last else 0.0))
    }.toDF("site", "trend_drop")
    println("[demo] PVPro monotone trend drop per site:")
    trendRows.orderBy("site").show()
    spark.stop()
  }
}
