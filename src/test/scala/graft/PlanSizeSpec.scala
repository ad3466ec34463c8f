package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Every `DataHandler` verb (and so every `PlotTables` table) builds an
  * optimized plan of bounded size on sf0.01. A column expression that
  * Catalyst inlines into each of its uses grows the plan, its task
  * binary and its codegen together: the staged ephemeris chain made the
  * polar table's optimized plan 1.98 M characters and each call cost
  * about 40 s of driver planning. The spec runs no action on the
  * plans; a verb that checkpoints its result eagerly
  * (`detectQualityClusters`) runs its jobs while it is built.
  */
class PlanSizeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  /** The largest optimized plan measured on sf0.01 is 48.5 k
    * characters (`longitudeStudy`; `latitudeStudy` 35.0 k, the cooper
    * polar table 12.1 k, the ephemeris polar table 1.8 k); the bound
    * leaves about 2× headroom over the largest.
    */
  val MaxPlanChars = 100000

  test("every DataHandler verb and plot table builds an optimized plan under the bound") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id").as("site"), col("ts"), col("value"))
    val dh = new DataHandler(ev)
    val (extraGrid, extraAudit) = dh.generateExtraMatrix(col("value") * 0.5)
    val verbs: Seq[(String, () => DataFrame)] = Seq(
      "runPipeline" -> (() => dh.runPipeline().toDF()),
      "sunriseSunsetEstimates" -> (() => dh.sunriseSunsetEstimates()),
      "estimateLocationOptimized" -> (() => dh.estimateLocationOptimized()),
      "estimateOrientation" -> (() => dh.estimateOrientation()),
      "latitudeStudy" -> (() => dh.latitudeStudy()),
      "longitudeStudy" -> (() => dh.longitudeStudy()),
      "tiltAzimuthStudy" -> (() => dh.tiltAzimuthStudy()),
      "detectQualityClusters" -> (() => dh.detectQualityClusters()),
      "sunriseSunsetEstimatesFilled" -> (() => dh.sunriseSunsetEstimatesFilled()),
      "generateExtraMatrix.grid" -> (() => extraGrid),
      "generateExtraMatrix.audit" -> (() => extraAudit),
      "report" -> (() => dh.report()),
      "makeDataMatrix" -> (() => dh.makeDataMatrix()),
      "makeFilledDataMatrix" -> (() => dh.makeFilledDataMatrix()),
      "getDensityScores" -> (() => dh.getDensityScores()),
      "getLinearityScores" -> (() => dh.getLinearityScores()),
      "getDailyScores" -> (() => dh.getDailyScores()),
      "scoreDataSet" -> (() => dh.scoreDataSet()),
      "clippingCheck" -> (() => dh.clippingCheck()),
      "capacityEstimate" -> (() => dh.capacityEstimate()),
      "fixDst" -> (() => dh.fixDst("America/Los_Angeles", -8)),
      "applyTimeDilation" -> (() => dh.applyTimeDilation()),
      "estimateLocation" -> (() => dh.estimateLocation()),
      "estimateLocationAndOrientation" -> (() => dh.estimateLocationAndOrientation()),
      "detectClearDays" -> (() => dh.detectClearDays()),
      "estimateQuantilesAndDetect" -> (() => dh.estimateQuantilesAndDetect()),
      "plotHeatmapTable" -> (() => dh.plotHeatmapTable()),
      "plotDailySignalsTable" -> (() => dh.plotDailySignalsTable()),
      "plotDensitySignalTable" -> (() => dh.plotDensitySignalTable()),
      "plotClippingTable" -> (() => dh.plotClippingTable()),
      "plotDailyMaxCdfTable" -> (() => dh.plotDailyMaxCdfTable()),
      "plotDailyMaxPdfTable" -> (() => dh.plotDailyMaxPdfTable()),
      "plotCdfAnalysisTable" -> (() => dh.plotCdfAnalysisTable()),
      "plotCapacityChangeTable" -> (() => dh.plotCapacityChangeTable()),
      "plotBundtTable" -> (() => dh.plotBundtTable()),
      "plotPolarTransformTable(ephemeris)" -> (() => dh.plotPolarTransformTable(37.5, -122.0, -8)),
      "plotPolarTransformTable(cooper)" ->
        (() => dh.plotPolarTransformTable(37.5, -122.0, -8, positionAlgo = "cooper")),
      "plotDailyEnergyTable" -> (() => dh.plotDailyEnergyTable()),
      "plotDataQualityScatterTable" -> (() => dh.plotDataQualityScatterTable()),
      "plotTimeShiftTable" -> (() => dh.plotTimeShiftTable()),
      "plotCircDistTable" -> (() => dh.plotCircDistTable()),
      "findClippedTimes" -> (() => dh.findClippedTimes()),
      "fitStatisticalClearSky" -> (() => dh.fitStatisticalClearSky()),
      "scsfPerformanceIndex" -> (() => dh.scsfPerformanceIndex()),
      "augmentDataFrame" -> (() => dh.augmentDataFrame(dh.getDailyScores(), "good_day", "good"))
    )
    val sizes = verbs.map { case (name, build) =>
      name -> build().queryExecution.optimizedPlan.toString.length
    }
    sizes.sortBy(-_._2).foreach { case (name, n) => info(f"$name%-36s $n%9d chars") }
    val over = sizes.filter(_._2 > MaxPlanChars)
    assert(over.isEmpty, s"optimized plans over $MaxPlanChars characters: ${over.mkString(", ")}")
  }
}
