package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.analyses.Pipeline
import graft.operators.{DayStats, Dedup, Filling, Runs, Similarity, TimeAxis}
import graft.solvers.Kernels

/** Degenerate-input contracts: at fleet scale an empty site, a
  * single-row site, an all-null value column, or a text shorter than
  * the shingle width is a CERTAINTY, and an operator that throws on
  * one turns a 1000-executor job into a retry storm. Every core
  * entry point must map degenerate input to a sane (usually empty)
  * result — never an exception.
  */
class DegenerateInputSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def emptySeries: DataFrame =
    Seq.empty[(Long, Timestamp, Double)].toDF("site", "ts", "value")

  private def oneRow: DataFrame =
    Seq((1L, ts("2024-06-01 12:00:00"), 5.0)).toDF("site", "ts", "value")

  test("time-axis operators on empty and single-row input") {
    assert(TimeAxis.sortDedup(emptySeries, Seq("site"), "ts", "value").count() == 0)
    assert(TimeAxis.inferFrequency(emptySeries, Seq("site"), "ts").count() == 0)
    assert(TimeAxis.snapToGrid(emptySeries, Seq("site"), "ts", 300L, "value").count() == 0)
    // one row has no deltas → no modal frequency row, but no throw
    assert(TimeAxis.inferFrequency(oneRow, Seq("site"), "ts").count() == 0)
    assert(TimeAxis.sortDedup(oneRow, Seq("site"), "ts", "value").count() == 1)
    assert(TimeAxis.snapToGrid(oneRow, Seq("site"), "ts", 300L, "value").count() == 1)
  }

  test("interpolation leaves an all-null series null and an empty frame empty") {
    val allNull = Seq[(Long, Long, Option[Double])]((1L, 0L, None), (1L, 1L, None), (1L, 2L, None))
      .toDF("site", "x", "v")
    val out = Filling.interpolateLinear(allNull, Seq("site"), "x", "v", "filled")
    assert(out.count() == 3)
    assert(out.filter(col("filled").isNotNull).count() == 0)
    val empty = Seq.empty[(Long, Long, Option[Double])].toDF("site", "x", "v")
    assert(Filling.interpolateLinear(empty, Seq("site"), "x", "v", "filled").count() == 0)
  }

  test("filled day grid on empty input is empty (rise/set medians never see a row)") {
    assert(Filling.filledDayGrid(emptySeries, "site", "ts", "value", 288).count() == 0)
  }

  test("day statistics on empty input are empty, on one row are finite") {
    assert(DayStats.capacity(emptySeries, "site", "value").count() == 0)
    assert(DayStats.qualityFlags(emptySeries, "site", "ts", "value", 5L).count() == 0)
    assert(DayStats.datasetScores(
      DayStats.qualityFlags(emptySeries, "site", "ts", "value", 5L), "site").count() == 0)
    val one = DayStats.capacity(oneRow, "site", "value").collect()
    assert(one.length == 1 && one(0).getDouble(1) == 5.0)
  }

  test("IQR bounds and ECDF on a single row degenerate to that value") {
    val b = Runs.iqrBounds(oneRow, Seq("site"), "value", 1.5).collect()
    assert(b.length == 1)
    val e = Runs.ecdf(oneRow, Seq("site"), "value", "ts").collect()
    assert(e.length == 1)
  }

  test("dedup family: empty corpus and sub-shingle-width text") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactDupGroups(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minhashSignatures(empty, "doc_id", "text", 5, 16).count() == 0)
    // text shorter than the shingle width fingerprints as ONE
    // whole-text shingle (charShingles floors the position range at
    // 1): two identical short docs still become near-dup candidates
    val shorts = Seq((1L, "ab"), (2L, ""), (3L, "ab")).toDF("doc_id", "text")
    val sh = Dedup.charShingles(shorts, "doc_id", "text", 5)
    assert(sh.count() == 3 &&
      sh.filter(col("doc_id") === 1L).collect().map(_.getString(1)).toSeq == Seq("ab"))
    assert(Dedup.minhashSignatures(shorts, "doc_id", "text", 5, 16).count() == 3 * 16)
    // identical short docs land in identical LSH buckets
    val cands = Dedup.lshCandidates(
      Dedup.lshBandsFromShingles(sh, "doc_id", 16, 4), "doc_id").collect()
    assert(cands.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 3L)))
    // exact dedup still sees them (hash of the raw text)
    assert(Dedup.exactDupGroups(shorts, "doc_id", "text").count() == 2)
  }

  test("budget selection on empty, all-null, and single-bucket input") {
    import graft.operators.Mixing
    // empty corpus: the driver-side bucket histogram sees zero rows
    val empty = Seq.empty[(Long, Option[Long], Option[Double])].toDF("doc_id", "tok", "q")
    assert(Mixing.budgetSelect(empty, "doc_id", col("tok"), col("q"), 100L).count() == 0)
    // all-null signals: every doc reported, none kept (no bucket, no
    // boundary — the histogram path must survive an empty collect)
    val nulls = Seq((1L, Option.empty[Long], Option.empty[Double]),
      (2L, Option.empty[Long], Option.empty[Double])).toDF("doc_id", "tok", "q")
    val nr = Mixing.budgetSelect(nulls, "doc_id", col("tok"), col("q"), 100L)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(nr == Map(1L -> false, 2L -> false))
    // one bucket that IS the boundary: the sharded prefix sum alone
    // decides every verdict
    val one = (1L to 10L).map(i => (i, Some(30L), Some(0.5))).toDF("doc_id", "tok", "q")
    val kept = Mixing.budgetSelect(one, "doc_id", col("tok"), col("q"), 100L)
      .filter(col("kept")).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L), s"greedy prefix in id order expected, got $kept")
    // budget larger than the corpus: everything kept, no boundary
    val all = Mixing.budgetSelect(one, "doc_id", col("tok"), col("q"), 10000L)
      .filter(col("kept")).count()
    assert(all == 10)
  }

  test("similarity search with empty query or candidate set is empty") {
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val none = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Similarity.cosineTopK(none, vecs, "vec_id", "embedding", 3).count() == 0)
    assert(Similarity.cosineTopK(vecs, none, "vec_id", "embedding", 3).count() == 0)
    // single centroid: a 1-clustering has no silhouette — b_dist/sil
    // null (documented), never an exception or a fake 0 — INCLUDING
    // for a vector sitting exactly on the centroid (a = 0)
    val one = Seq((9L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val onC = vecs.union(Seq((3L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding"))
    val sil = Similarity.simplifiedSilhouette(onC, one, "vec_id", "embedding").collect()
    assert(sil.length == 3 && sil.forall(r => r.isNullAt(3) && r.isNullAt(4)))
  }

  test("k-means training that throws leaves its projection uncached") {
    // the seed collect is the first pass to evaluate the projection,
    // so a bad vector fails training after the persist (a range, not a
    // local Seq: the optimizer would evaluate a local relation's
    // projection before the persist)
    val vecs = spark.range(1, 4).select(
      col("id").as("vec_id"),
      when(col("id") === 3L, raise_error(lit("bad vector")))
        .otherwise(array(col("id").cast("double"), lit(1.0))).as("embedding"))
    intercept[Exception](Similarity.kmeansFit(vecs, "vec_id", "embedding", k = 2, iters = 2))
    val projection = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("vv"))
    assert(projection.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("solver kernels on tiny arrays return without throwing") {
    // below the design-matrix rank → all-NaN, length preserved
    val f1 = Kernels.quantileFourierFit(Array(1.0), Array(0.0), tau = 0.5, harmonics = 2, period = 7.0)
    assert(f1.length == 1 && f1(0).isNaN)
    val f2 = Kernels.quantileFourierFit(Array(1.0, 2.0), Array(0.0, 1.0), tau = 0.5, harmonics = 2, period = 7.0)
    assert(f2.length == 2)
    assert(Kernels.cdfPwlFit(Array(1.0)).length == 1)
  }

  test("per-site analysis handles a one-day site") {
    val r = Pipeline.analyzeSite(7L, Array(graft.analyses.DayRow(7L, 0.0, 10.0, 0.9, 4.0, 12.0, 288L, 5.0, 1.0)))
    assert(r.site == 7L && r.nDays == 1)
  }

  test("round-8 solvers: empty / one-sample / short series return without throwing") {
    // pvproDecompose5: empty, single sample, series shorter than the period
    val e5 = Kernels.pvproDecompose5(Array.empty[Double], period = 7)
    assert(e5._1.isEmpty && e5._5.isEmpty)
    val one5 = Kernels.pvproDecompose5(Array(4.2), period = 7)
    assert(one5._3(0) == 4.2 && one5._5(0) == 0.0)
    val short5 = Kernels.pvproDecompose5(Array(4.0, 4.1, 3.9), period = 7)
    assert(short5._3.length == 3 && short5._4.forall(v => !v.isNaN))
    // LossFactor: empty and one-day series; estimateLosses on empty
    val de = graft.solvers.LossFactor.decompose(Array.empty[Double], rounds = 3)
    assert(de.seasonal.isEmpty && de.residual.isEmpty)
    val repE = graft.solvers.LossFactor.estimateLosses(
      Array.empty[Double], Array.empty[Boolean], de)
    assert(repE.totalEnergyLoss == 0.0 && repE.degradationRatePctYr.isNaN)
    val d1 = graft.solvers.LossFactor.decompose(Array(6.5), rounds = 3)
    assert(d1.degradation(0) == 0.0 && !d1.seasonal(0).isNaN)
    // SensorId: empty frame and a one-day site produce sane outputs
    val noRows = Seq.empty[(Long, Timestamp, Double, Double)]
      .toDF("site", "ts", "power", "s1")
    assert(graft.analyses.SensorId.identify(
      noRows, "site", "ts", "power", Seq("s1"), nSplits = 3).count() == 0)
    val oneDay = Seq(
      (1L, ts("2024-06-01 10:00:00"), 5.0, 2.0),
      (1L, ts("2024-06-01 12:00:00"), 7.0, 3.0)
    ).toDF("site", "ts", "power", "s1")
    val res1 = graft.analyses.SensorId.identify(
      oneDay, "site", "ts", "power", Seq("s1"), nSplits = 3).collect()
    assert(res1.length == 1 && res1(0).isNullAt(6),
      "a one-day site has no test folds, so cv_rmse must be null")
    assert(graft.analyses.SensorId.choose(
      graft.analyses.SensorId.identify(
        oneDay, "site", "ts", "power", Seq("s1"), nSplits = 3)).count() == 1)
  }

  test("fleet pipeline over an empty frame yields an empty report") {
    assert(Pipeline.run(spark, emptySeries, "site", "ts", "value").count() == 0)
  }

  test("round-5 operators on empty and single-row input") {
    // sunrise/sunset: empty frame → empty grid and empty estimates
    assert(graft.analyses.SunriseSunset
      .roughGridLong(emptySeries, "site", "ts", "value").count() == 0)
    assert(graft.analyses.SunriseSunset
      .estimates(spark, emptySeries, "site", "ts", "value").count() == 0)
    // one sample: its rise/set are the day's first AND last sample —
    // both boundary guards fire, every threshold reads null
    val one = Seq((1L, Timestamp.valueOf("2024-06-01 12:00:00"), 5.0))
      .toDF("site", "ts", "value")
    val g = graft.analyses.SunriseSunset
      .roughGridLong(one, "site", "ts", "value").collect()
    assert(g.length == 21 && g.forall(r => r.isNullAt(3) && r.isNullAt(4)))
    // extra-matrix audit: empty input is empty, and a constant-signal
    // site (p95 == lo) has NO daytime band — null scaled power, rows
    // filtered, never a DIVIDE_BY_ZERO
    assert(DayStats.extraQuality(emptySeries, "site", "ts", "value", lit(null).cast("double"))
      .count() == 0)
    assert(DayStats.extraQuality(one, "site", "ts", "value", lit(null).cast("double"))
      .count() == 0)
    // a two-level site does have a band; the null extra column is
    // counted in n_daytime but not in n_extra_daytime
    val two = Seq(
      (1L, Timestamp.valueOf("2024-06-01 06:00:00"), 0.0),
      (1L, Timestamp.valueOf("2024-06-01 12:00:00"), 5.0))
      .toDF("site", "ts", "value")
    val eq = DayStats.extraQuality(two, "site", "ts", "value", lit(null).cast("double"))
      .collect()
    assert(eq.length == 1 && eq(0).getAs[Long]("n_daytime") == 1L
      && eq(0).getAs[Long]("n_extra_daytime") == 0L)
    // isotonic kernel: empty and singleton
    assert(Kernels.isotonicDecreasing(Array.empty[Double]).isEmpty)
    assert(Kernels.isotonicDecreasing(Array(3.0)).sameElements(Array(3.0)))
    // component stats on an all-singleton labeling: one histogram row,
    // top share = 1/n
    val comp = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "component")
    val cs = Dedup.componentStats(comp, "id").collect()
    assert(cs.length == 1 && cs(0).getAs[Long]("component_size") == 1L
      && math.abs(cs(0).getAs[Double]("top_share") - 1.0 / 3) < 1e-6)
  }

  test("round-6 operators on empty and degenerate input") {
    // bucketed near-dup: empty vectors -> empty pairs; a single vector
    // has no pair partner in its bucket
    val noVecs = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val planes = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding").withColumn("plane_id", col("vec_id").cast("int"))
    assert(Similarity.cosineNearDupPairs(noVecs, planes, "vec_id", "embedding", 0.5).count() == 0)
    val oneVec = Seq((7L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    assert(Similarity.cosineNearDupPairs(oneVec, planes, "vec_id", "embedding", 0.5).count() == 0)
    // NB quality: empty corpus -> empty scores; whitespace-only docs
    // contribute no tokens and get no row (no 0-token division)
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "src")
    assert(graft.operators.TextOps
      .nbQualityScores(noDocs, "doc_id", "text", col("src") === "good").count() == 0)
    val wsDocs = Seq((1L, "   ", "good"), (2L, "real words here", "bad"))
      .toDF("doc_id", "text", "src")
    val nb = graft.operators.TextOps
      .nbQualityScores(wsDocs, "doc_id", "text", col("src") === "good").collect()
    assert(nb.map(_.getLong(0)).toSet == Set(2L), "whitespace-only doc must not score")
    // estimateAll: empty frame -> empty report (no stage throws)
    assert(graft.analyses.Profiler
      .estimateAll(spark, emptySeries, "site", "ts", "value",
        optimizedLocation = false).count() == 0)
    // compareToTruth on an empty estimate table is empty
    val truth = Seq((1L, 37.0, -122.0, 20.0, 10.0))
      .toDF("site", "lat_deg", "lon_deg", "tilt_deg", "az_deg")
    val emptyEst = Seq.empty[(Long, Double, Double, Double, Double, Long, Int)]
      .toDF("site", "lon_est", "lat_est", "tilt_deg", "azimuth_duffie_deg", "n_days", "n_cells")
    assert(graft.analyses.Profiler.compareToTruth(emptyEst, truth, "site").count() == 0)
  }

  test("fleet batch estimation on empty and single-row input never throws") {
    import graft.analyses.FleetEstimation
    // empty fleet: every mode returns an empty frame (no sites in
    // scope -> no rows, including no placeholder rows)
    assert(FleetEstimation.longitude(spark, emptySeries, "site", "ts", "value",
      includeFilled = false).count() == 0L)
    assert(FleetEstimation.latitude(spark, emptySeries, "site", "ts", "value",
      includeFilled = false).count() == 0L)
    assert(FleetEstimation.report(spark, emptySeries, "site", "ts", "value").count() == 0L)
    // one-row fleet: the site is in scope; the study can't form an
    // estimate from a single sample -> the failsafe placeholder row,
    // never an exception
    val one = FleetEstimation.latitude(spark, oneRow, "site", "ts", "value",
      includeFilled = false).collect()
    assert(one.map(_.getLong(0)).toSet == Set(1L))
    assert(one.forall(r => !r.getBoolean(r.fieldIndex("passes_estimation"))
      || !r.isNullAt(r.fieldIndex("latitude"))))
    // resume table naming a site absent from the data is a no-op
    val prev = Seq(Tuple1(99L)).toDF("site")
    assert(FleetEstimation.report(spark, oneRow, "site", "ts", "value",
      resumeFrom = Some(prev)).count() == 1L)
  }
}
