package graft.analyses

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.solvers.Kernels

/** Shade analysis (reference `algorithms/shade.py:351-410`,
  * simplified): on the dilated grain, a slot that sits persistently
  * below the site's clear-sky envelope at the same time-of-day marks
  * a shading window (tree/obstruction), as opposed to weather, which
  * is not time-of-day aligned.
  *
  * Fully relational: per (site, dil_slot) median and p90 across days
  * vs the per-slot envelope → shade fraction per slot + contiguous
  * shade windows. (The reference's PCA-basis 2-D decomposition is the
  * round-2 refinement; this captures its detection semantics.)
  */
object Shade {

  /** @return (site, dil_slot, med_v, env_v, shade_frac, shaded)
    *
    * The clear-sky envelope at a slot is the p90 of the slot's
    * *mirror across solar noon* (on the dilated grid, slot
    * `nBins−1−s`), or its own p90 if larger: persistent shade
    * depresses its own slot's statistics, but the day's profile is
    * near-symmetric, so the unshaded mirror restores the envelope —
    * which is what distinguishes an obstruction (time-of-day-locked,
    * asymmetric) from weather (symmetric in expectation).
    */
  def slotShade(dilated: DataFrame, shadeThreshold: Double = 0.25, nBins: Int = 100): DataFrame = {
    val perSlot = dilated
      .groupBy(col("site"), col("dil_slot"))
      .agg(
        percentile(col("dil_value"), lit(0.5)).as("med_v"),
        percentile(col("dil_value"), lit(0.9)).as("p90_v")
      )
    val mirror = perSlot.select(
      col("site"),
      (lit(nBins - 1) - col("dil_slot")).as("dil_slot"),
      col("p90_v").as("mirror_p90")
    )
    perSlot
      .join(mirror, Seq("site", "dil_slot"), "left")
      .withColumn("env_v", greatest(col("p90_v"), coalesce(col("mirror_p90"), col("p90_v"))))
      .withColumn(
        "shade_frac",
        greatest(lit(0.0), lit(1.0) - try_divide(col("med_v"), col("env_v")))
      )
      .withColumn("shaded", col("shade_frac") > shadeThreshold)
      .drop("p90_v", "mirror_p90")
  }

  /** The rank-k projection arithmetic shared by [[pcaShade]] (leave-
    * one-out eigenbasis) and [[projectOnBasis]] (caller-fixed basis):
    * coefficients c_j = p·v_j, reconstruction Σ_j c_j v_j(i), shade
    * fraction = relative depression below the reconstruction.
    */
  private[analyses] def projectRows(
      site: Long,
      p: Array[Double],
      vs: Array[Array[Double]]
  ): IndexedSeq[(Long, Int, Double, Double, Double)] = {
    val coefs = vs.map { v =>
      var s = 0.0
      var i = 0
      while (i < p.length && i < v.length) { s += p(i) * v(i); i += 1 }
      s
    }
    p.indices.map { i =>
      var recon = 0.0
      var j = 0
      // bound i against each basis vector like the coef loop does: a
      // profile longer than the basis (projectOnBasis with arbitrary
      // caller slots) reconstructs 0 past the basis support instead of
      // indexing out of bounds
      while (j < vs.length) {
        if (i < vs(j).length) recon += coefs(j) * vs(j)(i)
        j += 1
      }
      val frac = if (recon > 1e-9) math.max(0.0, 1.0 - p(i) / recon) else 0.0
      (site, i, p(i), recon, frac)
    }
  }

  /** The projection stage alone, on a caller-supplied FIXED basis —
    * the q57 hash-gate surface for p04: with a literal basis the
    * coefficient / reconstruction / shade-fraction arithmetic is
    * SQL-replayable, so the oracle certifies the very code
    * [[pcaShade]] runs per site (both paths share [[projectRows]]),
    * while the eigen solver itself stays spec-gated (PropertySpec
    * `topEigen`, ShadeSpec). Profiles: (site, dil_slot, med_v);
    * missing slots below a site's max read as 0, mirroring
    * pcaShade's dense positional profile.
    */
  def projectOnBasis(
      spark: SparkSession,
      profiles: DataFrame,
      basis: Seq[Array[Double]],
      shadeThreshold: Double = 0.25
  ): DataFrame = {
    import spark.implicits._
    val bs = basis.map(_.clone).toArray
    val rows = profiles
      .select(col("site").cast("long").as("site"), col("dil_slot").cast("int"), col("med_v").cast("double"))
      .as[(Long, Int, Double)]
    SiteLane(rows, (r: (Long, Int, Double)) => r._1) { (site, it) =>
      val arr = it.toArray
      val n = arr.map(_._2).max + 1
      val p = new Array[Double](n)
      arr.foreach(r => p(r._2) = r._3)
      projectRows(site, p, bs).iterator
    }.toDF("site", "dil_slot", "med_v", "recon_v", "shade_frac")
      .withColumn("shaded", col("shade_frac") > shadeThreshold)
  }

  /** PCA-basis shade decomposition (reference
    * `algorithms/shade.py:351-410`, where the clear-sky component is a
    * projection onto a PCA basis loaded from fixtures,
    * `shade.py:22-32`). Here the basis comes from the FLEET itself:
    *
    *  1. per-(site, dil_slot) median day profile (relational agg);
    *  2. fleet Gram matrix G = Σ_site p pᵀ via `treeAggregate` —
    *     map-side partial sums of an nBins² array, so the shuffle into
    *     the driver is O(nBins²) regardless of fleet size;
    *  3. per site, top-k eigenvectors of the LEAVE-ONE-OUT Gram
    *     G − p pᵀ (power iteration, [[Kernels.topEigen]]; the full G
    *     is broadcast, the subtraction and eigen run on executors,
    *     O(k·iters·nBins²) per site — bounded state);
    *  4. per-site clear-sky = rank-k projection of its profile onto
    *     its own leave-one-out basis; shade = relative depression
    *     below the projection.
    *
    * Leave-one-out matters: with the site's own outer product removed,
    * an obstruction notch present at only that site is not
    * representable in its basis, so the projection restores the
    * envelope there and the notch surfaces as shade — the same
    * separation the reference gets from an external PCA corpus, without
    * needing one.
    *
    * @return (site, dil_slot, med_v, recon_v, shade_frac, shaded)
    */
  def pcaShade(
      spark: SparkSession,
      dilated: DataFrame,
      nBins: Int,
      k: Int = 2,
      shadeThreshold: Double = 0.25
  ): DataFrame = {
    import spark.implicits._
    // Persist the per-site profile as an RDD: both downstream jobs
    // (Gram treeAggregate, final projection) read it. Released
    // explicitly in the finally below — not left to ContextCleaner GC,
    // which in a long-lived session holds the partitions until an
    // eventual driver GC cycle.
    val prof = dilated
      .groupBy(col("site"), col("dil_slot"))
      .agg(percentile(col("dil_value"), lit(0.5)).as("med_v"))
      .groupBy(col("site"))
      .agg(sort_array(collect_list(struct(col("dil_slot"), col("med_v")))).as("arr"))
      .select(col("site"), expr("transform(arr, x -> x.med_v)").as("p"))
      .as[(Long, Array[Double])]
      .rdd
      .setName("pcaShade site profiles")
      .persist()

    val n2 = nBins * nBins
    var gramB: org.apache.spark.broadcast.Broadcast[Array[Double]] = null
    try {
      val gramFlat = prof.map(_._2).treeAggregate(new Array[Double](n2))(
      (acc, p) => {
        var i = 0
        while (i < nBins) {
          val pi = if (i < p.length) p(i) else 0.0
          var j = 0
          while (j < nBins) { acc(i * nBins + j) += pi * (if (j < p.length) p(j) else 0.0); j += 1 }
          i += 1
        }
        acc
      },
        (a, b) => { var i = 0; while (i < n2) { a(i) += b(i); i += 1 }; a }
      )
      gramB = spark.sparkContext.broadcast(gramFlat)

      val out = prof
        .flatMap { case (site, p) =>
          val g = gramB.value
          val loo = Array.tabulate(nBins, nBins) { (i, j) =>
            val pi = if (i < p.length) p(i) else 0.0
            val pj = if (j < p.length) p(j) else 0.0
            g(i * nBins + j) - pi * pj
          }
          // drop eigenpairs far below the top eigenvalue: a rank-deficient
          // leave-one-out Gram (tiny fleet) must not contribute numerical
          // noise directions to the projection basis
          val pairs = Kernels.topEigen(loo, k)
          val lambdaMax = if (pairs.nonEmpty) pairs(0)._1 else 0.0
          val vs = pairs.filter(_._1 > lambdaMax * 1e-9).map(_._2)
          projectRows(site, p, vs)
        }
        .toDF("site", "dil_slot", "med_v", "recon_v", "shade_frac")
        .withColumn("shaded", col("shade_frac") > shadeThreshold)
      // Run the projection NOW (eager localCheckpoint): the returned
      // DataFrame then reads its own materialized partitions — sized
      // fleet×nBins rows, alive exactly as long as the caller holds the
      // result — and the finally can release prof and the Gram
      // broadcast deterministically instead of waiting for driver GC.
      out.localCheckpoint(true)
    } finally {
      prof.unpersist(blocking = false)
      if (gramB != null) gramB.destroy()
    }
  }

  /** Per-site shade summary: fraction of slots shaded and the longest
    * contiguous shaded window (gaps-and-islands over dil_slot).
    */
  def siteSummary(slotShade: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("site")).orderBy(col("dil_slot"))
    val runs = slotShade
      .withColumn("__chg", when(lag(col("shaded"), 1).over(w).isNull ||
        lag(col("shaded"), 1).over(w) =!= col("shaded"), 1).otherwise(0))
      .withColumn("__run", sum(col("__chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val runLens = runs
      .filter(col("shaded"))
      .groupBy(col("site"), col("__run"))
      .agg(count(lit(1)).as("run_len"))
    val longest = runLens.groupBy(col("site")).agg(max(col("run_len")).as("longest_shade_run"))
    slotShade
      .groupBy(col("site"))
      .agg(avg(col("shaded").cast("double")).as("shaded_frac"))
      .join(longest, Seq("site"), "left")
      .na.fill(0L, Seq("longest_shade_run"))
  }
}
