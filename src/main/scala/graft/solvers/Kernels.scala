package graft.solvers

/** Pure-Scala signal-decomposition kernels mirroring the semantics of
  * the reference's convex programs (SURVEY §2.8;
  * `solardatatools/signal_decompositions.py`). Each is a small
  * iteratively-reweighted least-squares (IRLS) scheme on per-site
  * vectors (length = num-days), matching the reference's tolerance
  * regime (its own tests accept solver-to-solver variation at
  * MAE ≈ 1e-3).
  *
  * All kernels run driver-free on executors, one site at a time, in a
  * per-site lane (`analyses.SiteLane`; a `groupByKey` only where the
  * key is not an integral site id, DESIGN §2 rule 2); state is
  * O(num_days), independent of raw data scale.
  */
object Kernels {

  val YearPeriod = 365.2425

  /** Quantile (pinball) regression on a seasonal Fourier basis —
    * the `tl1_l2d2p365` analog (`signal_decompositions.py:127-185`):
    * smooth periodic fit to the τ-quantile of the signal.
    *
    * IRLS on the smoothed pinball loss: weight_i =
    * |τ − 1{r_i<0}| / max(|r_i|, ε).
    *
    * @return fitted values at each t (length n).
    */
  def quantileFourierFit(
      y: Array[Double],
      t: Array[Double],
      tau: Double,
      harmonics: Int = 3,
      period: Double = YearPeriod,
      iters: Int = 30
  ): Array[Double] = {
    val n = y.length
    val valid = (0 until n).filter(i => !y(i).isNaN).toArray
    val m = valid.length
    val p = 1 + 2 * harmonics
    if (m < p) return Array.fill(n)(Double.NaN)
    val rows = valid.map(i => Linalg.fourierRow(t(i), period, harmonics))
    val yv = valid.map(y)
    var w = Array.fill(m)(1.0)
    var beta = Linalg.wls(m, p, rows, yv, w)
    val eps = 1e-6
    var it = 0
    var converged = false
    while (it < iters && !converged) {
      val r = new Array[Double](m)
      var i = 0
      while (i < m) {
        var f = 0.0
        var a = 0
        while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
        r(i) = yv(i) - f
        i += 1
      }
      i = 0
      while (i < m) {
        val g = if (r(i) < 0) 1.0 - tau else tau
        w(i) = g / math.max(math.abs(r(i)), eps)
        i += 1
      }
      val next = Linalg.wls(m, p, rows, yv, w)
      // convergence early-exit at 1e-7 max coefficient delta — the
      // same criterion quantileFourierFitMultiTaus has carried since
      // round 13 (optimization round 14 brings this single-tau kernel
      // in line): a converged IRLS re-solves the identical weighted
      // system, so the remaining iterations were pure waste. Its
      // consumers: q72 (hash-gated on literal series; its DuckDB
      // oracle runs all 30 IRLS steps, so the gate holds because both
      // sides reach the same fixed point inside the 6-dp rounding,
      // not because the steps replay one for one), p01 through
      // Pipeline.analyzeSite (hash-gated quality, clear-day and
      // capacity fits), and the SunriseSunset threshold optimizer (44
      // fits per site, spec-gated with ~10x tolerance margins).
      var d = 0.0
      var a = 0
      while (a < p) {
        val dd = math.abs(next(a) - beta(a))
        if (dd > d) d = dd
        a += 1
      }
      beta = next
      if (d < 1e-7) converged = true
      it += 1
    }
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = Linalg.fourierRow(t(i), period, harmonics)
      var f = 0.0
      var a = 0
      while (a < p) { f += row(a) * beta(a); a += 1 }
      out(i) = f
      i += 1
    }
    out
  }

  /** Multi-period quantile regression — the smooth-periodic-quantiles
    * analog (`algorithms/quantile_estimation.py:62-94`, spcqe): one
    * Fourier basis per period (e.g. daily 24 h and yearly 8766 h on
    * an absolute-hours axis), fit by the same pinball IRLS as
    * [[quantileFourierFit]].
    *
    * @param bases (period, harmonics) pairs sharing the t axis.
    */
  def quantileFourierFitMulti(
      y: Array[Double],
      t: Array[Double],
      tau: Double,
      bases: Seq[(Double, Int)],
      iters: Int = 30
  ): Array[Double] =
    quantileFourierFitMultiTaus(y, t, Seq(tau), bases, iters).head

  /** Seasonal daytime-threshold fit (reference
    * `algorithms/tilt_azimuth/daytime_threshold_quantile.py:23-39`,
    * `find_daytime_threshold_quantile_seasonality`): given the study's
    * per-day quantile series `y` (their `np.quantile(matrix, p2,
    * axis=0)`), solve
    *
    *   minimize Σ ρ_p1(y − x) + m·‖D₂x‖²
    *
    * and return the smooth seasonal component `x` — the per-day
    * daytime threshold the tilt/azimuth study filters the matrix
    * against when no fixed threshold is given. Pinball IRLS (the
    * [[quantileFourierFit]] weights g/max(|r|, 1e-6)) where every
    * iteration solves the PENTADIAGONAL SPD system
    * (W + m·D₂ᵀD₂)x = Wy via [[Linalg.solveBandedSpd]] (the
    * q77-gated kernel) — O(n) per iteration instead of the
    * reference's dense cvxpy/MOSEK solve. Non-periodic branch only:
    * the reference adds the 365-wrap equality constraint for spans
    * longer than a year; fit such spans per year (the study's season
    * day-ranges already cut shorter windows).
    */
  def seasonalQuantileTrend(
      y: Array[Double],
      p1: Double,
      m: Double = 1e6,
      iters: Int = 30
  ): Array[Double] = {
    val n = y.length
    require(n >= 3, s"seasonal trend needs >= 3 days, got $n")
    // D₂ᵀD₂ bands for the (n−2)×n second-difference rows [1, −2, 1]
    val d0 = Array.tabulate(n) { j =>
      (if (j <= n - 3) 1.0 else 0.0) +
        (if (j >= 1 && j <= n - 2) 4.0 else 0.0) +
        (if (j >= 2) 1.0 else 0.0)
    }
    val off1 = Array.tabulate(n) { j =>
      if (j >= n - 1) 0.0
      else (if (j <= n - 3) -2.0 else 0.0) + (if (j >= 1) -2.0 else 0.0)
    }
    val off2 = Array.tabulate(n)(j => if (j <= n - 3) 1.0 else 0.0)
    def solve(w: Array[Double]): Array[Double] = {
      val band = Array(
        Array.tabulate(n)(j => w(j) + m * d0(j)),
        Array.tabulate(n)(j => m * off1(j)),
        Array.tabulate(n)(j => m * off2(j)))
      val b = Array.tabulate(n)(j => w(j) * y(j))
      Linalg.solveBandedSpd(band, b)
    }
    val w = Array.fill(n)(1.0)
    var x = solve(w)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        val r = y(i) - x(i)
        val g = if (r < 0) 1.0 - p1 else p1
        w(i) = g / math.max(math.abs(r), 1e-6)
        i += 1
      }
      x = solve(w)
      it += 1
    }
    x
  }

  /** [[quantileFourierFitMulti]] for several quantile levels at once:
    * the trig design rows are built ONCE and shared across every τ's
    * IRLS (the row build is ~⅓ of the fit cost when fitting 3
    * quantiles, as the clear-sky stage does), and each IRLS
    * early-exits on coefficient convergence instead of running a
    * fixed iteration budget.
    */
  def quantileFourierFitMultiTaus(
      y: Array[Double],
      t: Array[Double],
      taus: Seq[Double],
      bases: Seq[(Double, Int)],
      iters: Int = 30
  ): Seq[Array[Double]] = {
    val n = y.length
    val p = 1 + bases.map(_._2 * 2).sum
    def rowAt(tv: Double): Array[Double] = {
      val row = new Array[Double](p)
      row(0) = 1.0
      var o = 1
      bases.foreach { case (period, hks) =>
        var k = 1
        while (k <= hks) {
          val w = 2.0 * math.Pi * k * tv / period
          row(o) = math.cos(w); row(o + 1) = math.sin(w)
          o += 2; k += 1
        }
      }
      row
    }
    val valid = (0 until n).filter(i => !y(i).isNaN).toArray
    val m = valid.length
    if (m < p) return taus.map(_ => Array.fill(n)(Double.NaN))
    val rows = valid.map(i => rowAt(t(i)))
    val outRows = Array.tabulate(n)(i => rowAt(t(i)))
    val yv = valid.map(y)
    // warm start: each τ's IRLS starts from the previous τ's
    // converged coefficients (quantile curves of the same signal are
    // near-parallel, so the first reweighting is already close and
    // the convergence early-exit fires several iterations sooner);
    // τ₀ starts from the unweighted LS fit as before
    var warm: Array[Double] = null
    taus.map { tau =>
      val w = Array.fill(m)(1.0)
      var beta = if (warm != null) warm.clone() else Linalg.wls(m, p, rows, yv, w)
      val eps = 1e-6
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        var i = 0
        while (i < m) {
          var f = 0.0
          var a = 0
          while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
          val r = yv(i) - f
          val g = if (r < 0) 1.0 - tau else tau
          w(i) = g / math.max(math.abs(r), eps)
          i += 1
        }
        val next = Linalg.wls(m, p, rows, yv, w)
        var d = 0.0
        var a = 0
        while (a < p) { d = math.max(d, math.abs(next(a) - beta(a))); a += 1 }
        beta = next
        // convergence exit: 1e-7 on the max coefficient delta —
        // energies are O(1-10), so this is far inside the golden
        // tolerances (GoldenQuantileSpec margin ~10x); 1e-9 kept the
        // eps-smoothed pinball weights jittering for extra iterations
        // with no accuracy change (measured at sf0.1: same golden
        // parity, bench variance larger than the saved time)
        if (d < 1e-7) converged = true
        it += 1
      }
      warm = beta
      Array.tabulate(n) { i =>
        val row = outRows(i)
        var f = 0.0
        var a = 0
        while (a < p) { f += row(a) * beta(a); a += 1 }
        f
      }
    }
  }

  /** Smooth periodic quantile fit on the CROSS-PRODUCT basis — the
    * full spcqe model behind the reference's `PVQuantiles`
    * (`algorithms/quantile_estimation.py:65-92`, public method of
    * Meyers et al.): the daily period uses STANDING WAVES
    * (sin(πk·u/P), zero at the period edges — the signal is pinned at
    * zero across the night boundary) and every daily term is
    * multiplied by every yearly Fourier term, so the daily profile
    * SHAPE modulates across the season instead of being additively
    * offset. Frequency-weighted ridge regularization (higher
    * harmonics pay more) plays the role of spcqe's smoothness weight.
    *
    * O(n·p²) per IRLS pass with p = (1+dailyH)(1+2·yearlyH); the
    * additive [[quantileFourierFitMulti]] (p = 1+2ΣH) is the
    * throughput choice in the fleet pipeline — this is the
    * full-fidelity model, golden-matched against the reference
    * solver's own fixture output (`GoldenQuantileSpec`).
    */
  def quantileCrossFit(
      y: Array[Double],
      t: Array[Double],
      tau: Double,
      dailyPeriod: Double,
      dailyH: Int,
      yearlyPeriod: Double,
      yearlyH: Int,
      ridge: Double = 0.1,
      iters: Int = 40
  ): Array[Double] = {
    val n = y.length
    val pd = 1 + dailyH
    val py = 1 + 2 * yearlyH
    val p = pd * py
    def basisAt(tv: Double): Array[Double] = {
      val bd = new Array[Double](pd)
      bd(0) = 1.0
      var k = 1
      while (k <= dailyH) {
        bd(k) = math.sin(math.Pi * k * (tv % dailyPeriod) / dailyPeriod)
        k += 1
      }
      val by = new Array[Double](py)
      by(0) = 1.0
      var j = 1
      while (j <= yearlyH) {
        val w = 2.0 * math.Pi * j * tv / yearlyPeriod
        by(2 * j - 1) = math.cos(w)
        by(2 * j) = math.sin(w)
        j += 1
      }
      val row = new Array[Double](p)
      var a = 0
      while (a < pd) {
        var b = 0
        while (b < py) { row(a * py + b) = bd(a) * by(b); b += 1 }
        a += 1
      }
      row
    }
    // frequency-weighted ridge: coefficient (k daily, j yearly) pays
    // ridge·(k² + j²) — the constant is unpenalized
    val pen = new Array[Double](p)
    var a0 = 0
    while (a0 < pd) {
      var b0 = 0
      while (b0 < py) {
        val j = (b0 + 1) / 2
        pen(a0 * py + b0) = ridge * (a0 * a0 + j * j)
        b0 += 1
      }
      a0 += 1
    }
    val valid = (0 until n).filter(i => !y(i).isNaN).toArray
    val m = valid.length
    if (m < p) return Array.fill(n)(Double.NaN)
    val rows = valid.map(i => basisAt(t(i)))
    val yv = valid.map(y)
    def solve(w: Array[Double]): Array[Double] = {
      val ata = new Array[Double](p * p)
      val atb = new Array[Double](p)
      var i = 0
      while (i < m) {
        val r = rows(i)
        val wi = w(i)
        var a = 0
        while (a < p) {
          atb(a) += wi * r(a) * yv(i)
          var b = a
          while (b < p) { ata(a * p + b) += wi * r(a) * r(b); b += 1 }
          a += 1
        }
        i += 1
      }
      var a = 0
      while (a < p) {
        var b = a
        while (b < p) { ata(b * p + a) = ata(a * p + b); b += 1 }
        ata(a * p + a) += pen(a) + 1e-9
        a += 1
      }
      Linalg.solveSpd(ata, atb, p)
    }
    val w = Array.fill(m)(1.0)
    var beta = solve(w)
    val eps = 1e-6
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < m) {
        var f = 0.0
        var a = 0
        while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
        val r = yv(i) - f
        val g = if (r < 0) 1.0 - tau else tau
        w(i) = g / math.max(math.abs(r), eps)
        i += 1
      }
      beta = solve(w)
      it += 1
    }
    Array.tabulate(n) { i =>
      val row = basisAt(t(i))
      var f = 0.0
      var a = 0
      while (a < p) { f += row(a) * beta(a); a += 1 }
      f
    }
  }

  /** Piecewise-constant + seasonal decomposition — the
    * `l2_l1d1_l2d2p365` analog (`signal_decompositions.py:45-124`),
    * used for time-shift detection: y = x_pwc + seasonal + noise with
    * ℓ1 on the first difference of x_pwc.
    *
    * Block-coordinate scheme: (1) seasonal Fourier LS on y − x;
    * (2) x from IRLS fused-lasso: minimize ‖y − s − x‖² +
    * λ Σ|Δx| via reweighted tridiagonal solves.
    *
    * @return (pwcComponent, seasonalComponent)
    */
  /** @param l1Residual use an ℓ1 (robust) data-fidelity term via IRLS
    *                    residual weights — the `l1_pwc_smoothper_trend`
    *                    variant (`signal_decompositions.py:188-226`)
    *                    used by capacity-change detection, robust to
    *                    outage-day outliers.
    * @param sumCard     nonconvex cardinality penalty on jumps — the
    *                    reference's `sum_card=True` QSS path
    *                    (`_osd_signal_decompositions.py:85-104`, invoked
    *                    with convex warm start at
    *                    `data_handler.py:1356-1405`). The convex (ℓ1 /
    *                    fused-lasso) solution is computed FIRST and used
    *                    to warm-start graduated ℓ0 reweighting
    *                    (w_i = δ²/(Δx_i² + δ²), δ shrinking), then a
    *                    hard-threshold debias: detected breakpoints are
    *                    frozen and each segment refit exactly (weighted
    *                    mean / weighted median per segment) — so kept
    *                    jumps pay NO shrinkage, the property that
    *                    distinguishes SumCard from SumAbs. If the
    *                    nonconvex pass degenerates (non-finite values),
    *                    the convex solution is returned — the same
    *                    fallback discipline the reference applies when
    *                    QSS is unavailable.
    */
  def tvSeasonalFit(
      y: Array[Double],
      t: Array[Double],
      lambdaTv: Double,
      harmonics: Int = 3,
      period: Double = YearPeriod,
      outerIters: Int = 8,
      irlsIters: Int = 12,
      l1Residual: Boolean = false,
      sumCard: Boolean = false
  ): (Array[Double], Array[Double]) = {
    val n = y.length
    val start = median(y) // hoisted: Array.fill evaluates its element per slot
    var x = Array.fill(n)(start)
    var s = new Array[Double](n)
    val eps = 1e-6
    // the trig design depends only on (t, period, harmonics) — build
    // it ONCE, not once per outer iteration (it was ~a third of the
    // kernel's cost at multi-year n; results are bit-identical)
    val p = 1 + 2 * harmonics
    val rows = Array.tabulate(n)(i => Linalg.fourierRow(t(i), period, harmonics))
    val ones = Array.fill(n)(1.0)
    var outer = 0
    while (outer < outerIters) {
      // seasonal on residual (zero-mean seasonal: drop the intercept
      // into the pwc component by fitting with intercept then moving it)
      val resid = Array.tabulate(n)(i => y(i) - x(i))
      val beta = Linalg.wls(n, p, rows, resid, ones)
      s = Array.tabulate(n) { i =>
        var f = 0.0
        var a = 1
        while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
        f
      }
      val base = beta(0)
      // pwc via IRLS on |Δx|
      val target = Array.tabulate(n)(i => y(i) - s(i))
      var it = 0
      while (it < irlsIters) {
        // weights on differences of current x
        val wd = Array.tabulate(n - 1)(i => 1.0 / math.max(math.abs(x(i + 1) - x(i)), eps))
        // robust residual weights (ℓ1 data term) or identity (ℓ2)
        val rw =
          if (l1Residual) Array.tabulate(n)(i => 1.0 / math.max(math.abs(target(i) - x(i)), 1e-3))
          else Array.fill(n)(1.0)
        // tridiagonal system (R + λ D^T W D) x = R·target
        val diag = new Array[Double](n)
        val off = new Array[Double](n)
        val rhs = new Array[Double](n)
        var i2 = 0
        while (i2 < n) { diag(i2) = rw(i2); rhs(i2) = rw(i2) * target(i2); i2 += 1 }
        i2 = 0
        while (i2 < n - 1) {
          val lw = lambdaTv * wd(i2)
          diag(i2) += lw
          diag(i2 + 1) += lw
          off(i2) = -lw
          i2 += 1
        }
        x = Linalg.solveBandedSpd(Array(diag, off.take(n - 1) ++ Array(0.0)), rhs)
        it += 1
      }
      // keep intercept inside x (x already absorbs it via target)
      val _ = base
      outer += 1
    }
    if (!sumCard) (x, s)
    else {
      val xCard = sumCardRefine(y, s, x, lambdaTv, l1Residual)
      if (xCard.forall(java.lang.Double.isFinite)) (xCard, s) else (x, s)
    }
  }

  /** Nonconvex SumCard refinement of a convex fused-lasso solution
    * (see [[tvSeasonalFit]] `sumCard`): graduated ℓ0 reweighting
    * (weights δ²/(Δx²+δ²) penalize SMALL diffs only, so surviving
    * jumps stop paying shrinkage as δ → 0), then exact per-segment
    * refit on the frozen breakpoint support.
    */
  private def sumCardRefine(
      y: Array[Double],
      s: Array[Double],
      xWarm: Array[Double],
      lambdaTv: Double,
      l1Residual: Boolean
  ): Array[Double] = {
    val n = y.length
    if (n < 3) return xWarm.clone()
    val target = Array.tabulate(n)(i => y(i) - s(i))
    var x = xWarm.clone()
    val range = {
      var mn = Double.MaxValue; var mx = Double.MinValue
      var i = 0
      while (i < n) { val v = target(i); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
      math.max(mx - mn, 1e-9)
    }
    var delta = 0.2 * range
    var gnc = 0
    while (gnc < 10) {
      val rw =
        if (l1Residual) Array.tabulate(n)(i => 1.0 / math.max(math.abs(target(i) - x(i)), 1e-3))
        else Array.fill(n)(1.0)
      val diag = new Array[Double](n)
      val off = new Array[Double](n)
      val rhs = new Array[Double](n)
      var i = 0
      while (i < n) { diag(i) = rw(i); rhs(i) = rw(i) * target(i); i += 1 }
      i = 0
      while (i < n - 1) {
        val d = x(i + 1) - x(i)
        // δ²/(Δx²+δ²): ≈1 for |Δx|≪δ (flatten), ≈0 for |Δx|≫δ (free jump)
        val w = delta * delta / (d * d + delta * delta)
        val lw = lambdaTv * w / math.max(delta, 1e-9) // scale keeps flattening pressure as δ shrinks
        diag(i) += lw
        diag(i + 1) += lw
        off(i) = -lw
        i += 1
      }
      x = Linalg.solveBandedSpd(Array(diag, off.take(n - 1) ++ Array(0.0)), rhs)
      delta *= 0.6
      gnc += 1
    }
    // breakpoint support: diffs that survived graduated flattening
    val absDiffs = Array.tabulate(n - 1)(i => math.abs(x(i + 1) - x(i)))
    val tau = math.max(3.0 * median(absDiffs.clone()), 1e-3 * range)
    val out = new Array[Double](n)
    var segStart = 0
    var i = 0
    while (i <= n - 1) {
      val atBreak = i < n - 1 && absDiffs(i) > tau
      if (atBreak || i == n - 1) {
        val segEnd = i + 1 // exclusive
        val seg = java.util.Arrays.copyOfRange(target, segStart, segEnd)
        val v =
          if (l1Residual) median(seg)
          else { var sum = 0.0; var j = 0; while (j < seg.length) { sum += seg(j); j += 1 }; sum / seg.length }
        var j = segStart
        while (j < segEnd) { out(j) = v; j += 1 }
        segStart = segEnd
      }
      i += 1
    }
    out
  }

  /** Full `l1_pwc_smoothper_trend` analog
    * (`signal_decompositions.py:188-226`): piecewise-constant (TV) +
    * smooth periodic + EXPLICIT linear trend + robust (ℓ1) residual.
    * The trend and seasonal are fit JOINTLY in one WLS (a seasonal
    * basis fit alone absorbs slow drifts); the TV term then only pays
    * for genuine capacity steps, so a slow degradation drift lands in
    * the trend component instead of a staircase.
    *
    * @return (pwc, seasonal, trend) components aligned with `t`
    */
  def tvSeasonalTrendFit(
      y: Array[Double],
      t: Array[Double],
      lambdaTv: Double,
      harmonics: Int = 3,
      period: Double = YearPeriod,
      iters: Int = 25,
      l1Residual: Boolean = true,
      seasSmooth: Double = 0.0
  ): (Array[Double], Array[Double], Array[Double]) = {
    val n = y.length
    val tMean = t.sum / math.max(n, 1)
    // design R = [cos.., sin.., (t - tMean)/period] (no intercept: the
    // mean level belongs to the pwc component)
    val p = 2 * harmonics + 1
    val rows = Array.tabulate(n) { i =>
      Linalg.fourierRow(t(i), period, harmonics).drop(1) :+ ((t(i) - tMean) / period)
    }
    val start = median(y) // hoisted: Array.fill evaluates its element per slot
    var x = Array.fill(n)(start)
    var beta = new Array[Double](p)
    val eps = 1e-4
    var it = 0
    while (it < iters) {
      // IRLS weights from the current iterate (first pass unweighted:
      // reweighting from a flat start freezes the attribution)
      val cold = it == 0
      val wd =
        if (cold) Array.fill(n - 1)(1.0)
        else Array.tabulate(n - 1)(i => 1.0 / math.max(math.abs(x(i + 1) - x(i)), eps))
      val rw =
        if (l1Residual && !cold) Array.tabulate(n) { i =>
          var f = 0.0; var a = 0
          while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
          1.0 / math.max(math.abs(y(i) - x(i) - f), 1e-3)
        }
        else Array.fill(n)(1.0)
      // JOINT solve over (x, beta) for these weights — alternating
      // x/beta updates zigzag between the highly correlated step and
      // slope directions and mis-attribute; the Schur complement on
      // the banded block is exact and O((p+2) · n):
      //   A x = Drw (y − Rβ),  A = Drw + λ DᵀWdD (tridiagonal)
      //   (Rᵀ B R) β = Rᵀ B y, B = Drw − Drw A⁻¹ Drw
      val diag = new Array[Double](n)
      val off = new Array[Double](n)
      var i2 = 0
      while (i2 < n) { diag(i2) = rw(i2); i2 += 1 }
      i2 = 0
      while (i2 < n - 1) {
        val lw = lambdaTv * wd(i2)
        diag(i2) += lw
        diag(i2 + 1) += lw
        off(i2) = -lw
        i2 += 1
      }
      def bApply(v: Array[Double]): Array[Double] = {
        val w1 = Array.tabulate(n)(i => rw(i) * v(i))
        val z = Linalg.solveBandedSpd(Array(diag.clone(), off.take(n - 1) ++ Array(0.0)), w1)
        Array.tabulate(n)(i => w1(i) - rw(i) * z(i))
      }
      val bCols = Array.tabulate(p)(a => bApply(Array.tabulate(n)(i => rows(i)(a))))
      val bY = bApply(y)
      val ata = new Array[Double](p * p)
      val atb = new Array[Double](p)
      var a = 0
      while (a < p) {
        var i3 = 0
        while (i3 < n) { atb(a) += rows(i3)(a) * bY(i3); i3 += 1 }
        var b = 0
        while (b < p) {
          var i4 = 0
          var sum = 0.0
          while (i4 < n) { sum += rows(i4)(a) * bCols(b)(i4); i4 += 1 }
          ata(a * p + b) = sum
          b += 1
        }
        a += 1
      }
      // seasonal smoothness penalty (the reference's ‖W z‖² term on
      // the smooth-periodic component, spcqe
      // `make_regularization_matrix` — the same frequency-weighted
      // ridge convention as [[quantileCrossFit]]): harmonic k pays
      // seasSmooth·k² on its coefficients; the trend column stays
      // unpenalized. Without it, a large step over exactly one period
      // aliases into the fundamental and the seasonal absorbs step
      // amplitude.
      if (seasSmooth > 0.0) {
        var a5 = 0
        while (a5 < p - 1) {
          val k = a5 / 2 + 1
          ata(a5 * p + a5) += seasSmooth * k * k
          a5 += 1
        }
      }
      beta = Linalg.solveSpd(ata, atb, p)
      val rhs = Array.tabulate(n) { i =>
        var f = 0.0; var a2 = 0
        while (a2 < p) { f += rows(i)(a2) * beta(a2); a2 += 1 }
        rw(i) * (y(i) - f)
      }
      x = Linalg.solveBandedSpd(Array(diag.clone(), off.take(n - 1) ++ Array(0.0)), rhs)
      it += 1
    }
    val s = Array.tabulate(n) { i =>
      var f = 0.0; var a = 0
      while (a < p - 1) { f += rows(i)(a) * beta(a); a += 1 }
      f
    }
    val tr = Array.tabulate(n)(i => beta(p - 1) * rows(i)(p - 1))
    (x, s, tr)
  }

  /** Piecewise-linear CDF fit pinned to its endpoints — the
    * `l2_l1d2_constrained` analog (`signal_decompositions.py:229-256`)
    * used by clipping detection: minimize ‖y − x‖² + λ Σ|Δ²x| with
    * x(0)=y(0), x(n−1)=y(n−1), via IRLS pentadiagonal solves.
    */
  def cdfPwlFit(y: Array[Double], lambdaD2: Double = 1e3, iters: Int = 15): Array[Double] = {
    val n = y.length
    if (n < 5) return y.clone()
    var x = y.clone()
    val eps = 1e-8
    var it = 0
    while (it < iters) {
      val wd = Array.tabulate(n - 2)(i => 1.0 / math.max(math.abs(x(i) - 2 * x(i + 1) + x(i + 2)), eps))
      // banded normal matrix I + λ D2^T W D2 (half-bandwidth 2)
      val d0 = Array.fill(n)(1.0)
      val d1 = new Array[Double](n)
      val d2 = new Array[Double](n)
      var i = 0
      while (i < n - 2) {
        val lw = lambdaD2 * wd(i)
        // rows of D2: coefficients (1, -2, 1) at (i, i+1, i+2)
        d0(i) += lw
        d0(i + 1) += 4 * lw
        d0(i + 2) += lw
        d1(i) += -2 * lw
        d1(i + 1) += -2 * lw
        d2(i) += lw
        i += 1
      }
      // endpoint pinning via large weights
      val big = 1e8
      d0(0) += big
      d0(n - 1) += big
      val b = y.clone()
      b(0) += big * y(0)
      b(n - 1) += big * y(n - 1)
      x = Linalg.solveBandedSpd(Array(d0, d1, d2), b)
      it += 1
    }
    // NOTE (round 14): an IRLS convergence early-exit was evaluated
    // and REJECTED here — a tolerance exit moves convergence-tail
    // bits that q97's point-mass thresholds and p01's clipped verdict
    // compare, and a provably-identical BITWISE fixed-point exit was
    // measured to never fire (15 vs 60 iterations differ in the last
    // ulp indefinitely).
    x
  }

  /** Soiling separation (reference `algorithms/soiling.py:78-178`):
    * decompose daily energy (in log space) into
    * seasonal × degradation × soiling, where soiling is a sawtooth —
    * gradual decline, sharp recoveries.
    *
    *  1. JOINT τ=0.9 pinball fit of the clean-day upper envelope on a
    *     `[1, t, Fourier]` design — trend and seasonal must be fit
    *     together (sequential fits tilt the line toward the seasonal
    *     hump; soiling only pulls *down*, so the upper quantile of the
    *     joint model isolates level + degradation + seasonal);
    *  2. soiling = asymmetric-TV IRLS on the below-envelope residual
    *     (upward recovery jumps are penalized 0.3×, declines smoothed),
    *     clipped to ≤ 1.
    *
    * @return (soilingFactor per day, degradationRatePerDay, seasonal multiplier per day)
    */
  def soilingSeparation(
      energy: Array[Double],
      t: Array[Double],
      period: Double = YearPeriod,
      harmonics: Int = 2,
      lambdaTv: Double = 0.05,
      tau: Double = 0.9
  ): (Array[Double], Double, Array[Double]) = {
    val n = energy.length
    val logE = energy.map(v => math.log(math.max(v, 1e-9)))
    val rows = soilingDesign(t, period, harmonics)
    soilingCore(logE, rows, lambdaTv, tau, beta0 = null, irlsTol = 0.0, tvTol = 0.0)
  }

  /** The `[1, t, Fourier]` design used by [[soilingSeparation]], built
    * once so MC resampling ([[mcDegradationRate]]) can share one trig
    * evaluation across hundreds of holdout refits.
    */
  private def soilingDesign(t: Array[Double], period: Double, harmonics: Int): Array[Array[Double]] = {
    val p = 2 + 2 * harmonics
    Array.tabulate(t.length) { i =>
      val f = Linalg.fourierRow(t(i), period, harmonics)
      val row = new Array[Double](p)
      row(0) = 1.0
      row(1) = t(i)
      System.arraycopy(f, 1, row, 2, 2 * harmonics)
      row
    }
  }

  /** [[soilingRateIrls]] from raw energies — the cross-engine gate
    * face (q76): builds the log series and the `[1, t, Fourier]`
    * design exactly as [[soilingSeparation]] does, cold-starts
    * (beta0 = null → unweighted init solve), and returns the fitted
    * envelope coefficients. `harmonics = 0` degrades the design to
    * `[1, t]`, which is what the SQL oracle replays (2×2 Cramer per
    * IRLS step); the code path — pinball weights, ridge WLS,
    * fixed-point exit — is identical at every harmonic count.
    */
  def soilingRateFit(
      energy: Array[Double],
      t: Array[Double],
      tau: Double,
      period: Double = YearPeriod,
      harmonics: Int = 2,
      irlsTol: Double = 0.0
  ): (Double, Int, Array[Double]) = {
    val logE = energy.map(v => math.log(math.max(v, 1e-9)))
    val rows = soilingDesign(t, period, harmonics)
    soilingRateIrls(logE, rows, tau, beta0 = null, irlsTol = irlsTol)
  }

  /** The joint τ-pinball IRLS of [[soilingSeparation]] alone — the
    * shared body behind it and the MC sampler's refits: fits the
    * `[1, t, Fourier]` envelope and returns (trend coefficient,
    * iterations, beta). `beta0` warm-starts the reweighting, skipping
    * the unweighted init solve; the MC sampler's warm-started refits
    * still mostly run to the 40-iteration cap (see
    * [[mcDegradationRate]]). `irlsTol > 0` exits on the coefficient
    * fixed point, `irlsTol = 0` reproduces the legacy fixed 40
    * iterations bit-for-bit.
    */
  private def soilingRateIrls(
      logE: Array[Double],
      rows: Array[Array[Double]],
      tau: Double,
      beta0: Array[Double],
      irlsTol: Double
  ): (Double, Int, Array[Double]) = {
    val n = logE.length
    val p = if (rows.nonEmpty) rows(0).length else 2
    var beta =
      if (beta0 != null) beta0.clone()
      else Linalg.wls(n, p, rows, logE, Array.fill(n)(1.0))
    var k = 0
    var done = false
    while (k < 40 && !done) {
      val w = Array.tabulate(n) { i =>
        var f = 0.0
        var a = 0
        while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
        val r = logE(i) - f
        val g = if (r < 0) 1.0 - tau else tau
        g / math.max(math.abs(r), 1e-6)
      }
      val next = Linalg.wls(n, p, rows, logE, w)
      if (irlsTol > 0) {
        var d = 0.0
        var a = 0
        while (a < p) { d = math.max(d, math.abs(next(a) - beta(a))); a += 1 }
        done = d <= irlsTol
      }
      beta = next
      k += 1
    }
    (beta(1), k, beta)
  }

  private def soilingCore(
      logE: Array[Double],
      rows: Array[Array[Double]],
      lambdaTv: Double,
      tau: Double,
      beta0: Array[Double],
      irlsTol: Double,
      tvTol: Double
  ): (Array[Double], Double, Array[Double]) = {
    val n = logE.length
    val p = if (rows.nonEmpty) rows(0).length else 2
    val (degrRate, _, beta) = soilingRateIrls(logE, rows, tau, beta0, irlsTol)
    var k = 0
    val fit = Array.tabulate(n) { i =>
      var f = 0.0
      var a = 0
      while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
      f
    }
    val seasonal = Array.tabulate(n) { i =>
      var f = 0.0
      var a = 2
      while (a < p) { f += rows(i)(a) * beta(a); a += 1 }
      f
    }
    // asymmetric-TV soiling on the below-envelope residual
    val target = Array.tabulate(n)(i => math.min(logE(i) - fit(i), 0.0))
    var x = target.clone()
    k = 0
    var tvDone = false
    while (k < 10 && !tvDone) {
      val wd = Array.tabulate(n - 1) { i =>
        val d = x(i + 1) - x(i)
        val base = 1.0 / math.max(math.abs(d), 1e-2)
        if (d > 0) base * 0.3 else base
      }
      val diag = Array.fill(n)(1.0)
      val off = new Array[Double](n)
      var i2 = 0
      while (i2 < n - 1) {
        val lw = lambdaTv * wd(i2)
        diag(i2) += lw
        diag(i2 + 1) += lw
        off(i2) = -lw
        i2 += 1
      }
      val next = Linalg.solveBandedSpd(Array(diag, off), target.clone())
      if (tvTol > 0) {
        var d = 0.0
        var i3 = 0
        while (i3 < n) { d = math.max(d, math.abs(next(i3) - x(i3))); i3 += 1 }
        tvDone = d <= tvTol
      }
      x = next
      k += 1
    }
    val soilLog = x.map(v => math.min(v, 0.0))
    (soilLog.map(math.exp), degrRate, seasonal.map(math.exp))
  }

  /** Randomized Monte-Carlo degradation-rate distribution with the
    * reference's stabilization exit (`loss_factor_analysis.py:106-196`):
    * each sample draws τ ~ U(0.85, 0.95), soiling stiffness
    * ~ U(0.1, 1), and a random `fractionHold` day holdout (without
    * replacement), refits [[soilingSeparation]], and records the
    * annualized rate (%/yr). The loop exits when BOTH the last change
    * and the mean of the last 10 changes of the running
    * (P50, P2.5, P97.5) are within (medianTol, confidenceTol,
    * confidenceTol) — after ≥ 20 samples, ≤ maxSamples. Seeded RNG:
    * the draw sequence (and hence the result) is reproducible, which
    * the reference dodges with wide test tolerances (SURVEY §7.5 #3).
    *
    * @return ((p50, p025, p975) in %/yr, samples drawn, converged)
    */
  /** One MC resample draw — the exact (τ, stiffness, holdout)
    * randomness contract of [[mcDegradationRate]], factored out so the
    * stream itself is cross-engine gateable (q74): two `nextDouble`
    * calls then a partial Fisher–Yates whose swap indices come from
    * `nextInt(n − i)`. Returns the kept (sorted) day indices.
    */
  def mcDraw(rng: scala.util.Random, n: Int, nHold: Int): (Double, Double, Array[Int]) = {
    val tau = 0.85 + 0.10 * rng.nextDouble()
    val stiffness = 0.1 + 0.9 * rng.nextDouble()
    // random holdout without replacement: partial Fisher–Yates
    val ixs = Array.tabulate(n)(identity)
    var i = 0
    while (i < nHold) {
      val j = i + rng.nextInt(n - i)
      val tmp = ixs(i); ixs(i) = ixs(j); ixs(j) = tmp
      i += 1
    }
    (tau, stiffness, ixs.drop(nHold).sorted)
  }

  /** The first `k` draws of [[mcDegradationRate]]'s seeded sampler,
    * as data: the q74 gate face. The oracle replays java.util.Random's
    * 48-bit LCG (seed scramble, `next(bits)` high-bit extraction, the
    * two-call `nextDouble` composition, and `nextInt`'s modulo +
    * rejection branch) in SQL integer arithmetic, so the entire
    * randomness stream feeding the MC sampler is cross-engine pinned.
    */
  def mcDrawStream(seed: Long, n: Int, fractionHold: Double, k: Int): Seq[(Int, Double, Double, Array[Int])] = {
    val rng = new scala.util.Random(seed)
    val nHold = (n * fractionHold).toInt
    (0 until k).map { s =>
      val (tau, stiffness, keep) = mcDraw(rng, n, nHold)
      (s, tau, stiffness, keep)
    }
  }

  def mcDegradationRate(
      energy: Array[Double],
      t: Array[Double],
      seed: Long,
      maxSamples: Int = 500,
      medianTol: Double = 5e-3,
      confidenceTol: Double = 1e-2,
      fractionHold: Double = 0.2,
      period: Double = YearPeriod,
      harmonics: Int = 2
  ): (Array[Double], Int, Boolean) = {
    val n = energy.length
    require(n >= 20, s"need >= 20 days for MC resampling, got $n")
    val rng = new scala.util.Random(seed)
    // Shared across all samples (round-6 perf, VERDICT r5 #1): one trig
    // design + one log pass for the whole series; each holdout refit
    // subsets by index instead of rebuilding [1, t, Fourier] rows.
    val rowsAll = soilingDesign(t, period, harmonics)
    val logAll = energy.map(v => math.log(math.max(v, 1e-9)))
    val p = 2 + 2 * harmonics
    // Full-data τ=0.9 point estimate: every sample's IRLS warm-starts
    // here and may exit on a 1e-8 coefficient fixed-point (≈ 1.3e-4
    // %/yr on the annualized rate — far below the sampler's own exit
    // tolerances). Measured on a 16-site, 730-day synthetic fleet, that
    // exit rarely fires: 682 of 725 refits ran the full 40 iterations
    // and the other 43 stopped after 23–39.
    val betaFull = {
      val (_, _, b) = soilingRateIrls(logAll, rowsAll, tau = 0.9, beta0 = null, irlsTol = 1e-8)
      b
    }
    val degs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var prevStats: Array[Double] = null
    val diffs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    def runningStats(): Array[Double] = {
      val sorted = degs.toArray.sorted
      def q(p: Double): Double = {
        val pos = p * (sorted.length - 1)
        val lo = pos.toInt
        val hi = math.min(lo + 1, sorted.length - 1)
        sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
      }
      Array(q(0.5), q(0.025), q(0.975))
    }
    var counter = 0
    var smallNow = false
    var smallWindow = false
    val nHold = (n * fractionHold).toInt
    while (!(smallNow && smallWindow) && counter < maxSamples) {
      val (tau, stiffness, keep) = mcDraw(rng, n, nHold)
      // stiffness is drawn to keep the seeded sequence aligned with the
      // reference's sampler, but the recorded statistic is the joint
      // envelope's trend coefficient alone — the TV soiling stage (the
      // only consumer of stiffness) never feeds back into it, so the
      // refit solves only the IRLS.
      val m = keep.length
      val logSub = new Array[Double](m)
      val rowsSub = new Array[Array[Double]](m)
      var s = 0
      while (s < m) { logSub(s) = logAll(keep(s)); rowsSub(s) = rowsAll(keep(s)); s += 1 }
      val (rate, _, _) = soilingRateIrls(logSub, rowsSub, tau, betaFull, irlsTol = 1e-8)
      degs += 100.0 * (math.exp(rate * 365.2425) - 1.0) // %/yr
      val stats = runningStats()
      if (prevStats != null)
        diffs += Array.tabulate(3)(k => math.abs(stats(k) - prevStats(k)))
      prevStats = stats
      counter += 1
      if (counter >= 20 && diffs.nonEmpty) {
        val tol = Array(medianTol, confidenceTol, confidenceTol)
        val last = diffs.last
        smallNow = (0 until 3).forall(k => last(k) <= tol(k))
        val window = diffs.takeRight(10)
        smallWindow = (0 until 3).forall { k =>
          window.map(_(k)).sum / window.length <= tol(k)
        }
      }
    }
    (prevStats, counter, smallNow && smallWindow)
  }

  /** Two-state Viterbi dynamic program for clear-sky labeling
    * (`algorithms/clear_sky_detection.py:84-108`): emission cost from
    * |ratio − 1| vs a flat penalty, asymmetric transition costs.
    * Returns the boolean "clear" state path.
    */
  def viterbi2(
      ratio: Array[Double],
      clearTol: Double = 0.25,
      transOn: Double = 2.0,
      transOff: Double = 0.5
  ): Array[Boolean] = {
    val n = ratio.length
    if (n == 0) return Array.empty
    def emitClear(r: Double): Double = if (r.isNaN) 10.0 else math.abs(r - 1.0) / clearTol
    def emitCloud(r: Double): Double = 1.0
    val cost = Array.ofDim[Double](n, 2)
    val back = Array.ofDim[Int](n, 2)
    cost(0)(0) = emitCloud(ratio(0))
    cost(0)(1) = emitClear(ratio(0))
    var i = 1
    while (i < n) {
      val r = ratio(i)
      // state 0 = cloudy, 1 = clear
      val stay0 = cost(i - 1)(0)
      val from1 = cost(i - 1)(1) + transOff
      if (stay0 <= from1) { cost(i)(0) = stay0 + emitCloud(r); back(i)(0) = 0 }
      else { cost(i)(0) = from1 + emitCloud(r); back(i)(0) = 1 }
      val stay1 = cost(i - 1)(1)
      val from0 = cost(i - 1)(0) + transOn
      if (stay1 <= from0) { cost(i)(1) = stay1 + emitClear(r); back(i)(1) = 1 }
      else { cost(i)(1) = from0 + emitClear(r); back(i)(1) = 0 }
      i += 1
    }
    val path = new Array[Boolean](n)
    var st = if (cost(n - 1)(1) <= cost(n - 1)(0)) 1 else 0
    i = n - 1
    while (i >= 0) {
      path(i) = st == 1
      st = back(i)(st)
      i -= 1
    }
    path
  }

  /** Exact Shapley attribution of total loss across multiplicative
    * factors (`loss_factor_analysis.py:578-656`): players = factors,
    * v(S) = energy with factors in S applied. Exactness:
    * Σ attributions = v(all) − v(∅).
    *
    * @param baseline  per-period baseline energy
    * @param factors   per-factor multiplicative series (each length n)
    * @return per-factor attributed energy change
    */
  def shapleyAttribution(baseline: Array[Double], factors: Array[Array[Double]]): Array[Double] = {
    val k = factors.length
    val n = baseline.length
    def v(mask: Int): Double = {
      var tot = 0.0
      var i = 0
      while (i < n) {
        var e = baseline(i)
        var f = 0
        while (f < k) {
          if ((mask & (1 << f)) != 0) e *= factors(f)(i)
          f += 1
        }
        tot += e
        i += 1
      }
      tot
    }
    val vals = Array.tabulate(1 << k)(v)
    val fact = Array.iterate(1L, k + 1)(identity).zipWithIndex.map { case (_, i) => (1 to i).foldLeft(1L)(_ * _) }
    val attr = new Array[Double](k)
    var f = 0
    while (f < k) {
      var s = 0
      while (s < (1 << k)) {
        if ((s & (1 << f)) == 0) {
          val size = Integer.bitCount(s)
          val weight = fact(size).toDouble * fact(k - size - 1).toDouble / fact(k).toDouble
          attr(f) += weight * (vals(s | (1 << f)) - vals(s))
        }
        s += 1
      }
      f += 1
    }
    attr
  }

  /** Hyper-parameter grid search with deterministic holdout (the
    * reference's weight-selection pattern: `time_shifts.py:201-272`,
    * `capacity_change.py:132-182`): split points by index hash (no
    * RNG state), fit [[tvSeasonalFit]] per weight on the train set,
    * score holdout MAE with step-interpolated components, pick the
    * best weight (ties → smaller weight).
    *
    * @return (bestWeight, pwc, seasonal) with components refit on all
    *         points at the chosen weight.
    */
  def optimizeTvWeight(
      y: Array[Double],
      t: Array[Double],
      weights: Array[Double],
      harmonics: Int = 3,
      period: Double = YearPeriod,
      l1Residual: Boolean = false
  ): (Double, Array[Double], Array[Double]) = {
    val n = y.length
    val isHold = Array.tabulate(n)(i => (i * 2654435761L) % 100 >= 85)
    val trainIdx = (0 until n).filterNot(isHold).toArray
    val holdIdx = (0 until n).filter(isHold).toArray
    val best =
      if (trainIdx.length < 8 || holdIdx.isEmpty) weights.head
      else {
        val yTr = trainIdx.map(y)
        val tTr = trainIdx.map(t)
        weights.map { w =>
          val (pwc, s) = tvSeasonalFit(yTr, tTr, w, harmonics, period, l1Residual = l1Residual)
          val mae = holdIdx.map { i =>
            // step-interpolate both components at the nearest train time
            var lo = 0
            var hi = tTr.length - 1
            while (hi - lo > 1) {
              val mid = (lo + hi) >>> 1
              if (tTr(mid) <= t(i)) lo = mid else hi = mid
            }
            val j = if (math.abs(tTr(hi) - t(i)) < math.abs(tTr(lo) - t(i))) hi else lo
            math.abs(y(i) - (pwc(j) + s(j)))
          }.sum / holdIdx.length
          (mae, w)
        }.minBy(mw => (mw._1, mw._2))._2
      }
    val (pwc, s) = tvSeasonalFit(y, t, best, harmonics, period, l1Residual = l1Residual)
    (best, pwc, s)
  }

  /** Top-k eigenpairs of a small symmetric PSD matrix (e.g. a Gram
    * matrix of daily profiles) by power iteration with deflation —
    * the driver-side core of fleet-scale PCA (reference: the shade
    * algorithm's PCA clear-sky basis, `algorithms/shade.py:22-32`,
    * there loaded from fixtures; here computed from the fleet's own
    * Gram matrix, which Spark accumulates map-side).
    *
    * Rank exhaustion (a matvec that underflows to ~zero — the start
    * vector lies in the residual null space, or a rank-deficient
    * matrix runs out of range before k) TERMINATES the sweep rather
    * than emitting the unnormalized start vector: every returned
    * eigenvector is unit-norm, so callers may treat the result as an
    * orthonormal basis. Fewer than k pairs may be returned.
    *
    * @param g symmetric n×n matrix, row-major rows
    * @return ≤k (eigenvalue, eigenvector) pairs, eigenvalue descending
    */
  def topEigen(g: Array[Array[Double]], k: Int, iters: Int = 200): Array[(Double, Array[Double])] = {
    val n = g.length
    val a = Array.tabulate(n, n)((i, j) => g(i)(j)) // deflated copy
    val out = Array.newBuilder[(Double, Array[Double])]
    var c = 0
    var exhausted = false
    while (c < math.min(k, n) && !exhausted) {
      // deterministic start: basis vector with largest diagonal + ones mix
      var v = Array.tabulate(n)(i => 1.0 + a(i)(i))
      var lambda = 0.0
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val w = Array.tabulate(n)(i => {
          var s = 0.0; var j = 0
          while (j < n) { s += a(i)(j) * v(j); j += 1 }
          s
        })
        val nrm = math.sqrt(w.map(x => x * x).sum)
        if (nrm < 1e-300) { converged = true; exhausted = true }
        else {
          val vNew = w.map(_ / nrm)
          var diff = 0.0
          var i2 = 0
          while (i2 < n) { val d = vNew(i2) - v(i2); diff += d * d; i2 += 1 }
          v = vNew
          lambda = nrm
          converged = diff < 1e-18
          it += 1
        }
      }
      // an underflowed matvec means v never got (re)normalized against
      // the residual operator — skip the pair entirely
      if (!exhausted) out += ((lambda, v))
      // deflate: a -= lambda v v^T
      var i = 0
      while (i < n) {
        var j = 0
        while (j < n) { a(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      c += 1
    }
    out.result()
  }

  /** Isotonic (monotone non-increasing) weighted least-squares fit via
    * the pool-adjacent-violators algorithm — the monotone-degradation
    * constraint of PVPro post-processing (reference
    * `pvpro_post_processing.py:270-441`, its `monotonic` components).
    * O(n); exact.
    */
  def isotonicDecreasing(y: Array[Double], w: Array[Double] = null): Array[Double] = {
    val n = y.length
    if (n == 0) return Array.empty
    val wt = if (w == null) Array.fill(n)(1.0) else w
    // PAVA on -y for non-decreasing, then negate back
    val means = new Array[Double](n)
    val weights = new Array[Double](n)
    val counts = new Array[Int](n)
    var m = 0 // number of blocks
    var i = 0
    while (i < n) {
      means(m) = -y(i); weights(m) = wt(i); counts(m) = 1
      m += 1
      while (m > 1 && means(m - 2) > means(m - 1)) {
        val wsum = weights(m - 2) + weights(m - 1)
        means(m - 2) = (means(m - 2) * weights(m - 2) + means(m - 1) * weights(m - 1)) / wsum
        weights(m - 2) = wsum
        counts(m - 2) += counts(m - 1)
        m -= 1
      }
      i += 1
    }
    val out = new Array[Double](n)
    var b = 0
    var pos = 0
    while (b < m) {
      var c = 0
      while (c < counts(b)) { out(pos) = -means(b); pos += 1; c += 1 }
      b += 1
    }
    out
  }

  /** PVPro-style post-processing decomposition (reference
    * `pvpro_post_processing.py:270-441`): a parameter series =
    * monotone non-increasing degradation trend + smooth seasonal
    * (Fourier) + residual. Alternating fit: seasonal by least squares
    * on the detrended series, trend by PAVA on the deseasonalized
    * series; a few rounds converge (both subproblems are projections).
    *
    * @return (trend, seasonal) arrays aligned with `t`
    */
  def pvproDecompose(
      y: Array[Double],
      t: Array[Double],
      harmonics: Int = 2,
      period: Double = YearPeriod,
      rounds: Int = 5
  ): (Array[Double], Array[Double]) = {
    val n = y.length
    var trend = Array.fill(n)(0.0)
    var seasonal = Array.fill(n)(0.0)
    var r = 0
    while (r < rounds) {
      // seasonal: zero-mean Fourier LS fit of (y - trend)
      val p = 2 * harmonics
      val rowAt = (i: Int) => {
        val row = Linalg.fourierRow(t(i), period, harmonics)
        row.drop(1) // drop intercept: mean belongs to the trend
      }
      val beta = Linalg.wls(n, p, rowAt, Array.tabulate(n)(i => y(i) - trend(i)), Array.fill(n)(1.0))
      seasonal = Array.tabulate(n) { i =>
        val row = rowAt(i)
        var s = 0.0; var j = 0
        while (j < p) { s += beta(j) * row(j); j += 1 }
        s
      }
      trend = isotonicDecreasing(Array.tabulate(n)(i => y(i) - seasonal(i)))
      r += 1
    }
    (trend, seasonal)
  }

  def median(xs: Array[Double]): Double = {
    val v = xs.filter(d => !d.isNaN).sorted
    if (v.isEmpty) Double.NaN
    else if (v.length % 2 == 1) v(v.length / 2)
    else (v(v.length / 2 - 1) + v(v.length / 2)) / 2.0
  }

  /** PVPro post-processing at FULL reference fidelity — the 5-component
    * log-space decomposition of `pvpro_post_processing.py:270-441`:
    *
    *   y = x1 + x2 + x3 + x4 + x5   (on the known mask)
    *
    *   minimize (1/T)‖x1‖² + λ2‖x2‖₁ + λ4‖D²x4‖² [+ λ5·pen(x5)]
    *   s.t. x3 constant; x4 exactly p-periodic with Σ(first period)=0;
    *        x5(0) = 0 and, per model:
    *          linear            D²x5 = 0
    *          monotonic         D¹x5 ≤ 0 (≥ 0 when !decreasing)
    *          smooth_monotonic  mono + λ5‖D²x5‖²
    *          piecewise_linear  mono + λ5‖D²x5‖₁
    *
    * Solved house-style (no cvxpy): the (x1, x2) split is CLOSED-FORM
    * given the other blocks — min (1/T)x1² + λ2|z − x1| over x1 is the
    * Huber shrink x1 = sign(z)·min(|z|, T·λ2/2), x2 = z − x1 — so the
    * effective data loss is Huber and each outer round is one IRLS
    * reweighting plus three exact block solves:
    *
    *  - x4: the periodic component has p free values u (x4ᵢ = u[i mod p]);
    *    the data term and the FULL non-circular Σ(D²x4)² penalty are
    *    assembled exactly as a p×p SPD system (each D² row touches
    *    3 period slots) and solved dense; the zero-sum constraint is
    *    enforced for free by shifting mean(u) into x3 (the penalty is
    *    shift-invariant, the data term shift-absorbs into the constant).
    *  - x5: linear → 1-D weighted slope through 0; monotonic → weighted
    *    PAVA; smooth/pwl → pentadiagonal banded solve (data diag +
    *    λ5·D²ᵀD², L1 curvature via IRLS reweight for pwl) with the
    *    monotone constraint as an asymmetric quadratic penalty on
    *    violating first differences (the soiling-sawtooth idiom),
    *    re-solved until no violation above tolerance; x5(0)=0 by
    *    shifting x5(0) into x3.
    *  - x3: weighted mean of y − x4 − x5.
    *
    * Unknown (masked/NaN) entries carry zero data weight; their x4/x5
    * values come from the structural penalties alone, mirroring the
    * reference's `known` mask semantics.
    *
    * @param y       log-space series (caller scales/logs, as the
    *                reference's `ln_df` does)
    * @param period  exact period in SAMPLES (the reference's integer p)
    * @param model   "linear" | "monotonic" | "smooth_monotonic" |
    *                "piecewise_linear"
    * @param decreasing monotone direction (reference: false for
    *                "series" labels, true otherwise)
    * @return (x1, x2, x3, x4, x5)
    */
  def pvproDecompose5(
      y: Array[Double],
      period: Int,
      model: String = "smooth_monotonic",
      lambda2: Double = 0.001,
      lambda4: Double = 1e-1,
      lambda5: Double = 1e-1,
      known0: Array[Boolean] = null,
      decreasing: Boolean = true,
      rounds: Int = 40
  ): (Array[Double], Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val T = y.length
    require(Set("linear", "monotonic", "smooth_monotonic", "piecewise_linear")(model),
      s"unknown model '$model'")
    require(period >= 2, s"period must be >= 2, got $period")
    // degenerate-input contract (DegenerateInputSpec): an empty or
    // one-sample site maps to the trivial decomposition, never a throw
    if (T == 0)
      return (Array.empty, Array.empty, Array.empty, Array.empty, Array.empty)
    if (T == 1) {
      val known1 = (known0 == null || known0(0)) && !y(0).isNaN
      val c1 = if (known1) y(0) else 0.0
      return (Array(0.0), Array(0.0), Array(c1), Array(0.0), Array(0.0))
    }
    val known = Array.tabulate(T)(i =>
      (known0 == null || known0(i)) && !y(i).isNaN)
    // a period longer than the series cannot be identified — clamp to
    // the series length (every slot then has one observation and the
    // D² penalty alone shapes the profile)
    val p = math.min(period, T)
    val huberK = T * lambda2 / 2.0
    var c = { // init constant at the known mean
      var s = 0.0; var n = 0
      var i = 0
      while (i < T) { if (known(i)) { s += y(i); n += 1 }; i += 1 }
      if (n > 0) s / n else 0.0
    }
    val u = new Array[Double](p) // periodic free values
    var x5 = new Array[Double](T)
    val w = Array.fill(T)(1.0 / T) // Huber IRLS weights (quadratic zone)

    // exact Σ_{i=0}^{T-3} (x4[i+2] − 2x4[i+1] + x4[i])² over the
    // periodic parameterization, assembled once: row i touches slots
    // (i%p, (i+1)%p, (i+2)%p) with coefficients (1, −2, 1)
    val pen4 = new Array[Double](p * p)
    locally {
      var i = 0
      while (i <= T - 3) {
        val s0 = i % p; val s1 = (i + 1) % p; val s2 = (i + 2) % p
        val idx = Array(s0, s1, s2)
        val cf = Array(1.0, -2.0, 1.0)
        var a = 0
        while (a < 3) {
          var b = 0
          while (b < 3) {
            pen4(idx(a) * p + idx(b)) += cf(a) * cf(b)
            b += 1
          }
          a += 1
        }
        i += 1
      }
    }

    def solveX4(resid: Array[Double]): Unit = {
      val ata = new Array[Double](p * p)
      System.arraycopy(pen4, 0, ata, 0, p * p)
      var k = 0
      while (k < p * p) { ata(k) *= lambda4; k += 1 }
      val atb = new Array[Double](p)
      var i = 0
      while (i < T) {
        if (known(i)) {
          val s = i % p
          ata(s * p + s) += w(i)
          atb(s) += w(i) * resid(i)
        }
        i += 1
      }
      var d = 0
      while (d < p) { ata(d * p + d) += 1e-12; d += 1 }
      val sol = Linalg.solveSpd(ata, atb, p)
      // zero-sum: shift the mean into the constant (penalty and data
      // fit are both shift-exchangeable with x3)
      val mu = sol.sum / p
      var j = 0
      while (j < p) { u(j) = sol(j) - mu; j += 1 }
      c += mu
    }

    def solveX5(resid: Array[Double]): Array[Double] = model match {
      case "linear" =>
        var num = 0.0; var den = 0.0
        var i = 0
        while (i < T) {
          if (known(i)) { num += w(i) * resid(i) * i; den += w(i) * i.toDouble * i }
          i += 1
        }
        val m = if (den > 0) num / den else 0.0
        Array.tabulate(T)(i => m * i)
      case "monotonic" =>
        val wts = Array.tabulate(T)(i => if (known(i)) w(i) else 1e-12)
        // PAVA pools values regardless of weight, so an unknown row's
        // NaN residual must be zeroed, not just down-weighted
        val clean = Array.tabulate(T)(i => if (known(i)) resid(i) else 0.0)
        val fit =
          if (decreasing) isotonicDecreasing(clean, wts)
          else isotonicDecreasing(clean.map(-_), wts).map(-_)
        val sh = fit(0)
        c += sh
        fit.map(_ - sh)
      case _ => // smooth_monotonic | piecewise_linear
        val l1Curv = model == "piecewise_linear"
        var x = x5.clone()
        var it = 0
        // asymmetric quadratic penalty on violating first differences
        // grows until the monotone constraint holds to tolerance
        var kappa = math.max(lambda5, 1.0) * 10.0
        // annealed IRLS-L1 floor for the pwl curvature weight: a hard
        // 1e-6 floor from a straight start makes "no kinks" a fixed
        // point (the reweight is then a ~1e6·λ5 ridge on every row)
        var crvEps = 1e-1
        while (it < 12) {
          // band(0) = diag, band(1) = sub1, band(2) = sub2 (SPD,
          // half-bandwidth 2: data + λ5 D2ᵀ(W2)D2 + κ D1ᵀ(V)D1)
          val diag = new Array[Double](T)
          val sub1 = new Array[Double](T)
          val sub2 = new Array[Double](T)
          val rhs = new Array[Double](T)
          var i = 0
          while (i < T) {
            if (known(i)) { diag(i) += w(i); rhs(i) += w(i) * resid(i) }
            i += 1
          }
          // curvature rows j: (x[j] − 2x[j+1] + x[j+2]), weight λ5 (L2)
          // or λ5/max(|d2|,1e-6) (IRLS L1)
          var j = 0
          while (j <= T - 3) {
            val wj =
              if (!l1Curv) lambda5
              else {
                val d2 = x(j) - 2.0 * x(j + 1) + x(j + 2)
                lambda5 / math.max(math.abs(d2), crvEps)
              }
            // solveBandedSpd stores band(r)(i) = A(i, i+r): the
            // off-diagonal entry for rows (i, i+r) lives at the
            // SMALLER index
            diag(j) += wj; diag(j + 1) += 4.0 * wj; diag(j + 2) += wj
            sub1(j) += -2.0 * wj; sub1(j + 1) += -2.0 * wj
            sub2(j) += wj
            j += 1
          }
          // monotone rows: d = x[j+1] − x[j]; penalize d > 0 when
          // decreasing (d < 0 when increasing) on currently-violating
          // rows
          j = 0
          while (j <= T - 2) {
            val d = x(j + 1) - x(j)
            val viol = if (decreasing) d > 1e-12 else d < -1e-12
            if (viol) {
              diag(j) += kappa; diag(j + 1) += kappa
              sub1(j) += -kappa
            }
            j += 1
          }
          var d0 = 0
          while (d0 < T) { diag(d0) += 1e-12; d0 += 1 }
          x = Linalg.solveBandedSpd(Array(diag, sub1, sub2), rhs)
          // converged when no violation above tolerance
          var worst = 0.0
          j = 0
          while (j <= T - 2) {
            val d = x(j + 1) - x(j)
            val v = if (decreasing) d else -d
            if (v > worst) worst = v
            j += 1
          }
          crvEps = math.max(crvEps * 0.3, 1e-6)
          // the anneal gate applies only to the pwl L1 reweight —
          // holding smooth_monotonic to it would re-solve an
          // already-monotone system 7 extra times per outer round
          if (worst < 1e-7 && (!l1Curv || crvEps <= 1e-5)) it = 12
          else { kappa *= 8.0; it += 1 }
        }
        // exact feasibility: project onto the monotone cone (weighted
        // PAVA keeps the fit near the penalized solution)
        val wts = Array.tabulate(T)(i => if (known(i)) math.max(w(i), 1e-12) else 1e-12)
        val mono =
          if (decreasing) isotonicDecreasing(x, wts)
          else isotonicDecreasing(x.map(-_), wts).map(-_)
        val sh = mono(0)
        c += sh
        mono.map(_ - sh)
    }

    var r = 0
    while (r < rounds) {
      // x4 on y − c − x5
      solveX4(Array.tabulate(T)(i => y(i) - c - x5(i)))
      // x5 on y − c − x4
      x5 = solveX5(Array.tabulate(T)(i => y(i) - c - u(i % p)))
      // x3 on y − x4 − x5
      var sw = 0.0; var swr = 0.0
      var i = 0
      while (i < T) {
        if (known(i)) { sw += w(i); swr += w(i) * (y(i) - u(i % p) - x5(i)) }
        i += 1
      }
      if (sw > 0) c = swr / sw
      // Huber IRLS reweight from the residual split
      i = 0
      while (i < T) {
        if (known(i)) {
          val z = y(i) - c - u(i % p) - x5(i)
          w(i) = if (math.abs(z) <= huberK) 1.0 / T else lambda2 / (2.0 * math.max(math.abs(z), 1e-12))
        }
        i += 1
      }
      r += 1
    }

    val x3 = Array.fill(T)(c)
    val x4 = Array.tabulate(T)(i => u(i % p))
    val x1 = new Array[Double](T)
    val x2 = new Array[Double](T)
    var i = 0
    while (i < T) {
      if (known(i)) {
        val z = y(i) - c - x4(i) - x5(i)
        x1(i) = math.signum(z) * math.min(math.abs(z), huberK)
        x2(i) = z - x1(i)
      }
      i += 1
    }
    (x1, x2, x3, x4, x5)
  }
}
