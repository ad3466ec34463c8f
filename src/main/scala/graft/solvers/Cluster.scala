package graft.solvers

/** Small per-site model-selection kernels (SURVEY §2.9): DBSCAN on
  * day-score pairs, Huber IRLS regression, Gauss–Newton curve fit.
  * All O(num_days²) or better on bounded per-site state inside a
  * per-site lane (`analyses.SiteLane`; a `groupByKey` only where the
  * key is not an integral site id) — never on the raw grain.
  */
object Cluster {

  /** Classic DBSCAN on 2-D points (reference quality clustering,
    * `data_handler.py:1172-1199`: eps=0.03 on (density, linearity)).
    * Returns cluster labels (−1 = noise), deterministic in input
    * order. O(n²) — n = num_days.
    */
  def dbscan2d(xs: Array[Double], ys: Array[Double], eps: Double, minPts: Int): Array[Int] = {
    val n = xs.length
    val labels = Array.fill(n)(-2) // -2 unvisited, -1 noise
    val eps2 = eps * eps
    def neighbors(i: Int): Array[Int] =
      (0 until n).filter { j =>
        val dx = xs(i) - xs(j)
        val dy = ys(i) - ys(j)
        dx * dx + dy * dy <= eps2
      }.toArray
    var cluster = -1
    var i = 0
    while (i < n) {
      if (labels(i) == -2) {
        val nb = neighbors(i)
        if (nb.length < minPts) labels(i) = -1
        else {
          cluster += 1
          labels(i) = cluster
          var queue = scala.collection.mutable.Queue(nb.toIndexedSeq: _*)
          while (queue.nonEmpty) {
            val j = queue.dequeue()
            if (labels(j) == -1) labels(j) = cluster
            if (labels(j) == -2) {
              labels(j) = cluster
              val nb2 = neighbors(j)
              if (nb2.length >= minPts) queue ++= nb2
            }
          }
        }
      }
      i += 1
    }
    labels
  }

  /** Huber IRLS for single-feature linear regression y ≈ a + b·x
    * (reference sensor-ID fits, `sensor_identification.py:49-124`).
    * @return (intercept, slope)
    */
  def huberFit(x: Array[Double], y: Array[Double], delta: Double = 1.345, iters: Int = 20): (Double, Double) = {
    val n = x.length
    var a = 0.0
    var b = 0.0
    var w = Array.fill(n)(1.0)
    var it = 0
    while (it < iters) {
      var sw = 0.0; var swx = 0.0; var swy = 0.0; var swxx = 0.0; var swxy = 0.0
      var i = 0
      while (i < n) {
        sw += w(i); swx += w(i) * x(i); swy += w(i) * y(i)
        swxx += w(i) * x(i) * x(i); swxy += w(i) * x(i) * y(i)
        i += 1
      }
      val det = sw * swxx - swx * swx
      if (math.abs(det) < 1e-12) return (a, b)
      a = (swxx * swy - swx * swxy) / det
      b = (sw * swxy - swx * swy) / det
      // robust scale from MAD of residuals
      val r = Array.tabulate(n)(i => y(i) - a - b * x(i))
      val s = math.max(Kernels.median(r.map(math.abs)) / 0.6745, 1e-9)
      i = 0
      while (i < n) {
        val u = math.abs(r(i)) / (delta * s)
        w(i) = if (u <= 1.0) 1.0 else 1.0 / u
        i += 1
      }
      it += 1
    }
    (a, b)
  }

  /** Gauss–Newton fit of a cosine-of-incidence-style model
    * y ≈ c·cos(x − phase) + offset (the shape behind the reference's
    * tilt/azimuth estimation, `angle_of_incidence/curve_fitting.py`).
    * @return (c, phase, offset)
    */
  def cosineFit(x: Array[Double], y: Array[Double], iters: Int = 50): (Double, Double, Double) = {
    val n = x.length
    var c = (y.max - y.min) / 2.0
    var phase = 0.0
    var off = y.sum / n
    var it = 0
    while (it < iters) {
      // residuals and Jacobian (3 params)
      val jtj = new Array[Double](9)
      val jtr = new Array[Double](3)
      var i = 0
      while (i < n) {
        val cs = math.cos(x(i) - phase)
        val sn = math.sin(x(i) - phase)
        val r = y(i) - (c * cs + off)
        val j0 = cs // d/dc
        val j1 = c * sn // d/dphase
        val j2 = 1.0 // d/doff
        jtj(0) += j0 * j0; jtj(1) += j0 * j1; jtj(2) += j0 * j2
        jtj(4) += j1 * j1; jtj(5) += j1 * j2; jtj(8) += j2 * j2
        jtr(0) += j0 * r; jtr(1) += j1 * r; jtr(2) += j2 * r
        i += 1
      }
      jtj(3) = jtj(1); jtj(6) = jtj(2); jtj(7) = jtj(5)
      var d = 0
      while (d < 3) { jtj(d * 3 + d) += 1e-9; d += 1 }
      val step = Linalg.solveSpd(jtj, jtr, 3)
      c += step(0); phase += step(1); off += step(2)
      it += 1
    }
    (c, phase, off)
  }

  /** Duffie & Beckman eq. 1.6.2 angle-of-incidence cosine at known
    * latitude φ (reference `utilities/angle_of_incidence_function.py`
    * `func_costheta`, azimuth wrapped to (−π, π] like the reference).
    * All angles in radians; γ follows the Duffie convention (0 =
    * south).
    */
  def costhetaDuffie(
      delta: Double, omega: Double, phi: Double, beta: Double, gamma: Double): Double = {
    val g = gamma - math.rint(gamma / (2 * math.Pi)) * 2 * math.Pi
    math.sin(delta) * math.sin(phi) * math.cos(beta) -
      math.sin(delta) * math.cos(phi) * math.sin(beta) * math.cos(g) +
      math.cos(delta) * math.cos(phi) * math.cos(beta) * math.cos(omega) +
      math.cos(delta) * math.sin(phi) * math.sin(beta) * math.cos(g) * math.cos(omega) +
      math.cos(delta) * math.sin(beta) * math.sin(g) * math.sin(omega)
  }

  /** Fit (tilt β, azimuth γ) of the Duffie 1.6.2 model at KNOWN
    * latitude by damped Gauss–Newton on (δ, ω, cosθ) samples — the
    * reference's `run_curve_fit(select_function(latitude, None,
    * None))` path (`angle_of_incidence/curve_fitting.py:12-37`,
    * 2-parameter nonlinear least squares). Tilt clamps to the
    * reference's [0, π/2] bound (a > 90° tilt means a downward-facing
    * panel); azimuth wraps to (−π, π] like the reference's output
    * normalization. Angles in radians throughout; per-site state is
    * the sample triple — this runs inside `mapGroups`.
    *
    * @return (tiltRad, azimuthRad)
    */
  def tiltAzimuthFit(
      delta: Array[Double],
      omega: Array[Double],
      costheta: Array[Double],
      phi: Double,
      initTilt: Double = math.toRadians(30),
      initAz: Double = math.toRadians(30),
      iters: Int = 60
  ): (Double, Double) = {
    val n = delta.length
    require(n == omega.length && n == costheta.length, "tiltAzimuthFit: length mismatch")
    // too few samples to identify two angles: report NaN the way the
    // reference fills np.nan when curve_fit fails
    // (`tilt_azimuth_study.py` RuntimeError handling) - never the
    // init values masquerading as an estimate
    if (n < 8) return (Double.NaN, Double.NaN)
    val sp = math.sin(phi); val cp = math.cos(phi)
    def costAndGrad(beta: Double, gamma: Double): (Double, Double, Double, Double, Double, Double) = {
      var jtj00 = 0.0; var jtj01 = 0.0; var jtj11 = 0.0
      var jtr0 = 0.0; var jtr1 = 0.0
      var cost = 0.0
      var i = 0
      while (i < n) {
        val sd = math.sin(delta(i)); val cd = math.cos(delta(i))
        val so = math.sin(omega(i)); val co = math.cos(omega(i))
        val sb = math.sin(beta); val cb = math.cos(beta)
        val sg = math.sin(gamma); val cg = math.cos(gamma)
        val f = sd * sp * cb - sd * cp * sb * cg + cd * cp * cb * co +
          cd * sp * sb * cg * co + cd * sb * sg * so
        val r = costheta(i) - f
        // df/dbeta and df/dgamma (analytic)
        val db = -sd * sp * sb - sd * cp * cb * cg - cd * cp * sb * co +
          cd * sp * cb * cg * co + cd * cb * sg * so
        val dg = sd * cp * sb * sg - cd * sp * sb * sg * co + cd * sb * cg * so
        jtj00 += db * db; jtj01 += db * dg; jtj11 += dg * dg
        jtr0 += db * r; jtr1 += dg * r
        cost += r * r
        i += 1
      }
      (cost, jtj00, jtj01, jtj11, jtr0, jtr1)
    }
    var beta = initTilt
    var gamma = initAz
    var state = costAndGrad(beta, gamma)
    var lambda = 1e-6
    var accepted = false
    var it = 0
    while (it < iters) {
      val d00 = state._2 + lambda * (1 + state._2)
      val d11 = state._4 + lambda * (1 + state._4)
      val det = d00 * d11 - state._3 * state._3
      if (math.abs(det) < 1e-18) it = iters
      else {
        val stepB = (d11 * state._5 - state._3 * state._6) / det
        val stepG = (d00 * state._6 - state._3 * state._5) / det
        val betaT = math.min(math.max(beta + stepB, 0.0), math.Pi / 2)
        val gammaT = gamma + stepG
        val trial = costAndGrad(betaT, gammaT)
        // true Levenberg-Marquardt acceptance: a worse trial is
        // REJECTED (parameters kept, damping grown) rather than
        // driving the next step from the overshoot point
        if (trial._1 <= state._1) {
          beta = betaT; gamma = gammaT
          state = trial
          lambda = math.max(lambda / 3, 1e-12)
          accepted = true
        } else {
          lambda = lambda * 10
          if (lambda > 1e6) it = iters // converged at the damping ceiling
        }
        it += 1
      }
    }
    // no step ever improved on the start point: the fit is degenerate
    // (e.g. beta driven to 0 kills every df/dgamma term) - NaN, not
    // the init values
    if (!accepted) (Double.NaN, Double.NaN)
    else (beta, gamma - math.rint(gamma / (2 * math.Pi)) * 2 * math.Pi)
  }

}
