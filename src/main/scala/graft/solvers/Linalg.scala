package graft.solvers

/** Small dense / banded linear algebra for the per-site solver
  * kernels (SURVEY §2.8). Everything here operates on bounded
  * per-site state (vectors of length ≈ num-days), runs on executors
  * inside a per-site lane (`analyses.SiteLane`; a `groupByKey` only
  * where the key is not an integral site id), and has no native
  * dependencies.
  */
object Linalg {

  /** Solve A x = b for small dense symmetric positive-definite A via
    * Cholesky (in-place on copies). A is row-major n×n.
    */
  def solveSpd(a: Array[Double], b: Array[Double], n: Int): Array[Double] = {
    val l = new Array[Double](n * n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j <= i) {
        var s = a(i * n + j)
        var k = 0
        while (k < j) { s -= l(i * n + k) * l(j * n + k); k += 1 }
        if (i == j) {
          l(i * n + i) = math.sqrt(math.max(s, 1e-12))
        } else {
          l(i * n + j) = s / l(j * n + j)
        }
        j += 1
      }
      i += 1
    }
    // forward solve L y = b
    val y = new Array[Double](n)
    i = 0
    while (i < n) {
      var s = b(i)
      var k = 0
      while (k < i) { s -= l(i * n + k) * y(k); k += 1 }
      y(i) = s / l(i * n + i)
      i += 1
    }
    // back solve L^T x = y
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = y(i)
      var k = i + 1
      while (k < n) { s -= l(k * n + i) * x(k); k += 1 }
      x(i) = s / l(i * n + i)
      i -= 1
    }
    x
  }

  /** Solve a symmetric positive-definite banded system with half
    * bandwidth `hw` (diag + hw sub/super diagonals), via banded
    * Cholesky. `band(r)(i)` = A(i, i+r) for r in 0..hw. O(n·hw²).
    */
  def solveBandedSpd(band: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val hw = band.length - 1
    val n = band(0).length
    // banded Cholesky: L stored same layout (l(r)(i) = L(i+r, i))
    val l = Array.ofDim[Double](hw + 1, n)
    var j = 0
    while (j < n) {
      var s = band(0)(j)
      var r = 1
      while (r <= math.min(hw, j)) { val v = l(r)(j - r); s -= v * v; r += 1 }
      val d = math.sqrt(math.max(s, 1e-12))
      l(0)(j) = d
      var i = 1
      while (i <= hw && j + i < n) {
        var t = band(i)(j)
        var k = 1
        while (k <= hw - i && k <= j) {
          t -= l(k + i)(j - k) * l(k)(j - k)
          k += 1
        }
        l(i)(j) = t / d
        i += 1
      }
      j += 1
    }
    // forward solve
    val y = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = b(i)
      var r = 1
      while (r <= math.min(hw, i)) { s -= l(r)(i - r) * y(i - r); r += 1 }
      y(i) = s / l(0)(i)
      i += 1
    }
    // back solve
    val x = new Array[Double](n)
    i = n - 1
    while (i >= 0) {
      var s = y(i)
      var r = 1
      while (r <= hw && i + r < n) { s -= l(r)(i) * x(i + r); r += 1 }
      x(i) = s / l(0)(i)
      i -= 1
    }
    x
  }

  /** Fourier design row at time t: [1, cos(2πkt/p), sin(2πkt/p)] for
    * k = 1..harmonics. Width = 1 + 2·harmonics.
    */
  def fourierRow(t: Double, period: Double, harmonics: Int): Array[Double] = {
    val row = new Array[Double](1 + 2 * harmonics)
    row(0) = 1.0
    var k = 1
    while (k <= harmonics) {
      val w = 2.0 * math.Pi * k * t / period
      row(2 * k - 1) = math.cos(w)
      row(2 * k) = math.sin(w)
      k += 1
    }
    row
  }

  /** Weighted least squares y ≈ X β with per-row weights; X given as
    * row-builder to avoid materializing the design matrix.
    *
    * Only the LOWER triangle of XᵀWX is accumulated — [[solveSpd]]'s
    * Cholesky never reads above the diagonal, so the upper half was
    * dead work. This halves the dominant n·p² loop (the IRLS hot path
    * of every quantile fit) with BIT-IDENTICAL results: each lower
    * entry keeps its exact (wᵢ·r(a))·r(b) product order and
    * accumulation order over i.
    */
  def wls(n: Int, p: Int, row: Int => Array[Double], y: Array[Double], w: Array[Double]): Array[Double] = {
    val ata = new Array[Double](p * p)
    val atb = new Array[Double](p)
    var i = 0
    while (i < n) {
      val r = row(i)
      val wi = w(i)
      var a = 0
      while (a < p) {
        val wra = wi * r(a)
        atb(a) += wra * y(i)
        var b = 0
        while (b <= a) { ata(a * p + b) += wra * r(b); b += 1 }
        a += 1
      }
      i += 1
    }
    // small ridge for conditioning
    var d = 0
    while (d < p) { ata(d * p + d) += 1e-9; d += 1 }
    solveSpd(ata, atb, p)
  }
}
