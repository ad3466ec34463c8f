package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.solvers.Kernels

/** Bit-level pins on the total-variation fits behind capacity-change
  * and time-shift detection. A performance change to these kernels
  * must leave every output double identical, so each test asserts a
  * digest of `doubleToRawLongBits` over the outputs rather than a
  * tolerance. The input is a deterministic 730-day series (a capacity
  * step, an annual seasonal term and sin-hash noise); no Spark.
  */
class TvFitPinSpec extends AnyFunSuite {

  private val n = 730
  private val t = Array.tabulate(n)(_.toDouble)
  private val y = Array.tabulate(n) { i =>
    val step = if (i < 400) 1.0 else 0.6
    val seasonal = 0.2 * math.sin(2 * math.Pi * i / Kernels.YearPeriod)
    val h = math.sin(i * 12.9898 + 78.233) * 43758.5453
    step + seasonal + 0.05 * (h - math.floor(h) - 0.5)
  }

  /** FNV-1a over the raw IEEE-754 bits of every value, in order. */
  private def digest(arrays: Array[Double]*): String = {
    var h = 0xcbf29ce484222325L
    for (a <- arrays; v <- a) {
      h ^= java.lang.Double.doubleToRawLongBits(v)
      h *= 0x100000001b3L
    }
    f"$h%016x"
  }

  test("tvSeasonalFit with l2 residual is bit-pinned") {
    val (x, s) = Kernels.tvSeasonalFit(y, t, lambdaTv = 5.0, harmonics = 1)
    assert(digest(x, s) == "4d149cb61f531176")
  }

  test("tvSeasonalFit with l1 residual is bit-pinned") {
    val (x, s) = Kernels.tvSeasonalFit(y, t, lambdaTv = 5.0, harmonics = 1, l1Residual = true)
    assert(digest(x, s) == "b7d78682a820098c")
  }

  test("tvSeasonalFit with the SumCard refinement is bit-pinned") {
    val (x, s) = Kernels.tvSeasonalFit(y, t, lambdaTv = 10.0, harmonics = 1, period = 7.0, sumCard = true)
    assert(digest(x, s) == "db18af2c8a751cb0")
  }

  test("optimizeTvWeight over weights 2, 5 and 15 is bit-pinned") {
    val (w, x, s) = Kernels.optimizeTvWeight(y, t, Array(2.0, 5.0, 15.0), harmonics = 1, l1Residual = true)
    assert(digest(Array(w), x, s) == "05ed047c24624dd0")
  }

  test("tvSeasonalTrendFit is bit-pinned") {
    val (x, s, tr) = Kernels.tvSeasonalTrendFit(y, t, lambdaTv = 5.0, harmonics = 1)
    assert(digest(x, s, tr) == "06f9637c866b1611")
  }
}
