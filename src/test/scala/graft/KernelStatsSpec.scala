package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels._
import Fixtures._

/** Ports of tests/test_cycore.py and tests/test_mass2.py. */
class KernelStatsSpec extends AnyFunSuite {

  test("moving_avg_std small (test_cycore.py:25-33)") {
    val (mu, std) = MovingStats.movingAvgStd(Array(1, 2, 3, 4, 5, 6), 3)
    assertAlmostEqual(mu, Array(2, 3, 4, 5))
    assertAlmostEqual(std, Array(0.81649658, 0.81649658, 0.81649658, 0.81649658))
  }

  test("no NaN when std almost zero (test_cycore.py:36-48)") {
    val a = Array.fill(7)(10.1)
    val (mu, std) = MovingStats.movingAvgStd(a, 3)
    val (mu2, std2) = MovingStats.muinvn(a, 3)
    assertAlmostEqual(mu, Array.fill(5)(10.1))
    assertAlmostEqual(std, Array.fill(5)(0.0))
    assertAlmostEqual(mu2, Array.fill(5)(10.1))
    assertAlmostEqual(std2, Array.fill(5)(0.0))
  }

  test("muinvn small (test_cycore.py:51-57)") {
    val (mu, std) = MovingStats.muinvn(Array(1, 2, 3, 4, 5, 6), 3)
    assertAlmostEqual(mu, Array(2, 3, 4, 5))
    assertAlmostEqual(std, Array(0.7071068, 0.7071068, 0.7071068, 0.7071068))
  }

  test("muinvn vs MATLAB golden (test_cycore.py:60-69)") {
    val (mu, std) = MovingStats.muinvn(sampledata, 32)
    assertAlmostEqual(load("muinvn_mua.txt"), mu, decimal = 4)
    assertAlmostEqual(load("muinvn_stda.txt"), std, decimal = 4)
  }

  test("fft_convolve equals direct sliding dot product") {
    val ts = Array.tabulate(101)(i => math.sin(i * 0.37) + 0.01 * i)
    val q = Array.tabulate(13)(i => math.cos(i * 0.7))
    assertAlmostEqual(Fft.fftConvolve(ts, q), Fft.slidingDotProduct(ts, q), decimal = 8)
  }

  test("an FFT of 8,192+ points runs on its caller's thread: no pool thread is left alive") {
    val poolThread = "pool-\\d+-thread-\\d+".r
    def poolThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && poolThread.matches(t.getName)).toSet
    val before = poolThreads()
    val ts = Array.tabulate(1 << 15)(i => math.sin(i * 0.01))
    val out = Fft.fftConvolve(ts, ts.slice(100, 132))
    assert(out.length == ts.length - 31)
    val started = (poolThreads() -- before).map(_.getName)
    assert(started.isEmpty, s"FFT left pool threads alive: ${started.mkString(", ")}")
  }

  test("mass2 (test_mass2.py:19-31)") {
    val ts = Array[Double](1, 1, 1, 2, 1, 1, 4, 5)
    val q = Array[Double](2, 1, 1, 4)
    val actual = Mass2.mass2(ts, q)
    assertAlmostEqual(actual,
      Array(0.67640791, 3.43092352, 3.43092352, 0.0, 1.85113597), decimal = 6)
  }

  test("dotDistanceMatrix equals massDistanceMatrix within FFT rounding " +
      "(the snippet tiles' exact-dot path vs the reference's MASS rows)") {
    val ts = Array.tabulate(300)(i => math.sin(i * 0.05) * 3 + (i % 11))
    val query = Array.tabulate(40)(i => math.cos(i * 0.11) * 2 + (i % 5))
    val w = 12
    val viaDots = MpDist.dotDistanceMatrix(ts, query, w)
    val viaMass = MpDist.massDistanceMatrix(ts, query, w)
    assert(viaDots.length == viaMass.length)
    for (r <- viaDots.indices; c <- viaDots(r).indices)
      assert(math.abs(viaDots(r)(c) - viaMass(r)(c)) < 1e-8,
        s"($r,$c): ${viaDots(r)(c)} vs ${viaMass(r)(c)}")
  }

  test("calculateMpdist quickselect equals the reference sort-then-index " +
      "selection (value-identical k-th order statistic)") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(1, 2, 5, 24, 101, 1024); dataLen <- Seq(4, 40, 400, 2046)) {
      val arr = Array.fill(n)(rnd.nextDouble() * 10 - 5) ++
        Array(Double.PositiveInfinity, Double.NaN)
      val clean = arr.filter(v => !v.isNaN && !v.isInfinite)
      val distLoc = math.ceil(0.05 * dataLen).toInt
      if (clean.length != distLoc) { // == would index OOB in the reference
        val expected =
          if (clean.isEmpty) Double.PositiveInfinity
          else {
            val s = clean.sorted
            if (s.length > distLoc) s(distLoc) else s.last
          }
        val got = MpDist.calculateMpdist(arr.clone(), 0.05, dataLen)
        assert(got == expected, s"n=$n dataLen=$dataLen")
      }
    }
  }

  test("moving min/max/median") {
    val a = Array[Double](3, 1, 4, 1, 5, 9, 2, 6)
    assertAlmostEqual(MovingStats.movingMin(a, 3), Array(1, 1, 1, 1, 2, 2))
    assertAlmostEqual(MovingStats.movingMax(a, 3), Array(4, 4, 5, 9, 9, 9))
    assertAlmostEqual(MovingStats.movingMedian(a, 3), Array(3, 1, 4, 5, 5, 6))
    assertAlmostEqual(MovingStats.movingMedian(a, 4), Array(2, 2.5, 4.5, 3.5, 5.5))
  }

  test("statistics bundle (test_statistics semantics)") {
    val ts = Array[Double](1, 2, 3, 4, 5, 6)
    val s = Statistics.statistics(ts, 3)
    assert(s.min == 1.0 && s.max == 6.0)
    assert(math.abs(s.mean - 3.5) < 1e-12)
    assert(math.abs(s.median - 3.5) < 1e-12)
    assertAlmostEqual(s.movingMean, Array(2, 3, 4, 5))
  }
}
