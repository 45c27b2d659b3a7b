package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.{Mpx, Stomp}
import Fixtures._

/** Property gate from SURVEY §5: an O(n²·w) brute-force z-normalized
  * matrix-profile oracle checked against the mpx and stomp kernels on
  * seeded random series, including constant segments and spikes.
  */
class BruteForceOracleSpec extends AnyFunSuite {

  /** Brute force MP with configurable exclusion zone (ez in lag units). */
  def bruteForce(ts: Array[Double], w: Int, ez: Int): (Array[Double], Array[Int]) = {
    val plen = ts.length - w + 1
    def znorm(i: Int): Array[Double] = {
      var mu = 0.0
      var j = 0
      while (j < w) { mu += ts(i + j); j += 1 }
      mu /= w
      var s2 = 0.0
      j = 0
      while (j < w) { val d = ts(i + j) - mu; s2 += d * d; j += 1 }
      val sig = math.sqrt(s2 / w)
      Array.tabulate(w)(k => if (sig == 0) 0.0 else (ts(i + k) - mu) / sig)
    }
    val subs = Array.tabulate(plen)(znorm)
    val mp = Array.fill(plen)(Double.PositiveInfinity)
    val pi = Array.fill(plen)(-1)
    for (i <- 0 until plen; j <- 0 until plen if math.abs(i - j) > ez) {
      var d2 = 0.0
      var k = 0
      while (k < w) { val d = subs(i)(k) - subs(j)(k); d2 += d * d; k += 1 }
      val d = math.sqrt(d2)
      if (d < mp(i)) { mp(i) = d; pi(i) = j }
    }
    (mp, pi)
  }

  /** Brute force AB profile: for each window of `ts`, the z-normalized
    * distance to (and index of) its nearest window of `q`.
    */
  def bruteForceAb(ts: Array[Double], q: Array[Double],
      w: Int): (Array[Double], Array[Int]) = {
    def subs(x: Array[Double]) = Array.tabulate(x.length - w + 1) { i =>
      val win = x.slice(i, i + w)
      val mu = win.sum / w
      val sig = math.sqrt(win.map(v => (v - mu) * (v - mu)).sum / w)
      win.map(v => (v - mu) / sig)
    }
    val b = subs(q)
    val dist = subs(ts).map(x => b.map(y =>
      math.sqrt(x.indices.map(k => (x(k) - y(k)) * (x(k) - y(k))).sum)))
    (dist.map(_.min), dist.map(d => d.indexOf(d.min)))
  }

  test("mpx matches brute-force oracle on random series") {
    val rng = new java.util.Random(1234)
    for (trial <- 1 to 5) {
      val n = 80 + rng.nextInt(120)
      val w = 4 + rng.nextInt(8)
      val ts = Array.fill(n)(rng.nextDouble() * 10 - 5)
      val minlag = math.ceil(w / 4.0).toInt
      val (oracle, _) = bruteForce(ts, w, minlag)
      val (mp, _) = Mpx.mpxSelf(ts, w)
      assertAlmostEqual(mp, oracle, decimal = 8)
    }
  }

  test("stomp matches brute-force oracle on random series") {
    val rng = new java.util.Random(5678)
    for (trial <- 1 to 5) {
      val n = 80 + rng.nextInt(120)
      val w = 4 + rng.nextInt(8)
      val ts = Array.fill(n)(rng.nextDouble() * 10 - 5)
      val ez = math.ceil(w / 2.0).toInt
      val (oracle, _) = bruteForce(ts, w, ez)
      val r = Stomp.stomp(ts, w)
      assertAlmostEqual(r.mp, oracle, decimal = 6)
    }
  }

  test("AB stomp matches a brute-force AB oracle when the query is shorter, " +
      "as long as, and longer than the series") {
    val rng = new java.util.Random(4242)
    for (qLen <- Seq(70, 120, 170)) {
      val ts = Array.fill(120)(rng.nextDouble() * 10 - 5)
      val q = Array.fill(qLen)(rng.nextDouble() * 10 - 5)
      val w = 4 + rng.nextInt(8)
      val (mp, pi) = bruteForceAb(ts, q, w)
      val r = Stomp.stomp(ts, w, Some(q))
      assertAlmostEqual(r.mp, mp, decimal = 6)
      assert(r.pi.toSeq == pi.toSeq.map(_.toLong), s"|q|=$qLen w=$w: indices differ")
      assert(r.lmp == null && r.rmp == null)
    }
  }

  test("BruteMp twin matches mpx on random quantized series, incl. " +
      "constant windows (the oracle-gate agreement property)") {
    val rng = new java.util.Random(2026)
    for (trial <- 1 to 8) {
      val n = 60 + rng.nextInt(180)
      val w = Seq(4, 8, 12, 16)(rng.nextInt(4))
      if (n >= 2 * w) {
        val vi = Array.fill(n)((rng.nextDouble() * 4e6).toLong)
        // plant a constant run so sigma=0 windows are exercised
        if (trial % 2 == 0) {
          val at = rng.nextInt(n - w)
          java.util.Arrays.fill(vi, at, at + w, 123456L)
        }
        val r = graft.kernels.BruteMp.selfProfile(vi, w)
        val (kmp, _) = Mpx.mpxSelf(vi.map(_.toDouble), w)
        assert(r.mp.length == kmp.length)
        var bad = 0
        for (i <- kmp.indices)
          if (math.abs(r.mp(i) - kmp(i)) > 1e-6) bad += 1
        assert(bad == 0, s"trial $trial n=$n w=$w: $bad positions disagree > 1e-6")
      }
    }
  }

  test("abMinDist (hoisted-denominator max-corr sweep) is bit-identical " +
      "to min over the full abProfile, incl. constant windows") {
    val rng = new java.util.Random(77)
    for (trial <- 1 to 12) {
      val na = 40 + rng.nextInt(200)
      val nb = 40 + rng.nextInt(200)
      val w = Seq(4, 8, 16)(rng.nextInt(3))
      val a = Array.fill(na)((rng.nextDouble() * 4e6).toLong)
      val b = Array.fill(nb)((rng.nextDouble() * 4e6).toLong)
      if (trial % 3 == 0) { // sigma=0 windows on both sides
        java.util.Arrays.fill(a, 5, 5 + w, 777L)
        java.util.Arrays.fill(b, 9, 9 + w, 777L)
      }
      val fast = graft.kernels.BruteMp.abMinDist(a, b, w)
      val prof = graft.kernels.BruteMp.abProfile(a, b, w)
      val slow = prof.mpA.min
      assert(java.lang.Double.doubleToRawLongBits(fast) ==
        java.lang.Double.doubleToRawLongBits(slow),
        s"trial $trial na=$na nb=$nb w=$w: $fast != $slow")
    }
  }

  test("tiled skimp/stomp equal their unsplit kernels on random series " +
      "(randomized tile geometry)") {
    val rng = new java.util.Random(77)
    for (trial <- 1 to 4) {
      val n = 400 + rng.nextInt(600)
      val w = 8 + rng.nextInt(24)
      val ts = Array.fill(n)(rng.nextDouble() * 10 - 5)
      val tile = 32 + rng.nextInt(200)
      // mpx tile sweep directly (no Spark): merge all tiles by hand
      val plen = n - w + 1
      val st = Mpx.selfStats(ts, w)
      val full = Mpx.selfJoin(ts, w)
      val merged = Mpx.newBuf(plen)
      val b = tile
      val rTiles = math.ceil(plen.toDouble / b).toInt
      for {
        rb <- 0 until rTiles
        rLo = rb * b
        db <- 0 until rTiles
        dLo = math.max(st.minlag + 1, db * b)
        dHi = math.min((db + 1) * b, plen)
        if dLo < dHi
        rHi = math.min(math.min((rb + 1) * b, plen), plen - dLo)
        if rLo < rHi
      } {
        val colMax = math.min(plen - 1, rHi - 1 + dHi - 1)
        val slice = java.util.Arrays.copyOfRange(ts, rLo, colMax + w)
        val lst = Mpx.selfStats(slice, w)
        val buf = Mpx.newBuf(slice.length - w + 1)
        Mpx.selfJoinTile(slice, w, lst, dLo, dHi, rHi - rLo, buf)
        for (i <- buf.mp.indices if buf.mp(i) > merged.mp(rLo + i)) {
          merged.mp(rLo + i) = math.min(buf.mp(i), 1.0)
          merged.mpi(rLo + i) = buf.mpi(i) + rLo
        }
      }
      Mpx.clampBuf(merged)
      val fullE = Mpx.selfToEuclidean(full, w)
      val mergedE = Mpx.selfToEuclidean(merged, w)
      for (i <- fullE.indices)
        assert(math.abs(fullE(i) - mergedE(i)) < 1e-8,
          s"trial $trial n=$n w=$w tile=$tile pos $i: ${fullE(i)} vs ${mergedE(i)}")
    }
  }

  test("BruteMp.pmpMotifs (q34's SQL-replayable twin) selects exactly what " +
      "TopK.pmpTopKMotifs selects on random quantized series") {
    import graft.kernels.{BruteMp, TopK}
    val rng = new java.util.Random(1234)
    val windows = Array(8, 12, 16)
    for (trial <- 0 until 40) {
      val n = 40 + rng.nextInt(200)
      // quantized like the driver queries: round(value * 1e4) over ~[0, 50)
      val vi = Array.fill(n)(math.round(rng.nextDouble() * 50 * 10000.0))
      val elig = windows.filter(w => n >= graft.queries.MpQueries.minN(w))
      if (elig.nonEmpty) {
        val picks = BruteMp.pmpMotifs(vi, elig, k = 2, maxNeighbors = 2)
        val profiles = elig.map(w => BruteMp.selfProfile(vi, w))
        val profileLen = profiles.map(_.mp.length).max
        val pmp = profiles.map { p =>
          val row = Array.fill(profileLen)(Double.PositiveInfinity)
          System.arraycopy(p.mp, 0, row, 0, p.mp.length); row
        }
        val pmpi = profiles.map { p =>
          val row = Array.fill(profileLen)(-1L)
          p.pi.indices.foreach(i => row(i) = p.pi(i).toLong); row
        }
        val kern = TopK.pmpTopKMotifs(vi.map(_.toDouble), pmp, pmpi, elig,
          None, k = 2, maxNeighbors = 2)
        assert(kern.length == picks.length, s"trial=$trial n=$n pick counts")
        kern.zip(picks).foreach { case (km, bp) =>
          assert(km.motifs._1._1 == bp.row && km.motifs._1._2 == bp.a.toLong &&
            km.motifs._2._2 == bp.b.toLong,
            s"trial=$trial n=$n pick ${km.motifs} vs $bp")
          assert(km.neighbors.map(_._2).toSeq == bp.neighbors.map(_.toLong),
            s"trial=$trial n=$n neighbors")
        }
      }
    }
  }

  test("oracle agreement holds with spikes and near-constant segments") {
    val rng = new java.util.Random(42)
    val ts = Array.tabulate(150) { i =>
      if (i >= 60 && i < 75) 3.0 + i * 1e-9 // near-constant run
      else if (i == 100) 500.0 // spike
      else math.sin(i * 0.3) + rng.nextDouble() * 0.1
    }
    val w = 8
    val (oracle, _) = bruteForce(ts, w, math.ceil(w / 4.0).toInt)
    val (mp, _) = Mpx.mpxSelf(ts, w)
    // tolerate kernel-vs-oracle divergence only where sigma ~ 0 makes
    // z-normalization ill-defined (oracle zeroes, kernels guard)
    var diffs = 0
    for (i <- mp.indices)
      if (math.abs(mp(i) - oracle(i)) > 1e-6) diffs += 1
    assert(diffs <= 20, s"$diffs positions diverge beyond sigma-zero zones")
  }
}
