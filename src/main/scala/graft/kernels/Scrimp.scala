package graft.kernels

/** PreSCRIMP + SCRIMP++ anytime matrix profile
  * (ref: /root/reference/matrixprofile/algorithms/scrimp.py).
  *
  * Exact-mode port (sample_pct = 1): PreSCRIMP samples every
  * floor(w*step)-th row and refines neighborhoods with cumulative dot
  * products; SCRIMP then sweeps every diagonal past the exclusion zone.
  * The reference draws its diagonal order from an RNG; since min-updates
  * are order-independent in value (ties may attribute a different equally
  * near neighbor), this port sweeps ascending — deterministic, and equal
  * to the reference on its golden fixtures (tests/test_scrimp.py).
  *
  * dist1/dist2 are carried across iterations including their stale border
  * cells (scrimp.py:546-552 slices leave dist1[idx-1] and
  * dist2[plen-idx..plen-idx+1] untouched) — mirrored deliberately.
  */
object Scrimp {

  final case class Profile(mp: Array[Double], pi: Array[Long], w: Int, ez: Int)

  /** Distance profile via precomputed FFT of ts (ref scrimp.py:35-83). */
  private def calcDistanceProfile(tsFft: Array[Double], y: Array[Double], n: Int, m: Int,
      meanx: Array[Double], sigmax: Array[Double]): Array[Double] = {
    // z = ifft(fft(ts) * fft(rev(y) ++ 0s)), real part only (scrimp.py:79-81)
    val yt = new Array[Double](n)
    var i = 0
    while (i < m) { yt(i) = y(m - 1 - i); i += 1 }
    val yFft = Fft.fftReal(yt)
    val z = Fft.complexMult(tsFft, yFft)
    Fft.ifftComplex(z)

    var sumy = 0.0
    var sumy2 = 0.0
    i = 0
    while (i < m) { sumy += y(i); sumy2 += y(i) * y(i); i += 1 }
    val meany = sumy / m
    val sigmay = math.sqrt(sumy2 / m - meany * meany)

    val plen = n - m + 1
    val out = new Array[Double](plen)
    i = 0
    while (i < plen) {
      val zr = z(2 * (m - 1 + i))
      val dist = m - (zr - m * meanx(i) * meany) / (sigmax(i) * sigmay)
      out(i) = math.sqrt(math.abs(2.0 * dist))
      i += 1
    }
    out
  }

  /** PreSCRIMP at sample_pct=1 (deterministic stepping, scrimp.py:326-328).
    * Ref: scrimp.py:211-406.
    */
  def prescrimp(ts: Array[Double], w: Int, stepSizePct: Double = 0.25): Profile = {
    require(w >= 4, "window size must be at least 4.")
    require(w <= ts.length / 2.0, "Time series is too short relative to desired window size")
    val n = ts.length
    val step = math.floor(w * stepSizePct).toInt
    val plen = n - w + 1
    val ez = Core.minlag(w)

    var mp = new Array[Double](plen)
    val mpi = new Array[Long](plen)
    val tsFft = Fft.fftReal(ts)
    val (mux, sigx) = MovingStats.movingAvgStd(ts, w)
    val dotproduct = new Array[Double](plen)
    val refine = Array.fill(plen)(Double.PositiveInfinity)

    var iteration = 0
    var idx = 0
    while (idx < plen) {
      val sub = java.util.Arrays.copyOfRange(ts, idx, idx + w)
      val dp = calcDistanceProfile(tsFft, sub, n, w, mux, sigx)
      Core.applyExclusionZone(ez, isJoin = false, w, n, idx, dp)

      if (iteration == 0) {
        mp = dp.clone()
        java.util.Arrays.fill(mpi, idx.toLong)
      } else {
        var j = 0
        while (j < plen) {
          if (dp(j) < mp(j)) { mp(j) = dp(j); mpi(j) = idx }
          j += 1
        }
      }
      val idxMin = Core.argmin(dp)
      mp(idx) = dp(idxMin)
      mpi(idx) = idxMin
      val idxNn = idxMin
      val idxDiff = idxNn - idx
      val endidx = math.min(math.min(plen - 1, idx + step - 1), plen - idxDiff - 1)
      val beginidx = math.max(math.max(0, idx - step + 1), 2 - idxDiff)

      // dot product at idx recovered from the profile value (scrimp.py:86-90)
      dotproduct(idx) = (w - mp(idx) * mp(idx) / 2.0) * sigx(idx) * sigx(idxNn) +
        w * mux(idx) * mux(idxNn)

      // forward cumulative dot products + refine (scrimp.py:93-116)
      var j = idx + 1
      var acc = dotproduct(idx)
      while (j <= endidx) {
        acc += ts(j + w - 1) * ts(j + idxDiff + w - 1) - ts(j - 1) * ts(j + idxDiff - 1)
        dotproduct(j) = acc
        val h = w - (dotproduct(j) - w * mux(j) * mux(j + idxDiff)) / (sigx(j) * sigx(j + idxDiff))
        refine(j) = math.sqrt(math.abs(2.0 * h))
        j += 1
      }
      // backward cumulative dot products + refine (scrimp.py:119-157)
      j = idx - 1
      acc = dotproduct(idx)
      while (j >= beginidx) {
        acc += ts(j) * ts(j + idxDiff) - ts(j + w) * ts(j + idxDiff + w)
        dotproduct(j) = acc
        val h = w - (dotproduct(j) - w * mux(j) * mux(j + idxDiff)) / (sigx(j) * sigx(j + idxDiff))
        refine(j) = math.sqrt(math.abs(2.0 * h))
        j -= 1
      }
      // apply updates (scrimp.py:160-181): pass 1 then pass 2
      j = beginidx
      while (j <= endidx) {
        if (refine(j) < mp(j)) { mp(j) = refine(j); mpi(j) = j + idxDiff }
        j += 1
      }
      j = beginidx
      while (j <= endidx) {
        if (refine(j) < mp(j + idxDiff)) { mp(j + idxDiff) = refine(j); mpi(j + idxDiff) = j }
        j += 1
      }

      iteration += 1
      idx += step
    }
    Profile(mp, mpi, w, ez)
  }

  /** SCRIMP++ exact (sample_pct = 1): PreSCRIMP then every diagonal past the
    * exclusion zone (ref scrimp.py:409-565).
    */
  def scrimpPlusPlus(ts: Array[Double], w: Int, stepSizePct: Double = 0.25): Profile = {
    val pre = prescrimp(ts, w, stepSizePct)
    val n = ts.length
    val plen = n - w + 1
    val ez = pre.ez
    val mp = pre.mp
    val mpi = pre.pi
    val (dataMu, dataSig) = MovingStats.movingAvgStd(ts, w)

    val curlastz = new Array[Double](plen)
    val curdistance = new Array[Double](plen)
    val dist1 = Array.fill(plen)(Double.PositiveInfinity)
    val dist2 = Array.fill(plen)(Double.PositiveInfinity)

    var idx = ez + 1
    while (idx < plen) {
      var z = 0.0
      var i = 0
      while (i < w) { z += ts(i) * ts(idx + i); i += 1 }
      curlastz(idx) = z
      i = idx + 1
      while (i < plen) {
        val q = i - idx - 1
        z += ts(w + q) * ts(idx + w + q) - ts(q) * ts(idx + q)
        curlastz(i) = z
        i += 1
      }
      i = idx
      while (i < plen) {
        curdistance(i) = math.sqrt(math.abs(
          2.0 * (w - (curlastz(i) - w * (dataMu(i) * dataMu(i - idx))) /
            (dataSig(i) * dataSig(i - idx)))))
        i += 1
      }
      // dist1[0:idx-1]=inf, dist1[idx:]=curdistance[idx:] (scrimp.py:546-548)
      i = 0
      while (i < idx - 1) { dist1(i) = Double.PositiveInfinity; i += 1 }
      i = idx
      while (i < plen) { dist1(i) = curdistance(i); i += 1 }
      // dist2[0:plen-idx]=curdistance[idx:], dist2[plen-idx+2:]=inf (:550-552)
      i = 0
      while (i < plen - idx) { dist2(i) = curdistance(idx + i); i += 1 }
      i = plen - idx + 2
      while (i < plen) { dist2(i) = Double.PositiveInfinity; i += 1 }

      i = 0
      while (i < plen) {
        if (dist1(i) < mp(i)) { mp(i) = dist1(i); mpi(i) = i - idx }
        if (dist2(i) < mp(i)) { mp(i) = dist2(i); mpi(i) = i + idx }
        i += 1
      }
      idx += 1
    }
    Profile(mp, mpi, w, ez)
  }
}
