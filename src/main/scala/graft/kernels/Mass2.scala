package graft.kernels

/** MASS2 distance profile (ref: algorithms/mass2.py:14-96).
  *
  * Carries complex arithmetic through the distance algebra exactly like the
  * reference: the FFT product's imaginary residue makes slightly-negative
  * radicands produce near-zero real distances (complex sqrt) instead of NaN.
  * `mass2` returns the real component, which is what every internal consumer
  * of the reference uses (mpdist.py:104 `np.real`, top_k_motifs.py:141).
  */
object Mass2 {

  val DefaultThreshold = 1e-10

  /** Precomputed per-(ts, m) state for repeated MASS queries against the
    * same series: fft(ts) and the rolling stats are shared across all
    * queries of length m (MpDist.massDistanceMatrix issues one query per
    * subsequence — without this, fft(ts) is recomputed per row).
    *
    * Transforms run at the next power-of-two length `p >= n`: the MASS
    * output region [m-1, n-1] of the circular convolution is identical in
    * exact arithmetic for any padded length >= n (the reversed query is
    * zero beyond m-1 and ts zero beyond n), and the radix-2 length avoids
    * JTransforms' Bluestein fallback on awkward n (measured ~5x on ~17k
    * tile slices). Rounding differs from an unpadded transform at the
    * ~1e-12 relative level — inside every golden gate's tolerance.
    */
  final class PreparedTs(val ts: Array[Double], val m: Int) {
    val n: Int = ts.length
    val p: Int = Fft.fastLength(n)
    val x: Array[Double] = Fft.fftRealPadded(ts, p)
    val stats: (Array[Double], Array[Double]) = MovingStats.movingAvgStd(ts, m)
  }

  def prepare(ts: Array[Double], m: Int): PreparedTs = new PreparedTs(ts, m)

  /** Real part of the MASS2 distance profile. */
  def mass2(ts: Array[Double], query: Array[Double],
      threshold: Double = DefaultThreshold): Array[Double] =
    mass2Prepared(prepare(ts, query.length), query, threshold)

  /** Real part of the MASS2 profile against a prepared series. */
  def mass2Prepared(prep: PreparedTs, query: Array[Double],
      threshold: Double = DefaultThreshold): Array[Double] = {
    val n = prep.n
    val m = query.length
    require(m == prep.m, s"prepared for m=${prep.m}, got query of length $m")
    val yt = new Array[Double](prep.p)
    var i = 0
    while (i < m) { yt(i) = query(m - 1 - i); i += 1 }
    val meany = MovingStats.mean(query)
    val sigmay = MovingStats.std(query)
    val (meanx, sigmax) = prep.stats

    // fft(rev(query) ++ 0s) * fft(ts), inverse, both at the padded length
    val z = Fft.complexMult(prep.x, Fft.fftReal(yt))
    Fft.ifftComplex(z)
    val plen = n - m + 1
    val re = new Array[Double](plen)
    i = 0
    while (i < plen) {
      var tmp = sigmax(i) * sigmay
      if (tmp == 0) tmp = 1e-12
      val zr = z(2 * (m - 1 + i))
      val zi = z(2 * (m - 1 + i) + 1)
      // dist = 2 * (m - (z - m*meanx*meany) / tmp)
      var dr = 2.0 * (m - (zr - m * meanx(i) * meany) / tmp)
      var di = 2.0 * (-zi / tmp)
      // constant-window fixes (mass2.py:79-82)
      if (sigmax(i) < threshold) {
        dr = if (sigmay < threshold) 0.0 else m.toDouble
        di = 0.0
      }
      // real part of the complex sqrt
      val mag = math.hypot(dr, di)
      re(i) = math.sqrt(math.max((mag + dr) / 2.0, 0.0))
      i += 1
    }
    re
  }
}
