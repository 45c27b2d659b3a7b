package graft.kernels

import org.jtransforms.fft.DoubleFFT_1D

/** FFT sliding dot product (ref: core.py:397-420 `fft_convolve`).
  *
  * Uses JTransforms' arbitrary-length split-radix FFT (ships with Spark at
  * /opt/spark/jars/JTransforms-3.1.jar). The reference pins golden values at
  * 4-7 decimal places, which JTransforms' rounding satisfies; the bit-exact
  * paths (mpx) avoid FFT entirely.
  */
object Fft {

  // JTransforms fans every transform of 8,192 points or more out over
  // JLargeArrays' own pool: nproc non-daemon threads kept alive for 60 s.
  // That holds a finished main open for a minute after its last FFT, and
  // inside a Spark task it starts nproc extra threads on top of the
  // executor's task slots, which already own the cores. One thread keeps
  // every transform on its caller's thread; the values are unchanged.
  pl.edu.icm.jlargearrays.ConcurrencyUtils.setNumberOfThreads(1)

  // DoubleFFT_1D construction builds O(n) twiddle/permutation tables —
  // rebuilt per call it dominates short transforms. One small LRU of
  // plans per thread (transform state is not shared-safe; ThreadLocal
  // avoids locking): values produced are identical to a fresh plan's,
  // and the bound keeps a long-lived executor thread that sees many
  // distinct series lengths from accumulating O(n) tables per length.
  private val MaxPlansPerThread = 8

  private val planCache = new ThreadLocal[java.util.LinkedHashMap[Integer, DoubleFFT_1D]] {
    override def initialValue(): java.util.LinkedHashMap[Integer, DoubleFFT_1D] =
      new java.util.LinkedHashMap[Integer, DoubleFFT_1D](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Integer, DoubleFFT_1D]): Boolean =
          size() > MaxPlansPerThread
      }
  }

  private def plan(n: Int): DoubleFFT_1D = {
    val m = planCache.get()
    var p = m.get(n)
    if (p == null) { p = new DoubleFFT_1D(n); m.put(n, p) }
    p
  }

  /** Full complex FFT of a real signal: returns interleaved [re0, im0, re1,
    * im1, ...] of length 2n.
    */
  def fftReal(a: Array[Double]): Array[Double] = fftRealPadded(a, a.length)

  /** Smallest power of two >= n: JTransforms takes its radix-2 path there,
    * where an awkward length (large prime factor) would fall into
    * Bluestein's algorithm — internally THREE transforms at ~4x the
    * length. Convolution consumers may zero-pad to this length freely: the
    * valid output region [m-1, n-1] of the MASS circular convolution is
    * identical in exact arithmetic for any padded length >= n.
    */
  def fastLength(n: Int): Int =
    if (n <= 1) 1 else Integer.highestOneBit(n - 1) << 1

  /** fftReal of `a` zero-padded to length p (p >= a.length). */
  def fftRealPadded(a: Array[Double], p: Int): Array[Double] = {
    require(p >= a.length, s"pad $p < input ${a.length}")
    val buf = new Array[Double](2 * p)
    System.arraycopy(a, 0, buf, 0, a.length)
    plan(p).realForwardFull(buf)
    buf
  }

  /** In-place complex inverse FFT on interleaved data (scaled by 1/n, like
    * np.fft.ifft).
    */
  def ifftComplex(buf: Array[Double]): Unit =
    plan(buf.length / 2).complexInverse(buf, true)

  /** Element-wise complex multiply of interleaved arrays, result into a new
    * array.
    */
  def complexMult(x: Array[Double], y: Array[Double]): Array[Double] = {
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      val xr = x(i); val xi = x(i + 1)
      val yr = y(i); val yi = y(i + 1)
      out(i) = xr * yr - xi * yi
      out(i + 1) = xr * yi + xi * yr
      i += 2
    }
    out
  }

  /** Sliding dot product of `query` over `ts` via FFT convolution; returns
    * the n-m+1 real values (ref core.py:397-420: real(ifft(fft(ts) *
    * fft(rev(query) ++ 0s)))[m-1:n]).
    */
  def fftConvolve(ts: Array[Double], query: Array[Double]): Array[Double] = {
    val n = ts.length
    val m = query.length
    val yt = new Array[Double](n)
    var i = 0
    while (i < m) { yt(i) = query(m - 1 - i); i += 1 }
    val z = complexMult(fftReal(ts), fftReal(yt))
    ifftComplex(z)
    val out = new Array[Double](n - m + 1)
    i = 0
    while (i < out.length) {
      out(i) = z(2 * (m - 1 + i))
      i += 1
    }
    out
  }

  /** Direct O(n·m) sliding dot product (ref core.py:423-444
    * `sliding_dot_product`) — exact fallback for small m.
    */
  def slidingDotProduct(ts: Array[Double], query: Array[Double]): Array[Double] = {
    val n = ts.length
    val m = query.length
    val out = new Array[Double](n - m + 1)
    var i = 0
    while (i < out.length) {
      var s = 0.0
      var j = 0
      while (j < m) { s += ts(i + j) * query(j); j += 1 }
      out(i) = s
      i += 1
    }
    out
  }
}
