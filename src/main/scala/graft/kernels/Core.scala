package graft.kernels

/** Scalar/array helpers shared by the matrix-profile kernels
  * (ref: core.py:141-192, 447-478, 580-622).
  */
object Core {

  /** Boolean mask of windows containing NaN/Inf (ref core.py:141-167). */
  def findSkipLocations(ts: Array[Double], profileLen: Int, w: Int): Array[Boolean] = {
    val skip = new Array[Boolean](profileLen)
    // count of bad values in current window, slid in O(n)
    var bad = 0
    var i = 0
    while (i < ts.length) {
      val v = ts(i)
      if (v.isNaN || v.isInfinite) bad += 1
      if (i >= w) {
        val u = ts(i - w)
        if (u.isNaN || u.isInfinite) bad -= 1
      }
      if (i >= w - 1 && i - w + 1 < profileLen) skip(i - w + 1) = bad > 0
      i += 1
    }
    skip
  }

  /** Replace NaN/Inf with 0 (ref core.py:170-192), returns new array. */
  def cleanNanInf(ts: Array[Double]): Array[Double] = {
    val out = ts.clone()
    var i = 0
    while (i < out.length) {
      if (out(i).isNaN || out(i).isInfinite) out(i) = 0.0
      i += 1
    }
    out
  }

  /** MPX/SCRIMP exclusion zone: a self join skips lags |i - j| <= minlag =
    * ceil(w/4) (ref cympx.pyx:58; scrimp.py uses the same zone).
    */
  def minlag(w: Int): Int = math.ceil(w / 4.0).toInt

  /** STOMP's self-join exclusion zone ceil(w/2) (ref stomp.py). */
  def stompZone(w: Int): Int = math.ceil(w / 2.0).toInt

  /** Top-k motif and discord exclusion zone floor(w/2), the default when
    * the caller names none (ref top_k_motifs.py, top_k_discords.py).
    */
  def topKZone(w: Int): Int = math.floor(w / 2.0).toInt

  /** In-place exclusion zone: dp[max(0,idx-ez) until min(plen, idx+ez+1)] = ∞
    * unless a join (ref core.py:580-587).
    */
  def applyExclusionZone(ez: Int, isJoin: Boolean, w: Int, dataLen: Int,
      index: Int, dp: Array[Double]): Unit = {
    if (ez > 0 && !isJoin) {
      val start = math.max(0, index - ez)
      val end = math.min(dataLen - w + 1, index + ez + 1)
      var i = start
      while (i < end) { dp(i) = Double.PositiveInfinity; i += 1 }
    }
  }

  /** The z-normalized Euclidean distance of a window pair with Pearson
    * correlation `rho`: sqrt(2w(1-ρ)) (ref core.py:590-622). Callers keep
    * their own sentinel rule around it.
    */
  def pearsonDist(w: Int, rho: Double): Double = math.sqrt(2.0 * w * (1.0 - rho))

  /** Pearson → Euclidean over an array, ∞ stays ∞. */
  def pearsonToEuclidean(a: Array[Double], w: Int): Array[Double] =
    a.map(rho => if (rho.isInfinite) Double.PositiveInfinity else pearsonDist(w, rho))

  /** Metric inference over a profile array (ref core.py:625-643): the
    * values are assumed Pearson iff all finite entries lie in [0, 1].
    * The engine's typed `metric` field makes this unnecessary internally;
    * it exists for parity when ingesting untyped profiles (e.g. decoded
    * `.mpf` files whose metric string is absent). An array with no finite
    * entries has nothing to infer — treated as NOT Pearson (the reference
    * would throw on the empty masked min).
    */
  def isPearsonArray(a: Array[Double]): Boolean = {
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var any = false
    var i = 0
    while (i < a.length) {
      val v = a(i)
      if (!isNanInf(v)) {
        if (v < mn) mn = v
        if (v > mx) mx = v
        any = true
      }
      i += 1
    }
    any && mn >= 0.0 && mx <= 1.0
  }

  def isNanInf(v: Double): Boolean = v.isNaN || v.isInfinite

  /** argmin treating NaN like numpy: NaN wins argmin (numpy propagates NaN).
    * The reference masks NaN/Inf to ∞ before argmin in all call sites we
    * port, so plain strict-< first-min-wins matches (cympx.pyx:94-102).
    */
  def argmin(a: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < a.length) {
      if (a(i) < a(best)) best = i
      i += 1
    }
    best
  }

  def argmax(a: Array[Double]): Int = {
    var best = 0
    var i = 1
    while (i < a.length) {
      if (a(i) > a(best)) best = i
      i += 1
    }
    best
  }

  /** Ascending stable argsort (ties keep index order, so the descending
    * traversal in top-k discords visits larger indices first — matching the
    * reference's observed numpy behavior on equal values,
    * tests/test_top_k_discords.py:20-31).
    */
  def argsort(a: Array[Double]): Array[Int] =
    Array.range(0, a.length).sortBy(a(_))
}
