package graft.kernels

/** Series preprocessing: sliding-window imputation + constant-window
  * de-noising (ref: /root/reference/matrixprofile/preprocess.py:91-270).
  *
  * The reference's `add_noise_to_series` uses unseeded global RNG
  * (preprocess.py:134); this engine derives the noise stream from an
  * explicit seed so distributed runs are reproducible.
  */
object Preprocess {
  import Core.isNanInf

  sealed trait Method
  case object Mean extends Method
  case object Median extends Method
  case object Min extends Method
  case object Max extends Method

  def isSubsequenceConstant(sub: Array[Double]): Boolean =
    sub.forall(_ == sub(0))

  /** Deterministic U(0, 9e-7) noise derived from (seed, index) — the
    * engine-reproducible analog of preprocess.py:121-137.
    */
  def addNoiseToSeries(series: Array[Double], seed: Long): Array[Double] = {
    val rng = new java.util.Random(seed)
    series.map(_ + rng.nextDouble() * 0.0000009)
  }

  /** Sliding-window imputation (ref preprocess.py:140-222): endpoints are
    * patched from the nearest valid value, then each window containing
    * missing values is filled with the window statistic over its valid
    * values, front-to-back (forward) or back-to-front (backward).
    */
  def imputeMissing(tsIn: Array[Double], window: Int, method: Method = Mean,
      forward: Boolean = true): Array[Double] = {
    val temp = tsIn.clone()
    val n = temp.length

    def stat(valid: Array[Double]): Double = method match {
      case Mean => MovingStats.mean(valid)
      case Median => MovingStats.median(valid)
      case Min => valid.min
      case Max => valid.max
    }

    if (isNanInf(temp(0))) temp(0) = temp.find(v => !isNanInf(v)).getOrElse(0.0)
    if (isNanInf(temp(n - 1)))
      temp(n - 1) = temp.reverseIterator.find(v => !isNanInf(v)).getOrElse(0.0)

    val order =
      if (forward) Range(0, n - window + 1)
      else Range(n - window + 1, 0, -1)

    for (index <- order) {
      // the reference's backward loop starts at n-window+1 and relies on
      // numpy slice clamping for its first (short) window
      // (preprocess.py:207-216) — mirror the clamp
      val end = math.min(n, index + window)
      var hasMissing = false
      var j = index
      while (j < end && !hasMissing) { if (isNanInf(temp(j))) hasMissing = true; j += 1 }
      if (hasMissing) {
        val valid = temp.slice(index, end).filterNot(isNanInf)
        if (valid.nonEmpty) {
          val s = stat(valid)
          j = index
          while (j < end) { if (isNanInf(temp(j))) temp(j) = s; j += 1 }
        }
      }
    }
    temp
  }

  /** impute → de-constant (ref preprocess.py:225-270). */
  def preprocess(ts: Array[Double], window: Int, method: Method = Mean,
      forward: Boolean = true, addNoise: Boolean = true,
      noiseSeed: Long = 42L): Array[Double] = {
    val temp = imputeMissing(ts, window, method, forward)
    if (addNoise) {
      var index = 0
      while (index < temp.length - window + 1) {
        val sub = temp.slice(index, index + window)
        if (isSubsequenceConstant(sub)) {
          val noisy = addNoiseToSeries(sub, noiseSeed ^ index.toLong)
          System.arraycopy(noisy, 0, temp, index, window)
        }
        index += 1
      }
    }
    temp
  }
}
