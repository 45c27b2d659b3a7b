package graft.kernels

/** STOMP matrix profile: O(1) incremental sliding-dot-product update per
  * row, maintaining the full profile plus left/right profiles.
  *
  * Behavioral port of `/root/reference/matrixprofile/algorithms/stomp.py`.
  * The batch decomposition (each batch seeds its own first product with one
  * FFT convolution, then streams rows sequentially — stomp.py:100-105) is
  * exactly the per-partition recipe used by the distributed orchestration:
  * partitions own contiguous row ranges and merge with elementwise min
  * (stomp.py:340-357) — [[mergeInto]], which the distributed layer's
  * Aggregator also applies to tile segments across Spark partitions.
  */
object Stomp {

  /** One batch's (or tile's) partial profiles. Left/right arrays are null
    * for AB joins (the reference returns None there).
    */
  final case class Batch(
      mp: Array[Double], pi: Array[Long],
      lmp: Array[Double], lpi: Array[Long],
      rmp: Array[Double], rpi: Array[Long])

  /** Full-profile result with metadata (ref stomp.py:359-377). */
  final case class Result(
      mp: Array[Double], pi: Array[Long],
      lmp: Array[Double], lpi: Array[Long],
      rmp: Array[Double], rpi: Array[Long],
      w: Int, ez: Int, join: Boolean)

  /** Contiguous [start, end) batch ranges (ref core.py:545-577
    * `generate_batch_jobs`).
    */
  def batchRanges(profileLen: Int, nJobs: Int): Seq[(Int, Int)] = {
    val batchSize = math.ceil(profileLen.toDouble / nJobs).toInt
    if (batchSize == profileLen) Seq((0, profileLen))
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      var done = false
      while (i < nJobs && !done) {
        val start = i * batchSize
        val end = math.min((i + 1) * batchSize, profileLen)
        out += ((start, end))
        if (end == profileLen) done = true
        i += 1
      }
      out.toSeq
    }
  }

  /** Compute rows [batchStart, batchEnd] (end inclusive when batchEnd <
    * profileLen, mirroring stomp.py:131-137) of the profile.
    *
    * Ref: stomp.py:19-193 `_batch_compute`. `ts`/`query` must already be
    * NaN/Inf-cleaned; `skipLocs` marks windows that contained NaN/Inf.
    */
  def batchCompute(batchStart0: Int, batchEnd0: Int, ts: Array[Double],
      query: Array[Double], w: Int, ez: Int, isJoin: Boolean,
      dataMu: Array[Double], dataSig: Array[Double],
      firstProduct: Array[Double], skipLocs: Array[Boolean]): Batch = {
    val dataLength = ts.length
    val profileLength = dataLength - w + 1
    var batchStart = batchStart0
    var batchEnd = batchEnd0

    val mp = Array.fill(profileLength)(Double.PositiveInfinity)
    val pi = new Array[Long](profileLength)
    var lmp: Array[Double] = null
    var lpi: Array[Long] = null
    var rmp: Array[Double] = null
    var rpi: Array[Long] = null
    if (!isJoin) {
      lmp = Array.fill(profileLength)(Double.PositiveInfinity)
      lpi = new Array[Long](profileLength)
      rmp = Array.fill(profileLength)(Double.PositiveInfinity)
      rpi = new Array[Long](profileLength)
    }

    // seed the sliding product: batch 0 reuses firstProduct, later batches
    // recompute the product at batchStart-1 via one FFT (stomp.py:100-105)
    var lastProduct: Array[Double] = null
    var firstWindow: Array[Double] = null
    if (batchStart == 0) {
      firstWindow = java.util.Arrays.copyOfRange(query, 0, w)
      lastProduct = firstProduct.clone()
    } else {
      firstWindow = java.util.Arrays.copyOfRange(query, batchStart - 1, batchStart + w - 1)
      lastProduct = Fft.fftConvolve(ts, firstWindow)
    }

    var querySum = 0.0
    var query2Sum = 0.0
    var i = 0
    while (i < w) { querySum += firstWindow(i); query2Sum += firstWindow(i) * firstWindow(i); i += 1 }
    var dropValue = firstWindow(0)

    if (batchStart == 0) {
      val (qMu, qSig) = MovingStats.movingAvgStd(firstWindow, w)
      val dp = Core.distanceProfile(lastProduct, w, dataMu, dataSig, qMu(0), qSig(0))
      Core.applyExclusionZone(ez, isJoin, w, dataLength, 0, dp)
      var j = 0
      while (j < profileLength) {
        if (dp(j) < mp(j)) {
          mp(j) = dp(j)
          pi(j) = 0
          if (!isJoin) {
            lmp(j) = dp(j)
            lpi(j) = 0
          }
        }
        j += 1
      }
      batchStart += 1
    }

    if (batchEnd < profileLength) batchEnd += 1

    i = batchStart
    while (i < batchEnd) {
      if (!skipLocs(i)) {
        val qLast = query(i + w - 1)
        querySum = querySum - dropValue + qLast
        query2Sum = query2Sum - dropValue * dropValue + qLast * qLast
        val queryMu = querySum / w
        val querySig = math.sqrt(query2Sum / w - queryMu * queryMu)
        // shifted product update (stomp.py:152-156); descending order so
        // each new[j] reads the prior iteration's value at j-1
        var j = profileLength - 1
        while (j >= 1) {
          lastProduct(j) = lastProduct(j - 1) - ts(j - 1) * dropValue + ts(w + j - 1) * qLast
          j -= 1
        }
        lastProduct(0) = firstProduct(i)
        dropValue = query(i)

        val dp = Core.distanceProfile(lastProduct, w, dataMu, dataSig, queryMu, querySig)
        Core.applyExclusionZone(ez, isJoin, w, dataLength, i, dp)

        j = 0
        while (j < profileLength) {
          if (dp(j) < mp(j)) {
            mp(j) = dp(j)
            pi(j) = i
          }
          j += 1
        }
        if (!isJoin) {
          j = i
          while (j < profileLength) {
            if (dp(j) < lmp(j)) {
              lmp(j) = dp(j)
              lpi(j) = i
            }
            j += 1
          }
          j = 0
          while (j < i) {
            if (dp(j) < rmp(j)) {
              rmp(j) = dp(j)
              rpi(j) = i
            }
            j += 1
          }
        }
      }
      i += 1
    }
    Batch(mp, pi, lmp, lpi, rmp, rpi)
  }

  /** Self-join tile over rows [rLo, rHi) x columns [cLo, cHi) from halo'd
    * slices only: `rowSliceRaw` covers positions [rLo, rHi-1+w),
    * `colSliceRaw` covers [cLo, cHi-1+w). Column stats are recomputed from
    * the slice and the first row's products come from one FFT over the
    * column slice, subsequent rows from the O(1) shifted-product update
    * with a direct O(w) re-seed at the segment's left edge — the tile
    * analog of the reference's batch seeding (stomp.py:100-105, 152-156).
    * Output arrays cover the column segment (length cHi-cLo); indices are
    * global.
    */
  def tileCompute(rLo: Int, rHi: Int, cLo: Int, cHi: Int,
      rowSliceRaw: Array[Double], colSliceRaw: Array[Double], w: Int,
      ez: Int): Batch = {
    val rows = rHi - rLo
    val cols = cHi - cLo
    val skipRows = Core.findSkipLocations(rowSliceRaw, rows, w)
    val rowSlice = Core.cleanNanInf(rowSliceRaw)
    val colSlice = Core.cleanNanInf(colSliceRaw)
    val (colMu, colSig) = MovingStats.movingAvgStd(colSlice, w)

    val mp = Array.fill(cols)(Double.PositiveInfinity)
    val pi = new Array[Long](cols)
    val lmp = Array.fill(cols)(Double.PositiveInfinity)
    val lpi = new Array[Long](cols)
    val rmp = Array.fill(cols)(Double.PositiveInfinity)
    val rpi = new Array[Long](cols)

    val firstWindow = java.util.Arrays.copyOfRange(rowSlice, 0, w)
    val product = Fft.fftConvolve(colSlice, firstWindow) // length == cols

    var querySum = 0.0
    var query2Sum = 0.0
    var k = 0
    while (k < w) {
      querySum += firstWindow(k)
      query2Sum += firstWindow(k) * firstWindow(k)
      k += 1
    }
    var dropValue = firstWindow(0)

    var i = rLo
    while (i < rHi) {
      val li = i - rLo
      // the running state does NOT advance over skipped (NaN-window) rows,
      // mirroring batchCompute / stomp.py:121. Note the reference makes
      // post-NaN rows decomposition-DEPENDENT (a batch seeded after the
      // NaN restarts clean while a continuation carries stale state), so
      // NaN-bearing series are only well-defined after gap-fill/preprocess
      // — which is why skip handling upstream matters.
      if (!skipRows(li)) {
        if (li > 0) {
          val qLast = rowSlice(li + w - 1)
          querySum = querySum - dropValue + qLast
          query2Sum = query2Sum - dropValue * dropValue + qLast * qLast
          // shifted product, descending so new[j] reads prior row's j-1
          var j = cols - 1
          while (j >= 1) {
            product(j) = product(j - 1) - colSlice(j - 1) * dropValue +
              colSlice(w + j - 1) * qLast
            j -= 1
          }
          // left edge re-seed: direct O(w) dot of row window vs col window
          var seed = 0.0
          var t = 0
          while (t < w) { seed += rowSlice(li + t) * colSlice(t); t += 1 }
          product(0) = seed
          dropValue = rowSlice(li)
        }
        val queryMu = querySum / w
        val sigSq = query2Sum / w - queryMu * queryMu
        val querySig = math.sqrt(if (sigSq < 0) 0.0 else sigSq)
        var j = 0
        while (j < cols) {
          val g = cLo + j
          // exclusion zone [i-ez, i+ez] (core.py:580-587) enforced by skip
          if (ez == 0 || g < i - ez || g > i + ez) {
            val d = math.sqrt(2.0 * (w - (product(j) - w * colMu(j) * queryMu)
              / (colSig(j) * querySig)))
            if (d < mp(j)) { mp(j) = d; pi(j) = i }
            if (g >= i) { if (d < lmp(j)) { lmp(j) = d; lpi(j) = i } }
            else if (d < rmp(j)) { rmp(j) = d; rpi(j) = i }
          }
          j += 1
        }
      }
      i += 1
    }
    Batch(mp, pi, lmp, lpi, rmp, rpi)
  }

  /** Elementwise-min merge of batch partials (ref stomp.py:340-357): `b`
    * covers positions [offset, offset + b.mp.length) of `a` (a tile's
    * column segment; 0 for whole batches). Mutates and returns `a`.
    */
  def mergeInto(a: Batch, b: Batch, offset: Int = 0): Batch = {
    var j = 0
    while (j < b.mp.length) {
      val g = offset + j
      if (b.mp(j) < a.mp(g)) {
        a.mp(g) = b.mp(j)
        a.pi(g) = b.pi(j)
      }
      if (a.lmp != null) {
        if (b.lmp(j) < a.lmp(g)) {
          a.lmp(g) = b.lmp(j)
          a.lpi(g) = b.lpi(j)
        }
        if (b.rmp(j) < a.rmp(g)) {
          a.rmp(g) = b.rmp(j)
          a.rpi(g) = b.rpi(j)
        }
      }
      j += 1
    }
    a
  }

  /** Full STOMP (ref stomp.py:196-377). `nJobs` only controls the batch
    * decomposition (results are identical across values, which the
    * parallelism-invariance tests assert).
    */
  def stomp(tsRaw: Array[Double], w: Int, queryRaw: Option[Array[Double]] = None,
      nJobs: Int = 1): Result = {
    val isJoin = queryRaw.isDefined
    require(w >= 4, "window size must be at least 4.")
    val qIn = queryRaw.getOrElse(tsRaw)
    require(w <= qIn.length / 2.0, "Time series is too short relative to desired window size")

    val profileLength = tsRaw.length - w + 1
    val ez = if (isJoin) 0 else math.ceil(w / 2.0).toInt
    val skipLocs = Core.findSkipLocations(tsRaw, profileLength, w)
    val ts = Core.cleanNanInf(tsRaw)
    val query = Core.cleanNanInf(qIn)

    val (dataMu, dataSig) = MovingStats.movingAvgStd(ts, w)
    val firstWindow = java.util.Arrays.copyOfRange(query, 0, w)
    val firstProduct = Fft.fftConvolve(ts, firstWindow)

    val numQueries = query.length - w + 1
    val batches = batchRanges(numQueries, nJobs).map { case (s, e) =>
      batchCompute(s, e, ts, query, w, ez, isJoin, dataMu, dataSig, firstProduct, skipLocs)
    }
    val merged = batches.reduceLeft(mergeInto(_, _))
    Result(merged.mp, merged.pi, merged.lmp, merged.lpi, merged.rmp, merged.rpi, w, ez, isJoin)
  }
}
