package graft.kernels

/** STOMP matrix profile: O(1) incremental sliding-dot-product update per
  * row, maintaining the full profile plus left/right profiles.
  *
  * Behavioral port of `/root/reference/matrixprofile/algorithms/stomp.py`.
  * The row recurrence is defined once, in [[tileCompute]]: a (row range x
  * column range) tile seeded by one FFT convolution and streamed row by
  * row (stomp.py:100-105, 152-156). The whole-series [[stomp]] runs it for
  * each row batch against all columns; the distributed orchestration runs
  * it per halo'd 2-D tile. Partials merge with elementwise min
  * (stomp.py:340-357) — [[mergeInto]], which the distributed layer's
  * Aggregator also applies to tile segments across Spark partitions.
  */
object Stomp {

  /** One batch's (or tile's) partial profiles. Left/right arrays are null
    * in [[stomp]]'s AB-join result (the reference returns None there).
    */
  final case class Batch(
      mp: Array[Double], pi: Array[Long],
      lmp: Array[Double], lpi: Array[Long],
      rmp: Array[Double], rpi: Array[Long])

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

  /** The STOMP row recurrence over rows [rLo, rHi) x columns [cLo, cHi)
    * from halo'd slices only: `rowSliceRaw` covers row (query) positions
    * [rLo, rHi-1+w), `colSliceRaw` column positions [cLo, cHi-1+w). For a
    * self join both come from the series; for an AB join the rows come
    * from the query and the columns from the series. Column stats are
    * recomputed from the slice and the first row's products come from one
    * FFT over the column slice, subsequent rows from the O(1)
    * shifted-product update with a direct O(w) re-seed at the segment's
    * left edge — the tile analog of the reference's batch seeding
    * (stomp.py:100-105, 152-156). `ez` = 0 disables the exclusion zone.
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
      // a NaN/Inf window is never a query row (stomp.py:121), but the
      // running state still advances over it: the reference's `continue`
      // leaves it stale, which makes every later row depend on where its
      // batch or tile started
      if (!skipRows(li)) {
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

  /** Full STOMP (ref stomp.py:196-377): [[tileCompute]] for each `nJobs`
    * row batch against all columns, merged by [[mergeInto]]. `nJobs` only
    * controls the batch decomposition (results are identical across values,
    * which the parallelism-invariance tests assert). With a `query` (an AB
    * join) the rows are the query's windows, the profile is indexed by the
    * series' windows, no exclusion zone applies, and the left/right
    * profiles are null.
    */
  def stomp(ts: Array[Double], w: Int, query: Option[Array[Double]] = None,
      nJobs: Int = 1): Batch = {
    require(w >= 4, "window size must be at least 4.")
    val rows = query.getOrElse(ts)
    require(w <= rows.length / 2.0, "Time series is too short relative to desired window size")
    val ez = if (query.isDefined) 0 else Core.stompZone(w)
    val plen = ts.length - w + 1
    val merged = batchRanges(rows.length - w + 1, nJobs).map { case (s, e) =>
      tileCompute(s, e, 0, plen, java.util.Arrays.copyOfRange(rows, s, e - 1 + w),
        ts, w, ez)
    }.reduceLeft(mergeInto(_, _))
    if (query.isDefined) merged.copy(lmp = null, lpi = null, rmp = null, rpi = null)
    else merged
  }
}
