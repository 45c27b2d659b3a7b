package graft.kernels

/** Top-k motif and discord extraction over a matrix profile
  * (ref: /root/reference/matrixprofile/algorithms/top_k_motifs.py,
  * top_k_discords.py). Iterative exclusion-zone suppression is inherently
  * sequential per series; distribution happens across series.
  */
object TopK {

  final case class Motif(motifs: (Long, Long), neighbors: Array[Long])

  /** Top-k discords: descending traversal of a stable argsort with
    * exclusion-zone suppression (ref top_k_discords.py:94-155).
    */
  def mpTopKDiscords(mpIn: Array[Double], ez: Int, k: Int = 3): Array[Long] = {
    val tmp = mpIn.clone()
    val n = tmp.length
    val order = Core.argsort(tmp).reverse
    val found = scala.collection.mutable.ArrayBuffer.empty[Long]
    var oi = 0
    while (oi < order.length && found.length < k) {
      val idx = order(oi)
      if (!tmp(idx).isInfinite) {
        found += idx.toLong
        if (ez > 0) {
          val start = math.max(0, idx - ez)
          val end = math.min(n, idx + ez)
          var j = start
          while (j < end) { tmp(j) = Double.PositiveInfinity; j += 1 }
        }
      }
      oi += 1
    }
    found.toArray
  }

  /** One motif pick of [[selectMotifs]]: the winning profile row, the
    * ordered pair endpoints a <= b, the pair's distance and the accepted
    * neighbors, in acceptance order.
    */
  final case class MotifPick(row: Int, a: Int, b: Int, dist: Double,
      neighbors: Seq[Int])

  /** The motif selection shared by [[mpTopKMotifs]], [[pmpTopKMotifs]] and
    * BruteMp.pmpMotifs (ref top_k_motifs.py). Each of up to `k` picks:
    *  - takes the row-major, strict-`<` first minimum over the (possibly
    *    ragged) `rows`, seeded by the first cell, so a single row picks
    *    exactly what [[Core.argmin]] picks;
    *  - stops on a NaN/∞ minimum or a negative partner index
    *    (`partner(row, col)`, e.g. an mpi of -1 for a row that never
    *    matched);
    *  - fetches the caller's distance profile anchored at the lower
    *    endpoint (`profile(row, w, a)`), then suppresses the exclusion zone
    *    around both endpoints on that profile and on the winning row;
    *  - accepts up to `maxNeighbors` neighbors, nearest first, while
    *    `radius · dist >= neighbor distance`, suppressing each one's zone
    *    the same way.
    * `zone(row)` gives the row's (window, exclusion zone); zones are
    * bounded by the `dataLen - w + 1` windows of the series. `rows` is
    * mutated.
    */
  def selectMotifs(rows: Array[Array[Double]], dataLen: Int, k: Int,
      maxNeighbors: Int, radius: Double)(zone: Int => (Int, Int),
      partner: (Int, Int) => Long,
      profile: (Int, Int, Int) => Array[Double]): Seq[MotifPick] = {
    val picks = scala.collection.mutable.ArrayBuffer.empty[MotifPick]
    var ki = 0
    var done = false
    while (ki < k && !done) {
      var bestR = -1; var bestC = -1; var best = Double.PositiveInfinity
      var r = 0
      while (r < rows.length) {
        val row = rows(r)
        var c = 0
        while (c < row.length) {
          if (bestR < 0 || row(c) < best) { best = row(c); bestR = r; bestC = c }
          c += 1
        }
        r += 1
      }
      val pair = if (bestR < 0 || Core.isNanInf(best)) -1L else partner(bestR, bestC)
      if (pair < 0) done = true
      else {
        val (w, ez) = zone(bestR)
        val a = math.min(bestC.toLong, pair).toInt
        val b = math.max(bestC.toLong, pair).toInt
        val dp = profile(bestR, w, a)
        def suppress(idx: Int): Unit = {
          Core.applyExclusionZone(ez, isJoin = false, w, dataLen, idx, dp)
          Core.applyExclusionZone(ez, isJoin = false, w, dataLen, idx, rows(bestR))
        }
        suppress(a)
        suppress(b)
        val neighbors = scala.collection.mutable.ArrayBuffer.empty[Int]
        var ni = 0
        var nDone = false
        while (ni < maxNeighbors && !nDone) {
          val nIdx = Core.argmin(dp)
          val nDist = dp(nIdx)
          if (Core.isNanInf(nDist) || !(radius * best >= nDist)) nDone = true
          else {
            neighbors += nIdx
            suppress(nIdx)
          }
          ni += 1
        }
        picks += MotifPick(bestR, a, b, best, neighbors.toSeq)
      }
      ki += 1
    }
    picks.toSeq
  }

  /** Top-k motifs with MASS neighbor re-query
    * (ref top_k_motifs.py:174-314). Mutates copies only.
    */
  def mpTopKMotifs(ts: Array[Double], mpIn: Array[Double], mpiIn: Array[Long],
      w: Int, ez: Int, k: Int = 3, maxNeighbors: Int = 10,
      radius: Double = 3.0): Seq[Motif] = {
    val mp = mpIn.clone()
    selectMotifs(Array(mp), ts.length, k, maxNeighbors, radius)(_ => (w, ez),
      (_, c) => mpiIn(c), { (_, _, a) =>
        val dp = Mass2.mass2(ts, java.util.Arrays.copyOfRange(ts, a, a + w))
        // exclude already-suppressed regions (top_k_motifs.py:252-254)
        var j = 0
        while (j < dp.length) {
          if (Core.isNanInf(mp(j))) dp(j) = Double.PositiveInfinity
          j += 1
        }
        dp
      }).map(p => Motif((p.a.toLong, p.b.toLong), p.neighbors.map(_.toLong).toArray))
  }

  final case class PmpMotif(motifs: ((Int, Long), (Int, Long)),
      neighbors: Array[(Int, Long)])

  /** PMP top-k motifs: global argmin over (window-row, col), neighbors by
    * MASS re-query on the winning row's window (ref top_k_motifs.py:16-171).
    * `pmp` rows must be Euclidean, padded to series length with ∞.
    */
  def pmpTopKMotifs(ts: Array[Double], pmp: Array[Array[Double]],
      pmpi: Array[Array[Long]], windows: Array[Int],
      exclusionZone: Option[Int] = None, k: Int = 3, maxNeighbors: Int = 10,
      radius: Double = 3.0): Seq[PmpMotif] = {
    val tmp = pmp.map(row => row.map(v => if (Core.isNanInf(v)) Double.PositiveInfinity else v))
    val profileLen = if (tmp.nonEmpty) tmp(0).length else 0
    selectMotifs(tmp, ts.length, k, maxNeighbors, radius)(
      r => (windows(r), exclusionZone.getOrElse(Core.topKZone(windows(r)))),
      (r, c) => pmpi(r)(c), { (r, w, a) =>
        val dpShort = Mass2.mass2(ts, java.util.Arrays.copyOfRange(ts, a, a + w))
        val dp = Array.fill(profileLen)(Double.PositiveInfinity)
        System.arraycopy(dpShort, 0, dp, 0, math.min(dpShort.length, profileLen))
        var j = 0
        while (j < profileLen) {
          if (Core.isNanInf(pmp(r)(j))) dp(j) = Double.PositiveInfinity
          j += 1
        }
        dp
      }).map(p => PmpMotif(((p.row, p.a.toLong), (p.row, p.b.toLong)),
        p.neighbors.map(n => (p.row, n.toLong)).toArray))
  }

  /** PMP top-k discords: global argmax over (window-row, col) with row-wise
    * exclusion (ref top_k_discords.py:16-91). `pmp` rows are Euclidean.
    */
  def pmpTopKDiscords(pmp: Array[Array[Double]], windows: Array[Int],
      exclusionZone: Option[Int] = None, k: Int = 3): Array[(Int, Int)] = {
    val tmp = pmp.map(_.clone())
    for (row <- tmp; j <- row.indices)
      if (Core.isNanInf(row(j))) row(j) = Double.NegativeInfinity

    var ez = exclusionZone
    val found = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var ki = 0
    var done = false
    while (ki < k && !done) {
      var bestR = 0; var bestC = 0; var best = Double.NegativeInfinity
      for (r <- tmp.indices; c <- tmp(r).indices)
        if (tmp(r)(c) > best) { best = tmp(r)(c); bestR = r; bestC = c }
      if (best == Double.NegativeInfinity) done = true
      else {
        found += ((bestR, bestC))
        val window = windows(bestR)
        val zone = ez.getOrElse(Core.topKZone(window))
        if (ez.isEmpty) ez = Some(zone)
        val n = tmp(bestR).length
        var j = math.max(0, bestC - zone)
        val end = math.min(n, bestC + zone)
        while (j < end) { tmp(bestR)(j) = Double.NegativeInfinity; j += 1 }
      }
      ki += 1
    }
    found.toArray
  }
}
