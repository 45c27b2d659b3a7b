package graft.kernels

/** Brute-force z-normalized Euclidean matrix-profile twin over
  * integer-quantized series.
  *
  * Purpose: the driver's correctness gate hash-compares Spark output to
  * DuckDB oracle SQL, which requires bit-identical doubles. The fast
  * kernels (Mpx/Stomp) accumulate through recurrences whose rounding a SQL
  * engine cannot replicate, so each matrix-profile query computes BOTH:
  * this O(n^2) twin (whose arithmetic is written expression-for-expression
  * like the oracle SQL: integer window sums and dot products — order-free
  * and exact — followed by one fixed-shape double expression) for the
  * hash-compared projection, and the real kernel, gated by a
  * `kernel_agree` column (max |mp_kernel - mp_brute| < 1e-6) that the
  * oracle pins to TRUE. A kernel regression therefore flips the driver's
  * CORRECTNESS row to red even though the projected values come from the
  * twin.
  *
  * The distance semantics mirror the reference's z-normalized ED
  * (ref core.py:447-478) with mpx's constant-window convention
  * (sig = 0 => correlation 0, ref cympx.pyx:95-101): both engines compute
  *   num  = dot - s1_i*s1_j/w
  *   den  = sqrt(s2 - s1*s1/w)          (per side, clamped at 0)
  *   corr = num / (den_i * den_j)       (0 when either den is 0)
  *   dist = sqrt(max(2w(1-corr), 0))
  * over exact integer dot/sum inputs, so the doubles match bitwise.
  */
object BruteMp {

  final case class SelfResult(mp: Array[Double], pi: Array[Int])

  /** Window sums s1 = sum(v), s2 = sum(v^2) over each length-w window.
    * Exact Long arithmetic (values are pre-quantized so |v| <= ~5e6).
    */
  def windowSums(v: Array[Long], w: Int): (Array[Long], Array[Long]) = {
    val plen = v.length - w + 1
    val s1 = new Array[Long](plen)
    val s2 = new Array[Long](plen)
    var a = 0L
    var b = 0L
    var i = 0
    while (i < v.length) {
      a += v(i)
      b += v(i) * v(i)
      if (i >= w) { a -= v(i - w); b -= v(i - w) * v(i - w) }
      if (i >= w - 1) { s1(i - w + 1) = a; s2(i - w + 1) = b }
      i += 1
    }
    (s1, s2)
  }

  /** The shared pair-distance expression — must stay operation for
    * operation in sync with its SQL twin, the private
    * `OracleSqlGen.pairDistExpr` (self-join, AB-join and snippet oracles).
    */
  def pairDist(dot: Long, s1i: Long, s2i: Long, s1j: Long, s2j: Long, w: Int): Double = {
    val wd = w.toDouble
    val num = dot.toDouble - s1i.toDouble * s1j.toDouble / wd
    val deni = math.sqrt(math.max(s2i.toDouble - s1i.toDouble * s1i.toDouble / wd, 0.0))
    val denj = math.sqrt(math.max(s2j.toDouble - s1j.toDouble * s1j.toDouble / wd, 0.0))
    val corr = if (deni == 0.0 || denj == 0.0) 0.0 else num / (deni * denj)
    math.sqrt(math.max(2.0 * wd * (1.0 - corr), 0.0))
  }

  /** Self-join profile: mp(i) = min dist over |i-j| > minlag, pi = argmin
    * with ties broken by the lowest j (the oracle orders by dist, j).
    * minlag = ceil(w/4), matching mpx (cympx.pyx:58).
    */
  def selfProfile(v: Array[Long], w: Int): SelfResult = {
    val n = v.length
    val plen = n - w + 1
    val minlag = Core.minlag(w)
    val (s1, s2) = windowSums(v, w)
    val mp = Array.fill(plen)(Double.PositiveInfinity)
    val pi = Array.fill(plen)(-1)
    var d = minlag + 1
    while (d < plen) {
      var dot = 0L
      var k = 0
      while (k < w) { dot += v(k) * v(k + d); k += 1 }
      var i = 0
      val iEnd = plen - d
      while (i < iEnd) {
        if (i > 0) dot += v(i + w - 1) * v(i + d + w - 1) - v(i - 1) * v(i + d - 1)
        val j = i + d
        val dist = pairDist(dot, s1(i), s2(i), s1(j), s2(j), w)
        if (dist < mp(i) || (dist == mp(i) && j < pi(i))) { mp(i) = dist; pi(i) = j }
        if (dist < mp(j) || (dist == mp(j) && i < pi(j))) { mp(j) = dist; pi(j) = i }
        i += 1
      }
      d += 1
    }
    SelfResult(mp, pi)
  }

  final case class AbResult(mpA: Array[Double], piA: Array[Int],
      mpB: Array[Double], piB: Array[Int])

  /** AB similarity-join profiles (no exclusion zone, ref cympx.pyx:125-284
    * semantics under the brute formula).
    */
  def abProfile(a: Array[Long], b: Array[Long], w: Int): AbResult = {
    val plenA = a.length - w + 1
    val plenB = b.length - w + 1
    val (s1a, s2a) = windowSums(a, w)
    val (s1b, s2b) = windowSums(b, w)
    val mpA = Array.fill(plenA)(Double.PositiveInfinity)
    val piA = Array.fill(plenA)(-1)
    val mpB = Array.fill(plenB)(Double.PositiveInfinity)
    val piB = Array.fill(plenB)(-1)
    // diagonals t = i - j from -(plenB-1) to plenA-1, rolling integer dot
    var t = -(plenB - 1)
    while (t < plenA) {
      var i = math.max(0, t)
      var j = i - t
      var dot = 0L
      var k = 0
      while (k < w) { dot += a(i + k) * b(j + k); k += 1 }
      var first = true
      while (i < plenA && j < plenB) {
        if (!first) dot += a(i + w - 1) * b(j + w - 1) - a(i - 1) * b(j - 1)
        first = false
        val dist = pairDist(dot, s1a(i), s2a(i), s1b(j), s2b(j), w)
        if (dist < mpA(i) || (dist == mpA(i) && j < piA(i))) { mpA(i) = dist; piA(i) = j }
        if (dist < mpB(j) || (dist == mpB(j) && i < piB(j))) { mpB(j) = dist; piB(j) = i }
        i += 1
        j += 1
      }
      t += 1
    }
    AbResult(mpA, piA, mpB, piB)
  }

  /** MPDist twin: k-th smallest of concat(mpA, mpB) with
    * k = ceil(0.05*(na+nb)) - 1, mirroring MpDist.mpdist (all values are
    * finite under the brute formula).
    */
  def mpdist(a: Array[Long], b: Array[Long], w: Int, threshold: Double = 0.05): Double = {
    val r = abProfile(a, b, w)
    val abba = new Array[Double](r.mpA.length + r.mpB.length)
    System.arraycopy(r.mpA, 0, abba, 0, r.mpA.length)
    System.arraycopy(r.mpB, 0, abba, r.mpA.length, r.mpB.length)
    java.util.Arrays.sort(abba)
    val upperIdx = math.ceil(threshold * (a.length + b.length)).toInt - 1
    abba(math.min(abba.length - 1, math.max(0, upperIdx)))
  }

  /** Global minimum AB-join distance (q28's summary) — same O(plenA·plenB)
    * rolling-diagonal sweep as [[abProfile]] but several times cheaper per
    * cell: the per-window denominators sqrt(max(s2-s1²/w, 0)) are hoisted
    * once per series (the SAME expression pairDist evaluates, so each
    * cell's correlation double is bit-identical), the sweep tracks only
    * the maximum correlation — dist = sqrt(max(2w(1-corr), 0)) is monotone
    * non-increasing in corr under IEEE rounding, so argmax corr == argmin
    * dist and equal corrs yield the identical distance — and the one
    * winning cell is re-evaluated through [[pairDist]] so the returned
    * double matches the unoptimized min-over-profile scan bit-for-bit
    * (gated in BruteForceOracleSpec and by the q28 oracle hash).
    */
  def abMinDist(a: Array[Long], b: Array[Long], w: Int): Double = {
    val plenA = a.length - w + 1
    val plenB = b.length - w + 1
    val (s1a, s2a) = windowSums(a, w)
    val (s1b, s2b) = windowSums(b, w)
    val wd = w.toDouble
    def dens(s1: Array[Long], s2: Array[Long]): Array[Double] =
      Array.tabulate(s1.length)(i =>
        math.sqrt(math.max(s2(i).toDouble - s1(i).toDouble * s1(i).toDouble / wd, 0.0)))
    val dena = dens(s1a, s2a)
    val denb = dens(s1b, s2b)
    var bestCorr = Double.NegativeInfinity
    var bestDot = 0L
    var bestI = 0
    var bestJ = 0
    var t = -(plenB - 1)
    while (t < plenA) {
      var i = math.max(0, t)
      var j = i - t
      var dot = 0L
      var k = 0
      while (k < w) { dot += a(i + k) * b(j + k); k += 1 }
      var first = true
      while (i < plenA && j < plenB) {
        if (!first) dot += a(i + w - 1) * b(j + w - 1) - a(i - 1) * b(j - 1)
        first = false
        val corr =
          if (dena(i) == 0.0 || denb(j) == 0.0) 0.0
          else (dot.toDouble - s1a(i).toDouble * s1b(j).toDouble / wd) /
            (dena(i) * denb(j))
        if (corr > bestCorr) { bestCorr = corr; bestDot = dot; bestI = i; bestJ = j }
        i += 1
        j += 1
      }
      t += 1
    }
    if (bestCorr == Double.NegativeInfinity) Double.PositiveInfinity
    else pairDist(bestDot, s1a(bestI), s2a(bestI), s1b(bestJ), s2b(bestJ), w)
  }

  /** Simplified top-k motif pairs with a SQL-expressible selection rule:
    * pick the global (mp, pos)-minimum position a with pair b = pi(a),
    * suppress [x-ez, x+ez] (inclusive, Core.applyExclusionZone semantics)
    * around both endpoints, repeat. Neighbor re-query (which needs MASS/FFT
    * and is not SQL-mirrorable bitwise) is exercised separately by
    * TopK.mpTopKMotifs, gated by the query's kernel_agree column.
    */
  def motifPairs(mpIn: Array[Double], pi: Array[Int], ez: Int, k: Int): Seq[(Int, Int)] = {
    val mp = mpIn.clone()
    val plen = mp.length
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var ki = 0
    while (ki < k) {
      var best = -1
      var i = 0
      while (i < plen) {
        if (!mp(i).isInfinite && (best < 0 || mp(i) < mp(best))) best = i
        i += 1
      }
      if (best < 0) { ki = k }
      else {
        val a = math.min(best, pi(best))
        val b = math.max(best, pi(best))
        out += ((a, b))
        for (e <- Seq(a, b)) {
          var j = math.max(0, e - ez)
          val end = math.min(plen, e + ez + 1)
          while (j < end) { mp(j) = Double.PositiveInfinity; j += 1 }
        }
        ki += 1
      }
    }
    out.toSeq
  }

  /** One PMP motif pick (ref top_k_motifs.py:16-171 under the brute
    * formula).
    */
  type PmpMotifPick = TopK.MotifPick

  /** Brute twin of TopK.pmpTopKMotifs (ref top_k_motifs.py:16-171): the
    * same selection step, [[TopK.selectMotifs]] (2-D first-min argmin,
    * per-pick ez = floor(w/2) of the WINNING row's window, radius-bounded
    * neighbor re-query, suppression on the neighbor profile AND the
    * winning row), over a fresh neighbor profile anchored at the pair's
    * lower endpoint. That profile uses the brute pair-distance expression
    * in place of MASS, so every compared double is SQL-replayable
    * (OracleSqlGen.q34); positions within minlag of the anchor fall inside
    * the anchor's exclusion zone (ez >= minlag), so the oracle's
    * lag-restricted pair set covers every position that can matter.
    */
  def pmpMotifs(v: Array[Long], windows: Array[Int], k: Int = 2,
      maxNeighbors: Int = 2, radius: Double = 3.0): Seq[PmpMotifPick] =
    pmpMotifs(v, windows, windows.map(w => selfProfile(v, w)), k,
      maxNeighbors, radius)

  /** As above with the per-window profiles precomputed — q34 feeds the
    * same profiles to the real kernel's agreement check, and the brute
    * self-join is the quadratic part of the query.
    */
  def pmpMotifs(v: Array[Long], windows: Array[Int],
      profiles: Array[SelfResult], k: Int, maxNeighbors: Int,
      radius: Double): Seq[PmpMotifPick] = {
    val sums = windows.map(w => windowSums(v, w))
    TopK.selectMotifs(profiles.map(_.mp.clone()), v.length, k, maxNeighbors, radius)(
      r => (windows(r), Core.topKZone(windows(r))),
      (r, c) => profiles(r).pi(c).toLong, { (r, w, a) =>
        val (s1, s2) = sums(r)
        Array.tabulate(s1.length) { j =>
          var dot = 0L
          var t = 0
          while (t < w) { dot += v(a + t) * v(j + t); t += 1 }
          pairDist(dot, s1(a), s2(a), s1(j), s2(j), w)
        }
      })
  }

  /** mpdist-vector twin over quantized arrays: MpDist.mpdistVector with the
    * brute pair distance in place of MASS (same column-min / moving-min /
    * selection pipeline, which IS the operator under test in snippets).
    */
  def mpdistVector(ts: Array[Long], tsB: Array[Long], w: Int): Array[Double] = {
    val rows = tsB.length - w + 1
    val cols = ts.length - w + 1
    val (s1t, s2t) = windowSums(ts, w)
    val (s1b, s2b) = windowSums(tsB, w)
    val matrix = Array.ofDim[Double](rows, cols)
    // direct O(w) integer dot per cell (the snippet matrices are tiny; a
    // rolling update only exists along diagonals, not along a row)
    var i = 0
    while (i < rows) {
      var j = 0
      while (j < cols) {
        var dot = 0L
        var k = 0
        while (k < w) { dot += tsB(i + k) * ts(j + k); k += 1 }
        matrix(i)(j) = pairDist(dot, s1b(i), s2b(i), s1t(j), s2t(j), w)
        j += 1
      }
      i += 1
    }
    mpdistVectorFromMatrix(matrix, ts.length, tsB.length, w)
  }

  /** The column-min + moving-min + per-offset selection pipeline of
    * MpDist.mpdistVector (one shared implementation — only the distance
    * matrices differ between the twin and the kernel).
    */
  def mpdistVectorFromMatrix(matrix: Array[Array[Double]], tsLen: Int,
      tsBLen: Int, w: Int): Array[Double] =
    MpDist.mpdistVectorFromMatrix(matrix, tsLen, tsBLen, w)
}
