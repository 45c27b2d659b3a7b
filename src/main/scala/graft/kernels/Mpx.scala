package graft.kernels

/** MPX matrix-profile kernels (no FFT): per-diagonal covariance recurrence
  * maintaining Pearson correlation, converted to z-normalized Euclidean
  * distance at the end.
  *
  * Behavioral port of the reference's Cython kernels
  * (`/root/reference/matrixprofile/algorithms/cympx.pyx:30-284`). The
  * diagonal-block decomposition mirrors the reference's OpenMP `prange`
  * per-thread buffers (cympx.pyx:72-73): a partition owns a contiguous range
  * of diagonals, accumulates a private (mp, mpi) Pearson buffer, and buffers
  * merge by elementwise max — [[mergeInto]], which is also the merge the
  * distributed layer's Aggregator applies to tile segments across Spark
  * partitions.
  */
object Mpx {

  /** Pearson-domain profile buffer: mp values start at -1 (no match). */
  final case class PearsonBuf(mp: Array[Double], mpi: Array[Long])

  def newBuf(len: Int): PearsonBuf =
    PearsonBuf(Array.fill(len)(-1.0), Array.fill(len)(-1L))

  /** Precomputed per-series terms shared by all diagonal blocks (of a
    * self join, or of one side of an AB join, which ignores `minlag`).
    */
  final case class SelfStats(mu: Array[Double], sig: Array[Double],
      df: Array[Double], dg: Array[Double], profileLen: Int, minlag: Int)

  def selfStats(ts: Array[Double], w: Int): SelfStats = {
    val n = ts.length
    val profileLen = n - w + 1
    val minlag = math.ceil(w / 4.0).toInt
    val (mu, sig) = MovingStats.muinvn(ts, w)
    val df = new Array[Double](profileLen)
    val dg = new Array[Double](profileLen)
    var i = w
    while (i < n) {
      df(i - w + 1) = 0.5 * (ts(i) - ts(i - w))
      dg(i - w + 1) = (ts(i) - mu(i - w + 1)) + (ts(i - w) - mu(i - w))
      i += 1
    }
    SelfStats(mu, sig, df, dg, profileLen, minlag)
  }

  /** Process self-join diagonals [diagStart, diagEnd) into `buf`
    * (ref cympx.pyx:82-102). Diagonal indexing starts at minlag+1.
    */
  def selfJoinBlock(ts: Array[Double], w: Int, st: SelfStats,
      diagStart: Int, diagEnd: Int, buf: PearsonBuf): Unit =
    selfSweep(ts, w, st, diagStart, diagEnd, Int.MaxValue, buf)

  /** Tile variant for halo'd chunks: processes diagonals [diagStart,
    * diagEnd) but only rows (offsets) [0, rowEnd) of each — the 2-D tile a
    * distributed task owns. `slice` is the series slice starting at the
    * tile's global row origin; `st` must be the stats OF THE SLICE
    * (recomputed locally, so no state crosses task boundaries — the tile
    * analog of the reference's batch seeding, stomp.py:100-105). Buffer
    * indices are slice-local; the caller globalizes by adding the origin.
    */
  def selfJoinTile(slice: Array[Double], w: Int, st: SelfStats,
      diagStart: Int, diagEnd: Int, rowEnd: Int, buf: PearsonBuf): Unit =
    selfSweep(slice, w, st, diagStart, math.min(diagEnd, st.profileLen),
      rowEnd, buf)

  /** The shared sweep. Two adjacent diagonals are interleaved per pass:
    * the covariance update is a loop-carried FP add (~4-cycle latency), so
    * a single diagonal leaves the FPU mostly idle; two independent chains
    * overlap. A one-iteration delay slot applies the second diagonal's
    * column-side update after the first's for the same position, which
    * restores the sequential order for all col-vs-col and row-vs-row
    * exact-Pearson ties (the cases the ported goldens pin on periodic
    * series). The one remaining reorder: diag+1's COLUMN update of
    * position P now precedes diag's ROW update of P — an exact tie
    * between those two candidates (pairs (P-D-1, P) and (P, P+D) with
    * bit-equal correlation) resolves to the former; no fixture or random
    * gate exhibits such a cross-kind tie.
    */
  private def selfSweep(ts: Array[Double], w: Int, st: SelfStats,
      diagStart: Int, diagEnd: Int, rowBound: Int, buf: PearsonBuf): Unit = {
    val n = ts.length
    val mp = buf.mp
    val mpi = buf.mpi
    val df = st.df
    val dg = st.dg
    val sig = st.sig
    val mu = st.mu
    val mu0 = mu(0)
    var diag = diagStart
    while (diag + 1 < diagEnd) {
      val muD1 = mu(diag)
      val muD2 = mu(diag + 1)
      var c1 = 0.0
      var c2 = 0.0
      var i = 0
      while (i < w) {
        val lo = ts(i) - mu0
        c1 += (ts(diag + i) - muD1) * lo
        c2 += (ts(diag + 1 + i) - muD2) * lo
        i += 1
      }
      var offset = 0
      // rows where diag+1 is still in range (and under the tile bound)
      val offEnd2 = math.min(rowBound, n - w - diag)
      var pendVal = -2.0
      var pendIdx = -1
      while (offset < offEnd2) {
        val col1 = offset + diag
        val col2 = col1 + 1
        val dfo = df(offset)
        val dgo = dg(offset)
        c1 += dfo * dg(col1) + df(col1) * dgo
        c2 += dfo * dg(col2) + df(col2) * dgo
        val sigo = sig(offset)
        val cCmpA = c1 * sigo * sig(col1)
        val cCmpB = c2 * sigo * sig(col2)
        if (cCmpA > mp(offset)) {
          mp(offset) = cCmpA
          mpi(offset) = col1
        }
        if (cCmpB > mp(offset)) {
          mp(offset) = cCmpB
          mpi(offset) = col2
        }
        if (cCmpA > mp(col1)) {
          mp(col1) = if (cCmpA > 1.0) 1.0 else cCmpA
          mpi(col1) = offset
        }
        if (pendVal > mp(col1)) { // diag+1's update for col1, one row old
          mp(col1) = if (pendVal > 1.0) 1.0 else pendVal
          mpi(col1) = pendIdx
        }
        pendVal = cCmpB
        pendIdx = offset
        offset += 1
      }
      // last row of the lower diagonal (when diag has one more row in
      // range than diag+1 and the tile bound allows it)
      if (offset < math.min(rowBound, n - w - diag + 1)) {
        val col1 = offset + diag
        c1 += df(offset) * dg(col1) + df(col1) * dg(offset)
        var cCmp = c1 * sig(offset) * sig(col1)
        if (cCmp > mp(offset)) {
          mp(offset) = cCmp
          mpi(offset) = col1
        }
        if (cCmp > mp(col1)) {
          if (cCmp > 1.0) cCmp = 1.0
          mp(col1) = cCmp
          mpi(col1) = offset
        }
        if (pendVal > mp(col1)) { // flush diag+1's final col update
          mp(col1) = if (pendVal > 1.0) 1.0 else pendVal
          mpi(col1) = pendIdx
        }
      } else if (pendVal > -2.0) {
        // row-bounded exit: drain the delay slot
        val colLast = (offset - 1) + diag + 1
        if (pendVal > mp(colLast)) {
          mp(colLast) = if (pendVal > 1.0) 1.0 else pendVal
          mpi(colLast) = pendIdx
        }
      }
      diag += 2
    }
    if (diag < diagEnd) {
      var c = 0.0
      val muD = mu(diag)
      var i = diag
      while (i < diag + w) {
        c += (ts(i) - muD) * (ts(i - diag) - mu0)
        i += 1
      }
      var offset = 0
      val offEnd = math.min(rowBound, n - w - diag + 1)
      while (offset < offEnd) {
        val col = offset + diag
        c += df(offset) * dg(col) + df(col) * dg(offset)
        var cCmp = c * sig(offset) * sig(col)
        if (cCmp > mp(offset)) {
          mp(offset) = cCmp
          mpi(offset) = col
        }
        if (cCmp > mp(col)) {
          if (cCmp > 1.0) cCmp = 1.0
          mp(col) = cCmp
          mpi(col) = offset
        }
        offset += 1
      }
      diag += 1
    }
  }


  /** Elementwise-max merge of Pearson buffers, clamping stored values at 1.0
    * (ref cympx.pyx:104-112): `b` covers positions [offset, offset +
    * b.mp.length) of `a` (a tile's profile segment; 0 for whole buffers).
    * `a` is mutated and returned; order-insensitive up to index ties at
    * equal correlation.
    */
  def mergeInto(a: PearsonBuf, b: PearsonBuf, offset: Int = 0): PearsonBuf = {
    var j = 0
    while (j < b.mp.length) {
      val g = offset + j
      if (b.mp(j) > a.mp(g)) {
        a.mp(g) = if (b.mp(j) > 1.0) 1.0 else b.mp(j)
        a.mpi(g) = b.mpi(j)
      }
      j += 1
    }
    a
  }

  /** Final clamp pass applied when a single buffer is used end-to-end
    * (the reference always funnels buffers through the clamping merge).
    */
  def clampBuf(buf: PearsonBuf): PearsonBuf = {
    var i = 0
    while (i < buf.mp.length) {
      if (buf.mp(i) > 1.0) buf.mp(i) = 1.0
      i += 1
    }
    buf
  }

  /** Pearson → Euclidean in place for self-join output
    * (ref cympx.pyx:114-117: no -1 special case for self joins).
    */
  def selfToEuclidean(buf: PearsonBuf, w: Int): Array[Double] = {
    val out = new Array[Double](buf.mp.length)
    var i = 0
    while (i < out.length) {
      out(i) = math.sqrt(2.0 * w * (1.0 - buf.mp(i)))
      i += 1
    }
    out
  }

  /** Complete single-threaded self-join (ref mpx.py:20-100 + cympx.pyx
    * mpx_parallel): returns (mp, mpi) in Euclidean or Pearson domain.
    */
  def mpxSelf(ts: Array[Double], w: Int,
      crossCorrelation: Boolean = false): (Array[Double], Array[Long]) = {
    require(w >= 4, "window size must be at least 4.")
    require(w <= ts.length / 2.0, "Time series is too short relative to desired window size")
    val buf = selfJoin(ts, w)
    if (crossCorrelation) (buf.mp, buf.mpi)
    else (selfToEuclidean(buf, w), buf.mpi)
  }

  /** The whole-series self join, clamped (Pearson domain), without
    * [[mpxSelf]]'s argument checks — the distributed short path calls it
    * on series it has already found eligible.
    */
  def selfJoin(ts: Array[Double], w: Int): PearsonBuf = {
    val st = selfStats(ts, w)
    val buf = newBuf(st.profileLen)
    selfJoinBlock(ts, w, st, st.minlag + 1, st.profileLen, buf)
    clampBuf(buf)
  }

  /** One directional AB sweep over anchor rows [rowStart, rowEnd) of side A
    * against side B (ref cympx.pyx:195-215 and the mirrored BA pass
    * :218-237). Updates bufA (indexed by A positions) and bufB (B positions).
    */
  def abJoinBlock(a: Array[Double], b: Array[Double], w: Int,
      sa: SelfStats, sb: SelfStats, rowStart: Int, rowEnd: Int,
      bufA: PearsonBuf, bufB: PearsonBuf): Unit = {
    var i = rowStart
    while (i < rowEnd) {
      val mx = math.min(sa.profileLen - i, sb.profileLen)
      var cov = 0.0
      var j = i
      while (j < i + w) {
        cov += (a(j) - sa.mu(i)) * (b(j - i) - sb.mu(0))
        j += 1
      }
      j = 0
      while (j < mx) {
        val k = j + i
        cov += sa.df(k) * sb.dg(j) + sa.dg(k) * sb.df(j)
        val corr = cov * sa.sig(k) * sb.sig(j)
        if (corr > bufA.mp(k)) {
          bufA.mp(k) = corr
          bufA.mpi(k) = j
        }
        if (corr > bufB.mp(j)) {
          bufB.mp(j) = corr
          bufB.mpi(j) = k
        }
        j += 1
      }
      i += 1
    }
  }

  /** AB-join tile over halo'd slices: processes the signed diagonals
    * d = (global A index) − (global B index) in [dLo, dHi) restricted to
    * B positions [bLo, bHi). `aSlice` starts at global A position
    * `aStart`, `bSlice` at `bLo`; `sa`/`sb` are the stats OF THE SLICES.
    * Buffers are slice-local; profile indices stored are GLOBAL.
    * The per-diagonal seed + df/dg recurrence is the cympx AB sweep
    * (cympx.pyx:195-237) started mid-diagonal, with the first update
    * skipped (the reference relies on df(0)=dg(0)=0 for the same effect).
    */
  def abJoinTile(aSlice: Array[Double], bSlice: Array[Double], w: Int,
      sa: SelfStats, sb: SelfStats, aStart: Int, bLo: Int, bHi: Int,
      plenA: Int, dLo: Int, dHi: Int,
      bufA: PearsonBuf, bufB: PearsonBuf): Unit = {
    var d = dLo
    while (d < dHi) {
      var j = math.max(bLo, -d)
      val jEnd = math.min(bHi, plenA - d)
      if (j < jEnd) {
        var li = (j + d) - aStart
        var lj = j - bLo
        var cov = 0.0
        var k = 0
        while (k < w) {
          cov += (aSlice(li + k) - sa.mu(li)) * (bSlice(lj + k) - sb.mu(lj))
          k += 1
        }
        var first = true
        while (j < jEnd) {
          li = (j + d) - aStart
          lj = j - bLo
          if (!first) cov += sa.df(li) * sb.dg(lj) + sa.dg(li) * sb.df(lj)
          first = false
          val corr = cov * sa.sig(li) * sb.sig(lj)
          if (corr > bufA.mp(li)) {
            bufA.mp(li) = corr
            bufA.mpi(li) = j
          }
          if (corr > bufB.mp(lj)) {
            bufB.mp(lj) = corr
            bufB.mpi(lj) = j + d
          }
          j += 1
        }
      }
      d += 1
    }
  }

  /** Pearson → Euclidean for AB-join output: -1 (never matched) → ∞
    * (ref cympx.pyx:261-274).
    */
  def abToEuclidean(buf: PearsonBuf, w: Int): Array[Double] = {
    val out = new Array[Double](buf.mp.length)
    var i = 0
    while (i < out.length) {
      out(i) = if (buf.mp(i) == -1.0) Double.PositiveInfinity
               else math.sqrt(2.0 * w * (1.0 - buf.mp(i)))
      i += 1
    }
    out
  }

  /** Complete AB similarity join (ref cympx.pyx:125-284 mpx_ab_parallel):
    * returns (mpA, mpiA, mpB, mpiB).
    */
  def mpxAb(ts: Array[Double], query: Array[Double], w: Int,
      crossCorrelation: Boolean = false)
      : (Array[Double], Array[Long], Array[Double], Array[Long]) = {
    val (bufA, bufB) = abJoin(ts, query, w)
    if (crossCorrelation) (bufA.mp, bufA.mpi, bufB.mp, bufB.mpi)
    else (abToEuclidean(bufA, w), bufA.mpi, abToEuclidean(bufB, w), bufB.mpi)
  }

  /** Both clamped AB-join buffers (A positions, B positions) in the
    * Pearson domain; shared by [[mpxAb]] and the distributed short path.
    */
  def abJoin(ts: Array[Double], query: Array[Double], w: Int): (PearsonBuf, PearsonBuf) = {
    val sa = selfStats(ts, w)
    val sb = selfStats(query, w)
    val bufA = newBuf(sa.profileLen)
    val bufB = newBuf(sb.profileLen)
    // AB pass (A-anchored), then BA pass (B-anchored)
    abJoinBlock(ts, query, w, sa, sb, 0, sa.profileLen, bufA, bufB)
    abJoinBlock(query, ts, w, sb, sa, 0, sb.profileLen, bufB, bufA)
    (clampBuf(bufA), clampBuf(bufB))
  }
}
