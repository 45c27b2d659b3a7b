package graft.kernels

/** MPX matrix-profile kernels (no FFT): per-diagonal covariance recurrence
  * maintaining Pearson correlation, converted to z-normalized Euclidean
  * distance at the end.
  *
  * Behavioral port of the reference's Cython kernels
  * (`matrixprofile/algorithms/cympx.pyx:30-284`). Each join
  * has one sweep: [[selfJoinTile]] for the self join, [[abJoinTile]] for the
  * AB join. The whole-series joins ([[selfJoin]], [[abJoin]]) run that sweep
  * over every diagonal; a distributed tile runs it over its own diagonal and
  * row range. The tiles mirror the reference's OpenMP `prange` per-thread
  * buffers (cympx.pyx:72-73): a tile accumulates a private (mp, mpi) Pearson
  * buffer, and buffers merge by elementwise max — [[mergeInto]], which is
  * also the merge the distributed layer's Aggregator applies to tile
  * segments across Spark partitions.
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
    val minlag = Core.minlag(w)
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

  /** The self-join sweep (ref cympx.pyx:82-102): processes diagonals
    * [diagStart, diagEnd) but only rows (offsets) [0, rowEnd) of each.
    * Diagonal indexing starts at minlag+1. [[selfJoin]] passes the whole
    * series, every diagonal and every row; a distributed task passes its
    * 2-D tile: `ts` is the series slice starting at the tile's global
    * row origin and `st` the stats OF THE SLICE (recomputed locally, so no
    * state crosses task boundaries — the tile analog of the reference's
    * batch seeding, stomp.py:100-105). Buffer indices are slice-local; the
    * caller globalizes by adding the origin.
    *
    * Two adjacent diagonals are interleaved per pass:
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
  def selfJoinTile(ts: Array[Double], w: Int, st: SelfStats,
      diagStart: Int, diagEnd: Int, rowEnd: Int, buf: PearsonBuf): Unit = {
    val dEnd = math.min(diagEnd, st.profileLen)
    val n = ts.length
    val mp = buf.mp
    val mpi = buf.mpi
    val df = st.df
    val dg = st.dg
    val sig = st.sig
    val mu = st.mu
    val mu0 = mu(0)
    var diag = diagStart
    while (diag + 1 < dEnd) {
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
      val offEnd2 = math.min(rowEnd, n - w - diag)
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
      if (offset < math.min(rowEnd, n - w - diag + 1)) {
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
    if (diag < dEnd) {
      var c = 0.0
      val muD = mu(diag)
      var i = diag
      while (i < diag + w) {
        c += (ts(i) - muD) * (ts(i - diag) - mu0)
        i += 1
      }
      var offset = 0
      val offEnd = math.min(rowEnd, n - w - diag + 1)
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
  def selfToEuclidean(buf: PearsonBuf, w: Int): Array[Double] =
    buf.mp.map(Core.pearsonDist(w, _))

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
    selfJoinTile(ts, w, st, st.minlag + 1, st.profileLen, st.profileLen, buf)
    clampBuf(buf)
  }

  /** The AB-join sweep over halo'd slices: processes the signed diagonals
    * d = (global A index) − (global B index) in [dLo, dHi) restricted to
    * B positions [bLo, bHi). `aSlice` starts at global A position
    * `aStart`, `bSlice` at `bLo`; `sa`/`sb` are the stats OF THE SLICES.
    * Buffers are slice-local; profile indices stored are GLOBAL. [[abJoin]]
    * passes whole series (origins 0, all B positions).
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
      val j = math.max(bLo, -d)
      val jEnd = math.min(bHi, plenA - d)
      if (j < jEnd) {
        // keep this loop shape (one counter lj, the A-slice index lj + off,
        // the first update skipped by a flag): the previous tile loop and a
        // peeled variant ran the whole-series AB join up to ~1.6x slower
        val off = d - aStart + bLo
        var lj = j - bLo
        val ljEnd = jEnd - bLo
        var cov = 0.0
        var k = 0
        while (k < w) {
          cov += (aSlice(lj + off + k) - sa.mu(lj + off)) * (bSlice(lj + k) - sb.mu(lj))
          k += 1
        }
        var first = true
        while (lj < ljEnd) {
          val li = lj + off
          if (!first) cov += sa.df(li) * sb.dg(lj) + sa.dg(li) * sb.df(lj)
          first = false
          val corr = cov * sa.sig(li) * sb.sig(lj)
          if (corr > bufA.mp(li)) {
            bufA.mp(li) = corr
            bufA.mpi(li) = lj + bLo
          }
          if (corr > bufB.mp(lj)) {
            bufB.mp(lj) = corr
            bufB.mpi(lj) = li + aStart
          }
          lj += 1
        }
      }
      d += 1
    }
  }

  /** Pearson → Euclidean for AB-join output: -1 (never matched) → ∞
    * (ref cympx.pyx:261-274).
    */
  def abToEuclidean(buf: PearsonBuf, w: Int): Array[Double] =
    buf.mp.map(rho => if (rho == -1.0) Double.PositiveInfinity else Core.pearsonDist(w, rho))

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
    // AB pass: the A-anchored diagonals [0, plenA); BA pass: the roles
    // swapped, B-anchored diagonals [0, plenB). Both passes sweep diagonal
    // 0, as cympx does: the BA pass multiplies its sigmas in the other
    // order, so dropping its diagonal 0 can move a profile value by 1 ulp
    abJoinTile(ts, query, w, sa, sb, 0, 0, sb.profileLen, sa.profileLen,
      0, sa.profileLen, bufA, bufB)
    abJoinTile(query, ts, w, sb, sa, 0, 0, sa.profileLen, sb.profileLen,
      0, sb.profileLen, bufB, bufA)
    (clampBuf(bufA), clampBuf(bufB))
  }
}
