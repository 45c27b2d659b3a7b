package graft.dist

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col
import graft.kernels.{Core, Mpx, Stomp}
import graft.schema.MpProfileRow

/** Distributed matrix-profile orchestration.
  *
  * The parallel axis is (conversation, kind, tier, window) —
  * embarrassingly parallel, one kernel call per series (or per
  * (series, window) for SKIMP). Every entry point runs through one
  * fan-out ([[fanOut]]):
  *   - a series (or AB pair) shorter than `splitThreshold` runs its whole
  *     kernel and finalizes in the scan stage: zero exchanges;
  *   - a longer one splits *within* the series into halo'd 2-D tiles —
  *     MPX: (row-block × diagonal-block); STOMP: (row-block × col-block);
  *     AB join: (signed-diagonal-block × B-position-block) — where every
  *     task receives ONLY its tile's slice (≤ 2·tileSize+w−1 points, never
  *     the whole series). One exchange spreads the tiles; each emits a
  *     profile [[Segment]] that a [[ProfileMerge]] Aggregator reduces with
  *     its kernel's offset-aware merge in a second, map-side-combined
  *     exchange (the reference's per-thread buffers and batch merge —
  *     cympx.pyx:72-73, stomp.py:340-357 — lifted to partition
  *     granularity).
  *
  * The two branches scan the input separately, so the input passes
  * through [[graft.util.StageCache.forked]] (persisted when a rescan would
  * recompute a derived upstream). A caller-known `maxSeriesLen` below
  * `splitThreshold` drops the tile branch, and with it the fork guard.
  * Each tile re-derives its seed state from its own slice (muinvn stats +
  * O(w) per-diagonal seeds for MPX, one FFT over the column slice for
  * STOMP) exactly like the reference's non-zero batches
  * (stomp.py:103-105), so no state crosses task boundaries; slice-local
  * stats differ from whole-series stats only in final ULPs (gated 1e-8).
  */
object DistributedMp {

  final case class SeriesRow(conv_id: String, kind: String, startBucket: Long,
      values: Array[Double])

  /** The fan-out every entry point shares. `cells` expands an input row
    * into its eligible kernel calls; a row whose `size` is under
    * `splitThreshold` computes each cell with `whole`, a longer one cuts
    * each cell into `tiles`, which are hash-spread over
    * `defaultParallelism` partitions by the `spreadBy` columns and reduced
    * by `merge`. `maxSeriesLen`, a caller-known upper bound on `size`
    * (negative: unknown), drops the tile subtree — an exchange plus a
    * merge aggregation over zero rows — when it proves every row short;
    * a row that breaks that bound by reaching `splitThreshold` throws.
    */
  private def fanOut[I, C, T: Encoder, O: Encoder](in: Dataset[I],
      splitThreshold: Int, maxSeriesLen: Int)(size: I => Int, cells: I => Iterator[C])(
      whole: C => O, tiles: C => Iterator[T], spreadBy: String*)(
      merge: Dataset[T] => Dataset[O]): Dataset[O] = {
    val shortOnly = maxSeriesLen >= 0 && maxSeriesLen < splitThreshold
    // single consumer when the tile branch is dropped: no fork, no persist
    val rows = if (shortOnly) in else graft.util.StageCache.forked(in)
    val shortRows = rows.flatMap { r =>
      val n = size(r)
      require(n < splitThreshold || !shortOnly, s"a row of size $n is at or over " +
        s"splitThreshold $splitThreshold, but the caller bound maxSeriesLen = $maxSeriesLen")
      if (n < splitThreshold) cells(r).map(whole) else Iterator.empty
    }
    // a fixed partition count plans REPARTITION_BY_NUM, which AQE never
    // coalesces: a few large tiles must stay spread over the cores
    if (shortOnly) shortRows
    else shortRows.union(merge(rows.flatMap { r =>
      if (size(r) < splitThreshold) Iterator.empty else cells(r).flatMap(tiles)
    }.repartition(in.sparkSession.sparkContext.defaultParallelism, spreadBy.map(col): _*)))
  }

  /** MPX self-join profiles for every series with length >= 2w. */
  def mpxProfiles(series: Dataset[SeriesRow], w: Int, tier: String,
      splitThreshold: Int = 1 << 15, tileSize: Int = 1 << 14,
      maxSeriesLen: Int = -1): Dataset[MpProfileRow] =
    skimpProfiles(series, Array(w), tier, splitThreshold, tileSize, maxSeriesLen)

  /** A halo'd MPX tile task: the slice starts at global row `start` and
    * carries just the values the tile's diagonals touch (≤ 2·tileSize +
    * w-1 points), NEVER the whole series — a 10M-point series ships
    * O(n²/tileSize) total task input instead of O(n · tasks).
    */
  final case class MpxTile(conv_id: String, kind: String, w: Int,
      start: Int, dLo: Int, dHi: Int, rowEnd: Int, plen: Int,
      slice: Array[Double])

  /** 2-D (row-block x diagonal-block) tiling of the upper triangle.
    * Each tile re-derives its stats from its own slice (the reference's
    * batch-seeding discipline, stomp.py:100-105) so no state crosses task
    * boundaries; slice-local compensated stats differ from whole-series
    * stats only in final ULPs (gated at 1e-8 by SparkPipelineSpec).
    */
  private def mpxTiles(s: SeriesRow, w: Int, tileSize: Int): Iterator[MpxTile] = {
    val n = s.values.length
    val plen = n - w + 1
    val dStart = Core.minlag(w) + 1
    val b = tileSize
    val rTiles = math.ceil(plen.toDouble / b).toInt
    for {
      rb <- (0 until rTiles).iterator
      rLo = rb * b
      db <- (0 until rTiles).iterator
      dLo = math.max(dStart, db * b)
      dHi = math.min((db + 1) * b, plen)
      if dLo < dHi
      rHi = math.min(math.min((rb + 1) * b, plen), plen - dLo)
      if rLo < rHi
    } yield {
      val colMax = math.min(plen - 1, rHi - 1 + dHi - 1)
      val slice = java.util.Arrays.copyOfRange(s.values, rLo, colMax + w)
      MpxTile(s.conv_id, s.kind, w, rLo, dLo, dHi, rHi - rLo, plen, slice)
    }
  }

  /** Distributed SKIMP: one mpx self-join per (series, window) pair, fanned
    * out as independent tasks (ref skimp.py:96-242 computes windows
    * sequentially per series; here the (series, window) grid IS the
    * parallel axis, and long series additionally split into halo'd 2-D
    * tiles within a window).
    */
  def skimpProfiles(series: Dataset[SeriesRow], windows: Array[Int], tier: String,
      splitThreshold: Int = 1 << 15, tileSize: Int = 1 << 14,
      maxSeriesLen: Int = -1): Dataset[MpProfileRow] =
    skimpGrid[SeriesRow](series, s => (s, windows), tier, splitThreshold, tileSize,
      maxSeriesLen)

  /** SKIMP over any input that names, per row, a series and its windows. */
  private def skimpGrid[I](in: Dataset[I], grid: I => (SeriesRow, Array[Int]),
      tier: String, splitThreshold: Int, tileSize: Int,
      maxSeriesLen: Int): Dataset[MpProfileRow] = {
    val spark = in.sparkSession
    import spark.implicits._
    def row(conv: String, kind: String, w: Int, buf: Mpx.PearsonBuf) =
      MpProfileRow(conv, kind, tier, w, Core.minlag(w), "mpx", "euclidean",
        join = false, Mpx.selfToEuclidean(buf, w), buf.mpi,
        Array.empty, Array.empty, Array.empty, Array.empty)
    fanOut(in, splitThreshold, maxSeriesLen)(i => grid(i)._1.values.length, { i =>
      val (s, ws) = grid(i)
      ws.iterator.filter(w => s.values.length >= 2 * w).map(w => (s, w))
    })({ case (s, w) => row(s.conv_id, s.kind, w, Mpx.selfJoin(s.values, w)) },
      { case (s, w) => mpxTiles(s, w, tileSize) }, "conv_id", "w", "start", "dLo") {
      _.map { t =>
        val buf = Mpx.newBuf(t.slice.length - t.w + 1)
        Mpx.selfJoinTile(t.slice, t.w, Mpx.selfStats(t.slice, t.w), t.dLo, t.dHi,
          t.rowEnd, buf)
        var i = 0
        while (i < buf.mpi.length) {
          if (buf.mpi(i) >= 0) buf.mpi(i) += t.start
          i += 1
        }
        ((t.conv_id, t.kind, t.w), Segment(t.start, t.plen, buf))
      }.groupByKey(_._1).mapValues(_._2).agg(new ProfileMerge.MpxMaxMergeAt().toColumn)
        .map { case ((conv, kind, w), buf) => row(conv, kind, w, buf) }
    }
  }

  /** SKIMP memoization (ref skimp.py:193-205): reuse (series, window)
    * profiles already present in a prior PMP — only the missing grid
    * cells are computed, then unioned with the prior rows. The have-set
    * is tiny ((conv, kind) -> window set) and broadcasts; the prior
    * profile rows never reshuffle.
    */
  def skimpProfilesReusing(series: Dataset[SeriesRow], windows: Array[Int],
      tier: String, prior: Dataset[MpProfileRow],
      splitThreshold: Int = 1 << 15, tileSize: Int = 1 << 14): Dataset[MpProfileRow] = {
    val spark = series.sparkSession
    import spark.implicits._
    val have = prior.filter(p => windows.contains(p.w))
    val haveSets = have.groupBy($"conv_id".as("c"), $"kind".as("k"))
      .agg(org.apache.spark.sql.functions.collect_set($"w").as("haveW"))
    val todo = series.joinWith(org.apache.spark.sql.functions.broadcast(haveSets),
        series("conv_id") === haveSets("c") && series("kind") === haveSets("k"),
        "left_outer")
      .map { case (s, row) =>
        val done: Set[Int] =
          if (row == null) Set.empty
          else row.getAs[scala.collection.Seq[Int]]("haveW").toSet
        (s, windows.filterNot(done.contains))
      }
    have.union(skimpGrid[(SeriesRow, Array[Int])](todo, identity, tier,
      splitThreshold, tileSize, -1))
  }

  /** One AB-join input pair. */
  final case class AbPair(conv_a: String, conv_b: String,
      a: Array[Double], b: Array[Double])

  /** A halo'd AB tile: signed-diagonal block x B-position block, slices
    * only (the AB analog of MpxTile).
    */
  final case class AbTile(conv_a: String, conv_b: String,
      aStart: Int, bLo: Int, bHi: Int, dLo: Int, dHi: Int,
      plenA: Int, plenB: Int,
      aSlice: Array[Double], bSlice: Array[Double])

  /** Merged AB similarity-join profiles (Euclidean; -1 → ∞ like
    * cympx.pyx:261-274) for each input pair.
    */
  final case class AbJoinRow(conv_a: String, conv_b: String, w: Int,
      mpA: Array[Double], piA: Array[Long],
      mpB: Array[Double], piB: Array[Long])

  private def abTiles(p: AbPair, w: Int, tileSize: Int): Iterator[AbTile] = {
    val plenA = p.a.length - w + 1
    val plenB = p.b.length - w + 1
    val bTiles = math.ceil(plenB.toDouble / tileSize).toInt
    val dMin = -(plenB - 1)
    val dCount = plenA - 1 - dMin + 1
    val dTiles = math.ceil(dCount.toDouble / tileSize).toInt
    for {
      bb <- (0 until bTiles).iterator
      bLo = bb * tileSize
      bHi = math.min((bb + 1) * tileSize, plenB)
      db <- (0 until dTiles).iterator
      dLo = dMin + db * tileSize
      dHi = math.min(dMin + (db + 1) * tileSize, plenA)
      if math.max(bLo, -(dHi - 1)) < math.min(bHi, plenA - dLo)
      aStart = math.max(0, bLo + dLo)
      aEnd = math.min(p.a.length, (bHi - 1) + (dHi - 1) + w)
      if aStart < aEnd
    } yield AbTile(p.conv_a, p.conv_b, aStart, bLo, bHi, dLo, dHi,
      plenA, plenB,
      java.util.Arrays.copyOfRange(p.a, aStart, aEnd),
      java.util.Arrays.copyOfRange(p.b, bLo, math.min(p.b.length, bHi - 1 + w)))
  }

  /** Distributed MPX AB-join: short pairs run the whole cympx sweep in
    * one task; long pairs split into halo'd (diagonal-block x
    * B-position-block) tiles — the scale path for the engine's
    * similarity-join / as-of-join analog (ref cympx.pyx:125-284).
    */
  def mpxAbProfiles(pairs: Dataset[AbPair], w: Int,
      splitThreshold: Int = 1 << 15, tileSize: Int = 1 << 14,
      maxSeriesLen: Int = -1): Dataset[AbJoinRow] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    def row(ca: String, cb: String, a: Mpx.PearsonBuf, b: Mpx.PearsonBuf) =
      AbJoinRow(ca, cb, w, Mpx.abToEuclidean(a, w), a.mpi, Mpx.abToEuclidean(b, w), b.mpi)
    fanOut(pairs, splitThreshold, maxSeriesLen)(p => math.max(p.a.length, p.b.length),
      p => Iterator(p).filter(q => q.a.length >= w && q.b.length >= w))(
      { p => val (a, b) = Mpx.abJoin(p.a, p.b, w); row(p.conv_a, p.conv_b, a, b) },
      abTiles(_, w, tileSize), "conv_a", "conv_b", "bLo", "dLo") {
      _.flatMap { t =>
        val sa = Mpx.selfStats(t.aSlice, w)
        val sb = Mpx.selfStats(t.bSlice, w)
        val bufA = Mpx.newBuf(sa.profileLen)
        val bufB = Mpx.newBuf(sb.profileLen)
        Mpx.abJoinTile(t.aSlice, t.bSlice, w, sa, sb, t.aStart,
          t.bLo, t.bHi, t.plenA, t.dLo, t.dHi, bufA, bufB)
        Iterator(((t.conv_a, t.conv_b, "a"), Segment(t.aStart, t.plenA, bufA)),
          ((t.conv_a, t.conv_b, "b"), Segment(t.bLo, t.plenB, bufB)))
      }.groupByKey(_._1).mapValues(_._2).agg(new ProfileMerge.MpxMaxMergeAt().toColumn)
        .groupByKey { case ((ca, cb, _), _) => (ca, cb) }
        .mapGroups { (key: (String, String), it) =>
          // a side with no tile segment (never seen) stays empty
          val sides = it.map { case ((_, _, side), buf) => side -> buf }.toMap
            .withDefaultValue(Mpx.PearsonBuf(Array.empty, Array.empty))
          row(key._1, key._2, sides("a"), sides("b"))
        }
    }
  }

  /** A halo'd STOMP tile: row slice [rLo, rHi-1+w), col slice
    * [cLo, cHi-1+w) — again never the whole series.
    */
  final case class StompTile(conv_id: String, kind: String,
      rLo: Int, rHi: Int, cLo: Int, cHi: Int, plen: Int,
      rowSlice: Array[Double], colSlice: Array[Double])

  private def stompTiles(s: SeriesRow, w: Int, tileSize: Int): Iterator[StompTile] = {
    val plen = s.values.length - w + 1
    val b = tileSize
    val tiles = math.ceil(plen.toDouble / b).toInt
    for {
      rb <- (0 until tiles).iterator
      cb <- (0 until tiles).iterator
      rLo = rb * b
      rHi = math.min((rb + 1) * b, plen)
      cLo = cb * b
      cHi = math.min((cb + 1) * b, plen)
    } yield StompTile(s.conv_id, s.kind, rLo, rHi, cLo, cHi, plen,
      java.util.Arrays.copyOfRange(s.values, rLo, rHi - 1 + w),
      java.util.Arrays.copyOfRange(s.values, cLo, cHi - 1 + w))
  }

  /** STOMP profiles (with left/right profiles); same unified shape. Long
    * series split into (row-block x col-block) tiles, each seeded by one
    * FFT over its column slice (stomp.py:100-105 lifted to 2-D).
    */
  def stompProfiles(series: Dataset[SeriesRow], w: Int, tier: String,
      splitThreshold: Int = 1 << 15, tileSize: Int = 1 << 14): Dataset[MpProfileRow] = {
    val spark = series.sparkSession
    import spark.implicits._
    val ez = Core.stompZone(w)
    def row(conv: String, kind: String, r: Stomp.Batch) = MpProfileRow(conv, kind, tier,
      w, ez, "stomp", "euclidean", join = false, r.mp, r.pi, r.lmp, r.lpi, r.rmp, r.rpi)
    fanOut(series, splitThreshold, -1)(_.values.length,
      s => Iterator(s).filter(_.values.length >= 2 * w))(
      s => row(s.conv_id, s.kind, Stomp.stomp(s.values, w)),
      stompTiles(_, w, tileSize), "conv_id", "rLo", "cLo") {
      _.map { t =>
        ((t.conv_id, t.kind), Segment(t.cLo, t.plen, Stomp.tileCompute(t.rLo, t.rHi,
          t.cLo, t.cHi, t.rowSlice, t.colSlice, w, ez)))
      }.groupByKey(_._1).mapValues(_._2).agg(new ProfileMerge.StompMinMergeAt().toColumn)
        .map { case ((conv, kind), r) => row(conv, kind, r) }
    }
  }
}
