package graft.dist

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.dist.DistributedMp.SeriesRow
import graft.kernels.{MpDist, Snippets}

/** Distributed snippets (ref snippets.py:17-126) for long series.
  *
  * The single-task pipeline computes, for each snippet candidate, an
  * MPDist vector over the WHOLE series — one task per series holds n
  * points and does O(candidates · n) MASS work. The scale path here rests
  * on a locality property of `MpDist.mpdistVector`: output offset i
  * depends only on ts[i .. i+size-2] (the column minima window and the
  * row moving-min window both end there) plus the size-1-point candidate.
  * So the fan-out axis is (candidate × tile-group): each task receives a
  * slice of ≤ TilesPerTask·tileSize+size-2 points and one candidate —
  * sub-linear task input, like DistributedMp's halo'd MP tiles — and emits
  * one dv chunk per tileSize tile, each built from a rolling-diagonal
  * exact-dot distance matrix (MpDist.dotDistanceMatrix — no per-row FFT
  * work or transform state).
  *
  * The greedy min-coverage selection (Snippets.select's loop) then runs
  * as k distributed rounds over the chunk Dataset: per round, one
  * zip_with/aggregate pass computes Σ_j min(dv_i(j), minis(j)) per
  * candidate (codegen, no UDF), a window picks the per-conversation
  * argmin (ties to the lowest candidate, the kernel's strict `>`), and
  * the running elementwise minimum updates by a 1:1 join. Only O(1) rows
  * per conversation per round materialize; no dv vector ever reaches the
  * driver. Neighbor lists (O(n) per snippet) are assembled relationally
  * from the same mask bookkeeping via [[snippetsWithNeighbors]]; the
  * default [[snippets]] output stays index + fraction.
  */
object DistributedSnippets {

  /** tileSize tiles per (candidate, tile-group) task. */
  private val TilesPerTask = 4

  final case class SnippetRow(conv_id: String, rank: Int, index: Long,
      fraction: Double)

  /** One (candidate, tile-group) task: `tsSlice` covers dv offsets
    * [g0, g0 + TilesPerTask*tileSize) plus the size-2 halo; `cand` is the
    * size-1-point snippet candidate at global offset ci*size. The task
    * still emits one DvChunk per tileSize tile (the greedy-selection rounds
    * downstream are keyed on per-tile t0); grouping several tiles per task
    * bounds scheduling overhead while keeping live memory at one tile's
    * matrix + moving-minima.
    */
  final case class SnipTile(conv_id: String, ci: Int, g0: Int,
      tsSlice: Array[Double], cand: Array[Double])

  final case class DvChunk(conv_id: String, ci: Int, t0: Int,
      dv: Array[Double])

  private def tileGen(s: SeriesRow, size: Int, tileSize: Int): Iterator[SnipTile] = {
    if (s.values.length < 2 * size) return Iterator.empty
    val padded = Snippets.pad(s.values, size)
    val padlen = padded.length
    val dvLen = padlen - size + 2 // mpdistVector output length, |tsB| = size-1
    val span = tileSize * TilesPerTask
    val cands = Array.range(0, padlen - size, size)
    for {
      ci <- cands.indices.iterator
      g0 <- (0 until dvLen by span).iterator
    } yield {
      val g1 = math.min(g0 + span, dvLen)
      SnipTile(s.conv_id, ci, g0,
        java.util.Arrays.copyOfRange(padded, g0, math.min(padlen, g1 + size - 2)),
        java.util.Arrays.copyOfRange(padded, cands(ci), cands(ci) + size - 1))
    }
  }

  /** All tileSize-tiles of one group task: per-tile pair-distance matrices
    * via MpDist.dotDistanceMatrix (rolling-diagonal exact dots — no
    * per-row FFT state, so a task's live memory is one tile's matrix +
    * its moving-minima, independent of the candidate's row count), then
    * the shared mpdistVector pipeline.
    */
  private def groupChunks(t: SnipTile, w: Int, size: Int,
      tileSize: Int): Iterator[DvChunk] = {
    val nDv = t.tsSlice.length - size + 2
    (0 until nDv by tileSize).iterator.map { rel =>
      val relEnd = math.min(rel + tileSize, nDv)
      val tileSlice = java.util.Arrays.copyOfRange(t.tsSlice, rel,
        math.min(t.tsSlice.length, relEnd + size - 2))
      DvChunk(t.conv_id, t.ci, t.g0 + rel,
        MpDist.mpdistVector(tileSlice, t.cand, w))
    }
  }

  /** Σ_j min(a_j, b_j) as a codegen'd expression. */
  private def sumMin(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => least(x, y)), lit(0.0), (acc, v) => acc + v)

  final case class SnippetNbrRow(conv_id: String, rank: Int, index: Long,
      fraction: Double, neighbors: Array[Long])

  def snippets(series: Dataset[SeriesRow], size: Int, numSnippets: Int = 2,
      windowSize0: Int = 0, tileSize: Int = 1 << 14): Dataset[SnippetRow] = {
    val spark = series.sparkSession
    import spark.implicits._
    core(series, size, numSnippets, windowSize0, tileSize, withNeighbors = false)
      .select($"conv_id", $"rank", $"index", $"fraction")
      .as[SnippetRow]
  }

  /** Snippets WITH the reference's neighbor lists (ref snippets.py:108-124)
    * as an array column — offsets where the snippet is the coverage
    * argmin, capped at maxIndex = n - size, plus the tail extension when
    * the final offset qualifies. The mask bookkeeping is shared with the
    * fraction accounting; neighbor sets are assembled relationally
    * (collect + flatten + sort), never on the driver.
    */
  def snippetsWithNeighbors(series: Dataset[SeriesRow], size: Int,
      numSnippets: Int = 2, windowSize0: Int = 0,
      tileSize: Int = 1 << 14): Dataset[SnippetNbrRow] = {
    val spark = series.sparkSession
    import spark.implicits._
    core(series, size, numSnippets, windowSize0, tileSize, withNeighbors = true)
      .as[SnippetNbrRow]
  }

  private def core(series: Dataset[SeriesRow], size: Int, numSnippets: Int,
      windowSize0: Int, tileSize: Int, withNeighbors: Boolean): DataFrame = {
    require(size >= 4, "snippet_size must be an integer >= 4")
    val w = Snippets.windowSize(size, windowSize0)
    require(w < size, "window_size must be smaller than snippet_size")
    val spark = series.sparkSession
    import spark.implicits._

    // fraction denominator (padlen - size) and the unpadded length (for
    // the neighbor cap maxIndex = n - size) per conversation
    val meta = series.map { s =>
      val padlen = (size * math.ceil(s.values.length.toDouble / size)).toInt
      (s.conv_id, padlen, s.values.length)
    }.toDF("conv_id", "padlen", "n")

    // spread group tasks over many more partitions than the session's
    // shuffle default: a handful of heavy (candidate, group) keys hashed
    // into cpus*2 buckets serializes several multi-second kernels into one
    // task and stalls the stage on stragglers
    val groupParts = spark.sparkContext.defaultParallelism * 8
    val chunks = graft.util.StageCache.persist(
      series.flatMap(s => tileGen(s, size, tileSize))
        .repartition(groupParts, $"conv_id", $"ci", $"g0")
        .flatMap(t => groupChunks(t, w, size, tileSize)))

    // greedy rounds: winners per conversation, running elementwise minima
    var minis: DataFrame = null // (conv_id, t0, m: Array[Double])
    var winners: DataFrame = null // (conv_id, ci, rank)
    val byConv = org.apache.spark.sql.expressions.Window
      .partitionBy($"conv_id").orderBy($"s".asc, $"ci".asc)
    for (r <- 1 to numSnippets) {
      val scored =
        if (minis == null)
          chunks.toDF().select($"conv_id", $"ci",
            aggregate($"dv", lit(0.0), (acc, v) => acc + v).as("ps"))
        else
          chunks.toDF().join(minis, Seq("conv_id", "t0"))
            .select($"conv_id", $"ci", sumMin($"dv", $"m").as("ps"))
      val wr = graft.util.StageCache.persist(
        scored.groupBy($"conv_id", $"ci").agg(sum($"ps").as("s"))
          .withColumn("rn", row_number().over(byConv))
          .where($"rn" === 1)
          .select($"conv_id", $"ci", lit(r).as("rank")))
      wr.count() // materialize: downstream branches reuse, not recompute
      val pickedChunks = chunks.toDF().join(broadcast(wr), Seq("conv_id", "ci"))
        .select($"conv_id", $"t0", $"dv")
      val next =
        if (minis == null) pickedChunks.select($"conv_id", $"t0", $"dv".as("m"))
        else minis.join(pickedChunks, Seq("conv_id", "t0"))
          .select($"conv_id", $"t0", zip_with($"m", $"dv",
            (x, y) => least(x, y)).as("m"))
      val persisted = graft.util.StageCache.persist(next)
      persisted.count()
      if (minis != null) minis.unpersist()
      minis = persisted
      winners = if (winners == null) wr else winners.union(wr)
    }

    // fraction + neighbor accounting (Snippets.select's sequential mask
    // bookkeeping): per (conv, t0) group the picked chunks in rank order
    // plus the final minima (== totalMin), record mask hits (count + the
    // hit offsets, globalized by t0), subtracting 1.0 per prior mask
    val pickedAll = chunks.toDF().join(broadcast(winners), Seq("conv_id", "ci"))
      .select($"conv_id", $"t0", $"rank", $"dv")
    val withTotal = pickedAll.unionByName(
      minis.select($"conv_id", $"t0", lit(0).as("rank"), $"m".as("dv")))
    val masks = withTotal.as[(String, Int, Int, Array[Double])]
      .groupByKey { case (conv, t0, _, _) => (conv, t0) }
      .flatMapGroups { (key: (String, Int), it: Iterator[(String, Int, Int, Array[Double])]) =>
        val (conv, t0) = key
        val rows = it.toArray.sortBy(_._3) // rank 0 = totalMin, then picks
        val tm = rows.head._4.clone()
        rows.tail.iterator.map { case (_, _, rank, dv) =>
          // hit offsets materialize only for the neighbors output; the
          // fraction-only path carries just the count
          val hits =
            if (withNeighbors) new scala.collection.mutable.ArrayBuffer[Long]()
            else null
          var cnt = 0L
          var j = 0
          while (j < dv.length) {
            if (dv(j) <= tm(j)) {
              cnt += 1
              if (hits != null) hits += (t0.toLong + j)
              tm(j) -= 1.0
            }
            j += 1
          }
          (conv, rank, cnt,
            if (hits != null) hits.toArray else Array.empty[Long])
        }
      }
      .toDF("conv_id", "rank", "cnt", "nbrs")
    val counts = masks
      .groupBy($"conv_id", $"rank").agg(sum($"cnt").as("cnt"),
        array_sort(flatten(collect_list($"nbrs"))).as("allhits"))

    counts
      .join(winners, Seq("conv_id", "rank"))
      .join(broadcast(meta), Seq("conv_id"))
      .withColumn("max_index", ($"n" - size).cast("long"))
      .withColumn("nb0", filter($"allhits", j => j <= $"max_index"))
      .select($"conv_id", $"rank",
        ($"ci".cast("long") * size).as("index"),
        ($"cnt".cast("double") / ($"padlen" - size)).as("fraction"),
        // ref snippets.py:116-118: a qualifying final offset pulls in the
        // ragged tail positions maxIndex+1 .. n-1
        when(array_contains($"nb0", $"max_index"),
          concat($"nb0", sequence($"max_index" + 1, $"n".cast("long") - 1)))
          .otherwise($"nb0").as("neighbors"))
  }
}
