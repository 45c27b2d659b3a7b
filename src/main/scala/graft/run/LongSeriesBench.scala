package graft.run

import graft.dist.DistributedMp
import graft.dist.DistributedMp.SeriesRow
import graft.kernels.Core

/** Single long-series matrix profile through the halo'd-tile path —
  * the scale evidence for splitting one 10^6..10^7-point series across
  * tasks without replicating the whole series into every task.
  *
  * Prints total wall time, pair-distance throughput, and the measured
  * shuffle read/write bytes, against the input bytes the round-1
  * full-replication design would have shuffled (n * 8B per block task).
  *
  * Usage: runMain graft.run.LongSeriesBench [nPoints] [w] [tileSize] [algo]
  * with algo ∈ mpx | stomp | skimp | snip | stream; for snip `w` is the
  * snippet size (window = size/2, the reference's default).
  */
object LongSeriesBench {

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1 << 20
    val w = if (args.length > 1) args(1).toInt else 32
    val tile = if (args.length > 2) args(2).toInt else 1 << 14
    val algo = if (args.length > 3) args(3) else "mpx"
    val spark = Harness.session("graft-long-series")
    val metrics = new Harness.StageMetrics(spark)
    // measured shuffle bytes, read after every stage's events are counted
    def shuffle(): String = {
      val m = metrics.drain()
      f"[long-series] shuffle_read=${m.shuffleRead / 1048576.0}%.1f MiB " +
        f"shuffle_write=${m.shuffleWrite / 1048576.0}%.1f MiB"
    }
    import spark.implicits._

    // deterministic synthetic series (random walk, no trivial structure)
    val values = new Array[Double](n)
    var h = 42L
    var acc = 0.0
    var i = 0
    while (i < n) {
      h = graft.ingest.TranscriptGen.splitmix64(h)
      acc += (h & 0xffff).toDouble / 65536.0 - 0.5
      values(i) = acc
      i += 1
    }
    val ds = spark.createDataset(Seq(SeriesRow("big", "v", 0L, values)))

    import Harness.timed
    algo match {
      case "stream" =>
        // streaming left-profile kernel throughput: a batch of `tile` new
        // windows arriving on an n-point retained tail (one FFT seed for the
        // batch's first row, then the O(1)-per-diagonal STOMP recurrence)
        val from = math.max(0, (n - w + 1) - tile)
        graft.streaming.StreamingRollup.leftProfileScores(values, w, from) // warm
        val (s, sec) = timed(graft.streaming.StreamingRollup.leftProfileScores(values, w, from))
        println(f"[long-series] algo=stream n=$n w=$w new_windows=${s.length} " +
          f"wall=$sec%.2fs windows/s=${s.length / sec}%.3e")

      case "skimp" =>
        // SKIMP / pan-matrix-profile at bench scale: ONE long series fanned
        // out as (window x tile) tasks — the multi-window scaling evidence
        // the per-user queries (q13/q32/q34, capped series) can't provide.
        // `w` is reused as the window step; windows = w, 2w, ..., 8w.
        val windows = (1 to 8).map(_ * w).toArray
        val (rows, sec) = timed(DistributedMp.skimpProfiles(ds, windows, "raw",
          splitThreshold = 1 << 15, tileSize = tile).collect())
        require(rows.length == windows.length,
          s"expected ${windows.length} PMP rows, got ${rows.length}")
        val pairs = windows.map { ww =>
          val plen = (n - ww + 1).toLong
          val minlag = Core.minlag(ww).toLong
          (plen - minlag - 1) * (plen - minlag) / 2
        }.sum
        val tasks = windows.map { ww =>
          val tiles = math.ceil((n - ww + 1).toDouble / tile).toLong
          tiles * (tiles + 1) / 2
        }.sum
        println(f"[long-series] algo=skimp n=$n windows=${windows.mkString(",")} " +
          f"tile=$tile tasks~$tasks pairs=$pairs")
        println(f"[long-series] wall=$sec%.1fs windows/s=${windows.length / sec}%.3f " +
          f"pairs/s=${pairs / sec}%.3e min_mp=${rows.map(_.mp.min).min}%.4f")
        println(shuffle())

      case "snip" =>
        val size = w // arg reuse: snippet size
        val padlen = (size * math.ceil(n.toDouble / size)).toLong
        val cands = (padlen - size) / size + (if ((padlen - size) % size > 0) 1 else 0)
        val dvLen = padlen - size + 2
        val (rows, sec) = timed(graft.dist.DistributedSnippets
          .snippets(ds, size, numSnippets = 2, tileSize = tile).collect().sortBy(_.rank))
        val dvValues = cands * dvLen
        val tasks = cands * math.ceil(dvLen.toDouble / tile).toLong
        val oldBytes = n.toLong * 8L * cands // per-candidate full-series fan-out
        println(f"[long-series] algo=snip n=$n size=$size tile=$tile " +
          f"cands=$cands dv_values=$dvValues tasks~$tasks")
        rows.foreach(r => println(
          f"[long-series] snippet rank=${r.rank} index=${r.index} fraction=${r.fraction}%.4f"))
        println(f"[long-series] wall=$sec%.1fs dv_values/s=${dvValues / sec}%.3e")
        println(shuffle() +
          f" (per-candidate full-series fan-out would ship ${oldBytes / 1048576.0}%.0f MiB)")

      case _ =>
        val plen = n - w + 1
        val minlag = Core.minlag(w)
        // mpx sweeps the upper triangle once; stomp computes the full matrix
        val stomp = algo == "stomp"
        val pairs =
          if (stomp) plen.toLong * plen.toLong
          else (plen.toLong - minlag - 1) * (plen.toLong - minlag) / 2
        val (row, sec) = timed {
          val prof =
            if (stomp) DistributedMp.stompProfiles(ds, w, "raw", splitThreshold = 1 << 15, tileSize = tile)
            else DistributedMp.mpxProfiles(ds, w, "raw", splitThreshold = 1 << 15, tileSize = tile)
          prof.collect().head
        }
        val tiles = math.ceil(plen.toDouble / tile).toInt
        val nTasks = if (stomp) tiles.toLong * tiles else (tiles.toLong * (tiles + 1)) / 2
        val oldBytes = n.toLong * 8L * nTasks // round-1: full series per task
        println(f"[long-series] algo=$algo n=$n w=$w tile=$tile plen=$plen " +
          f"tasks~$nTasks pairs=$pairs")
        println(f"[long-series] wall=$sec%.1fs pairs/s=${pairs / sec}%.3e " +
          f"min_mp=${row.mp.min}%.4f")
        println(shuffle() +
          f" (round-1 full-replication would ship ${oldBytes / 1048576.0}%.0f MiB)")
    }
    spark.stop()
  }
}
