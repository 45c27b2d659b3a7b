package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.rollup.Rollup
import graft.schema.Transcript
import graft.series.Derive

/** Structured-Streaming variant of the tiers: continuous aggregates along
  * the retention ladder over a transcript stream, with event-time
  * watermarking for late turns.
  *
  * The batch reference has no streaming (pure arrays); this is the
  * engine's continuous-ingest path: readStream → watermark → windowed
  * aggregates → append sink. Late rows inside the watermark update their
  * minute bucket; rows later than `lateness` are dropped — the batch
  * backfill (PipelineMain) reconciles them on the next run via the
  * ledger.
  */
object StreamingRollup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.StreamingRollup")

  /** The continuous-aggregate cascade raw → … → `upTo` along
    * [[Rollup.Ladder]] as ONE streaming query with one stateful operator
    * per tier: flat rows (conv_id, bucket start in epoch µs, the TierAgg
    * measures of the turns' text length). Each coarser tier windows over
    * the finer tier's window column, which is what lets the engine
    * propagate the event-time watermark: a coarse bucket finalizes exactly
    * when its last finer bucket can no longer change. The measures merge
    * as in the batch tiers, so a finalized row equals the batch rollup over
    * the same accepted rows — gated by StreamingSpec across micro-batches.
    */
  def cascade(stream: Dataset[Transcript], upTo: String,
      lateness: String = "10 minutes"): DataFrame = {
    import stream.sparkSession.implicits._
    def bucketOf(time: Column, t: Rollup.Tier) = window(time, s"${t.step} microseconds").as("w")
    val rungs = Rollup.ladderTo(upTo)
    val finest = Rollup.aggregate(
      stream.withWatermark("ts", lateness).groupBy($"conv_id", bucketOf($"ts", rungs.head)),
      Rollup.fold(Derive.tokenLength, $"ts"))
    rungs.tail.foldLeft(finest) { (finer, t) =>
      Rollup.aggregate(finer.groupBy($"conv_id", bucketOf($"w", t)),
        Rollup.merge($"w.start", $"w.start"))
    }.select($"conv_id" +: unix_micros($"w.start").as("bucket") +: Rollup.Measures.map(col): _*)
  }

  /** Per-conversation retained series for the stateful streaming path:
    * `offset` keeps window positions stable across retention trims;
    * `maxTsMillis` is the event time of the newest accepted point (the
    * in-order high-water mark) and `dropped` counts cross-batch late
    * arrivals rejected against it.
    */
  final case class SeriesState(offset: Long, values: Array[Double],
      maxTsMillis: Long = Long.MinValue, dropped: Long = 0L)

  final case class PointIn(conv_id: String, ts: java.sql.Timestamp, value: Double)

  final case class LeftProfileScore(conv_id: String, pos: Long, dist: Double)

  /** Left-profile scores: for each window, the z-normalized ED to its
    * nearest STRICTLY EARLIER window (lag > minlag = ceil(w/4)) — the
    * incremental/anytime half of the matrix profile (ref stomp.py's lmp),
    * which is exactly what an online anomaly detector can know at arrival
    * time. Emits windows starting at `fromWindow` and later.
    *
    * The r3 implementation recomputed every pair dot product from scratch
    * (O(H·w) per arrival). This version is the reference's own STOMP
    * shape: the batch's FIRST row seeds its dot products against all
    * earlier windows with one FFT convolution (ref stomp.py:103-105),
    * then each subsequent window advances every diagonal in O(1)
    * (ref stomp.py:146-156) — O(H log H) once per micro-batch plus O(H)
    * per new window. (A MASS profile per window, the other candidate,
    * measures ~8 ms/window at H=16k under JTransforms' constants — no
    * better than brute at w=256; the recurrence is ~30 µs.) A window with
    * no admissible earlier partner (jEnd < 0) scores ∞, exactly as before.
    *
    * Drift bound: the rolling recurrence compounds rounding with chain
    * length, so every [[ReseedEvery]] rows within one call the diagonals
    * are RE-SEEDED by a fresh FFT convolution — chains never exceed 4096
    * steps however many windows one micro-batch (or the bench's 16k-row
    * batches) delivers. Amortized cost: one O(H log H) transform per 4096
    * rows, noise vs the O(H) per-row sweep. The 16k-tail drift gate lives
    * in StreamingSpec.
    */
  val ReseedEvery = 4096

  def leftProfileScores(all: Array[Double], w: Int,
      fromWindow: Int): Seq[(Int, Double)] = {
    val plen = all.length - w + 1
    if (plen <= 0) return Seq.empty
    val minlag = graft.kernels.Core.minlag(w)
    val from = math.max(0, fromWindow)
    if (from >= plen) return Seq.empty
    val (mu, sig) = graft.kernels.MovingStats.muinvn(all, w) // sig = 1/std
    // dots(j) = window_i · window_j for the current row i (j < i)
    val dots = new Array[Double](plen)
    if (from > 0) {
      val seed = graft.kernels.Fft.fftConvolve(
        java.util.Arrays.copyOfRange(all, 0, from + w),
        java.util.Arrays.copyOfRange(all, from, from + w))
      System.arraycopy(seed, 0, dots, 0, from + 1)
    }
    (from until plen).map { i =>
      if (i > from && (i - from) % ReseedEvery == 0) {
        // periodic exact-ish restart: recompute row i's dots wholesale so
        // recurrence chains stay <= ReseedEvery steps (drift bound)
        val seed = graft.kernels.Fft.fftConvolve(
          java.util.Arrays.copyOfRange(all, 0, i + w),
          java.util.Arrays.copyOfRange(all, i, i + w))
        System.arraycopy(seed, 0, dots, 0, i + 1)
      } else if (i > from) {
        // advance every diagonal one step: dot(i,j) = dot(i-1,j-1)
        //   + x[i+w-1]x[j+w-1] - x[i-1]x[j-1]
        val a = all(i + w - 1)
        val b = all(i - 1)
        var j = i - 1
        while (j >= 1) {
          dots(j) = dots(j - 1) + a * all(j + w - 1) - b * all(j - 1)
          j -= 1
        }
        // the one fresh diagonal per arrival: dot(i, 0), O(w) direct
        var s = 0.0
        var k = 0
        while (k < w) { s += all(i + k) * all(k); k += 1 }
        dots(0) = s
      }
      val jEnd = i - minlag - 1
      if (jEnd < 0) (i, Double.PositiveInfinity) // no prior window yet
      else {
        var best = -1.0 // max pearson
        var j = 0
        while (j <= jEnd) {
          val corr = (dots(j) - w * mu(i) * mu(j)) * sig(i) * sig(j)
          if (corr > best) best = corr
          j += 1
        }
        (i, graft.kernels.Core.pearsonDist(w, math.min(best, 1.0)))
      }
    }
  }

  /** Streaming per-conversation left matrix profile via
    * flatMapGroupsWithState: state = the retained tail of each series
    * (`maxHistory` points, ring-trimmed with a stable offset), output =
    * one score per NEWLY COMPLETED window per micro-batch. This is the
    * engine's custom-state streaming operator (SURVEY §2.7): windowed
    * aggregation covers the tiers; nearest-neighbor novelty needs
    * KeyValueGroupedDataset state.
    *
    * Ordering contract (ENFORCED): points are sorted within a micro-batch,
    * and the state carries the event-time high-water mark of the newest
    * accepted point — a point arriving in a later batch with an older
    * event time is DROPPED (counted in state + logged), because novelty
    * scores are position-indexed and already emitted; silently appending
    * it would corrupt every subsequent window. The guard is STRICT: a
    * cross-batch arrival at exactly the accepted high-water mark is
    * treated as an at-least-once redelivery and dropped (within a batch,
    * equal-time points are all accepted in sorted order). Feed this
    * operator from a watermarked upstream (e.g. the 1m tier) or an
    * in-order source; dropped stragglers are reconciled by the batch
    * backfill, like the tier cascade's. Note the state schema is versioned by
    * this library — resuming a checkpoint written by an older build that
    * lacked the high-water fields requires a fresh checkpoint.
    */
  def streamingLeftProfile(stream: Dataset[PointIn], w: Int,
      maxHistory: Int = 1 << 14): Dataset[LeftProfileScore] = {
    import stream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    stream
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (conv: String, it: Iterator[PointIn], state: GroupState[SeriesState]) =>
          val prior = state.getOption.getOrElse(SeriesState(0L, Array.empty))
          val (accepted, late) = it.toArray.sortBy(_.ts.getTime)
            .partition(_.ts.getTime > prior.maxTsMillis)
          if (late.nonEmpty)
            log.warn(s"streamingLeftProfile[$conv]: dropped ${late.length} " +
              s"cross-batch late point(s) older than the accepted high-water " +
              s"mark (total dropped ${prior.dropped + late.length})")
          val incoming = accepted.map(_.value)
          val newMax =
            if (accepted.nonEmpty) accepted.last.ts.getTime else prior.maxTsMillis
          val all = prior.values ++ incoming
          val (kept, offset) =
            if (all.length > maxHistory)
              (all.takeRight(maxHistory), prior.offset + (all.length - maxHistory))
            else (all, prior.offset)
          state.update(SeriesState(offset, kept, newMax, prior.dropped + late.length))
          // windows completed by this batch: those using >= 1 incoming point
          val firstNew = math.max(0, (kept.length - incoming.length) - w + 1)
          leftProfileScores(kept, w, firstNew).iterator
            .filter(!_._2.isInfinite)
            .map { case (i, d) => LeftProfileScore(conv, offset + i, d) }
      }
  }

  /** Start the stream into an in-memory or parquet sink. */
  def start(tier: DataFrame, sinkFormat: String, path: Option[String],
      queryName: String, checkpoint: String): StreamingQuery = {
    val writer = tier.writeStream
      .outputMode(OutputMode.Append) // finalized buckets only (post-watermark)
      .format(sinkFormat)
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
    path.fold(writer)(p => writer.option("path", p)).start()
  }
}
