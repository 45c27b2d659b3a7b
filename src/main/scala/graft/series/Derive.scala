package graft.series

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.functions._
import graft.rollup.Rollup
import graft.schema.{SeriesPoint, Transcript}
import graft.dist.DistributedMp.SeriesRow

/** Per-conversation series derivation from the transcript table.
  *
  * Every stored kind comes from ONE pass per conversation, the shape of
  * the reference's `to_np_array` coercion (core.py:78-102; loader
  * datasets.py:132-219): the scan reads conv_id, turn_idx, ts and
  * length(text), one exchange groups each conversation into one task in
  * turn_idx order (the engine's per-row invariant), and an iterator emits
  * its points. A declarative form (a `lag` window, a per-minute aggregate
  * densified by `gapFill`) takes four exchanges and twice the generated
  * classes, enough to overflow Spark's codegen cache so that every
  * pipeline run recompiled its code.
  */
object Derive {

  /** The stored series kinds: time-indexed `token_len_t` (bucket = epoch
    * µs) feeds the tiers; position-indexed `token_len` and `gap_s` (bucket
    * = turn index) and the gap-filled `turn_rate` feed the profiles.
    */
  val TokenLenT = "token_len_t"
  val TokenLen = "token_len"
  val GapS = "gap_s"
  val TurnRate = "turn_rate"

  /** A turn's token length, the value of both token-length kinds. */
  val tokenLength: Column = length(col("text")).cast("double")

  /** One turn as the derivation reads it; a null `ts` or `text` stays None. */
  final case class Turn(turn_idx: Int, us: Option[Long], minute: Option[Long],
      len: Option[Double])

  /** Every stored series, per conversation in turn order:
    *   - `token_len_t` (bucket = the turn's µs) and `token_len` (bucket =
    *     turn_idx), both valued by the token length;
    *   - `gap_s`: (µs_i − µs_{i−1}) / 1e6 at bucket turn_idx − 1; the first
    *     turn, and a turn after a null `ts`, have none;
    *   - `turn_rate`: turns per minute on the dense minute grid from the
    *     first minute to the last, 0.0 where no turn falls (`gapFill`'s
    *     grid), held as minute counts only: O(minutes) per conversation.
    */
  def series(transcripts: Dataset[Transcript]): Dataset[SeriesPoint] = {
    val spark = transcripts.sparkSession
    import spark.implicits._
    transcripts
      .select($"conv_id", $"turn_idx", unix_micros($"ts").as("us"),
        unix_micros(date_trunc("minute", $"ts")).as("minute"), tokenLength.as("len"))
      .groupBy($"conv_id").as[String, Turn]
      .flatMapSortedGroups($"turn_idx") { (conv, turns) =>
        val perMinute = new scala.collection.mutable.LongMap[Int]()
        var prevUs: Option[Long] = None
        turns.flatMap { t =>
          t.minute.foreach(m => perMinute(m) = perMinute.getOrElse(m, 0) + 1)
          val gap = prevUs.map(p => (conv, GapS, Some(t.turn_idx - 1L),
            t.us.map(u => (u - p).toDouble / 1e6)))
          prevUs = t.us
          Iterator((conv, TokenLenT, t.us, t.len),
            (conv, TokenLen, Some(t.turn_idx.toLong), t.len)) ++ gap
        } ++ {
          val hi = perMinute.keysIterator.maxOption.getOrElse(Long.MinValue)
          perMinute.keysIterator.minOption.iterator
            .flatMap(Iterator.iterate(_)(_ + Rollup.MicrosPerMin).takeWhile(_ <= hi))
            .map(m => (conv, TurnRate, Some(m), Some(perMinute.getOrElse(m, 0).toDouble)))
        }
      }
      .toDF("conv_id", "kind", "bucket", "value")
      .as[SeriesPoint]
  }

  /** Densify a time-indexed series to a regular grid of `stepMicros`,
    * filling created buckets with `fillValue` (0 for rates). This is the
    * engine's analog of the reference's impute_missing
    * (preprocess.py:140-222), expressed as relational ops instead of an
    * array pass. The grid spans each series from its first bucket to its
    * last: densification multiplies rows by span/step (a year-long span
    * at 1-minute step is ~526k rows), so pre-filter a wide series to the
    * span it needs.
    */
  def gapFill(points: Dataset[SeriesPoint], stepMicros: Long,
      fillValue: Double): Dataset[SeriesPoint] = {
    val spark = points.sparkSession
    import spark.implicits._

    // Densify with ONE aggregation and SEGMENT generation: collect each
    // series' sorted (bucket, value) entries with its bounds, keep the
    // entries ON the grid (bucket = lo + k·step), then per entry emit the
    // fill run from its predecessor plus the entry itself (a sentinel past
    // `hi` emits the tail run). Every output row costs O(1): no join probe
    // and no per-row map lookup (a Spark map literal is an ARRAY, which
    // element_at scans linearly), and `points` is read once.
    //
    // Contracts: (1) buckets are unique per (conv_id, kind), the
    // SeriesPoint invariant; a duplicate fails loudly (sequence() rejects
    // start > stop). (2) one aggregation buffer holds a whole series'
    // entries (~24 B per point), so pre-filter multi-million-point groups
    // to the retention horizon.
    val step = lit(stepMicros)
    points
      .groupBy($"conv_id", $"kind")
      .agg(sort_array(collect_list(struct($"bucket", $"value"))).as("es"),
        min($"bucket").as("lo"), max($"bucket").as("hi"))
      // the aggregate output is a handful of KB, so AQE coalesces it
      // to one partition — but each row EXPANDS by span/step below.
      // Spread the generation explicitly (explicit repartitions are
      // never coalesced); the shuffle moves only the compact
      // per-series rows, never the generated grid.
      .repartition(spark.sparkContext.defaultParallelism,
        $"conv_id", $"kind")
      // last grid point (the grid is anchored at lo)
      .withColumn("gridHi", $"hi" - pmod($"hi" - $"lo", step))
      // on-grid entries only; strictly increasing because series
      // buckets are unique per (conv_id, kind)
      .withColumn("oges", filter($"es", e => pmod(e.getField("bucket") - $"lo", step) === 0))
      .select($"conv_id", $"kind", $"lo", $"oges",
        posexplode(concat($"oges",
          // sentinel one step past the grid: its pair emits the tail
          // fill run, and its own (null-value) point is filtered out
          array(struct(($"gridHi" + step).as("bucket"),
            lit(null).cast("double").as("value"))))))
      .withColumn("prevB", when($"pos" === 0, $"lo" - step)
        .otherwise(element_at($"oges", $"pos").getField("bucket")))
      // one PRIMITIVE sequence per segment — fill run plus the entry
      // endpoint — so the 10⁷-row explode stays on the long-array fast
      // path (a struct-array transform allocates one object per grid row)
      .select($"conv_id", $"kind", $"col".getField("bucket").as("eb"),
        $"col".getField("value").as("ev"),
        explode(sequence($"prevB" + step, $"col".getField("bucket"), step))
          .as("bucket"))
      .where($"ev".isNotNull || $"bucket" =!= $"eb")
      .select($"conv_id", $"kind", $"bucket",
        when($"bucket" === $"eb", $"ev").otherwise(lit(fillValue)).as("value"))
      .as[SeriesPoint]
  }

  /** Assemble per-conversation contiguous value arrays ordered by bucket —
    * the Dataset ↔ kernel boundary, one MP input row per (conv, kind).
    */
  def assemble(points: Dataset[SeriesPoint]): Dataset[SeriesRow] = {
    val spark = points.sparkSession
    import spark.implicits._
    // codegen'd path: struct sort orders by bucket (first field), so the
    // whole group->array step stays inside the hash aggregate
    points
      .groupBy($"conv_id", $"kind")
      .agg(sort_array(collect_list(struct($"bucket", $"value"))).as("pts"))
      .select($"conv_id", $"kind",
        element_at($"pts", 1).getField("bucket").as("startBucket"),
        transform($"pts", p => p.getField("value")).as("values"))
      .as[SeriesRow]
  }

  /** [[assemble]] as (conv_id, kind, startBucket, values) tuples. On input
    * the planner knows is partitioned by conv_id (a bucket(conv_id) table
    * scan, a cached [[graft.rollup.Rollup.rollupAllColocated]]) the
    * grouping plans no exchange; any other input is shuffled, so a series
    * that is interleaved or split across partitions still comes out whole.
    */
  def assembleColocated(points: Dataset[SeriesPoint])
      : Dataset[(String, String, Long, Array[Double])] = {
    import points.sparkSession.implicits._
    assemble(points).map(r => (r.conv_id, r.kind, r.startBucket, r.values))
  }
}
