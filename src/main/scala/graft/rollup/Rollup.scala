package graft.rollup

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.{SeriesPoint, TierAgg}

/** Continuous aggregates at the retention tiers raw→1m→1h→1d ([[Rollup.Ladder]]).
  *
  * Each tier stores the per-bucket struct (cnt, sum, min, max, first,
  * last) so the next tier re-aggregates the previous one instead of
  * rescanning raw data — the rollup analog of SKIMP's window memoization
  * (skimp.py:193-205), and the property that bounds each tier's input to
  * 1/60th of the one below.
  *
  * Skew: hot conversations are handled with salted two-phase aggregation —
  * partials are computed per (conv, bucket, salt) where salt spreads one
  * conversation's rows over `saltBuckets` reducers, then finalized per
  * (conv, bucket). Spark's partial aggregation already map-combines, so
  * salting matters when a single (conv, bucket) group is itself huge or
  * when AQE's skew handling can't split a group; it is kept explicit per
  * the engine contract.
  */
object Rollup {

  val MicrosPerMin: Long = 60L * 1000000L
  private val MicrosPerDay: Long = 1440 * MicrosPerMin

  /** One rung of the retention ladder: its name, its bucket step in µs and
    * how far behind the newest bucket it keeps buckets (None: forever).
    * `table` names it under the pipeline's tiers/ directory: m1, h1, d1.
    */
  final case class Tier(name: String, step: Long, horizon: Option[Long]) {
    def table: String = name.reverse
  }

  /** The retention ladder, finest first; each tier rolls up the one before
    * it. Every tier builder iterates this one list.
    */
  val Ladder: Seq[Tier] = Seq(
    Tier("1m", MicrosPerMin, Some(3 * MicrosPerDay)),
    Tier("1h", 60 * MicrosPerMin, Some(30 * MicrosPerDay)),
    Tier("1d", MicrosPerDay, None))

  val TierStep: Map[String, Long] = Ladder.map(t => t.name -> t.step).toMap

  /** The ladder from its finest tier up to and including `tier`. */
  def ladderTo(tier: String): Seq[Tier] =
    Ladder.take(Ladder.indexWhere(_.name == tier) + 1).ensuring(_.nonEmpty, s"unknown tier $tier")

  /** A tier row's key, which is also the colocated layout's sort order. */
  private val Key = Seq("conv_id", "kind", "bucket")

  /** The tier measure set, point → bucket: the one definition of what a
    * TierAgg row holds. `first`/`last` are the values at the smallest and
    * largest `t`; which row wins among equal timestamps is not pinned.
    */
  private[graft] def fold(value: Column, t: Column): Seq[Column] = Seq(
    count(lit(1)).as("cnt"),
    sum(value).as("sum"),
    min(value).as("min"),
    max(value).as("max"),
    min_by(value, t).as("first"),
    max_by(value, t).as("last"))

  /** The measure set's merge, bucket → bucket: cnt/sum add, min/max
    * combine, `first` comes from the row with the smallest `firstOrder`
    * and `last` from the row with the largest `lastOrder` — the finer
    * bucket, the partial's first/last time, or the base-vs-delta side.
    */
  private[graft] def merge(firstOrder: Column, lastOrder: Column): Seq[Column] = Seq(
    sum(col("cnt")).as("cnt"),
    sum(col("sum")).as("sum"),
    min(col("min")).as("min"),
    max(col("max")).as("max"),
    min_by(col("first"), firstOrder).as("first"),
    max_by(col("last"), lastOrder).as("last"))

  /** Column names of the measures in TierAgg order. */
  private[graft] val Measures: Seq[String] = Seq("cnt", "sum", "min", "max", "first", "last")

  private[graft] def aggregate(grouped: RelationalGroupedDataset,
      measures: Seq[Column]): DataFrame = grouped.agg(measures.head, measures.tail: _*)

  /** Tag aggregated rows with their tier, in TierAgg column order. */
  private[graft] def finish(df: DataFrame, tier: String): Dataset[TierAgg] = {
    import df.sparkSession.implicits._
    df.withColumn("tier", lit(tier))
      .select((Seq("conv_id", "kind", "tier", "bucket") ++ Measures).map(col): _*)
      .as[TierAgg]
  }

  private def align(bucket: Column, step: Long): Column = bucket - pmod(bucket, lit(step))

  /** raw points → 1m tier. `points.bucket` is the event time in µs.
    *
    * `saltBuckets > 1` enables the salted two-phase plan for genuinely hot
    * (conv, bucket) groups; Spark's map-side partial aggregation already
    * combines before the shuffle, so the default single-exchange plan is
    * the right one unless a single group overwhelms one reducer.
    */
  def rollupRaw(points: Dataset[SeriesPoint], tier: String,
      saltBuckets: Int = 1): Dataset[TierAgg] = {
    import points.sparkSession.implicits._
    val keyed = Seq($"conv_id", $"kind", align($"bucket", TierStep(tier)).as("bucket"),
      $"bucket".as("t"), $"value")
    val byBucket = Key.map(col)

    if (saltBuckets <= 1)
      return finish(aggregate(points.select(keyed: _*).groupBy(byBucket: _*),
        fold($"value", $"t")), tier)

    // phase 1: partial aggregate per (conv, kind, bucket, salt); the salt
    // derives from the raw bucket so replays are deterministic
    val partial = aggregate(
      points.select(keyed :+ pmod(hash($"bucket"), lit(saltBuckets)).as("salt"): _*)
        .groupBy(byBucket :+ $"salt": _*),
      fold($"value", $"t") ++ Seq(min($"t").as("first_t"), max($"t").as("last_t")))

    // phase 2: final merge per (conv, kind, bucket)
    finish(aggregate(partial.groupBy(byBucket: _*), merge($"first_t", $"last_t")), tier)
  }

  /** Link: aggregate a finer tier into a coarser one (1m→1h, 1h→1d)
    * without touching raw data.
    */
  def rollupTier(finer: Dataset[TierAgg], tier: String): Dataset[TierAgg] = {
    import finer.sparkSession.implicits._
    finish(aggregate(
      finer
        .withColumn("fbucket", $"bucket") // finer bucket, for first/last order
        .groupBy($"conv_id", $"kind", align($"bucket", TierStep(tier)).as("bucket")),
      merge($"fbucket", $"fbucket")), tier)
  }

  /** The batch chain raw → … → `upTo` along the ladder: the finest tier by
    * [[rollupRaw]] (unsalted), each coarser one by [[rollupTier]] from the
    * tier before it. Returns every tier's plan, finest first.
    */
  def rollupChain(points: Dataset[SeriesPoint],
      upTo: String = Ladder.last.name): Seq[Dataset[TierAgg]] = {
    val rungs = ladderTo(upTo)
    rungs.tail.scanLeft(rollupRaw(points, rungs.head.name))((finer, t) => rollupTier(finer, t.name))
  }

  /** Broadcasting more touched keys than this falls back to a shuffle
    * join: an unguarded broadcast of a huge backfill delta's key set
    * would OOM the driver long before Spark's own 8 GB broadcast cap
    * fires. ~4M three-column keys is comfortably inside a few hundred MB
    * built relation; a real deployment tunes this with its driver size.
    */
  val MaxBroadcastKeys: Long = 4L * 1000 * 1000

  /** Deltas whose PLAN-TIME size estimate is under this skip the exact
    * touched-key count: even if every input row touched a distinct
    * bucket, the key set is safely broadcastable. Keeps the designed
    * micro-batch path free of any extra action; only a plausibly
    * backfill-sized delta pays one count() (amortized by the big job it
    * gates). Estimates can be wrong, but only by enough to matter when
    * the input is ALREADY large — which is exactly when they are real
    * file-scan sizes.
    */
  val SmallDeltaBytes: Long = 64L * 1024 * 1024

  /** The touched-key side of an incremental merge: broadcast when the
    * delta's free size estimate is small or its exact key count is under
    * `maxBroadcastKeys`, else a plain shuffle join — a backfill must not
    * ride an unguarded driver broadcast.
    */
  private def keySide(delta: Dataset[SeriesPoint], touchedKeys: DataFrame,
      maxBroadcastKeys: Long, smallDeltaBytes: Long): DataFrame => DataFrame = {
    val bcast = delta.queryExecution.optimizedPlan.stats.sizeInBytes <= smallDeltaBytes ||
      touchedKeys.count() <= maxBroadcastKeys
    df => if (bcast) broadcast(df) else df
  }

  /** Incremental continuous-aggregate maintenance: merge a DELTA of
    * newly-arrived raw points into an existing tier table WITHOUT
    * recomputing untouched buckets — the operation a 100 TB deployment
    * runs on every ingest batch instead of rescanning history.
    *
    * Contract: append-only per bucket — every delta point in a
    * (conv, kind, bucket) group arrives at a raw time ≥ every base point
    * already aggregated into that group (the shape of time-ordered
    * ingest; late data is the streaming tier's watermark problem, not
    * this operator's). Under it the merge is exact: cnt/sum add,
    * min/max combine, `first` keeps the base's value when the bucket
    * existed, `last` takes the delta's.
    *
    * Scale shape (the point of the operator): the base NEVER shuffles.
    * The delta's touched keys are broadcast; untouched base rows pass
    * through an anti-join unchanged (at 100 TB: their Iceberg data files
    * are simply not rewritten), and only the affected slice — bounded by
    * the delta's key count, not the base's size — enters the merge
    * aggregation. A derived delta is persisted once (StageCache.forked): release after use.
    */
  def maintainTier(base: Dataset[TierAgg], delta: Dataset[SeriesPoint],
      tier: String, saltBuckets: Int = 1,
      maxBroadcastKeys: Long = MaxBroadcastKeys,
      smallDeltaBytes: Long = SmallDeltaBytes): Dataset[TierAgg] = {
    val spark = base.sparkSession
    import spark.implicits._
    // read thrice (two key joins, the merge): a derived delta is persisted once
    val deltaRows = graft.util.StageCache.forked(delta)
    // the delta rollup's rows ARE the touched keys (one per (conv, kind,
    // bucket)), so no separate distinct is needed. Left unpersisted: the
    // micro-batch path must stay free of extra jobs and cache encoding
    // (a lazy persist here measured +0.3 s on q40); the exact count in
    // keySide recomputes it once, but only on the plausibly-backfill path
    // where that cost is noise against the job it gates.
    val deltaAgg = rollupRaw(deltaRows, tier, saltBuckets)
    val touchedKeys = deltaAgg.select(Key.map(col): _*)
    // micro-batch ingest (the designed use) broadcasts: base never
    // shuffles. A backfill-sized delta falls back to a shuffle join —
    // slower but bounded by executor memory, not the driver heap.
    val touched = keySide(deltaRows, touchedKeys, maxBroadcastKeys, smallDeltaBytes)(touchedKeys)
    val untouched = base.join(touched, Key, "left_anti").as[TierAgg]
    val affected = base.join(touched, Key, "left_semi").as[TierAgg]
    // src orders first/last across the two sides: the append-only
    // contract puts every base point before every delta point within a
    // bucket, so `first` comes from the base row when one exists (src 0)
    // and `last` from the delta row (src 1)
    val merged = affected.toDF().withColumn("src", lit(0))
      .unionByName(deltaAgg.toDF().withColumn("src", lit(1)))
      .groupBy(Key.map(col): _*)
    untouched.unionByName(finish(aggregate(merged, merge($"src", $"src")), tier))
  }

  /** Chained incremental maintenance of every ladder tier for one ingest
    * delta; `bases` and the result hold the tiers in ladder order. The
    * finest tier absorbs the delta via [[maintainTier]]; each coarser tier
    * then REFRESHES only the buckets the delta touched, recomputed from
    * the (already-maintained) finer tier — replacement, not addition,
    * because a touched coarse bucket's old row already contains the finer
    * buckets that just changed. first/last at coarse tiers come from
    * rollupTier's fbucket ordering, so only the finest merge needs the
    * append-only contract.
    *
    * Scale shape: no base tier ever shuffles. Every touched-key set
    * derives from the DELTA (small → broadcast); each coarse recompute
    * reads only the finer tier's affected slice — cost is bounded by
    * delta keys × tier fan-in (≤60/≤24), independent of base size.
    */
  def maintainAllTiers(bases: Seq[Dataset[TierAgg]], delta: Dataset[SeriesPoint],
      saltBuckets: Int = 1,
      maxBroadcastKeys: Long = MaxBroadcastKeys,
      smallDeltaBytes: Long = SmallDeltaBytes): Seq[Dataset[TierAgg]] = {
    require(bases.length == Ladder.length, s"one base per ladder tier, got ${bases.length}")
    val spark = delta.sparkSession
    import spark.implicits._
    val deltaRows = graft.util.StageCache.forked(delta)
    val finest = maintainTier(bases.head, deltaRows, Ladder.head.name, saltBuckets,
      maxBroadcastKeys, smallDeltaBytes)

    def refresh(baseCoarse: Dataset[TierAgg], finer: Dataset[TierAgg],
        tier: Tier): Dataset[TierAgg] = {
      val touchedKeys =
        deltaRows.select($"conv_id", $"kind", align($"bucket", tier.step).as("bucket")).distinct()
      val side = keySide(deltaRows, touchedKeys, maxBroadcastKeys, smallDeltaBytes)
      val untouched = baseCoarse.join(side(touchedKeys), Key, "left_anti").as[TierAgg]
      // affected slice of the finer tier: its rows whose COARSE bucket is
      // touched (join on the derived coarse key, finer bucket preserved)
      val affectedFiner = finer
        .withColumn("cb", align($"bucket", tier.step))
        .join(side(touchedKeys.toDF("conv_id", "kind", "cb")),
          Seq("conv_id", "kind", "cb"), "left_semi")
        .drop("cb").as[TierAgg]
      untouched.unionByName(rollupTier(affectedFiner, tier.name))
    }

    Ladder.zip(bases).tail.scanLeft(finest) { case (finer, (t, base)) => refresh(base, finer, t) }
  }

  /** The colocated layout's bucket key. */
  private val ColocatedKey = "conv_id"

  /** Saves `points` as table `table` at `path` in the layout
    * [[rollupAllColocated]] requires of its input, so its plan reads the
    * bucketed scan without an exchange: `buckets` bucket(conv_id) files,
    * one per bucket, each sorted by (conv_id, kind, bucket).
    */
  def writeColocated(points: Dataset[SeriesPoint], buckets: Int, table: String,
      path: String): Unit =
    points.repartition(buckets, col(ColocatedKey))
      .write.bucketBy(buckets, ColocatedKey).sortBy(Key.head, Key.tail: _*)
      .option("path", path).mode("overwrite").saveAsTable(table)

  /** Registers the files a [[writeColocated]] of an earlier JVM left at
    * `path` as table `table`, in the same layout (the bucket ids are in the
    * file names). `buckets` must be the count the files were written with.
    */
  def registerColocated(spark: SparkSession, buckets: Int, table: String, path: String): Unit =
    spark.sql(s"CREATE TABLE $table (${Encoders.product[SeriesPoint].schema.toDDL}) " +
      s"USING parquet CLUSTERED BY ($ColocatedKey) SORTED BY (${Key.mkString(", ")}) " +
      s"INTO $buckets BUCKETS LOCATION '$path'")

  /** Every ladder tier in one pass per conversation: its points, sorted by
    * (kind, bucket), stream through one open bucket per tier, and each
    * finished fine bucket cascades into the coarser accumulator, so no
    * intermediate tier is materialized. The grouping is a plan
    * requirement (clustered by conv_id, sorted by (conv_id, kind,
    * bucket)), so the planner adds an exchange or a sort only where the
    * input lacks it: a [[writeColocated]] table keeps its bucketed scan
    * and plans no exchange, an input already hash-partitioned and sorted
    * that way (TranscriptGen.generatePoints) plans neither, and any other
    * input pays one exchange and one sort but is still exact. This is the
    * plan shape the engine runs at full scale, and the one the pipeline's
    * tiers stage (`PipelineMain`) runs over its stored points;
    * `rollupRaw`/`rollupTier` are the generic chain.
    */
  def rollupAllColocated(points: Dataset[SeriesPoint]): Dataset[TierAgg] = {
    val spark = points.sparkSession
    import spark.implicits._
    val steps = Ladder.toArray
    points.groupBy(col(ColocatedKey)).as[String, SeriesPoint]
      .flatMapSortedGroups($"kind", $"bucket") { (conv, it) =>
        new Iterator[TierAgg] {
          // one open bucket per level (kind null: none), zero per-row
          // allocation: the row-level form of fold/merge
          private val L = steps.length
          private val kind = new Array[String](L)
          private val bucket = new Array[Long](L)
          private val cnt = new Array[Long](L)
          private val sum = new Array[Double](L)
          private val mn = new Array[Double](L)
          private val mx = new Array[Double](L)
          private val first = new Array[Double](L)
          private val last = new Array[Double](L)
          private val queue = new scala.collection.mutable.ArrayDeque[TierAgg](4)

          /** flush level l into the queue and cascade into level l+1. */
          private def flush(l: Int): Unit = {
            if (kind(l) == null) return
            queue.append(TierAgg(conv, kind(l), steps(l).name, bucket(l),
              cnt(l), sum(l), mn(l), mx(l), first(l), last(l)))
            if (l + 1 < L) merge(l + 1, kind(l), bucket(l),
              cnt(l), sum(l), mn(l), mx(l), first(l), last(l))
            kind(l) = null
          }

          /** merge measures at time t into level l's open bucket; a point is
            * merge(0, k, t, 1, v, v, v, v, v).
            */
          private def merge(l: Int, k: String, t: Long,
              n: Long, s: Double, lo: Double, hi: Double, f: Double, la: Double): Unit = {
            val b = t - math.floorMod(t, steps(l).step)
            if (kind(l) == null || kind(l) != k || bucket(l) != b) {
              flush(l)
              kind(l) = k; bucket(l) = b
              cnt(l) = n; sum(l) = s; mn(l) = lo; mx(l) = hi
              first(l) = f; last(l) = la
            } else {
              cnt(l) += n; sum(l) += s
              if (lo < mn(l)) mn(l) = lo
              if (hi > mx(l)) mx(l) = hi
              last(l) = la
            }
          }

          def hasNext: Boolean = queue.nonEmpty || kind.exists(_ != null) || it.hasNext
          def next(): TierAgg = {
            while (queue.isEmpty && it.hasNext) {
              val p = it.next()
              merge(0, p.kind, p.bucket, 1L, p.value, p.value, p.value, p.value, p.value)
            }
            if (queue.isEmpty) (0 until L).foreach(flush) // end of the conversation
            queue.removeHead()
          }
        }
      }
  }

  private val TierKindSep = "@"
  /** Whether a series kind is a tier's, `<kind>@<tier>` ([[tierSeries]]). */
  def isTierKind(kind: Column): Column = kind.contains(TierKindSep)

  /** Tier value series (bucket mean) for the per-tier matrix profiles. */
  def tierSeries(tiers: Dataset[TierAgg]): Dataset[SeriesPoint] = {
    val spark = tiers.sparkSession
    import spark.implicits._
    tiers.select($"conv_id",
      concat($"kind", lit(TierKindSep), $"tier").as("kind"),
      $"bucket", ($"sum" / $"cnt").as("value")).as[SeriesPoint]
  }

  /** Retention: drop buckets older than `cutoffMicros` from a tier — the
    * raw/fine tiers keep short horizons, coarse tiers keep long ones.
    */
  def applyRetention(tiers: Dataset[TierAgg], cutoffMicros: Long): Dataset[TierAgg] = {
    import tiers.sparkSession.implicits._
    tiers.where($"bucket" >= cutoffMicros)
  }
}
