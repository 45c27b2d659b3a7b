package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.queries.{MpQueries, OracleSqlGen}
import graft.rollup.Rollup
import graft.schema.SeriesPoint

/** Driver contract: one query per implemented operator (SURVEY.md §2),
  * with an ANSI-SQL DuckDB oracle wherever the operator is
  * SQL-expressible. Column names and rounding match the oracle exactly —
  * the driver hash-compares values after sorting columns by name.
  */
object SparkEntry {

  // ---- values the ops-family queries share with their oracles (OracleSqlGen)
  final val NearDupThreshold = 0.3      // q20/q33: minimum Jaccard
  final val AnnK = 10                   // q24/q35: neighbours per query,
  final val AnnQueries = 20             //   for the queries vec_id < 20
  final val EmbeddingDim = 64           // q24/q25/q35
  final val EmbedDupThreshold = 0.9     // q25: minimum cosine; near-copies
  final val PlantedEmbeddings = 20      //   planted for vec_id < 20
  final val MediaDupThreshold = 0.99995 // q39: minimum cosine; copies
  final val PlantedMedia = 24           //   re-ingested for media_id < 24
  final val PlantOffset = 1000000L      // q25/q39: a planted copy's id offset
  final val MovingWindow = 8            // q05/q14: rows per moving window

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** The embedding table arrives as ONE scan split at small scale, which
    * serializes every downstream 64-dim cosine/hyperplane fold onto a
    * single task (q23/q24/q25/q35): spread it by vec_id (see
    * [[graft.util.SessionTuning.spread]]) — 8-way covers the compute;
    * wider widths just multiply near-empty tasks.
    */
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    graft.util.SessionTuning.spread(s.read.parquet(s"$dir/embeddings.parquet"),
      math.min(8, s.sparkContext.defaultParallelism), "vec_id")
  private def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  /** The q24/q25/q35 oracles are generated for dim = EmbeddingDim
    * (hyperplanes, per-dim sums): if the data width ever changes the
    * engines would disagree with no hint, so fail loudly at plan build
    * instead.
    */
  private def oracleDim(e: DataFrame, query: String): Int = {
    val dim = Similarity.vecDim(e, "embedding")
    require(dim == EmbeddingDim, s"OracleSqlGen.$query is generated for " +
      s"dim=$EmbeddingDim (SparkEntry.EmbeddingDim) but embeddings have dim=$dim")
    dim
  }

  /** Per query, how many brute-force top-k neighbors the approximate
    * top-k also returned.
    */
  private def recallHits(brute: DataFrame, approx: DataFrame): DataFrame = {
    val b = brute.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    b.join(a, b("query_id") === col("aq") && b("neighbor_id") === col("an"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("an")).as("n_hits"))
      .select(col("query_id"), col("n_hits"))
  }

  /** Per-user event order of the moving-window queries (q05/q14). */
  private def byUserTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))

  /** Events as SeriesPoint columns: one "v" series per user, bucket = µs. */
  private def points(s: SparkSession, dir: String): Dataset[SeriesPoint] = {
    import s.implicits._
    events(s, dir).select($"user_id".cast("string").as("conv_id"), lit("v").as("kind"),
      unix_micros($"ts".cast("timestamp")).as("bucket"), $"value").as[SeriesPoint]
  }

  /** A tier in the rollup oracles' shape: user_id, bucket start in epoch
    * seconds as `tsCol`, cnt and rounded sum/min/max.
    */
  private def tierRows(tier: Dataset[_], tsCol: String): DataFrame =
    tier.select(col("conv_id").cast("long").as("user_id"),
      (col("bucket") / 1000000L).cast("long").as(tsCol),
      col("cnt"), round(col("sum"), 4).as("sum_v"),
      round(col("min"), 6).as("min_v"), round(col("max"), 6).as("max_v"))

  /** Events projected to SeriesPoint and stored ONCE per (session, dir) as
    * a bucket(conv_id) table with one sorted file per bucket — the parquet
    * stand-in for the engine's Iceberg bucket(conv_id) scale layout.
    * Repartitioning by the SAME hash the bucketing uses puts each write
    * task on exactly one bucket, so every bucket is a single file: the
    * colocated rollup over this table plans with ZERO exchanges and one
    * in-partition sort, since the scan does not report its files' order
    * (gated by SparkPipelineSpec's storage-layout test and PLAN_DIGEST).
    * The one-time write is the layout cost a real
    * deployment pays at ingest, not per query.
    */
  def bucketedPoints(s: SparkSession, dir: String): Dataset[SeriesPoint] = {
    import s.implicits._
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val table = s"graft_pts_bucketed_$tag"
    synchronized {
      if (!s.catalog.tableExists(table)) {
        val buckets = 16
        val tmpRoot = java.nio.file.Files.createTempDirectory("graft_bucketed")
        // the layout lives for the session only — reclaim the temp dir on
        // JVM exit so repeated driver invocations don't leak /tmp space
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          org.apache.commons.io.FileUtils.deleteQuietly(tmpRoot.toFile); ()
        }))
        Rollup.writeColocated(points(s, dir), buckets, table,
          tmpRoot.resolve(table).toString)
      }
    }
    s.table(table).as[SeriesPoint]
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q26_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Declared queries, each applying the session's scale-adaptive
    * execution settings (AQE advisory-size coalescing — see
    * [[graft.util.SessionTuning]]) before building its plan.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        graft.util.SessionTuning.ensure(s)
        fn(s, dir)
      })
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- rollup / tier aggregates (north-rule core) ----
    "q01_rollup_1m" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type",
          unix_timestamp(date_trunc("minute", $"ts".cast("timestamp"))).as("minute_ts"))
        .agg(count(lit(1)).as("cnt"), round(sum($"value"), 4).as("sum_v"),
          round(min($"value"), 6).as("min_v"), round(max($"value"), 6).as("max_v"))
    }),

    "q02_rollup_1h_chain" -> ((s, dir) =>
      tierRows(Rollup.rollupChain(points(s, dir), "1h").last, "hour_ts")),

    "q03_rollup_1d_chain" -> ((s, dir) =>
      tierRows(Rollup.rollupChain(points(s, dir), "1d").last, "day_ts")),

    // the 100 TB headline plan under the driver's oracle: the same 1h
    // aggregates as q02, but through the fused zero-shuffle colocated
    // path reading the bucket(conv_id) STORAGE layout (written once per
    // session by bucketedPoints — the parquet stand-in for the Iceberg
    // bucket(conv_id) table). The measured plan contains NO exchange:
    // locality comes from the layout, exactly as it would at scale.
    "q36_rollup_colocated" -> ((s, dir) => {
      import s.implicits._
      tierRows(Rollup.rollupAllColocated(bucketedPoints(s, dir))
        .where($"tier" === "1h"), "hour_ts")
    }),

    // incremental continuous-aggregate maintenance: the last 2 days of
    // events arrive as a DELTA merged into the pre-existing 1m tier via
    // Rollup.maintainTier (base never shuffles — untouched buckets pass
    // through a broadcast anti-join; only delta-touched buckets
    // re-aggregate). The oracle is the full batch recompute: equality
    // proves the incremental path exact, boundary bucket included.
    "q40_incremental_rollup" -> ((s, dir) => {
      import s.implicits._
      val pts = points(s, dir)
      val cut = pts.agg(max($"bucket")).as[Long].first() - 2 * Rollup.TierStep("1d")
      val baseTier = Rollup.rollupRaw(pts.where($"bucket" < cut), "1m")
      tierRows(Rollup.maintainTier(baseTier, pts.where($"bucket" >= cut), "1m"),
        "minute_ts")
    }),

    // per-bucket order statistics: exact interpolated median/p95 per
    // (user, minute) — the tier-aggregate family TierAgg's running
    // struct can't carry (quantiles don't merge); exact `percentile`
    // here so DuckDB's quantile_cont (same linear-interpolation
    // definition) can oracle it. At 100 TB the same query swaps in
    // percentile_approx's mergeable sketch; the exact form is the gate.
    "q41_bucket_quantiles" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy($"user_id",
          unix_timestamp(date_trunc("minute", $"ts".cast("timestamp"))).as("minute_ts"))
        .agg(count(lit(1)).as("cnt"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))
    }),

    "q04_rate_gapfill" -> ((s, dir) => {
      import s.implicits._
      val pts = events(s, dir).select($"user_id".cast("string").as("conv_id"),
        lit("rate").as("kind"),
        unix_micros(date_trunc("minute", $"ts".cast("timestamp"))).as("bucket"), lit(1.0).as("value"))
        .groupBy($"conv_id", $"kind", $"bucket")
        .agg(sum($"value").as("value")).as[SeriesPoint]
      graft.series.Derive.gapFill(pts, Rollup.MicrosPerMin, 0.0)
        .groupBy($"conv_id")
        .agg(count(lit(1)).as("n_minutes"),
          sum(when($"value" === 0.0, 1L).otherwise(0L)).as("n_zero_minutes"),
          sum($"value").cast("long").as("total_events"))
        .select($"conv_id".cast("long").as("user_id"),
          $"n_minutes", $"n_zero_minutes", $"total_events")
    }),

    "q05_moving_stats" -> ((s, dir) => {
      import s.implicits._
      // moving mean/std over a fixed-point (1e-4) quantization of value:
      // integer window sums are order-insensitive, so Spark's frame scan
      // and DuckDB's segment tree produce bit-identical results
      val w = byUserTs.rowsBetween(1 - MovingWindow, 0)
      val n = MovingWindow.toDouble
      events(s, dir)
        .withColumn("vi", round($"value" * 10000, 0).cast("long"))
        .withColumn("s1", sum($"vi").over(w))
        .withColumn("s2", sum($"vi" * $"vi").over(w))
        .withColumn("rn", row_number().over(byUserTs))
        .where($"rn" >= MovingWindow)
        .select($"user_id", $"event_id",
          floor(($"s1" / n) * 10.0).cast("long").as("mavg_e5"),
          floor(sqrt(greatest($"s2" / n - ($"s1" / n) * ($"s1" / n),
            lit(0.0))) * 10.0).cast("long").as("mstd_e5"))
    }),

    "q06_stats_global" -> ((s, dir) => {
      import s.implicits._
      events(s, dir).groupBy($"event_type").agg(
        count(lit(1)).as("cnt"),
        round(avg($"value"), 4).as("avg_v"),
        round(stddev_pop($"value"), 4).as("std_v"),
        round(min($"value"), 6).as("min_v"),
        round(max($"value"), 6).as("max_v"),
        round(expr("percentile(value, 0.5)"), 4).as("median_v"))
    }),

    "q14_moving_minmax" -> ((s, dir) => {
      import s.implicits._
      val w = byUserTs.rowsBetween(1 - MovingWindow, 0)
      events(s, dir)
        .withColumn("mmin", min($"value").over(w))
        .withColumn("mmax", max($"value").over(w))
        .withColumn("rn", row_number().over(byUserTs))
        .where($"rn" >= MovingWindow)
        .select($"user_id", $"event_id",
          round($"mmin", 6).as("mmin"), round($"mmax", 6).as("mmax"))
    }),

    // ---- matrix-profile family: real kernels + BruteMp twin, all
    // driver-oracled (see graft.queries.MpQueries / OracleSqlGen) ----
    "q07_matrix_profile" -> ((s, dir) => MpQueries.q07(s, dir)),
    "q08_discords" -> ((s, dir) => MpQueries.q08(s, dir)),
    "q09_motifs" -> ((s, dir) => MpQueries.q09(s, dir)),
    "q10_regimes" -> ((s, dir) => MpQueries.q10(s, dir)),
    "q11_snippets" -> ((s, dir) => MpQueries.q11(s, dir)),
    "q12_mpdist_pairs" -> ((s, dir) => MpQueries.q12(s, dir)),
    "q13_pan_matrix_profile" -> ((s, dir) => MpQueries.q13(s, dir)),
    "q15_gorilla_chunks" -> ((s, dir) => MpQueries.q15(s, dir)),

    // ---- training-data pipeline: dedup / text / similarity ----
    "q16_dedup_exact" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir).groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5($"text")).as("n_hashes"))
    }),

    "q17_token_count" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir)
        .withColumn("n_tokens", TextOps.tokenCount($"text").cast("long"))
        .withColumn("n_subwords", TextOps.subwordCount($"text").cast("long"))
        .groupBy($"source")
        .agg(sum($"n_tokens").as("total_tokens"),
          round(avg($"n_tokens"), 4).as("avg_tokens"),
          sum($"n_subwords").as("total_subwords"))
    }),

    "q18_quality_score" -> ((s, dir) => {
      import s.implicits._
      TextOps.qualityFeatures(documents(s, dir), $"text")
        .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"),
          $"n_uniq_tokens".cast("long").as("n_uniq_tokens"),
          round($"uniq_ratio", 4).as("uniq_ratio"),
          round($"avg_token_len", 4).as("avg_token_len"))
    }),

    "q19_language_id" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir)
        .withColumn("predicted", TextOps.languageId($"text"))
        .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
    }),

    "q20_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(documents(s, dir), threshold = NearDupThreshold)),

    "q21_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(documents(s, dir))),

    "q33_dedup_pipeline" -> ((s, dir) =>
      Dedup.pipeline(documents(s, dir), threshold = NearDupThreshold)),

    "q22_fingerprint" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir).select($"doc_id",
        TextOps.fingerprint($"text").as("fingerprint"))
    }),

    "q23_ann_brute" -> ((s, dir) => {
      import s.implicits._
      val e = embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.where($"vec_id" < 10), 5)
        .select($"query_id", $"rank", $"neighbor_id")
    }),

    "q24_ann_lsh_recall" -> ((s, dir) => {
      import s.implicits._
      val e = embeddings(s, dir).select($"vec_id", $"embedding")
      val dim = oracleDim(e, "q24")
      val q = e.where($"vec_id" < AnnQueries)
      recallHits(Similarity.bruteForceTopK(e, q, AnnK),
        Similarity.lshTopK(e, q, AnnK, dim0 = dim))
    }),

    "q35_ann_ivf" -> ((s, dir) => {
      import s.implicits._
      // raw vectors feed the brute side, the IVF re-rank and the query
      // set — persist (via StageCache, released by the harness after the
      // action) so the parquet scans once
      val e = graft.util.StageCache.persist(
        embeddings(s, dir).select($"vec_id", $"embedding"))
      oracleDim(e, "q35")
      val q = e.where($"vec_id" < AnnQueries)
      recallHits(Similarity.bruteForceTopK(e, q, AnnK), Similarity.ivfTopK(e, q, AnnK))
    }),

    "q25_embedding_dups" -> ((s, dir) => {
      import s.implicits._
      // the synthetic corpus has no natural near-dups (max off-diagonal
      // cosine ~0.51), so plant deterministic near-copies of the first 20
      // vectors (one component +0.25f) — the recall path then has real
      // work, and the oracle replants identically
      val base = embeddings(s, dir).select($"vec_id", $"embedding")
      val dim = oracleDim(base, "q25")
      val planted = base.where($"vec_id" < PlantedEmbeddings)
        .select(($"vec_id" + PlantOffset).as("vec_id"),
          transform($"embedding",
            (x, i) => when(i === pmod($"vec_id", lit(EmbeddingDim)).cast("int"), x + lit(0.25f))
              .otherwise(x)).as("embedding"))
      Dedup.embeddingDups(base.union(planted), threshold = EmbedDupThreshold, dim = dim)
    }),

    "q27_multimodal_features" -> ((s, dir) =>
      Multimodal.featureSummary(Multimodal.syntheticMedia(documents(s, dir)))),

    // real JDK-ImageIO decode, hash-compared against the closed-form
    // pixel-formula oracle (PNG is lossless; a fake decode cannot pass)
    "q37_image_decode" -> ((s, dir) =>
      Multimodal.imageStats(Multimodal.syntheticMedia(documents(s, dir)))),

    // real javax.sound.sampled WAV/PCM decode, hash-compared against the
    // closed-form sample-formula oracle (PCM is lossless)
    "q38_audio_decode" -> ((s, dir) =>
      Multimodal.audioStats(Multimodal.syntheticMedia(documents(s, dir)))),

    // the real decoders feeding the dedup path (multimodal PIPELINE, not
    // just multimodal columns): decode → centered per-kind feature
    // vectors → the same hyperplane-LSH + exact-cosine near-dup operator
    // the document embeddings use. Planted rows re-ingest the payloads of
    // ids < 24 under new ids — the re-uploaded-asset case media dedup
    // exists for; their decoded vectors are identical, so cosine = 1.0
    // against a measured 0.99990 max for honest non-duplicate pairs.
    "q39_media_dedup" -> ((s, dir) => {
      import s.implicits._
      // persist the encoded media ONCE: `planted` re-reads it, and without
      // the cache both union branches re-run the per-row PNG/WAV encode
      // (the whole corpus, twice — measured as the dominant q39 stage)
      val media = graft.util.StageCache.persist(
        Multimodal.syntheticMedia(documents(s, dir)))
      val planted = media
        .filter(m => m.meta.kind != "video" && m.media_id < PlantedMedia)
        .map(m => Multimodal.MediaRow(m.media_id + PlantOffset, m.meta, m.payload))
      val vecs = graft.util.StageCache.persist(
        Multimodal.dedupVectors(media.union(planted)))
      // maxBucket = 0 (explicit uncapped opt-out): the q39 oracle joins
      // ALL bucket matches uncapped, and media LSH buckets are heavily
      // skewed by design (near-parallel vectors) — a capped Spark side
      // would silently lose candidate pairs the oracle keeps beyond ~1000
      // media per kind. Uncapping also drops the bucket-size aggregation
      // and anti-join the cap costs.
      // dims are fixed by the decoders (spec-pinned constants): passing
      // them skips one plan-time take(1) job per kind
      def kindDups(kind: String) = Dedup.embeddingDups(
        vecs.where($"kind" === kind)
          .select($"media_id".as("vec_id"), $"vec".as("embedding")),
        threshold = MediaDupThreshold, maxBucket = 0,
        dim = if (kind == "image") Multimodal.ImageDedupDim
          else Multimodal.AudioDedupDim)
        .select(lit(kind).as("kind"), $"id_a", $"id_b", $"cosine_e4")
      kindDups("image").union(kindDups("audio"))
    }),

    "q28_ab_join" -> ((s, dir) => MpQueries.q28(s, dir)),
    "q32_pmp_discords" -> ((s, dir) => MpQueries.q32(s, dir)),
    "q34_pmp_motifs" -> ((s, dir) => MpQueries.q34(s, dir)),
    "q29_annotation_vectors" -> ((s, dir) => MpQueries.q29(s, dir)),
    "q30_hierarchical_clusters" -> ((s, dir) => MpQueries.q30(s, dir)),

    // ---- catalog discovery (fetch_available analog; the driver's DuckDB
    // session has its own view set, so this is a rows-only check) ----
    "q31_catalog" -> ((s, dir) => graft.sources.Catalog.fetchAvailable(s, dir)),

    // ---- flagship relational aggregate over lineitem ----
    "q26_pricing_summary" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          round(sum($"l_quantity"), 2).as("sum_qty"),
          round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("revenue"),
          round(avg($"l_discount"), 4).as("avg_disc"))
    })
  )

  /** The batch tier oracle: per (key, unit) bucket, cnt and rounded
    * sum/min/max of value.
    */
  private def tierSql(key: String, unit: String): String =
    s"""SELECT $key, epoch(date_trunc('$unit', ts))::BIGINT AS ${unit}_ts,
         count(*)::BIGINT AS cnt, round(sum(value), 4) AS sum_v,
         round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
         FROM events GROUP BY 1, 2"""

  def oracleSql: Map[String, String] = Map(
    "q01_rollup_1m" -> tierSql("event_type", "minute"),

    // the incremental path must equal the full batch recompute, so the
    // oracle IS the batch recompute — per-user 1m tier over all events
    "q40_incremental_rollup" -> tierSql("user_id", "minute"),

    // quantile_cont == Hive/Spark `percentile`: both linearly interpolate
    // at rank p*(n-1) over the sorted group
    "q41_bucket_quantiles" ->
      """SELECT user_id, epoch(date_trunc('minute', ts))::BIGINT AS minute_ts,
         count(*)::BIGINT AS cnt,
         round(quantile_cont(value, 0.5), 6) AS p50,
         round(quantile_cont(value, 0.95), 6) AS p95
         FROM events GROUP BY 1, 2""",

    "q02_rollup_1h_chain" -> tierSql("user_id", "hour"),

    "q03_rollup_1d_chain" -> tierSql("user_id", "day"),

    "q36_rollup_colocated" -> tierSql("user_id", "hour"),

    "q04_rate_gapfill" ->
      """WITH m AS (SELECT user_id, date_trunc('minute', ts) AS mi, count(*) AS c
                    FROM events GROUP BY 1, 2),
              b AS (SELECT user_id, min(mi) AS lo, max(mi) AS hi FROM m GROUP BY 1),
              g AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS mi
                    FROM b),
              j AS (SELECT g.user_id, g.mi, coalesce(m.c, 0) AS c
                    FROM g LEFT JOIN m ON g.user_id = m.user_id AND g.mi = m.mi)
         SELECT user_id, count(*)::BIGINT AS n_minutes,
                sum(CASE WHEN c = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_minutes,
                sum(c)::BIGINT AS total_events
         FROM j GROUP BY user_id""",

    "q05_moving_stats" ->
      s"""SELECT user_id, event_id,
         floor((s1 / $MovingWindow.0) * 10.0)::BIGINT AS mavg_e5,
         floor(sqrt(greatest(s2 / $MovingWindow.0 - (s1 / $MovingWindow.0) * (s1 / $MovingWindow.0), 0.0))
               * 10.0)::BIGINT AS mstd_e5
         FROM (SELECT user_id, event_id,
                 sum(vi) OVER w AS s1, sum(vi * vi) OVER w AS s2,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM (SELECT *, round(value * 10000)::BIGINT AS vi FROM events)
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN ${MovingWindow - 1} PRECEDING AND CURRENT ROW))
         WHERE rn >= $MovingWindow""",

    "q06_stats_global" ->
      """SELECT event_type, count(*)::BIGINT AS cnt, round(avg(value), 4) AS avg_v,
         round(stddev_pop(value), 4) AS std_v, round(min(value), 6) AS min_v,
         round(max(value), 6) AS max_v,
         round(quantile_cont(value, 0.5), 4) AS median_v
         FROM events GROUP BY event_type""",

    "q14_moving_minmax" ->
      s"""SELECT user_id, event_id, round(mmin, 6) AS mmin, round(mmax, 6) AS mmax
         FROM (SELECT user_id, event_id,
                 min(value) OVER w AS mmin, max(value) OVER w AS mmax,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN ${MovingWindow - 1} PRECEDING AND CURRENT ROW))
         WHERE rn >= $MovingWindow""",

    "q16_dedup_exact" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
         count(DISTINCT md5(text))::BIGINT AS n_hashes
         FROM documents GROUP BY source""",

    "q17_token_count" ->
      """SELECT source,
         sum(len(regexp_split_to_array(trim(text), '\s+')))::BIGINT AS total_tokens,
         round(avg(len(regexp_split_to_array(trim(text), '\s+'))), 4) AS avg_tokens,
         sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\f\r\x0B]')))::BIGINT AS total_subwords
         FROM documents GROUP BY source""",

    "q18_quality_score" ->
      """SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::BIGINT AS n_uniq_tokens,
         round(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))::DOUBLE
               / len(regexp_split_to_array(trim(text), '\s+')), 4) AS uniq_ratio,
         round(length(regexp_replace(trim(text), '\s+', '', 'g'))::DOUBLE
               / len(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_token_len
         FROM documents""",

    "q23_ann_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 10),
              s AS (SELECT q.qid, e.vec_id AS nid,
                      list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cos
                    FROM embeddings e, q WHERE e.vec_id != q.qid)
         SELECT qid AS query_id,
                row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC)::BIGINT AS rank,
                nid AS neighbor_id
         FROM s QUALIFY rank <= 5""",

    "q26_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS cnt,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         round(avg(l_discount), 4) AS avg_disc
         FROM lineitem GROUP BY 1, 2""",

    // matrix-profile family: brute-force twins generated by OracleSqlGen
    // (bit-identical doubles over integer-quantized series; kernel_agree
    // columns pinned TRUE gate the fast kernels)
    "q07_matrix_profile" -> OracleSqlGen.q07,
    "q08_discords" -> OracleSqlGen.q08,
    "q09_motifs" -> OracleSqlGen.q09,
    "q10_regimes" -> OracleSqlGen.q10,
    "q11_snippets" -> OracleSqlGen.q11,
    "q12_mpdist_pairs" -> OracleSqlGen.q12,
    "q13_pan_matrix_profile" -> OracleSqlGen.q13,
    "q15_gorilla_chunks" -> OracleSqlGen.q15,
    "q19_language_id" -> OracleSqlGen.q19,
    "q20_minhash_lsh" -> OracleSqlGen.q20,
    "q21_simhash_pairs" -> OracleSqlGen.q21,
    "q33_dedup_pipeline" -> OracleSqlGen.q33,
    "q22_fingerprint" -> OracleSqlGen.q22,
    "q24_ann_lsh_recall" -> OracleSqlGen.q24,
    "q35_ann_ivf" -> OracleSqlGen.q35,
    "q25_embedding_dups" -> OracleSqlGen.q25,
    "q27_multimodal_features" -> OracleSqlGen.q27,
    "q37_image_decode" -> OracleSqlGen.q37,
    "q38_audio_decode" -> OracleSqlGen.q38,
    "q39_media_dedup" -> OracleSqlGen.q39,
    "q28_ab_join" -> OracleSqlGen.q28,
    "q32_pmp_discords" -> OracleSqlGen.q32,
    "q34_pmp_motifs" -> OracleSqlGen.q34,
    "q29_annotation_vectors" -> OracleSqlGen.q29,
    "q30_hierarchical_clusters" -> OracleSqlGen.q30
  )
}
