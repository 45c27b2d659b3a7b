package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.dist.DistributedMp
import graft.dist.DistributedMp.SeriesRow
import graft.kernels._
import graft.queries.OracleSqlGen.{ClusterSeries, Clusters, Ez, FlussW, MotifRadius,
  MpdistSeries, PmpWindows, SnippetSize, W}

/** Integer-quantized per-user series (see OracleSqlGen): the common input
  * of the matrix-profile-family driver queries.
  */
final case class QSeries(user_id: Long, vi: Array[Long])

/** Spark-side implementations of the matrix-profile-family queries
  * (q07-q13, q15, q28-q30). Each runs the REAL kernel (distributed mpx /
  * TopK / Fluss / MpDist / Snippets / Hierarchical / Gorilla) and, where
  * the kernel's float recurrences cannot be replicated bit-for-bit in SQL,
  * additionally the BruteMp twin whose values the driver hash-compares;
  * a `kernel_agree` column (pinned TRUE by the oracle) gates the kernel
  * against the twin at 1e-6. The values both engines share (W, Ez, the PMP
  * windows, ...) live beside OracleSqlGen.Cap and Quant.
  */
object MpQueries {

  val AgreeTol = 1e-6

  /** quantSeries cached: every MP query feeds the windowed/groupByKey'd
    * per-user series to at least two consumers (the brute twin and the
    * kernel path, or a top-k selection plus the pair fan-out) — persisting
    * makes the events scan + window shuffle happen ONCE per query instead
    * of once per consumer.
    */
  def quantSeriesCached(s: SparkSession, dir: String): Dataset[QSeries] =
    graft.util.StageCache.persist(quantSeries(s, dir))

  /** Per-user series capped at OracleSqlGen.Cap points ordered by
    * (ts, event_id), values quantized to round(value*10000) — exactly the
    * oracle's `pts` CTE. The cap bounds per-group memory at scale.
    */
  def quantSeries(s: SparkSession, dir: String): Dataset[QSeries] = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    // the assembly aggregation is DECLARATIVE (collect_list in an
    // ObjectHashAggregate) and keyed exactly like the window, so it reuses
    // the window's hash partitioning with NO second exchange — the former
    // typed groupByKey/mapGroups re-shuffled every row through an opaque
    // key extractor and paid object (de)serialization per row
    s.read.parquet(s"$dir/events.parquet")
      .select($"user_id", $"ts", $"event_id", $"value")
      .withColumn("idx", row_number().over(byUser) - 1)
      .where($"idx" < OracleSqlGen.Cap)
      .withColumn("vi", round($"value" * OracleSqlGen.Quant, 0).cast("long"))
      .groupBy($"user_id")
      .agg(transform(sort_array(collect_list(struct($"idx", $"vi"))),
        p => p.getField("vi")).as("vi"))
      .as[QSeries]
  }

  /** Declarative projection (no typed map): the result over a cached
    * input stays a cheap re-scannable Project, so the distributed MP
    * entry's fork guard does not need to persist it again.
    */
  def toSeriesRows(qs: Dataset[QSeries]): Dataset[SeriesRow] = {
    val spark = qs.sparkSession
    import spark.implicits._
    qs.select($"user_id".cast("string").as("conv_id"),
      lit("v").as("kind"), lit(0L).as("startBucket"),
      transform($"vi", x => x.cast("double")).as("values")).as[SeriesRow]
  }

  /** Smallest n for which EVERY profile position has an admissible pair
    * (plen >= 2*(minlag+1): position i needs a partner at lag > minlag on
    * one side) — below this the oracle's mp CTE would omit partnerless
    * positions while the brute twin reports the full profile length.
    */
  def minN(w: Int): Int = w - 1 + 2 * (Core.minlag(w) + 1)

  /** max |a-b| < tol elementwise over two double-array columns (codegen). */
  private def agreeCol(a: Column, b: Column): Column =
    (size(a) === size(b)) &&
      (aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0.0),
        (m, v) => greatest(m, v)) < AgreeTol)

  private def e4(v: Double): Long = math.floor(v * 10000.0).toLong

  /** `cols` + kernel_agree of `brute` rows (twin profile `bmp`) left-joined
    * on `on` to `kern` rows (kernel profile `kmp`): a missing kernel row is
    * excused only when n < 2w (plen < w+1) at window `w`, otherwise the
    * profiles agree to AgreeTol.
    */
  private def kernelAgree(brute: DataFrame, kern: DataFrame, on: Column, w: Column,
      cols: Column*): DataFrame =
    brute.join(kern, on, "left")
      .select(cols :+ when(col("kmp").isNull, size(col("bmp")) < w + 1)
        .otherwise(agreeCol(col("bmp"), col("kmp"))).as("kernel_agree"): _*)

  /** The distributed mpx profiles at window W as [[kernelAgree]]'s kern. */
  private def mpxKernel(qs: Dataset[QSeries]): DataFrame = {
    val spark = qs.sparkSession
    import spark.implicits._
    DistributedMp.mpxProfiles(toSeriesRows(qs), W, "raw",
        maxSeriesLen = OracleSqlGen.Cap)
      .map(p => (p.conv_id.toLong, p.mp)).toDF("kuid", "kmp")
  }

  /** q07: per-user profile summary; kernel_agree gates the distributed mpx
    * path (DistributedMp.mpxProfiles) against the brute twin.
    */
  def q07(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = quantSeriesCached(s, dir)
    val brute = qs.filter(_.vi.length >= minN(W)).map { q =>
      val r = BruteMp.selfProfile(q.vi, W)
      val mi = Core.argmin(r.mp)
      (q.user_id, r.mp.length.toLong, mi.toLong, e4(r.mp(mi)), r.mp)
    }.toDF("user_id", "profile_len", "min_idx", "min_mp_e4", "bmp")
    kernelAgree(brute, mpxKernel(qs), $"user_id" === $"kuid", lit(W),
      $"user_id", $"profile_len", $"min_idx", $"min_mp_e4")
  }

  /** q08: top-3 discords over the brute profile — TopK.mpTopKDiscords IS
    * the operator under test and its selection is SQL-mirrored exactly.
    */
  def q08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantSeries(s, dir).filter(_.vi.length >= minN(W)).flatMap { q =>
      val r = BruteMp.selfProfile(q.vi, W)
      TopK.mpTopKDiscords(r.mp, ez = Ez, k = 3).zipWithIndex.map { case (d, i) =>
        (q.user_id, (i + 1).toLong, d)
      }
    }.toDF("user_id", "rank", "discord_idx")
  }

  /** q09: top-2 motif pairs (BruteMp.motifPairs selection, SQL-mirrored);
    * kernel_agree gates the mpx profile the full TopK.mpTopKMotifs path
    * (MASS neighbor re-query, gated by its ported unit tests) runs on.
    */
  def q09(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = quantSeriesCached(s, dir)
    val brute = qs.filter(_.vi.length >= minN(W)).flatMap { q =>
      val r = BruteMp.selfProfile(q.vi, W)
      BruteMp.motifPairs(r.mp, r.pi, ez = Ez, k = 2).zipWithIndex.map {
        case ((a, b), i) => (q.user_id, (i + 1).toLong, a.toLong, b.toLong, r.mp)
      }
    }.toDF("user_id", "rank", "motif_a", "motif_b", "bmp")
    kernelAgree(brute, mpxKernel(qs), $"user_id" === $"kuid", lit(W),
      $"user_id", $"rank", $"motif_a", $"motif_b")
  }

  /** q10: FLUSS regimes at w=FlussW over the brute profile index —
    * Fluss.cac + Fluss.extractRegimes are the operators under test, SQL-mirrored.
    */
  def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = FlussW
    quantSeries(s, dir).filter(_.vi.length >= minN(w)).flatMap { q =>
      val r = BruteMp.selfProfile(q.vi, w)
      val cac = Fluss.cac(r.pi.map(_.toLong), w)
      Fluss.extractRegimes(cac, w, 2).zipWithIndex.map { case (g, i) =>
        (q.user_id, (i + 1).toLong, g)
      }
    }.toDF("user_id", "rank", "regime_idx")
  }

  /** q11: snippets (size=SnippetSize, w=W, k=2) — padding, candidate fan-out,
    * and the greedy coverage selection (Snippets.pad/select) run on the brute
    * mpdist-vector matrices so every projected value is SQL-mirrored.
    */
  def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val size = SnippetSize
    val w = W
    quantSeries(s, dir).filter(_.vi.length >= 2 * size).flatMap { q =>
      val ts = q.vi.map(_.toDouble)
      val padded = Snippets.pad(ts, size)
      val paddedL = padded.map(_.toLong)
      val indices = Array.range(0, paddedL.length - size, size)
      val distances = indices.map { i =>
        BruteMp.mpdistVector(paddedL,
          java.util.Arrays.copyOfRange(paddedL, i, i + size - 1), w)
      }
      Snippets.select(ts, padded, indices, distances, size, 2)
        .zipWithIndex.map { case (sn, i) =>
          (q.user_id, (i + 1).toLong, sn.index, e4(sn.fraction))
        }
    }.toDF("user_id", "rank", "snippet_idx", "fraction_e4")
  }

  /** Top-k longest series (ties to the lowest user_id) — aggregate + limit
    * + broadcast join; no series data reaches the driver.
    */
  private def topKByLength(qs: Dataset[QSeries], k: Int): Dataset[QSeries] = {
    val spark = qs.sparkSession
    import spark.implicits._
    val ids = qs.map(q => (q.user_id, q.vi.length))
      .toDF("uid", "n")
      .orderBy($"n".desc, $"uid".asc).limit(k).select($"uid")
    qs.joinWith(broadcast(ids), qs("user_id") === ids("uid"), "inner").map(_._1)
  }

  /** MPDist at window W over every pair a < b (by user_id) of the k
    * longest series: `out(a, b, brute distance, agree)` per pair, where
    * agree gates MpDist.mpdist (mpx_ab kernel) against the brute twin.
    */
  private def mpdistPairs[T: Encoder](s: SparkSession, dir: String, k: Int)(
      out: (Long, Long, Double, Boolean) => T): Dataset[T] = {
    val top = graft.util.StageCache.persist(
      topKByLength(quantSeriesCached(s, dir).filter(_.vi.length >= W), k))
    val l = top.as("l")
    val r = top.as("r")
    l.joinWith(r, col("l.user_id") < col("r.user_id"), "inner").map { case (a, b) =>
      val bd = BruteMp.mpdist(a.vi, b.vi, W)
      val kd = MpDist.mpdist(a.vi.map(_.toDouble), b.vi.map(_.toDouble), W)
      out(a.user_id, b.user_id, bd, math.abs(kd - bd) < AgreeTol)
    }
  }

  /** q12: MPDist over all pairs of the MpdistSeries longest series. */
  def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mpdistPairs(s, dir, MpdistSeries)((a, b, d, agree) => (a, b, e4(d), agree))
      .toDF("user_a", "user_b", "mpdist_e4", "kernel_agree")
  }

  /** q13: PMP summary (min pair distance per window) for the PMP windows;
    * kernel_agree gates the distributed per-(series,window) skimp fan-out.
    */
  def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val windows = PmpWindows.toArray
    val qs = quantSeriesCached(s, dir)
    val brute = qs.flatMap { q =>
      windows.iterator.filter(w => q.vi.length >= minN(w)).map { w =>
        val mp = BruteMp.selfProfile(q.vi, w).mp
        (q.user_id, w.toLong, e4(mp.min), mp)
      }
    }.toDF("user_id", "window", "min_mp_e4", "bmp")
    val kern = DistributedMp.skimpProfiles(toSeriesRows(qs), windows, "raw",
        maxSeriesLen = OracleSqlGen.Cap)
      .map(p => (p.conv_id.toLong, p.w.toLong, p.mp)).toDF("kuid", "kw", "kmp")
    kernelAgree(brute, kern, $"user_id" === $"kuid" && $"window" === $"kw", $"window",
      $"user_id", $"window", $"min_mp_e4")
  }

  /** q32: PMP top-3 discords over the PMP windows — TopK.pmpTopKDiscords
    * IS the operator under test (ref top_k_discords.py:16-91): global
    * argmax over the 2-D (window-row, position) pan profile with
    * first-in-row-major-scan tie-break, row-wise [c-zone, c+zone)
    * suppression, and the zone FIXED by the first pick's window. The
    * selection runs on the brute PMP (quantized ints) so the oracle
    * replays every comparison on bit-identical doubles.
    */
  def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val windows = PmpWindows.toArray
    quantSeries(s, dir).flatMap { q =>
      val elig = windows.filter(w => q.vi.length >= minN(w))
      if (elig.isEmpty) Iterator.empty
      else {
        val pmp = elig.map(w => BruteMp.selfProfile(q.vi, w).mp)
        TopK.pmpTopKDiscords(pmp, elig, None, k = 3)
          .iterator.zipWithIndex.map { case ((r, c), i) =>
            (q.user_id, (i + 1).toLong, elig(r).toLong, c.toLong, e4(pmp(r)(c)))
          }
      }
    }.toDF("user_id", "rank", "window", "discord_idx", "discord_mp_e4")
  }

  /** q34: PMP top-2 motifs over the PMP windows — the full
    * TopK.pmpTopKMotifs selection path (ref top_k_motifs.py:16-171):
    * 2-D argmin with row-major tie-break, per-pick ez = floor(w/2),
    * neighbor re-query bounded by radius·best with exclusion-zone
    * suppression on both the neighbor profile and the winning row. The
    * projected rows come from BruteMp.pmpMotifs (SQL-replayable doubles;
    * the pearson→euclidean conversion √(2w(1−ρ)) is the shared pairDist
    * expression in both engines); the REAL kernel — identical selection
    * over the same PMP but with the MASS (FFT) neighbor profile — runs in
    * the same query, gated by kernel_agree on every pick index, endpoint,
    * and neighbor list.
    */
  def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val windows = PmpWindows.toArray
    quantSeries(s, dir).flatMap { q =>
      val elig = windows.filter(w => q.vi.length >= minN(w))
      if (elig.isEmpty) Iterator.empty
      else {
        // one brute PMP shared by the twin selection and the kernel's
        // agreement check (the self-join is the quadratic part)
        val profiles = elig.map(w => BruteMp.selfProfile(q.vi, w))
        val picks = BruteMp.pmpMotifs(q.vi, elig, profiles, k = 2,
          maxNeighbors = 2, radius = MotifRadius)
        val profileLen = profiles.map(_.mp.length).max
        val rows = elig.zip(profiles).map { case (w, p) =>
          Skimp.padRow(w, p.mp, p.pi.map(_.toLong), profileLen, toEuclidean = false)
        }
        val kern = TopK.pmpTopKMotifs(q.vi.map(_.toDouble), rows.map(_.mp),
          rows.map(_.pi), elig, None, k = 2, maxNeighbors = 2)
        val agree = kern.length == picks.length && kern.zip(picks).forall {
          case (km, bp) =>
            km.motifs._1._1 == bp.row &&
              km.motifs._1._2 == bp.a.toLong && km.motifs._2._2 == bp.b.toLong &&
              km.neighbors.map(_._2).toSeq == bp.neighbors.map(_.toLong)
        }
        picks.iterator.zipWithIndex.map { case (p, i) =>
          (q.user_id, (i + 1).toLong, elig(p.row).toLong, p.a.toLong, p.b.toLong,
            e4(p.dist),
            p.neighbors.headOption.fold(-1L)(_.toLong),
            if (p.neighbors.length > 1) p.neighbors(1).toLong else -1L,
            agree)
        }
      }
    }.toDF("user_id", "rank", "window", "motif_a", "motif_b", "motif_mp_e4",
      "nb1_idx", "nb2_idx", "kernel_agree")
  }

  /** q15: Gorilla XOR chunk round-trip — losslessness plus first/last
    * decoded values (exact integers after quantization).
    */
  def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantSeries(s, dir).map { q =>
      val vals = q.vi.map(_.toDouble)
      val enc = graft.compress.Gorilla.encodeValues(vals)
      val dec = graft.compress.Gorilla.decodeValues(enc, vals.length)
      val lossless = dec.length == vals.length && dec.indices.forall(i =>
        java.lang.Double.doubleToRawLongBits(dec(i)) ==
          java.lang.Double.doubleToRawLongBits(vals(i)))
      (q.user_id, q.vi.length.toLong, lossless, dec.head.toLong, dec.last.toLong)
    }.toDF("user_id", "n_points", "lossless", "first_e0", "last_e0")
  }

  /** q28: AB similarity join of every series against the longest one —
    * runs through the distributed AB machinery (DistributedMp
    * .mpxAbProfiles, tiled for long pairs), gated against the brute AB
    * twin.
    */
  def q28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the oracle emits a row for any user with >= 1 window (n >= w);
    // shorter series would crash the twin kernels, so mirror that bound
    val qs = quantSeriesCached(s, dir).filter(_.vi.length >= W)
    val top1 = topKByLength(qs, 1)
    val pairRows = qs.joinWith(broadcast(top1), qs("user_id") =!= top1("user_id"), "inner")
    val brute = pairRows.map { case (u, q) =>
      val bmin = BruteMp.abMinDist(u.vi, q.vi, W)
      (u.user_id, q.user_id, e4(bmin), bmin)
    }.toDF("user_id", "query_user", "min_join_dist_e4", "bmin")
    val abPairs = pairRows.map { case (u, q) =>
      DistributedMp.AbPair(u.user_id.toString, q.user_id.toString,
        u.vi.map(_.toDouble), q.vi.map(_.toDouble))
    }
    val kern = DistributedMp.mpxAbProfiles(abPairs, W, maxSeriesLen = OracleSqlGen.Cap).map { r =>
      var kmin = Double.PositiveInfinity
      var i = 0
      while (i < r.mpA.length) {
        if (!r.mpA(i).isInfinite && r.mpA(i) < kmin) kmin = r.mpA(i)
        i += 1
      }
      (r.conv_a.toLong, kmin)
    }.toDF("kuid", "kmin")
    brute.join(kern, $"user_id" === $"kuid", "left")
      .select($"user_id", $"query_user", $"min_join_dist_e4",
        // mpxAbProfiles covers every pair with >= 1 window per side, which
        // the n >= w filter above guarantees — a missing row is a failure
        when($"kmin".isNull, lit(false))
          .otherwise(abs($"kmin" - $"bmin") < AgreeTol).as("kernel_agree"))
  }

  /** q29: complexity annotation vector + corrected profile — the real
    * AnnotationVectors kernels over the brute profile; every double is
    * SQL-mirrored exactly (integer diffs, then one shared expression).
    */
  def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantSeries(s, dir).filter(_.vi.length >= minN(W)).map { q =>
      val r = BruteMp.selfProfile(q.vi, W)
      val av = AnnotationVectors.makeComplexityAv(q.vi.map(_.toDouble), W)
      val cmp = AnnotationVectors.applyAv(r.mp, av)
      val ci = Core.argmin(cmp)
      (q.user_id, r.mp.length.toLong, Core.argmin(r.mp).toLong, ci.toLong, e4(cmp(ci)))
    }.toDF("user_id", "profile_len", "mp_argmin", "cmp_argmin", "cmp_min_e4")
  }

  /** q30: pairwise MPDist over the ClusterSeries longest series
    * (distributed theta join) + single-linkage maxclust=Clusters on the
    * driver (28 scalars — the reference also clusters driver-side); the
    * oracle replays the same merges as Kruskal steps, so `same_cluster` is
    * fully gated.
    */
  def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairRows = mpdistPairs(s, dir, ClusterSeries)((a, b, d, agree) => (a, b, d, agree))
      .collect() // 28 scalar rows — the linkage input, not series data
    val ids = pairRows.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val m = ids.length
    val idx = ids.zipWithIndex.toMap
    val y = new Array[Double](m * (m - 1) / 2)
    pairRows.foreach { case (a, b, d, _) =>
      y(Hierarchical.condensedIndex(m, idx(a), idx(b))) = d
    }
    val clust = Hierarchical.hierarchicalClusters(y, m, t = Clusters,
      Hierarchical.Single, maxClust = true)
    val out = pairRows.map { case (a, b, d, agree) =>
      (a, b, e4(d), clust.assignments(idx(a)) == clust.assignments(idx(b)), agree)
    }
    s.createDataset(out.toSeq)
      .toDF("user_a", "user_b", "mpdist_e4", "same_cluster", "kernel_agree")
  }
}
