package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ingest.TranscriptGen
import graft.rollup.Rollup
import graft.schema.{SeriesPoint, Transcript}
import graft.streaming.StreamingRollup
import Fixtures.withTempDir

/** Structured-Streaming 1m tier: streamed aggregates equal the batch
  * rollup on the same data; late rows beyond the watermark are dropped.
  */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The accepted rows as batch rollup input: one series per
    * conversation, valued by text length.
    */
  private def points(rows: Seq[Transcript]): Dataset[SeriesPoint] = {
    import spark.implicits._
    Fixtures.tokenLenT(spark.createDataset(rows))
  }

  /** A tier's finalized rows (bucket end at or before `cutoff`) in the
    * streamed tiers' column order.
    */
  private def closed(tier: DataFrame, step: Long, cutoff: Long): Array[Row] =
    tier.where(col("bucket") + step <= cutoff).orderBy("conv_id", "bucket")
      .select((Seq("conv_id", "bucket") ++ Rollup.Measures).map(col): _*).collect()

  test("streamed 1m tier equals batch rollup (AvailableNow, memory sink)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = TranscriptGen.genConversation(42L, 7) ++
      TranscriptGen.genConversation(42L, 8)

    val source = MemoryStream[Transcript]
    source.addData(rows)
    val tier = StreamingRollup.cascade(source.toDS(), "1m")
    withTempDir("graft_stream_cp") { cp =>
      val q = StreamingRollup.start(tier, "memory", None, "m1_stream", cp)
      q.awaitTermination()

      // append mode finalizes only buckets past the watermark: buckets whose
      // end <= max(ts) - lateness close; the in-flight tail stays open
      val maxTs = rows.map(_.ts.getTime).max * 1000L
      val cutoff = maxTs - 10L * 60 * 1000000
      val step = Rollup.TierStep("1m")
      val batch = closed(Rollup.rollupRaw(points(rows), "1m").toDF(), step, cutoff)

      assert(batch.length > 0 && spark.table("m1_stream").count() >= batch.length)
      val streamedClosed = closed(spark.table("m1_stream"), step, cutoff)
      assert(streamedClosed.length == batch.length,
        s"${streamedClosed.length} closed streamed vs ${batch.length} batch")
      streamedClosed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s vs $b") }
    }
  }

  test("chained 1h tier (two stateful operators, one query) finalizes " +
      "identically to a batch 1h rollup across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (TranscriptGen.genConversation(42L, 7) ++
      TranscriptGen.genConversation(42L, 8)).sortBy(_.ts.getTime)

    val source = MemoryStream[Transcript]
    val h1 = StreamingRollup.cascade(source.toDS(), "1h")
    withTempDir("graft_h1_cp") { cp =>
      val q = h1.writeStream.outputMode("append").format("memory")
        .queryName("h1_chained").option("checkpointLocation", cp).start()
      // three micro-batches so hour buckets straddle state boundaries
      val cut1 = rows.length / 3
      val cut2 = 2 * rows.length / 3
      source.addData(rows.take(cut1))
      q.processAllAvailable()
      source.addData(rows.slice(cut1, cut2))
      q.processAllAvailable()
      source.addData(rows.drop(cut2))
      q.processAllAvailable()
      q.stop()

      // append mode finalizes an hour bucket once the watermark passes its
      // end: final watermark = max(ts) - lateness
      val maxTs = rows.map(_.ts.getTime).max * 1000L
      val cutoff = maxTs - 10L * 60 * 1000000
      val step = Rollup.TierStep("1h")
      val streamedClosed = closed(spark.table("h1_chained"), step, cutoff)
      // the batch 1h tier straight from raw, and rolled up from the batch 1m
      // tier — the tier-cascade identity (1h-from-1m == 1h-from-raw)
      val pts = points(rows)
      for (want <- Seq(Rollup.rollupRaw(pts, "1h"),
          Rollup.rollupTier(Rollup.rollupRaw(pts, "1m"), "1h"))) {
        val batch = closed(want.toDF(), step, cutoff)
        assert(batch.length > 0, "fixture must close at least one hour bucket")
        assert(streamedClosed.length == batch.length,
          s"${streamedClosed.length} closed streamed vs ${batch.length} batch")
        streamedClosed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s vs $b") }
      }
    }
  }

  test("chained 1d tier (THREE stateful operators, one query) finalizes " +
      "identically to a batch 1d rollup across micro-batch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (TranscriptGen.genConversation(42L, 7) ++
      TranscriptGen.genConversation(42L, 8)).sortBy(_.ts.getTime)
    // a sentinel turn 3 days past the corpus pushes the watermark over
    // every earlier day boundary, so day buckets actually finalize
    val maxBase = base.map(_.ts.getTime).max
    val sentinel = base.last.copy(
      ts = new java.sql.Timestamp(maxBase + 3L * 86400 * 1000))
    val rows = base :+ sentinel

    val source = MemoryStream[Transcript]
    val d1 = StreamingRollup.cascade(source.toDS(), "1d")
    withTempDir("graft_d1_cp") { cp =>
      val q = d1.writeStream.outputMode("append").format("memory")
        .queryName("d1_chained").option("checkpointLocation", cp).start()
      // three micro-batches so day buckets straddle state boundaries
      val cut1 = rows.length / 3
      val cut2 = 2 * rows.length / 3
      source.addData(rows.take(cut1))
      q.processAllAvailable()
      source.addData(rows.slice(cut1, cut2))
      q.processAllAvailable()
      source.addData(rows.drop(cut2))
      q.processAllAvailable()
      q.stop()

      val maxTs = rows.map(_.ts.getTime).max * 1000L
      val cutoff = maxTs - 10L * 60 * 1000000
      val step = Rollup.TierStep("1d")
      val streamedClosed = closed(spark.table("d1_chained"), step, cutoff)
      val pts = points(rows)
      for (want <- Seq(Rollup.rollupRaw(pts, "1d"),
          Rollup.rollupTier(Rollup.rollupTier(Rollup.rollupRaw(pts, "1m"), "1h"), "1d"))) {
        val batch = closed(want.toDF(), step, cutoff)
        assert(batch.length > 0, "fixture must close at least one day bucket")
        assert(streamedClosed.length == batch.length,
          s"${streamedClosed.length} closed streamed vs ${batch.length} batch")
        streamedClosed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s vs $b") }
      }
    }
  }

  test("streaming left profile (flatMapGroupsWithState) equals the batch " +
      "computation across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w = 8
    val vals = (0 until 60).map(i => math.sin(i / 3.0) * 10.0 + (i % 7)).toArray
    val pts = vals.zipWithIndex.map { case (v, i) =>
      StreamingRollup.PointIn("c1", new java.sql.Timestamp(1700000000000L + i * 1000L), v)
    }
    val source = MemoryStream[StreamingRollup.PointIn]
    val scored = StreamingRollup.streamingLeftProfile(source.toDS(), w)
    withTempDir("graft_lp_cp") { cp =>
      val q = scored.writeStream.outputMode("append").format("memory")
        .queryName("lp_stream").option("checkpointLocation", cp).start()
      // two micro-batches so windows straddle a state boundary
      source.addData(pts.take(25).toSeq)
      q.processAllAvailable()
      source.addData(pts.drop(25).toSeq)
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("lp_stream")
        .as[StreamingRollup.LeftProfileScore].collect()
        .map(s => (s.pos, s.dist)).sortBy(_._1)
      val batch = StreamingRollup.leftProfileScores(vals, w, 0)
        .filter(!_._2.isInfinite).map { case (i, d) => (i.toLong, d) }
      assert(streamed.length == batch.length,
        s"${streamed.length} streamed vs ${batch.length} batch windows")
      streamed.zip(batch).foreach { case ((p1, d1), (p2, d2)) =>
        assert(p1 == p2 && math.abs(d1 - d2) < 1e-9, s"pos $p1/$p2 dist $d1/$d2")
      }
      // each window is emitted exactly once (by the batch that completes it)
      assert(streamed.map(_._1).distinct.length == streamed.length)
    }
  }

  test("leftProfileScores diagonal recurrence matches a direct O(H*w) " +
      "evaluation (seeded rolling dots stay within 1e-9)") {
    val w = 16
    var h = 99L
    var acc = 0.0
    val vals = Array.fill(600) {
      h = graft.ingest.TranscriptGen.splitmix64(h)
      acc += (h & 0xffff).toDouble / 65536.0 - 0.5
      acc
    }
    def direct(all: Array[Double], from: Int): Seq[(Int, Double)] = {
      val plen = all.length - w + 1
      val minlag = math.ceil(w / 4.0).toInt
      val (mu, sig) = graft.kernels.MovingStats.muinvn(all, w)
      (from until plen).map { i =>
        val jEnd = i - minlag - 1
        if (jEnd < 0) (i, Double.PositiveInfinity)
        else {
          var best = -1.0
          for (j <- 0 to jEnd) {
            var dot = 0.0
            for (k <- 0 until w) dot += all(i + k) * all(j + k)
            val corr = (dot - w * mu(i) * mu(j)) * sig(i) * sig(j)
            if (corr > best) best = corr
          }
          (i, math.sqrt(math.max(2.0 * w * (1.0 - math.min(best, 1.0)), 0.0)))
        }
      }
    }
    for (from <- Seq(0, 100, 550)) {
      val fast = StreamingRollup.leftProfileScores(vals, w, from)
      val slow = direct(vals, from)
      assert(fast.length == slow.length)
      fast.zip(slow).foreach { case ((i1, d1), (i2, d2)) =>
        assert(i1 == i2)
        assert((d1.isInfinite && d2.isInfinite) || math.abs(d1 - d2) < 1e-9,
          s"from=$from pos=$i1: $d1 vs $d2")
      }
    }
  }

  test("16k-tail drift gate: one call over 16384 windows (the bench's batch " +
      "shape) stays within 1e-8 of exact dots at sampled rows") {
    val w = 64
    var h = 7L
    var acc = 0.0
    val vals = Array.fill((1 << 14) + w) {
      h = graft.ingest.TranscriptGen.splitmix64(h)
      acc += (h & 0xffff).toDouble / 65536.0 - 0.5
      acc
    }
    val plen = vals.length - w + 1
    val minlag = math.ceil(w / 4.0).toInt
    val (mu, sig) = graft.kernels.MovingStats.muinvn(vals, w)
    def exactScore(i: Int): Double = {
      var best = -1.0
      for (j <- 0 to (i - minlag - 1)) {
        var dot = 0.0
        for (k <- 0 until w) dot += vals(i + k) * vals(j + k)
        val corr = (dot - w * mu(i) * mu(j)) * sig(i) * sig(j)
        if (corr > best) best = corr
      }
      math.sqrt(math.max(2.0 * w * (1.0 - math.min(best, 1.0)), 0.0))
    }
    val fast = StreamingRollup.leftProfileScores(vals, w, 0).toMap
    // sample the longest chains: rows just before each re-seed boundary,
    // just after, and the final rows of the 16k batch
    val r = StreamingRollup.ReseedEvery
    val probes = Seq(r - 1, r, r + 1, 2 * r - 1, 2 * r, 3 * r - 1,
      plen - 3, plen - 2, plen - 1).filter(i => i >= minlag + 1 && i < plen)
    probes.foreach { i =>
      val d = fast(i)
      val e = exactScore(i)
      assert(math.abs(d - e) < 1e-8, s"pos $i: incremental $d vs exact $e")
    }
  }

  test("streaming left profile rejects cross-batch late arrivals: " +
      "incremental == batch over the accepted in-order stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val w = 8
    val vals = (0 until 50).map(i => math.cos(i / 4.0) * 5.0 + (i % 5)).toArray
    def pt(i: Int) = StreamingRollup.PointIn("c1",
      new java.sql.Timestamp(1700000000000L + i * 1000L), vals(i))

    val source = MemoryStream[StreamingRollup.PointIn]
    val scored = StreamingRollup.streamingLeftProfile(source.toDS(), w)
    withTempDir("graft_lp_late_cp") { cp =>
      val q = scored.writeStream.outputMode("append").format("memory")
        .queryName("lp_late_stream").option("checkpointLocation", cp).start()
      // batch 1: points 0..19; batch 2: SHUFFLED points 25..49 (out of order
      // within the batch — must be sorted) PLUS stale points 20..24 that are
      // older than batch 2's own contribution but NEWER than batch 1's max —
      // in-order relative to state, so accepted after the sort; batch 3:
      // replays 5..9 (older than the high-water mark) AND redelivers point
      // 49 (exactly AT the high-water mark — an at-least-once duplicate) —
      // all must be dropped
      source.addData((0 until 20).map(pt))
      q.processAllAvailable()
      val b2 = scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).shuffle((20 until 50).toList)
      source.addData(b2.map(pt))
      q.processAllAvailable()
      source.addData((5 until 10).map(pt) :+ pt(49))
      q.processAllAvailable()
      q.stop()

      val streamed = spark.table("lp_late_stream")
        .as[StreamingRollup.LeftProfileScore].collect()
        .map(s => (s.pos, s.dist)).sortBy(_._1)
      // the accepted stream is exactly vals in order; the stale replay must
      // contribute nothing (same window set, emitted exactly once)
      val batch = StreamingRollup.leftProfileScores(vals, w, 0)
        .filter(!_._2.isInfinite).map { case (i, d) => (i.toLong, d) }
      assert(streamed.length == batch.length,
        s"${streamed.length} streamed vs ${batch.length} batch windows " +
          "(late replay must not append or re-emit)")
      streamed.zip(batch).foreach { case ((p1, d1), (p2, d2)) =>
        assert(p1 == p2 && math.abs(d1 - d2) < 1e-9, s"pos $p1/$p2 dist $d1/$d2")
      }
      assert(streamed.map(_._1).distinct.length == streamed.length)
    }
  }
}
