package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ingest.TranscriptGen
import graft.series.Derive
import graft.rollup.Rollup
import graft.compress.Chunks
import graft.dist.DistributedMp
import graft.dist.DistributedMp.SeriesRow
import graft.kernels.{Fluss, TopK}
import graft.schema._

/** End-to-end rollup + matrix-profile pipeline over the synthetic
  * transcript table, checkpoint-resumable via the Ledger.
  *
  * Stages: transcripts → series (token_len, gap_s, turn_rate) →
  * gap-fill → Gorilla chunks → tiers 1m→1h→1d → per-tier MP (mpx) →
  * discords/regimes per profile. Every stage's ledger row counts are
  * observed on the stage's own write (no re-read of its output), tables
  * are read back with their schemas pinned (no inference job), and all
  * raw and tier series share one MP plan. Usage:
  *   runMain graft.run.PipelineMain [numConvs] [outDir] [window]
  */
object PipelineMain {

  /** Thrown by the `abortAfter` crash hook (ResumeBench's kill-resume
    * evidence): everything up to and including the named stage has
    * committed its ledger row; nothing after has run.
    */
  final class SimulatedCrash(stage: String)
    extends RuntimeException(s"simulated crash after stage '$stage'")

  def run(spark: SparkSession, numConvs: Int, outDir: String, w: Int,
      resume: Boolean = true, abortAfter: Option[String] = None): Unit = {
    import spark.implicits._
    def maybeAbort(stage: String): Unit =
      if (abortAfter.contains(stage)) throw new SimulatedCrash(stage)
    val ledger = new Ledger(spark, outDir, s"gen:v1:convs=$numConvs")
    if (!resume) {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    }
    val t0 = System.nanoTime()

    // stage 1: transcript table (the production engine scans Iceberg here)
    val transcriptsPath = ledger.stage("transcripts") { out =>
      (0L, Ledger.write(TranscriptGen.generate(spark, numConvs), out).rows)
    }
    maybeAbort("transcripts")
    val transcripts = Ledger.read[Transcript](spark, transcriptsPath)

    // stage 2: derived series points (time-indexed for rollup, position-
    // indexed token_len/gap_s for golden-gated profiles); every transcript
    // turn yields exactly one token_len_t point, so that kind's count is
    // the stage's input count
    val pointsPath = ledger.stage("series_points") { out =>
      val timed = transcripts.select($"conv_id", lit("token_len_t").as("kind"),
        unix_micros($"ts").as("bucket"), length($"text").cast("double").as("value"))
        .as[SeriesPoint]
      val tok = Derive.tokenLen(transcripts)
      val gap = Derive.gapSeconds(transcripts)
      val rate = Derive.gapFill(Derive.turnRate(transcripts), Rollup.MicrosPerMin, Some(0.0))
      val all = timed.union(tok).union(gap).union(rate)
      val written = Ledger.write(all, out,
        Seq(sum(($"kind" === "token_len_t").cast("long")).as("turns")), partitionBy = Seq("kind"))
      (written.long("turns"), written.rows)
    }
    maybeAbort("series_points")
    val points = Ledger.read[SeriesPoint](spark, pointsPath)

    // stage 3: Gorilla-compressed chunk structs for the raw tier
    ledger.stage("chunks_raw") { out =>
      (0L, Ledger.write(Chunks.encode(points.where($"kind" === "token_len_t")), out).rows)
    }

    maybeAbort("chunks_raw")

    // stage 4: continuous aggregates 1m -> 1h -> 1d (chained, unsalted),
    // then retention: coarse tiers are derived from the FULL fine tier
    // first, after which the fine tiers keep only their horizon
    // (1m: 3 days, 1h: 30 days, 1d: forever — the north rule's
    // "retention drops old fine-tier buckets")
    val tiersPath = ledger.stage("tiers") { out =>
      val (raw, rawSeen) = Ledger.observe(points.where($"kind" === "token_len_t"))
      val m1 = Ledger.write(Rollup.rollupRaw(raw, "1m"), s"$out/m1_full",
        Seq(max($"bucket").as("maxBucket")))
      val m1r = Ledger.read[TierAgg](spark, s"$out/m1_full")
      Ledger.write(Rollup.rollupTier(m1r, "1h"), s"$out/h1_full")
      val h1r = Ledger.read[TierAgg](spark, s"$out/h1_full")
      Ledger.write(Rollup.rollupTier(h1r, "1d"), s"$out/d1")
      val maxBucket = m1.long("maxBucket")
      val day = 24L * 3600 * 1000000
      Ledger.write(Rollup.applyRetention(m1r, maxBucket - 3 * day), s"$out/m1")
      Ledger.write(Rollup.applyRetention(h1r, maxBucket - 30 * day), s"$out/h1")
      (rawSeen.rows, m1.rows)
    }

    maybeAbort("tiers")

    // stage 5: per-tier matrix profiles (mpx with chunk min/max-merge):
    // the position-indexed raw kinds and the m1/h1/d1 tier series
    // (kinds `<kind>@<tier>`) assemble into ONE cached input for ONE
    // mpxProfiles plan — it scans its input twice (the zero-exchange
    // short branch and the tile branch). The tier label follows the kind.
    var subsequences: Option[Long] = None
    val profilesPath = ledger.stage("profiles") { out =>
      val tierPoints = Seq("m1", "h1", "d1")
        .map(t => Rollup.tierSeries(Ledger.read[TierAgg](spark, s"$tiersPath/$t")).toDF())
      // unionByName: the partitioned points table reads `kind` last
      val allPoints = (points.where($"kind".isin("token_len", "gap_s", "turn_rate")).toDF()
        +: tierPoints).reduce(_ unionByName _).as[SeriesPoint]
      val series = Derive.assemble(allPoints)
        .map { case (c, k, s, v) => SeriesRow(c, k, s, v) }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val profiles = DistributedMp.mpxProfiles(series, w, "raw")
        .withColumn("tier", when($"kind".contains("@"), lit("tier")).otherwise(lit("raw")))
        .as[MpProfileRow]
      val written = Ledger.write(profiles, out, Seq(sum(size($"mp")).as("subsequences")))
      series.unpersist()
      subsequences = Some(written.long("subsequences"))
      (0L, written.rows)
    }

    maybeAbort("profiles")

    // stage 6: discovery — top-k discords + regimes per profile
    ledger.stage("discovery") { out =>
      val profiles = Ledger.read[MpProfileRow](spark, profilesPath)
      val found = profiles.map { p =>
        val discords = TopK.mpTopKDiscords(p.mp, p.ez, k = 3)
        val regimes =
          if (p.pi.length > 2 * p.w) Fluss.extractRegimes(Fluss.cac(p.pi, p.w), p.w, 3)
          else Array.empty[Long]
        (p.conv_id, p.kind, p.tier, p.w, discords, regimes)
      }.toDF("conv_id", "kind", "tier", "w", "discords", "regimes")
      (0L, Ledger.write(found, out).rows)
    }

    // summary from the stages' own counts (observed on this run's writes,
    // or the ledger rows of stages skipped on resume); only a skipped
    // profiles stage needs a scan, for its subsequence total
    val wallS = (System.nanoTime() - t0) / 1e9
    def rowsOut(stage: String): Long = ledger.rows(stage).get._2
    val nPoints = rowsOut("series_points")
    val nSubseq = subsequences.getOrElse(Ledger.read[MpProfileRow](spark, profilesPath)
      .select(sum(size($"mp"))).as[Option[Long]].first().getOrElse(0L))
    println(f"[pipeline] convs=$numConvs points=$nPoints profiles=${rowsOut("profiles")} " +
      f"subsequences=$nSubseq discovery=${rowsOut("discovery")} " +
      f"wall=${wallS}%.1fs points/s=${nPoints / wallS}%.0f")
  }

  def main(args: Array[String]): Unit = {
    val numConvs = if (args.length > 0) args(0).toInt else 200
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val w = if (args.length > 2) args(2).toInt else 32
    val spark = Harness.session("graft-pipeline")
    run(spark, numConvs, outDir, w)
    spark.stop()
  }
}
