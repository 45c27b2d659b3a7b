package graft.run

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ingest.TranscriptGen
import graft.series.Derive
import graft.rollup.Rollup
import graft.compress.Chunks
import graft.dist.DistributedMp
import graft.kernels.{Fluss, TopK}
import graft.schema._

/** End-to-end rollup + matrix-profile pipeline over the synthetic
  * transcript table, checkpoint-resumable via the Ledger.
  *
  * Stages: transcripts → series (token_len, gap_s, turn_rate) → gap-fill
  * → Gorilla chunks → tiers 1m→1h→1d in one pass → per-tier MP (mpx) →
  * discords/regimes per profile. Every stage's ledger row counts are
  * observed on the stage's own write (no re-read of its output), tables
  * are read back with their schemas pinned (no inference job), and all
  * raw and tier series share one MP plan. The summary's `compiles=` is the
  * JVM-wide count of codegen compiles during the run (no Spark job). Usage:
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
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // stage 1: transcript table (the production engine scans Iceberg here)
    val transcriptsPath = ledger.stage("transcripts") { out =>
      (0L, Ledger.write(TranscriptGen.generate(spark, numConvs), out).rows)
    }
    maybeAbort("transcripts")
    val transcripts = Ledger.read[Transcript](spark, transcriptsPath)

    // stage 2: derived series points (Derive.series); every transcript turn
    // yields exactly one token_len_t point, so that kind's count is the
    // stage's input count
    val pointsPath = ledger.stage("series_points") { out =>
      val written = Ledger.write(Derive.series(transcripts), out,
        Seq(sum(($"kind" === Derive.TokenLenT).cast("long")).as("turns")), partitionBy = Seq("kind"))
      (written.long("turns"), written.rows)
    }
    maybeAbort("series_points")
    val points = Ledger.read[SeriesPoint](spark, pointsPath)

    // stage 3: Gorilla-compressed chunk structs for the raw tier
    ledger.stage("chunks_raw") { out =>
      (0L, Ledger.write(Chunks.encode(points.where($"kind" === Derive.TokenLenT)), out).rows)
    }

    maybeAbort("chunks_raw")

    // stage 4: continuous aggregates 1m -> 1h -> 1d in one
    // Rollup.rollupAllColocated pass (one exchange), persisted once and
    // written as every tier's FULL table `<tier>_full` (uncoalesced: Spark
    // keeps a cached plan's shuffle partitions); the 1m write's sum(cnt) is
    // the stage's input. A tier with a horizon keeps, in `<tier>`, the
    // buckets within it of the newest 1m bucket
    var retention: Option[String] = None
    val tiersPath = ledger.stage("tiers") { out =>
      val all = Rollup.rollupAllColocated(points.where($"kind" === Derive.TokenLenT))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        def full(t: Rollup.Tier) = all.where($"tier" === t.name)
        val written = Rollup.Ladder.map(t => Ledger.write(full(t),
          s"$out/${t.table}${if (t.horizon.isDefined) "_full" else ""}",
          Seq(max($"bucket").as("newest"), sum($"cnt").as("points"))))
        val newest = written.head.long("newest")
        val drops = for ((t, fullSeen) <- Rollup.Ladder.zip(written); h <- t.horizon) yield {
          val kept = Ledger.write(Rollup.applyRetention(full(t), newest - h), s"$out/${t.table}")
          s"${t.name} dropped ${fullSeen.rows - kept.rows} of ${fullSeen.rows} buckets " +
            s"(horizon ${h / Rollup.TierStep("1d")}d)"
        }
        retention = Some(drops.mkString(", "))
        (written.head.long("points"), written.head.rows)
      } finally all.unpersist()
    }

    maybeAbort("tiers")

    // stage 5: per-tier matrix profiles (mpx with chunk min/max-merge):
    // the position-indexed raw kinds and the m1/h1/d1 tier series
    // (kinds `<kind>@<tier>`) assemble into ONE cached input for ONE
    // mpxProfiles plan, which drops its tile branch when the longest cached
    // series is short. The tier label follows the kind.
    var subsequences: Option[Long] = None
    val profilesPath = ledger.stage("profiles") { out =>
      val tierPoints = Rollup.Ladder
        .map(t => Rollup.tierSeries(Ledger.read[TierAgg](spark, s"$tiersPath/${t.table}")).toDF())
      // unionByName: the partitioned points table reads `kind` last
      val rawKinds = points.where($"kind".isin(Derive.TokenLen, Derive.GapS, Derive.TurnRate))
      val allPoints = (rawKinds.toDF() +: tierPoints).reduce(_ unionByName _).as[SeriesPoint]
      val series = Derive.assemble(allPoints)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val longest = series.select(max(size($"values"))).as[Option[Int]].first().getOrElse(0)
        val profiles = DistributedMp.mpxProfiles(series, w, "raw", maxSeriesLen = longest)
          .withColumn("tier", when(Rollup.isTierKind($"kind"), lit("tier")).otherwise(lit("raw")))
          .as[MpProfileRow]
        val written = Ledger.write(profiles, out, Seq(sum(size($"mp")).as("subsequences")))
        subsequences = Some(written.long("subsequences"))
        (0L, written.rows)
      } finally series.unpersist()
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
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    def rowsOut(stage: String): Long = ledger.rows(stage).get._2
    val nPoints = rowsOut("series_points")
    val nSubseq = subsequences.getOrElse(Ledger.read[MpProfileRow](spark, profilesPath)
      .select(sum(size($"mp"))).as[Option[Long]].first().getOrElse(0L))
    println(f"[pipeline] convs=$numConvs points=$nPoints profiles=${rowsOut("profiles")} " +
      f"subsequences=$nSubseq discovery=${rowsOut("discovery")} " +
      f"wall=${wallS}%.1fs points/s=${nPoints / wallS}%.0f compiles=$compiles")
    // counted on this run's tier writes (the run that wrote resumed tiers reported theirs)
    retention.foreach(r => println(s"[pipeline] retention: $r"))
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
