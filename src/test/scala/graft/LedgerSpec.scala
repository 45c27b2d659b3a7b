package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, max, pmod}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.rollup.Rollup
import graft.run.{Ledger, PipelineMain}
import graft.schema.{SeriesPoint, TierAgg}
import graft.series.Derive
import Fixtures.{withTempDir, withoutTaskFailureLogs}

/** Checkpoint-resume semantics of the per-stage lineage ledger (north
  * rule: runs resumable from checkpoint with per-partition lineage +
  * metrics). A crashed run leaves done stages marked and the failed
  * stage unmarked; the re-run skips the former and recomputes only the
  * latter, and the ledger's metrics rows carry the lineage.
  */
class LedgerSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-ledger-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("completed stages are skipped on resume; a failed stage re-runs") {
    import spark.implicits._
    withTempDir("graft_ledger") { base =>
      var aRuns = 0
      var bRuns = 0

      def stageA(l: Ledger): String = l.stage("a") { out =>
        aRuns += 1
        spark.range(10).toDF("v").write.mode("overwrite").parquet(out)
        (10L, 10L)
      }
      def stageB(l: Ledger, fail: Boolean): String = l.stage("b") { out =>
        bRuns += 1
        if (fail) throw new RuntimeException("simulated crash")
        spark.range(5).toDF("v").write.mode("overwrite").parquet(out)
        (10L, 5L)
      }

      // run 1: stage a completes, stage b crashes mid-run
      val l1 = new Ledger(spark, base, inputVersion = "v1")
      stageA(l1)
      intercept[RuntimeException] { stageB(l1, fail = true) }
      assert(aRuns == 1 && bRuns == 1)
      assert(l1.doneStages() == Set("a"))

      // run 2 (resume): a is skipped, b recomputes and completes
      val l2 = new Ledger(spark, base, inputVersion = "v1")
      val aPath = stageA(l2)
      val bPath = stageB(l2, fail = false)
      assert(aRuns == 1, "completed stage must not recompute on resume")
      assert(bRuns == 2, "failed stage must recompute on resume")
      assert(l2.doneStages() == Set("a", "b"))
      assert(spark.read.parquet(aPath).count() == 10)
      assert(spark.read.parquet(bPath).count() == 5)

      // run 3: everything done — full skip
      val l3 = new Ledger(spark, base, inputVersion = "v1")
      stageA(l3); stageB(l3, fail = false)
      assert(aRuns == 1 && bRuns == 2)

      // a NEW input version invalidates the resume state (lineage is
      // versioned): both stages recompute
      val l4 = new Ledger(spark, base, inputVersion = "v2")
      stageA(l4); stageB(l4, fail = false)
      assert(aRuns == 2 && bRuns == 3)

      // metrics/lineage rows: one done row per (stage, version) with wall
      // time and row counts recorded
      val rows = spark.read.parquet(s"$base/_ledger")
        .as[graft.schema.LedgerRow].collect()
      assert(rows.count(r => r.stage == "a" && r.inputVersion == "v1") == 1)
      assert(rows.count(r => r.stage == "b" && r.inputVersion == "v2") == 1)
      assert(rows.forall(r => r.state == "done" && r.wallMs >= 0))
      val b1 = rows.find(r => r.stage == "b" && r.inputVersion == "v1").get
      assert(b1.rowsIn == 10L && b1.rowsOut == 5L)
    }
  }

  /** Stdout of `body` (the `[ledger]` and `[pipeline]` lines). */
  private def captured(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  /** The `[pipeline]` summary line without its timing fields, once it is
    * checked to end with the run's codegen compile count.
    */
  private def summary(log: String): String = {
    val line = log.linesIterator.find(_.startsWith("[pipeline]")).get
    assert(raw" compiles=\d+$$".r.findFirstIn(line).isDefined, line)
    line.split(" wall=").head
  }

  /** (rowsIn, rowsOut) of every done ledger row, by stage. */
  private def ledgerCounts(dir: String): Map[String, (Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/_ledger").as[graft.schema.LedgerRow].collect()
      .map(r => r.stage -> (r.rowsIn, r.rowsOut)).toMap
  }

  test("an unreadable ledger is reported and every stage recomputes") {
    withTempDir("graft_ledger_bad") { base =>
      val dir = new java.io.File(s"$base/_ledger")
      dir.mkdirs()
      java.nio.file.Files.write(new java.io.File(dir, "part-0.parquet").toPath,
        "not parquet".getBytes("UTF-8"))
      val l = new Ledger(spark, base, inputVersion = "v1")
      var done: Set[String] = null
      val log = captured { done = withoutTaskFailureLogs(l.doneStages()) }
      assert(done.isEmpty)
      assert(log.contains("[ledger] unreadable, recomputing: "), log)
    }
  }

  test("PipelineMain ledger counts come from the writes: they equal fresh " +
      "counts of every stage output, at a bounded number of Spark jobs") {
    import spark.implicits._
    withTempDir("graft_observed") { out =>
      val metrics = new graft.run.Harness.StageMetrics(spark)
      var log = ""
      val jobs =
        try {
          val before = metrics.drain()
          log = captured(PipelineMain.run(spark, 15, out, 16, resume = false))
          metrics.drain().since(before).jobs
        } finally metrics.close()
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty, "a stage cache outlived the run")

      assert(summary(log).startsWith("[pipeline] convs=15 "))
      val counts = ledgerCounts(out)
      assert(counts.keySet == Set("transcripts", "series_points", "chunks_raw", "tiers",
        "profiles", "discovery"))
      def fresh(table: String) = spark.read.parquet(s"$out/$table").count()
      for ((stage, table) <- Seq("transcripts" -> "transcripts",
          "series_points" -> "series_points", "chunks_raw" -> "chunks_raw",
          "tiers" -> "tiers/m1_full", "profiles" -> "profiles", "discovery" -> "discovery"))
        assert(counts(stage)._2 == fresh(table), s"$stage rowsOut")
      assert(counts("series_points")._1 == fresh("transcripts"))
      // the derivation's shape: each token-length kind has a point per turn,
      // gap_s one per turn after its conversation's first
      val kinds = spark.read.parquet(s"$out/series_points").groupBy($"kind").count()
        .as[(String, Long)].collect().toMap
      val convs = spark.read.parquet(s"$out/transcripts").select($"conv_id").distinct().count()
      assert(Seq(kinds(Derive.TokenLenT), kinds(Derive.TokenLen), kinds(Derive.GapS) + convs)
        .forall(_ == counts("series_points")._1), kinds)
      assert(counts("tiers")._1 == kinds(Derive.TokenLenT))
      // measured 24 at local[2] (76 before counts came from the writes);
      // re-reads, inference or summary jobs creeping back push it over
      assert(jobs <= 32, s"pipeline ran $jobs Spark jobs")

      // retention along the ladder: a tier with a horizon keeps exactly its
      // full table's buckets within the horizon of the newest 1m bucket, and
      // the reported drop is the row difference; the horizonless 1d tier
      // keeps every day the full 1h tier covers
      def tier(t: String) = Ledger.read[TierAgg](spark, s"$out/tiers/$t")
      val newest = tier("m1_full").agg(max($"bucket")).as[Long].first()
      for (t <- Rollup.Ladder; h <- t.horizon) {
        val full = tier(s"${t.table}_full")
        assert(tier(t.table).collect().toSet == full.where($"bucket" >= newest - h).collect().toSet,
          s"${t.table} is not ${t.table}_full cut at its horizon")
        val reported = raw"\[pipeline\] retention: .*${t.name} dropped (\d+) of (\d+) buckets".r
          .findFirstMatchIn(log).getOrElse(fail(s"no ${t.name} drop reported:\n$log"))
        assert(reported.group(2).toLong == full.count())
        assert(reported.group(1).toLong == full.count() - fresh(s"tiers/${t.table}"))
        if (t.name == "1m") assert(reported.group(1).toLong > 0, "fixture must drop 1m buckets")
      }
      val days = Rollup.TierStep("1d")
      assert(tier("d1").select($"conv_id", $"kind", $"bucket").as[(String, String, Long)]
        .collect().toSet == tier("h1_full")
        .select($"conv_id", $"kind", ($"bucket" - pmod($"bucket", lit(days))).as("bucket"))
        .as[(String, String, Long)].collect().toSet, "d1 must be untrimmed")

      // the tiers stage's one colocated pass equals the chained rollup of
      // the stored token_len_t points, tier by tier
      val stored = Ledger.read[SeriesPoint](spark, s"$out/series_points")
        .where($"kind" === Derive.TokenLenT)
      for ((t, chained) <- Rollup.Ladder.zip(Rollup.rollupChain(stored))) {
        val got = tier(s"${t.table}${if (t.horizon.isDefined) "_full" else ""}").toDF()
        assert(got.exceptAll(chained.toDF()).isEmpty && chained.toDF().exceptAll(got).isEmpty,
          s"tier ${t.name} differs from rollupChain")
      }
    }
  }

  test("PipelineMain kill-resume: a run crashed mid-pipeline resumes to " +
      "outputs content-identical to an uninterrupted run") {
    import graft.run.ResumeBench
    withTempDir("graft_killresume") { out =>
      val freshLog = captured(PipelineMain.run(spark, 15, s"$out/fresh", 16, resume = false))
      val tables = Seq("transcripts", "series_points", "chunks_raw", "tiers/m1_full",
        "tiers/h1_full", "tiers/d1", "tiers/m1", "tiers/h1", "profiles", "discovery")
      for (abortAt <- Seq("series_points", "tiers")) {
        val dir = s"$out/killed_$abortAt"
        intercept[PipelineMain.SimulatedCrash] {
          PipelineMain.run(spark, 15, dir, 16, resume = false, abortAfter = Some(abortAt))
        }
        val log = captured(PipelineMain.run(spark, 15, dir, 16, resume = true))
        assert(log.contains(s"[ledger] resume: skipping $abortAt"), log)
        // the summary of a resumed run takes skipped stages' counts from
        // the ledger and still prints the uninterrupted run's numbers
        assert(summary(log) == summary(freshLog))
        for (table <- tables)
          assert(ResumeBench.contentHash(spark, s"$out/fresh/$table") ==
            ResumeBench.contentHash(spark, s"$dir/$table"),
            s"$table differs after a crash at $abortAt and resume")
        assert(ledgerCounts(dir) == ledgerCounts(s"$out/fresh"),
          s"ledger counts differ after a crash at $abortAt and resume")
      }
      // every stage skipped: the summary falls back to ledger rows and one
      // profiles scan
      val rerun = captured(PipelineMain.run(spark, 15, s"$out/fresh", 16, resume = true))
      assert(summary(rerun) == summary(freshLog))
    }
  }
}
