package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.run.{Ledger, PipelineMain}

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
    val base = java.nio.file.Files.createTempDirectory("graft_ledger").toString
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

  /** Stdout of `body` (the `[ledger]` and `[pipeline]` lines). */
  private def captured(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  /** The `[pipeline]` summary line without its timing fields. */
  private def summary(log: String): String =
    log.linesIterator.find(_.startsWith("[pipeline]")).get.split(" wall=").head

  /** (rowsIn, rowsOut) of every done ledger row, by stage. */
  private def ledgerCounts(dir: String): Map[String, (Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/_ledger").as[graft.schema.LedgerRow].collect()
      .map(r => r.stage -> (r.rowsIn, r.rowsOut)).toMap
  }

  test("an unreadable ledger is reported and every stage recomputes") {
    val base = java.nio.file.Files.createTempDirectory("graft_ledger_bad").toString
    val dir = new java.io.File(s"$base/_ledger")
    dir.mkdirs()
    java.nio.file.Files.write(new java.io.File(dir, "part-0.parquet").toPath,
      "not parquet".getBytes("UTF-8"))
    val l = new Ledger(spark, base, inputVersion = "v1")
    var done: Set[String] = null
    val log = captured { done = l.doneStages() }
    assert(done.isEmpty)
    assert(log.contains("[ledger] unreadable, recomputing: "), log)
  }

  test("PipelineMain ledger counts come from the writes: they equal fresh " +
      "counts of every stage output, at a bounded number of Spark jobs") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_observed").toString
    val metrics = new graft.run.Harness.StageMetrics(spark)
    val jobs =
      try {
        val before = metrics.drain()
        PipelineMain.run(spark, 15, out, 16, resume = false)
        metrics.drain().since(before).jobs
      } finally metrics.close()

    val counts = ledgerCounts(out)
    assert(counts.keySet == Set("transcripts", "series_points", "chunks_raw", "tiers",
      "profiles", "discovery"))
    def fresh(table: String) = spark.read.parquet(s"$out/$table").count()
    for ((stage, table) <- Seq("transcripts" -> "transcripts",
        "series_points" -> "series_points", "chunks_raw" -> "chunks_raw",
        "tiers" -> "tiers/m1_full", "profiles" -> "profiles", "discovery" -> "discovery"))
      assert(counts(stage)._2 == fresh(table), s"$stage rowsOut")
    assert(counts("series_points")._1 == fresh("transcripts"))
    assert(counts("tiers")._1 == spark.read.parquet(s"$out/series_points")
      .where($"kind" === "token_len_t").count())
    // measured 29 at local[2] (76 before counts came from the writes);
    // re-reads, inference or summary jobs creeping back push it over
    assert(jobs <= 32, s"pipeline ran $jobs Spark jobs")
  }

  test("PipelineMain kill-resume: a run crashed mid-pipeline resumes to " +
      "outputs content-identical to an uninterrupted run") {
    import graft.run.ResumeBench
    val out = java.nio.file.Files.createTempDirectory("graft_killresume").toString
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
