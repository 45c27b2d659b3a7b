package graft.run

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.rollup.Rollup

/** Kill-resume evidence for the checkpoint ledger: run the pipeline to
  * completion in one directory, crash a second run after the `tiers`
  * stage (PipelineMain's abortAfter hook — the ledger rows of the
  * completed stages are already committed), then resume it. Gates:
  *
  *   1. the resume run leaves every completed stage's output untouched
  *      (directory modification times unchanged — skipped, not re-run);
  *   2. the resumed final outputs are content-identical to the fresh
  *      run's (row-level hash over every stage output, order-free);
  *   3. wall times: resume ≈ the missing stages only.
  *
  * Usage: runMain graft.run.ResumeBench [numConvs] [outDir] [window]
  */
object ResumeBench {

  /** Order-free content hash of a parquet output (columns sorted by name,
    * rows as sorted JSON — array columns included).
    */
  def contentHash(spark: SparkSession, path: String): String = {
    import spark.implicits._
    val df = spark.read.parquet(path)
    val rows = df.select(to_json(struct(df.columns.sorted.map(col): _*)).as("j"))
      .orderBy($"j").as[String].collect()
    val d = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => d.update(r.getBytes("UTF-8")))
    d.digest().map("%02x".format(_)).mkString
  }

  private def mtime(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) -1L
    else {
      // deepest mtime: parquet dirs rewrite part files, not just the dir
      val all = Option(f.listFiles()).getOrElse(Array.empty)
      (f.lastModified() +: all.map(_.lastModified())).max
    }
  }

  def main(args: Array[String]): Unit = {
    val numConvs = if (args.length > 0) args(0).toInt else 400
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_resume_bench"
    val w = if (args.length > 2) args(2).toInt else 32
    val spark = Harness.session("graft-resume-bench")

    val dirFresh = s"$outDir/fresh"
    val dirKill = s"$outDir/killed"
    val completed = Seq("transcripts", "series_points", "chunks_raw", "tiers")
    val finals = Seq("profiles", "discovery")

    val (_, freshSec) =
      Harness.timed(PipelineMain.run(spark, numConvs, dirFresh, w, resume = false))
    val (crashed, abortedSec) = Harness.timed {
      try { PipelineMain.run(spark, numConvs, dirKill, w, resume = false,
        abortAfter = Some("tiers")); false }
      catch { case _: PipelineMain.SimulatedCrash => true }
    }
    require(crashed, "expected the simulated crash after 'tiers'")

    val mtimesBefore = completed.map(s => s -> mtime(s"$dirKill/$s")).toMap
    val (_, resumeSec) =
      Harness.timed(PipelineMain.run(spark, numConvs, dirKill, w, resume = true))

    val untouched = completed.filter(s => mtime(s"$dirKill/$s") == mtimesBefore(s))
    val hashesEqual = (completed.filterNot(_ == "tiers") ++ finals).forall { s =>
      contentHash(spark, s"$dirFresh/$s") == contentHash(spark, s"$dirKill/$s")
    } && Rollup.Ladder.map(_.table).forall { t =>
      contentHash(spark, s"$dirFresh/tiers/$t") == contentHash(spark, s"$dirKill/tiers/$t")
    }

    println(f"[resume-bench] convs=$numConvs fresh=$freshSec%.1fs " +
      f"aborted_run=$abortedSec%.1fs resume=$resumeSec%.1fs " +
      f"untouched_stages=${untouched.size}/${completed.size} " +
      f"outputs_equal=$hashesEqual")
    require(untouched.size == completed.size,
      s"resume re-ran completed stage(s): ${completed.diff(untouched)}")
    require(hashesEqual, "resumed outputs differ from the fresh run")
    spark.stop()
  }
}
