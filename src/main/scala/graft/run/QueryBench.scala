package graft.run

/** Per-query timing and profile for optimization iteration, with
  * graft.Bench's rep discipline (count() action, StageCache.release +
  * clearCache between reps): one cold rep (rep=0), then `reps` warm reps.
  * Each rep prints wall time, rows, host load and the Spark jobs, stages,
  * tasks, task time and GC it ran; stages over 300 ms print individually.
  * Ends with one JSON line of cold and warm med/min/max per query.
  *
  * Usage: `runMain graft.run.QueryBench <reps> <query...>` (no query = all).
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.nonEmpty) args(0).toInt else 3
    require(reps >= 1, "usage: QueryBench <reps >= 1> [query...]")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session("graft-query-bench")
    val metrics = new Harness.StageMetrics(spark)
    // untimed pre-passes, identical to Bench: page inputs, materialize the
    // q36 bucket layout
    Seq("events", "documents", "embeddings", "lineitem").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    try graft.SparkEntry.bucketedPoints(spark, sfDir).count()
    catch { case _: Throwable => }

    val out = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val secs = (0 to reps).map { r =>
        // sample load BEFORE the rep: read after, the 1-minute average
        // mostly echoes this process's own just-finished usage
        val ld = graft.Bench.load1()
        val before = metrics.drain()
        val (n, dt) = Harness.timed(fn(spark, sfDir).count())
        val m = metrics.drain().since(before)
        m.stages.filter(_.runMs > 300).foreach { s =>
          println(f"[stage] id=${s.id} tasks=${s.tasks} runSec=${s.runMs / 1000.0}%.2f " +
            f"gcSec=${s.gcMs / 1000.0}%.2f name=${s.name take 80}")
        }
        println(f"[qbench] $name rep=$r wall=$dt%.3f rows=$n load1=$ld%.2f " +
          f"jobs=${m.jobs} stages=${m.stages.size} tasks=${m.tasks} " +
          f"taskTimeSec=${m.taskMs / 1000.0}%.2f gcSec=${m.gcMs / 1000.0}%.2f")
        graft.util.StageCache.release(spark)
        spark.catalog.clearCache()
        dt
      }
      val cold = secs.head
      val warm = secs.tail.sorted
      val med = warm((warm.length - 1) / 2)
      f""""$name":{"cold":$cold%.3f,"warm_med":$med%.3f,"warm_min":${warm.head}%.3f,"warm_max":${warm.last}%.3f}"""
    }
    println(out.mkString("{", ",", "}"))
    spark.stop()
  }
}
