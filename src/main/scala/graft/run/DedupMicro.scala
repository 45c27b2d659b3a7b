package graft.run

import org.apache.spark.sql.SparkSession

/** Micro-benchmark for the dedup signature kernels (guide §1.4: isolate
  * the computation): times minhashSignature and simhash over a seeded
  * synthetic corpus large enough that the typed kernel — not per-task
  * scheduling constants — dominates the stage (at sf0.1 the battery's
  * 5k-doc corpus spends more on task dispatch than on hashing, so kernel
  * changes are invisible there; at 100k+ docs the md5 loop is >90% of
  * task time). Usage: `runMain graft.run.DedupMicro [docs] [words] [cpus]`.
  * Prints per-kernel best-of-3 seconds and rows/s; deterministic corpus
  * (seeded per doc id), count() action, no caching across reps.
  */
object DedupMicro {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 100000
    val words = if (args.length > 1) args(1).toInt else 80
    val cpus = if (args.length > 2) args(2).toInt else 8
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    // tokens drawn from a 5000-word vocabulary by a doc-id-seeded RNG:
    // realistic shingle diversity (mostly distinct per doc), stable
    // across runs
    val docs = spark.range(0, nDocs, 1, cpus).map { id =>
      val rnd = new scala.util.Random(id * 2654435761L + 7)
      val sb = new java.lang.StringBuilder()
      var w = 0
      while (w < words) {
        if (w > 0) sb.append(' ')
        sb.append("tok").append(rnd.nextInt(5000))
        w += 1
      }
      (id, sb.toString)
    }.toDF("doc_id", "text")
    // per-run corpus directory: concurrent runs never share one
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_micro")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    docs.write.mode("overwrite").parquet(dir.toString)
    val corpus = spark.read.parquet(dir.toString)

    def time(what: String)(body: => Long): Unit = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = body
        val dt = (System.nanoTime() - t0) / 1e9
        graft.util.StageCache.release(spark)
        spark.catalog.clearCache()
        require(n == nDocs, s"$what returned $n rows, expected $nDocs")
        dt
      }
      val best = secs.min
      println(f"[dedupmicro] $what docs=$nDocs words=$words cpus=$cpus " +
        f"best=$best%.3f reps=${secs.map(s => f"$s%.3f").mkString(",")} " +
        f"docs_per_sec=${nDocs / best}%.0f")
    }

    time("minhash_signature") {
      graft.ops.Dedup.minhashSignature(corpus, "text").count()
    }
    time("simhash") {
      graft.ops.Dedup.simhash(corpus).count()
    }
    spark.stop()
  }
}
