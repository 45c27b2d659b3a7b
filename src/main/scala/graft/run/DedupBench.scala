package graft.run

import org.apache.spark.sql.functions._

/** Dedup-pipeline throughput at bench scale: the driver queries exercise
  * correctness on ≤5k documents; this main measures the exact-first →
  * MinHash-LSH pipeline (`graft.ops.Dedup.pipeline`) on a deterministic
  * synthetic corpus large enough that the md5 signature stage, banding
  * exchange, and verify join dominate task overhead — the measured basis
  * for the 100 TB dedup staging claim.
  *
  * Corpus: groups of 10 docs — 7 unique (~`words` tokens each from a
  * 4096-token lexicon, splitmix-keyed), 2 exact clones of the group head,
  * and 1 near-duplicate (2 leading tokens swapped) of the group's second
  * doc. Expected relations per group: 2 exact links to the head's min id
  * + 1 near pair — asserted, so the bench is also an at-scale
  * correctness gate.
  *
  * The `kernels` leg times the signature kernels alone (minhashSignature,
  * simhash; best of 3) on the same corpus: kernel changes show only at
  * 100k+ docs, where the md5 loop is >90% of task time.
  *
  * Usage: runMain graft.run.DedupBench [kernels] [nDocs] [wordsPerDoc]
  */
object DedupBench {

  def docText(id: Long, words: Int): String = {
    import graft.ingest.TranscriptGen.splitmix64
    val grp = id - id % 10
    val slot = id % 10
    // clones share the head's text; the near-dup derives from grp+1
    val srcId = if (slot == 7 || slot == 9) grp else if (slot == 8) grp + 1 else id
    val sb = new java.lang.StringBuilder(words * 6)
    var h = splitmix64(0xD0CD0CL ^ srcId)
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      // near-dup: substitute the first 2 tokens with group-id-derived
      // ones; h still advances so the remaining tokens stay ALIGNED with
      // the source doc (without the advance the whole doc would be the
      // source shifted by two tokens, not a 2-token substitution)
      val hh =
        if (slot == 8 && i < 2) { h = splitmix64(h); splitmix64(0xED17L ^ grp ^ i.toLong) }
        else { h = splitmix64(h); h }
      sb.append("w").append(java.lang.Long.toHexString(hh & 0xfffL))
      i += 1
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val kernels = args.headOption.contains("kernels")
    val rest = if (kernels) args.drop(1) else args
    // round down to a whole number of 10-doc groups: a partial trailing
    // group would plant extra exact clones (slots 7/9) that the
    // expected-count check below doesn't model
    val n = (if (rest.length > 0) rest(0).toInt else 100000) / 10 * 10
    val words = if (rest.length > 1) rest(1).toInt else 80
    val spark = Harness.session("graft-dedup-bench")
    import spark.implicits._
    // shuffle accounting: total + peak-stage shuffle write tells whether
    // the banding exchange stays bounded as the corpus grows
    val metrics = new Harness.StageMetrics(spark)

    val ld = graft.Bench.load1()
    val docs = spark.range(0, n.toLong, 1,
        spark.sparkContext.defaultParallelism * 2)
      .select($"id".as("doc_id"))
      .withColumn("text", udf((i: Long) => docText(i, words)).apply($"doc_id"))
    // materialize generation OUTSIDE the timed region: the bench measures
    // the dedup pipeline, not string synthesis
    val cached = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()

    if (kernels) {
      def time(what: String)(body: => Long): Unit = {
        val secs = (1 to 3).map { _ =>
          val (rows, dt) = Harness.timed(body)
          graft.util.StageCache.release(spark)
          require(rows == n, s"$what returned $rows rows, expected $n")
          dt
        }
        val best = secs.min
        println(f"[dedup-bench] kernel=$what docs=$n words=$words " +
          f"cpus=${spark.sparkContext.defaultParallelism} best=$best%.3f " +
          f"reps=${secs.map(s => f"$s%.3f").mkString(",")} docs_per_sec=${n / best}%.0f")
      }
      time("minhash_signature")(graft.ops.Dedup.minhashSignature(cached).count())
      time("simhash")(graft.ops.Dedup.simhash(cached).count())
    } else {
      val (pairs, sec) = Harness.timed(graft.ops.Dedup.pipeline(cached, threshold = 0.5)
        .groupBy($"kind").agg(count(lit(1)).as("cnt"))
        .as[(String, Long)].collect().toMap)

      val groups = n / 10
      val exactPairs = pairs.getOrElse("exact", 0L)
      val nearPairs = pairs.getOrElse("near", 0L)
      // at-scale correctness: every planted relation must surface
      require(exactPairs == 2L * groups,
        s"expected ${2L * groups} exact links, got $exactPairs")
      require(nearPairs >= groups,
        s"expected >= $groups near pairs (planted), got $nearPairs")
      val m = metrics.drain()
      val capDrops = graft.ops.CapBucketsLog.lastOverCount("minhashLsh").getOrElse(0L)
      println(f"[dedup-bench] docs=$n words=$words wall=$sec%.1fs " +
        f"docs/s=${n / sec}%.3e exact_pairs=$exactPairs near_pairs=$nearPairs " +
        f"shuffle_total_mb=${m.shuffleWrite / 1048576.0}%.1f " +
        f"shuffle_peak_stage_mb=${m.peakStageShuffleWrite / 1048576.0}%.1f " +
        f"lsh_bucket_cap_drops=$capDrops load1=$ld%.2f")
    }
    graft.util.StageCache.release(spark)
    cached.unpersist()
    spark.stop()
  }
}
