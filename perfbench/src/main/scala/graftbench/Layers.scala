package graftbench

/** The per-layer metrics of the traced run, with units. A traced run
  * prints every one of them; a layer the workload does not touch reads 0.
  * Must list the same names as `per_layer` in BENCHMARK.json.
  */
object Layers {
  /** The battery: ops-family queries (text, dedup and LSH candidate
    * pairs, embedding and media near-duplicates) and q40, the one query
    * that calls `Rollup.maintainTier`.
    */
  val Queries: Seq[String] = Seq(
    "q17_token_count", "q19_language_id", "q20_minhash_lsh",
    "q21_simhash_pairs", "q25_embedding_dups", "q33_dedup_pipeline",
    "q39_media_dedup", "q40_incremental_rollup")

  def isOps(q: String): Boolean = q != "q40_incremental_rollup"

  val all: Seq[(String, String)] = Seq(
    "series.wall_s" -> "s", "series.task_s" -> "s", "series.gc_s" -> "s",
    "series.shuffle_mb" -> "MiB", "series.spill_mb" -> "MiB",
    "series.rows_out" -> "count",
    "compress.wall_s" -> "s", "compress.task_s" -> "s",
    "compress.bytes_per_point" -> "B/point",
    "rollup.wall_s" -> "s", "rollup.task_s" -> "s", "rollup.gc_s" -> "s",
    "rollup.shuffle_mb" -> "MiB", "rollup.spill_mb" -> "MiB",
    "rollup.rows_in" -> "count", "rollup.rows_out" -> "count",
    "rollup.maintain_wall_s" -> "s", "rollup.maintain_task_s" -> "s",
    "rollup.maintain_shuffle_mb" -> "MiB",
    "rollup.rewrite_ratio" -> "ratio",
    "dist.wall_s" -> "s", "dist.task_s" -> "s", "dist.gc_s" -> "s",
    "dist.shuffle_mb" -> "MiB", "dist.tasks" -> "count",
    "dist.max_task_s" -> "s", "dist.subsequences" -> "count",
    "kernels.mpx_pairs_per_s" -> "1/s", "kernels.discovery_s" -> "s",
    "ops.task_s" -> "s", "ops.shuffle_mb" -> "MiB", "ops.max_task_s" -> "s") ++
    Queries.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "battery.ops_s" -> "s",
    "run.jobs" -> "count", "run.overhead_s" -> "s", "run.traced_op_s" -> "s",
    "run.peak_rss_mb" -> "MB", "run.live_heap_mb" -> "MB",
    "run.ops_failed_frac" -> "ratio", "run.steal_frac" -> "ratio",
    "run.ext_cpu_frac" -> "ratio")
}
