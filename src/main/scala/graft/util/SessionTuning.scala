package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Scale-adaptive execution settings applied once per session by the
  * query builders (guide §2.2: "let AQE coalesce small partitions").
  *
  * Contract: every `SparkEntry.queries` builder calls [[ensure]] on the
  * CALLER's session before it plans, so the first query built on a
  * session sets the two AQE confs below on it, once, and they stay set for
  * whatever that session runs afterwards. The call lives in the builders,
  * not in `run/Harness.session`, so sessions built elsewhere (perfbench,
  * any external caller of the queries) get the same coalescing.
  *
  * With the default `parallelismFirst=true`, AQE coalesces post-shuffle
  * partitions toward `defaultParallelism` with a 1 MB floor instead of
  * the advisory size — so a query battery over a small scale factor runs
  * every tiny shuffle at up to 32 near-empty partitions. Thread-stack
  * sampling of such stages shows the time going to per-task constants
  * (task-binary deserialization, 33 shuffle files per bypass-merge map
  * task), not compute: ~40 ms/task × 32 tasks × ~30 stages ≈ tens of
  * seconds of task time for kilobytes of data. `parallelismFirst=false`
  * is the documented switch to honor `advisoryPartitionSizeInBytes`
  * instead: partition count then DERIVES FROM DATA SIZE — one partition
  * for a 100 KB shuffle here, hundreds for a 100 GB shuffle at scale —
  * which is exactly the scale-adaptive behavior the optimization guide
  * prescribes (a constant tuned to local cores is what it warns against).
  * CPU-heavy narrow stages (media decode, signature hashing) are spread
  * by explicit hash repartitions ([[spread]]), which AQE never
  * coalesces, so they keep full parallelism.
  */
object SessionTuning {

  private val applied = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  def ensure(spark: SparkSession): Unit = {
    applied.removeIf(s => s.sparkContext.isStopped)
    if (applied.add(spark)) {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    }
  }

  /** The one under-parallel spread rule: hash-repartition `df` to `width`
    * partitions by `key` ONLY when it scans in fewer than width/2 splits (a
    * small table arrives as one file split, serializing a CPU-heavy typed
    * kernel onto one core; a large table already has enough splits, and an
    * unconditional repartition would shuffle it for nothing). Hashing by
    * key, not round-robin, stays deterministic under task retry.
    */
  def spread(df: DataFrame, width: Int, key: String): DataFrame =
    if (df.rdd.getNumPartitions * 2 < width) df.repartition(width, col(key)) else df
}
