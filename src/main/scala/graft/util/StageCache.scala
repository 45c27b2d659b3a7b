package graft.util

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Explicit lifecycle for operator-internal persisted stages.
  *
  * Dedup/Similarity/q-query builders persist shared intermediates
  * (signatures, bucket keys, quantized projections) so forked plans
  * compute them once. Those persists used to rely on the caller running
  * `spark.catalog.clearCache()` — a global wipe a library caller may not
  * want (it also evicts THEIR caches). Every such stage now registers
  * here instead: after the consuming action, call [[release]] to drop
  * exactly the operator-internal stages and nothing else.
  *
  * The harness contract: Verify releases after every query (and asserts
  * nothing is left at the end); Bench releases between reps so no rep
  * reads another's cache. Library callers: one `StageCache.release(spark)`
  * after the terminal action of a dedup/ANN/MP query.
  */
object StageCache {

  private val registry = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]]()

  /** Persist `ds` LAZILY (the default) and register the handle for a
    * later [[release]]. Spark's CacheManager dedupes by logical plan, so
    * re-persisting an already-cached plan (e.g. quantSeriesCached called
    * by two queries) reuses the existing entry rather than duplicating
    * it.
    *
    * Lazy persists have a known multi-consumer race: AQE submits
    * independent consumer stages CONCURRENTLY, so N subtrees of one
    * action can each compute the same cache partitions (the
    * `BlockManager: Block rdd_X already exists` warnings). Eager
    * materialization (one count() at registration) closes the race but
    * was measured NET SLOWER on every multi-persist query once the r8
    * round made the raced stages cheap at their source (q39: 3.3 s lazy
    * vs 4.8 s eager — the extra sequential jobs outweigh the duplicated
    * compute), so persists stay lazy.
    */
  def persist[T](ds: Dataset[T],
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    registry.keySet.removeIf(s => s.sparkContext.isStopped)
    val out = ds.persist(level)
    registry.computeIfAbsent(ds.sparkSession,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()).add(out)
    out
  }

  /** Number of stage handles currently registered for `spark`. */
  def registeredCount(spark: SparkSession): Int = {
    val q = registry.get(spark)
    if (q == null) 0 else q.size()
  }

  /** Unpersist every registered stage of `spark`; returns how many handles
    * were released. Non-blocking (the executors free asynchronously).
    */
  def release(spark: SparkSession): Int = {
    val q = registry.remove(spark)
    if (q == null) 0
    else {
      var n = 0
      var d = q.poll()
      while (d != null) {
        try d.unpersist(blocking = false)
        catch { case _: Throwable => () } // a stopped context has nothing to free
        n += 1
        d = q.poll()
      }
      n
    }
  }

  /** Guard for an input a caller's operator will CONSUME TWICE (e.g. the
    * short-series and tile branches of the distributed MP builders): if
    * re-scanning the plan is ~free — it is already cached, or it is just
    * a relation scan with projections/filters on top — return it as-is;
    * otherwise persist-and-register it so the fork doesn't recompute an
    * expensive upstream (a join, an aggregate, a kernel mapPartitions)
    * once per branch. This closes the "caller forgot to persist a derived
    * input" footgun without paying cache materialization on the common
    * table-scan case, where a persist is measurably SLOWER than the
    * second scan.
    */
  def forked[T](ds: Dataset[T]): Dataset[T] =
    if (ds.storageLevel != StorageLevel.NONE || cheapToRescan(ds)) ds
    else persist(ds)

  /** A plan is cheap to rescan when every node on it is a leaf relation,
    * a projection/filter, or object (de)serialization glue — the shapes
    * whole-stage codegen re-runs at scan speed. Anything else (joins,
    * aggregates, exchanges, user map functions) may carry arbitrary
    * compute, so a second scan pays it twice.
    */
  private def cheapToRescan(ds: Dataset[_]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    ds.queryExecution.optimizedPlan.collect {
      case p if !(p.isInstanceOf[LeafNode] || p.isInstanceOf[Project] ||
        p.isInstanceOf[Filter] || p.isInstanceOf[TypedFilter] ||
        p.isInstanceOf[SerializeFromObject] ||
        p.isInstanceOf[DeserializeToObject]) => p
    }.isEmpty
  }
}
