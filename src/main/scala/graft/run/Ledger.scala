package graft.run

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, Dataset, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.schema.LedgerRow

/** Checkpoint/resume ledger: one parquet table of per-stage (and
  * per-partition, where the stage is partitioned) lineage + metrics rows.
  * A stage is resumable when its output parquet exists and the ledger has
  * a `done` row for the same inputVersion; resuming re-reads the output
  * instead of recomputing. Stands in for Iceberg snapshot metadata in
  * this sandbox (no Iceberg runtime jar).
  */
final class Ledger(spark: SparkSession, baseDir: String, inputVersion: String) {
  import spark.implicits._

  private val path = s"$baseDir/_ledger"
  private val counts = scala.collection.mutable.Map.empty[String, (Long, Long)]

  /** Latest done row per stage for this inputVersion: one job, no schema
    * inference, the set built on the driver. An unreadable ledger is
    * reported and treated as empty (every stage recomputes).
    */
  private def doneRows(): Map[String, LedgerRow] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) return Map.empty
    try {
      Ledger.read[LedgerRow](spark, path)
        .where($"state" === "done" && $"inputVersion" === inputVersion)
        .collect().groupBy(_.stage).map { case (s, rs) => s -> rs.maxBy(_.finishedAt.getTime) }
    } catch {
      case NonFatal(e) =>
        println(s"[ledger] unreadable, recomputing: $e")
        Map.empty
    }
  }

  def doneStages(): Set[String] = doneRows().keySet

  def markDone(stage: String, partitionKey: String, rowsIn: Long, rowsOut: Long,
      wallMs: Long): Unit = {
    val row = LedgerRow(partitionKey, stage, inputVersion, "done", rowsIn, rowsOut,
      wallMs, new Timestamp(System.currentTimeMillis()))
    spark.createDataset(Seq(row)).write.mode(SaveMode.Append).parquet(path)
  }

  /** (rowsIn, rowsOut) of a stage this ledger ran, or read from its done
    * row when the stage was skipped on resume.
    */
  def rows(stageName: String): Option[(Long, Long)] = counts.get(stageName)

  /** Run `body` writing parquet to `$baseDir/$stage` unless already done;
    * returns the stage output path. `body` must write to the returned path.
    */
  def stage(stageName: String)(body: String => (Long, Long)): String = {
    val out = s"$baseDir/$stageName"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val done =
      if (fs.exists(new org.apache.hadoop.fs.Path(out))) doneRows().get(stageName) else None
    done match {
      case Some(r) =>
        println(s"[ledger] resume: skipping $stageName")
        counts(stageName) = (r.rowsIn, r.rowsOut)
      case None =>
        val t0 = System.nanoTime()
        val (rowsIn, rowsOut) = body(out)
        markDone(stageName, stageName, rowsIn, rowsOut, (System.nanoTime() - t0) / 1000000L)
        counts(stageName) = (rowsIn, rowsOut)
    }
    out
  }
}

object Ledger {

  /** Read an engine-written table with its schema pinned to `T`: no
    * footer-inference job before the scan.
    */
  def read[T <: Product: TypeTag](spark: SparkSession, path: String): Dataset[T] = {
    val enc = Encoders.product[T]
    spark.read.schema(enc.schema).parquet(path).as(enc)
  }

  /** Metrics observed on one write: `rows` is the written row count,
    * the rest are the caller's extra named aggregates.
    */
  final class Observed(obs: Observation) {
    /** Blocks until the observed action has finished; 0 for a null
      * aggregate (e.g. the max of an empty table).
      */
    def long(name: String): Long = obs.get.get(name) match {
      case Some(n: java.lang.Number) => n.longValue
      case _ => 0L
    }
    def rows: Long = long("rows")
  }

  /** Overwrite `out` with `ds` as parquet (partitioned by `partitionBy`)
    * and return `count(lit(1)) as rows` plus `extra`, observed on that same
    * write: the top of the write plan runs exactly once, so the metrics
    * are right (a CollectMetrics node in a forked plan reports whichever
    * copy did not run, see `ops.Dedup.capBuckets`).
    */
  def write[T](ds: Dataset[T], out: String, extra: Seq[Column] = Nil,
      partitionBy: Seq[String] = Nil): Observed = {
    val obs = new Observation()
    val observed = ds.observe(obs, count(lit(1)).as("rows"), extra: _*)
    val writer = observed.write.mode(SaveMode.Overwrite)
    (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*)).parquet(out)
    new Observed(obs)
  }
}
