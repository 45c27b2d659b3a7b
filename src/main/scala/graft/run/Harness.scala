package graft.run

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** What every `run/` tool shares: the one local-session config and the
  * one listener that reports the Spark work a run did.
  */
object Harness {

  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every available core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]`, shuffle partitions = cpus, AQE on, UTC, no UI, WARN logs. */
  def session(appName: String, cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `body`'s result and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      gcMs: Long, shuffleRead: Long, shuffleWrite: Long)

  /** Jobs started and stages completed, in listener-bus order. */
  final case class Totals(jobs: Int, stages: Vector[Stage]) {
    def tasks: Int = stages.map(_.tasks).sum
    def taskMs: Long = stages.map(_.runMs).sum
    def gcMs: Long = stages.map(_.gcMs).sum
    def shuffleRead: Long = stages.map(_.shuffleRead).sum
    def shuffleWrite: Long = stages.map(_.shuffleWrite).sum
    def peakStageShuffleWrite: Long = stages.map(_.shuffleWrite).maxOption.getOrElse(0L)
    /** The work done after `before` (an earlier drain of the same listener). */
    def since(before: Totals): Totals =
      Totals(jobs - before.jobs, stages.drop(before.stages.size))
  }

  /** Counts every job and completed stage of `spark` until `close()`;
    * the listener bus is asynchronous, so totals are read through [[drain]].
    */
  final class StageMetrics(spark: SparkSession) extends SparkListener with AutoCloseable {
    private val Marker = "graft-stage-metrics-drain"
    private var jobs = 0
    private var stages = Vector.empty[Stage]
    private var markerStages = Set.empty[Int]
    @volatile private var delivered: CountDownLatch = new CountDownLatch(0)
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null &&
          e.properties.getProperty("spark.job.description") == Marker) {
        markerStages ++= e.stageIds
        delivered.countDown()
      } else jobs += 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      if (!markerStages.contains(si.stageId)) {
        val m = si.taskMetrics
        stages :+= Stage(si.stageId, si.name, si.numTasks, m.executorRunTime,
          m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten)
      }
    }

    /** Totals of every job finished before this call: runs an uncounted
      * marker job and waits for its start event — the bus delivers in
      * order, so every earlier event has been counted by then.
      */
    def drain(): Totals = {
      val sc = spark.sparkContext
      delivered = new CountDownLatch(1)
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      require(delivered.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the drain marker within 60 s")
      synchronized(Totals(jobs, stages))
    }

    override def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }
}
