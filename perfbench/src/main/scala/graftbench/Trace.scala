package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics summed over a set of Spark jobs. Times in seconds, sizes
  * in MiB.
  */
final case class JobSums(jobs: Int, tasks: Long, taskS: Double, gcS: Double,
    shuffleMb: Double, spillMb: Double, maxTaskS: Double) {
  def +(o: JobSums): JobSums = JobSums(jobs + o.jobs, tasks + o.tasks,
    taskS + o.taskS, gcS + o.gcS, shuffleMb + o.shuffleMb,
    spillMb + o.spillMb, math.max(maxTaskS, o.maxTaskS))
}

object JobSums {
  val Zero: JobSums = JobSums(0, 0, 0, 0, 0, 0, 0)
}

/** One Spark job as the listener saw it start. */
final case class TracedJob(id: Int, startMs: Long, layer: String)

/** Benchmark-side SparkListener for the traced run. It records every
  * job's start time and the `graftbench.layer` local property the
  * harness sets around each call into a module, and sums task metrics per
  * job. Events are kept in memory and read after the measured window.
  */
final class LayerListener extends SparkListener {

  private final class Acc {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var maxTaskMs = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, TracedJob]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val accs = new ConcurrentHashMap[Int, Acc]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).map(_.getProperty(Trace.LayerKey)).orNull
    jobs.put(e.jobId, TracedJob(e.jobId, e.time, if (layer == null) "" else layer))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val job = stageJob.get(e.stageId)
    val a = accs.computeIfAbsent(job, _ => new Acc)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
    }
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[TracedJob] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
      .toSeq.sortBy(_.id)

  def sums(js: Seq[TracedJob]): JobSums = js.foldLeft(JobSums.Zero) { (s, j) =>
    val a = accs.get(j.id)
    if (a == null) s + JobSums.Zero.copy(jobs = 1)
    else a.synchronized {
      s + JobSums(1, a.tasks, a.runMs / 1e3, a.gcMs / 1e3,
        a.shuffleBytes / Trace.MiB, a.spillBytes / Trace.MiB, a.maxTaskMs / 1e3)
    }
  }
}

/** Span recording around calls into the engine. Untraced runs set the
  * layer property too (it is one thread-local write) but attach no
  * listener, so end-to-end numbers carry no tracing cost.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  val listener: Option[LayerListener] =
    if (enabled) { val l = new LayerListener; sc.addSparkListener(l); Some(l) }
    else None

  def layer[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Trace.LayerKey)
    sc.setLocalProperty(Trace.LayerKey, name)
    try body finally sc.setLocalProperty(Trace.LayerKey, prev)
  }

  /** Drain the listener bus and return the jobs started in the window. */
  def window(fromMs: Long, toMs: Long): Seq[TracedJob] = listener match {
    case Some(l) => org.apache.spark.BenchBus.drain(sc); l.jobsBetween(fromMs, toMs)
    case None => Seq.empty
  }

  def sums(js: Seq[TracedJob]): JobSums =
    listener.map(_.sums(js)).getOrElse(JobSums.Zero)
}

object Trace {
  val LayerKey = "graftbench.layer"
  val MiB: Double = 1024.0 * 1024.0
}
