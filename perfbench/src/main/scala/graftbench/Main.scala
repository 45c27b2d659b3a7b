package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import org.apache.spark.sql.SparkSession

/** Work shared by every workload: the session, the run's work
  * directory (inside the checkout), the seed and the trace.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val trace: Trace, val digests: String, val recordDigests: Boolean)

/** One benchmark workload. The harness calls `warmup` once, then `setup`
  * several times (each anew), then `prepare`/`run`/`after` per
  * operation until the measured window is over, then `gates` once. Only
  * `setup` and `run` are timed.
  */
trait Workload {
  /** Generate the workload's inputs from the seed and write them to parquet. */
  def setup(): Unit
  /** Untimed operations on inputs of their own that warm the JIT and
    * Spark's codegen before anything is timed.
    */
  def warmup(): Unit
  /** Untimed preparation of operation `i`. */
  def prepare(i: Int): Unit = ()
  /** The timed call into the engine. */
  def run(i: Int): Unit
  /** Untimed follow-up of operation `i`; false marks it failed. */
  def after(i: Int): Boolean = true
  /** Work units operation `i` did (points, pair distances, queries). */
  def work(i: Int): Double
  /** Per-layer values of operation `i`, read from the trace. */
  def layers(i: Int, startMs: Long, endMs: Long, seconds: Double): Map[String, Double] =
    Map.empty
  /** Turns the per-key medians over operations into the reported layers. */
  def finish(medians: Map[String, Double]): Map[String, Double] = medians
  /** Layer values measured once per traced run, outside the loop. */
  def tracedExtras(): Map[String, Double] = Map.empty
  /** Correctness gates, checked once after the measured window. */
  def gates(): Seq[(String, Boolean)]
  /** Operations are measured, and reported, in whole groups of this size;
    * one group runs untimed before the measured window.
    */
  def groupSize: Int = 1
}

/** Benchmark entry point. Prints per-operation lines, one host-conditions
  * line and, as the last line of stdout, the JSON result. Usage:
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   [--digests FILE] [--record-digests]
  */
object Main {
  val SetupReps = 3
  /** USER_HZ: the unit of /proc/self/stat's CPU times. */
  val JiffiesPerS = 100.0

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val work = opt("--work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, work, seed, new Trace(spark.sparkContext, traced),
      opts.getOrElse("--digests", "perfbench/battery_digests.tsv"),
      args.contains("--record-digests"))
    val wl: Workload = workload match {
      case "pipeline_batch" => new PipelineBatch(ctx)
      case "query_battery" => new QueryBattery(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    try report(wl, seconds, traced)
    finally spark.stop()
  }

  private def report(wl: Workload, seconds: Double, traced: Boolean): Unit = {
    // warm-up first, on inputs of its own: the JVM's first Spark jobs
    // (class loading, JIT, codegen) land there, not in setup or the window
    phase("session")
    wl.warmup()
    phase("warmup")
    val setupS = (1 to SetupReps).map(_ => timed(wl.setup())._2)
    println(f"[setup] ${setupS.map(s => f"$s%.3f").mkString(" ")} s")

    // one untimed group on the measured inputs: the first operations of a
    // JVM still run partly interpreted, and their times would follow the
    // JIT's progress rather than the engine
    var failed = 0
    def operation(i: Int): (Boolean, Double, Double, Long, Long) = {
      wl.prepare(i)
      val startMs = System.currentTimeMillis()
      val cpu0 = graft.Bench.selfJiffies()
      val (ran, s) = timed(try { wl.run(i); true } catch {
        case e: Exception => println(s"[op $i] failed: $e"); false
      })
      val cpu = (graft.Bench.selfJiffies() - cpu0) / JiffiesPerS
      val endMs = System.currentTimeMillis()
      val ok = ran && wl.after(i)
      if (!ok) failed += 1
      println(f"[op $i] $s%.4f s ok=$ok")
      (ok, s, cpu, startMs, endMs)
    }
    (0 until wl.groupSize).foreach(operation)
    val settled = wl.groupSize
    phase("settle")

    val secs = Vector.newBuilder[Double]
    val cpus = Vector.newBuilder[Double]
    var work = 0.0
    val layerRows = Vector.newBuilder[Map[String, Double]]
    val (steal0, busy0, total0) = graft.Bench.cpuJiffies()
    val self0 = graft.Bench.selfJiffies()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = settled
    while (i == settled || System.nanoTime() < deadline || i % wl.groupSize != 0) {
      val (ok, s, cpu, startMs, endMs) = operation(i)
      if (ok) work += wl.work(i)
      secs += s
      cpus += cpu
      if (traced) layerRows += wl.layers(i, startMs, endMs, s)
      i += 1
    }
    val (steal1, busy1, total1) = graft.Bench.cpuJiffies()
    val self1 = graft.Bench.selfJiffies()
    val dt = math.max(1L, total1 - total0).toDouble
    val stealFrac = (steal1 - steal0) / dt
    val extFrac = math.max(0.0, ((busy1 - busy0) - (self1 - self0)) / dt)
    val contended = stealFrac > graft.Bench.StealLimit || extFrac > graft.Bench.ExtLimit
    println(f"[host] steal=$stealFrac%.4f ext_cpu=$extFrac%.4f contended=$contended")

    phase("window")
    val gates = wl.gates()
    phase("gates")
    gates.foreach { case (g, ok) => println(s"[gate] $g ${if (ok) "ok" else "FAILED"}") }
    val attempted = i + gates.size
    failed += gates.count(!_._2)
    // an operation of the report is one whole group (a battery pass)
    val opS = secs.result().grouped(wl.groupSize).map(_.sum).toVector
    val opCpuS = cpus.result().grouped(wl.groupSize).map(_.sum).toVector
    val sumS = opS.sum

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupS), "s"),
        ("op_p50_s", quantile(opS, 0.5), "s"),
        ("op_p75_s", quantile(opS, 0.75), "s"),
        ("op_cpu_s", median(opCpuS), "s"),
        ("work_per_s", work / sumS, "1/s"))
      else {
        val rows = layerRows.result()
        val medians = rows.flatMap(_.keySet).distinct
          .map(k => k -> median(rows.flatMap(_.get(k)))).toMap
        val values = wl.finish(medians) ++ wl.tracedExtras() ++ Map(
          "run.traced_op_s" -> quantile(opS, 0.5),
          "run.peak_rss_mb" -> peakRssMb(),
          "run.live_heap_mb" -> liveHeap(),
          "run.ops_failed_frac" -> failed.toDouble / attempted,
          "run.steal_frac" -> stealFrac,
          "run.ext_cpu_frac" -> extFrac)
        val unknown = values.keySet -- Layers.all.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        Layers.all.map { case (k, unit) => (k, values.getOrElse(k, 0.0), unit) }
      }
    val body = metrics.map { case (k, v, u) =>
      val safe = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $safe, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }

  /** Seconds since JVM start at the end of each phase of the run. */
  private def phase(name: String): Unit = println(f"[phase] $name ends at " +
    f"${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Heap the JVM still holds after a full collection, in MB: what the
    * engine retains (caches, broadcasts, leaked state) once the measured
    * operations are done.
    */
  def liveHeap(): Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }

  /** Bytes of the data files under `dir`. */
  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      var n = 0L
      Files.walk(p).forEach { f =>
        val name = f.getFileName.toString
        if (Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_"))
          n += Files.size(f)
      }
      n
    }
  }
}
