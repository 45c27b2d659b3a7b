package graft.run

import graft.kernels.{Mpx, Scrimp, Stomp}

/** Single-series kernel throughput at the reference's own benchmark
  * config (BASELINE.md: random uniform, n=2^15, w=32, single thread).
  * Each kernel runs WarmupReps untimed reps first (mpx_ab at n=2^14
  * takes 1.4-2.4 s per rep for its first 5 reps, 0.5-1.2 s after), then
  * TimedReps timed reps reported as best and median, load-stamped per rep
  * so a contaminated rep is visible.
  */
object KernelBench {
  private val WarmupReps = 5
  private val TimedReps = 5
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 1 << 15
    val w = if (args.length > 1) args(1).toInt else 32
    // optional comma-separated kernel filter (run one kernel in a fresh
    // JVM to rule out JIT profile pollution between kernels)
    val only: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else _ => true
    val rng = new java.util.Random(42)
    val ts = Array.fill(n)(rng.nextDouble())
    // AB-join partner: same length, independent draw (the reference's
    // similarity-join shape: profile of ts's windows against query's)
    val query = Array.fill(n)(rng.nextDouble())

    def time[T](name: String, denom: Long)(body: => T): Unit = {
      for (_ <- 1 to WarmupReps) body // JIT + FFT plan cache
      val (secs, loads) = (1 to TimedReps).map { _ =>
        val load = graft.Bench.load1()
        (Harness.timed(body)._2, load)
      }.unzip
      val sorted = secs.sorted
      val (best, median) = (sorted.head, sorted(sorted.length / 2))
      val loadStr = loads.map(l => f"$l%.1f").mkString("/")
      println(f"$name%-10s n=$n w=$w: best $best%.3f s  median $median%.3f s  " +
        f"(${denom / best}%.0f subseq/s at best)  load1=$loadStr")
    }

    val plen = (n - w + 1).toLong
    if (only("mpx")) time("mpx", plen)(Mpx.mpxSelf(ts, w))
    if (only("mpx_ab")) time("mpx_ab", plen)(Mpx.mpxAb(ts, query, w))
    if (only("stomp")) time("stomp", plen)(Stomp.stomp(ts, w))
    if (only("scrimp++") && n <= (1 << 15))
      time("scrimp++", plen)(Scrimp.scrimpPlusPlus(ts, w))
  }
}
