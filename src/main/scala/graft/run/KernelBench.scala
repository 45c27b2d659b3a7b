package graft.run

import graft.kernels.{Mpx, Scrimp, Stomp}

/** Single-series kernel throughput at the reference's own benchmark
  * config (BASELINE.md: random uniform, n=2^15, w=32, single thread).
  * Best of 3 timed reps after one warmup, load-stamped per rep so a
  * contaminated best is visible (the r5 lesson: a single rep under host
  * load reads as a kernel regression).
  */
object KernelBench {
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
      body // warmup (JIT + FFT plan cache)
      var best = Double.MaxValue
      var loads = Vector.empty[Double]
      for (_ <- 1 to 3) {
        loads :+= graft.Bench.load1()
        best = math.min(best, Harness.timed(body)._2)
      }
      val loadStr = loads.map(l => f"$l%.1f").mkString("/")
      println(f"$name%-10s n=$n w=$w: $best%.3f s  (${denom / best}%.0f " +
        f"subseq/s)  load1=$loadStr")
    }

    val plen = (n - w + 1).toLong
    if (only("mpx")) time("mpx", plen)(Mpx.mpxSelf(ts, w))
    if (only("mpx_ab")) time("mpx_ab", plen)(Mpx.mpxAb(ts, query, w))
    if (only("stomp")) time("stomp", plen)(Stomp.stomp(ts, w))
    if (only("scrimp++") && n <= (1 << 15))
      time("scrimp++", plen)(Scrimp.scrimpPlusPlus(ts, w))
  }
}
