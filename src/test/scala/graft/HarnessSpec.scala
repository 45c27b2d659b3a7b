package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.run.Harness
import graft.run.ScalingBench.{Config, Trial, cleanestPair, parseTrial, trialJson}

/** The shared `run/` harness: ScalingBench's checkpoint format and
  * cleanest-pair selector, and StageMetrics' deterministic drain.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark = Harness.session("graft-harness-test", cpus = 2)

  override def afterAll(): Unit = spark.stop()

  private val cfg = Config("pipeline", convs = 20, turnsScale = 2, buckets = 0)
  private def trial(cpus: Int, round: Int, steal: Double = 0.01, ext: Double = 0.01,
      load: Double = 1.0): Trial =
    Trial(cpus, round, load, steal, ext, rollupSec = 1.25, mpSec = 2.5,
      genericSec = Double.NaN, chunksSec = Double.NaN, points = 4330, rolled = 4264,
      subseq = 3731, chunks = 0)

  test("a scaling trial round-trips through its checkpoint line; a NaN leg is null") {
    val line = trialJson(trial(4, 2), cfg)
    assert(line.contains("\"generic_sec\":null"), line)
    assert(!line.contains("NaN"), line)
    val back = parseTrial(line, cfg)
    assert(back.isDefined, line)
    assert(back.get.genericSec.isNaN && back.get.chunksSec.isNaN)
    assert(back.get.copy(genericSec = 0, chunksSec = 0) ==
      trial(4, 2).copy(genericSec = 0, chunksSec = 0))
    assert(back.map(trialJson(_, cfg)).contains(line))
  }

  test("a checkpoint line from a different workload config is rejected") {
    val line = trialJson(trial(4, 2), cfg)
    assert(parseTrial(line, cfg.copy(convs = 21)).isEmpty)
    assert(parseTrial(line, cfg.copy(turnsScale = 3)).isEmpty)
    assert(parseTrial(line, cfg.copy(buckets = 64)).isEmpty)
    assert(parseTrial(line, cfg.copy(leg = "pipeline+generic")).isEmpty)
    // a line without the workload fields (an older format) is rejected too
    assert(parseTrial("""{"cpus":4,"round":2,"load":1.00,"rollup_sec":1.250}""", cfg).isEmpty)
  }

  test("the cleanest pair has the lowest worst-of-pair contention and skips round 1") {
    val trials = Seq(
      trial(4, 1, steal = 0.0, ext = 0.0), trial(16, 1, steal = 0.0, ext = 0.0),
      trial(4, 2, steal = 0.02), trial(16, 2, ext = 0.30),
      trial(4, 3, ext = 0.05, load = 9.0), trial(16, 3, steal = 0.04),
      trial(4, 4, steal = -1.0), trial(16, 4)) // unreadable /proc counts as 1.0
    val (round, lo, hi, load, contention) = cleanestPair(trials, 4, 16)
    assert(round == 3)
    assert(lo.cpus == 4 && hi.cpus == 16 && lo.round == 3 && hi.round == 3)
    assert(contention == 0.05 && load == 9.0)
    // round 1 is chosen only when no later round has both levels
    assert(cleanestPair(trials.take(3), 4, 16)._1 == 1)
  }

  test("StageMetrics.drain counts a finished shuffle job, and a second drain " +
      "returns the same totals") {
    import spark.implicits._
    val metrics = new Harness.StageMetrics(spark)
    try {
      spark.range(0, 1000, 1, 4).groupBy(($"id" % 7).as("k")).count().collect()
      val first = metrics.drain()
      assert(first.jobs >= 1, first)
      assert(first.shuffleWrite > 0, first)
      assert(first.peakStageShuffleWrite > 0 &&
        first.peakStageShuffleWrite <= first.shuffleWrite, first)
      assert(first.tasks >= first.stages.size, first)
      assert(metrics.drain() == first)
    } finally metrics.close()
  }
}
