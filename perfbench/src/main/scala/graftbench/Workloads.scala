package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ingest.TranscriptGen
import graft.kernels.Mpx
import graft.rollup.Rollup
import graft.run.{Ledger, PipelineMain}
import graft.schema.{LedgerRow, MpProfileRow}
import Main.{deleteDir, dirBytes}

/** Seeded sizing shared by the workloads. */
object Sizing {
  private def pos(h: Long, mod: Int): Int = (((h % mod) + mod) % mod).toInt

  /** Turns of generated conversation `k`, as TranscriptGen draws them. */
  def turns(seed: Long, k: Long): Int = 24 + pos(TranscriptGen.hash(seed, k, 1), 200)

  /** Fewest conversations whose turns reach `target`, so every seed gives
    * the same input size up to one conversation.
    */
  def convsFor(seed: Long, target: Long): Int = {
    var n = 0; var sum = 0L
    while (sum < target) { sum += turns(seed, n); n += 1 }
    n
  }

  def draw(seed: Long, a: Long, b: Long, mod: Int): Int = pos(TranscriptGen.hash(seed, a, b), mod)

  /** `kernels.mpx_pairs_per_s`: single-thread `Mpx.mpxSelf` on one
    * 2^15-point series (token lengths of hot generated conversations).
    * Pairs are the distances MPX evaluates: diagonals past the exclusion
    * zone, ceil(w/4), of the (n - w + 1)-long profile.
    */
  def kernelRate(seed: Long, w: Int): Map[String, Double] = {
    val n = 1 << 15
    val ts = Iterator.from(0).flatMap(k => TranscriptGen.genPoints(seed, k, 200))
      .map(_.value).take(n).toArray
    val (_, s) = Main.timed(Mpx.mpxSelf(ts, w))
    val diagonals = (n - w + 1L) - math.ceil(w / 4.0).toLong
    Map("kernels.mpx_pairs_per_s" -> (diagonals - 1).toDouble * diagonals / 2 / s)
  }
}

/** The product path `PipelineMain.run` over a seeded transcript table
  * that includes the fixed fixtures (seed 42, so the c_sample golden gate
  * holds for every seed).
  */
final class PipelineBatch(c: Ctx) extends Workload {
  import c.spark.implicits._
  private val spark = c.spark
  private val out = s"${c.work}/pipeline"
  private val w = 32
  private val numConvs = Sizing.convsFor(c.seed, PipelineBatch.TargetTurns)
  private val laterStages = Seq("series_points", "chunks_raw", "tiers", "profiles", "discovery")
  private val layerOf = Map("series_points" -> "series", "chunks_raw" -> "compress",
    "tiers" -> "rollup", "profiles" -> "dist", "discovery" -> "kernels")
  private var points = 0L

  private def ledger = new Ledger(spark, out, s"gen:v1:convs=$numConvs")

  /** Fresh ledger holding only the pre-written transcripts stage. */
  private def resetLedger(): Unit = {
    deleteDir(s"$out/_ledger")
    ledger.markDone("transcripts", "transcripts", 0L, 0L, 0L)
  }

  def setup(): Unit = {
    deleteDir(out)
    TranscriptGen.generate(spark, numConvs, c.seed, includeFixtures = false)
      .union(spark.createDataset(TranscriptGen.fixtureConversations(PipelineBatch.FixtureSeed)))
      .write.parquet(s"$out/transcripts")
    resetLedger()
  }

  /** One untimed run on a small input of its own (a few generated
    * conversations): the same stages, jobs and kernels, so the measured
    * runs find the JIT and Spark's codegen cache warm.
    */
  def warmup(): Unit = {
    val warm = s"${c.work}/pipeline_warm"
    TranscriptGen.generate(spark, PipelineBatch.WarmConvs, c.seed + 1, includeFixtures = false)
      .write.parquet(s"$warm/transcripts")
    new Ledger(spark, warm, s"gen:v1:convs=${PipelineBatch.WarmConvs}")
      .markDone("transcripts", "transcripts", 0L, 0L, 0L)
    PipelineMain.run(spark, PipelineBatch.WarmConvs, warm, w)
    deleteDir(warm)
  }

  override def prepare(i: Int): Unit = {
    laterStages.foreach(s => deleteDir(s"$out/$s"))
    resetLedger()
  }

  def run(i: Int): Unit = PipelineMain.run(spark, numConvs, out, w)

  def work(i: Int): Double = {
    if (points == 0) points = spark.read.parquet(s"$out/series_points").count()
    points.toDouble
  }

  override def layers(i: Int, startMs: Long, endMs: Long, seconds: Double): Map[String, Double] = {
    val jobs = c.trace.window(startMs, endMs)
    val rows = spark.read.parquet(s"$out/_ledger").as[LedgerRow].collect()
      .filter(r => layerOf.contains(r.stage))
    val spans = rows.map { r =>
      val end = r.finishedAt.getTime
      (layerOf(r.stage), r, end - r.wallMs, end)
    }
    def layerJobs(l: String) = spans.filter(_._1 == l).flatMap { case (_, _, s, e) =>
      jobs.filter(j => j.startMs >= s && j.startMs <= e)
    }.toSeq
    def row(l: String) = spans.find(_._1 == l).map(_._2).get
    val walls = spans.map { case (l, r, _, _) => s"$l.wall_s" -> r.wallMs / 1e3 }.toMap
    val series = c.trace.sums(layerJobs("series"))
    val compress = c.trace.sums(layerJobs("compress"))
    val rollup = c.trace.sums(layerJobs("rollup"))
    val dist = c.trace.sums(layerJobs("dist"))
    val tierRow = row("rollup")
    val subsequences = spark.read.parquet(s"$out/profiles")
      .select(sum(size($"mp"))).as[Long].first()
    walls ++ Map(
      "series.task_s" -> series.taskS, "series.gc_s" -> series.gcS,
      "series.shuffle_mb" -> series.shuffleMb, "series.spill_mb" -> series.spillMb,
      "series.rows_out" -> row("series").rowsOut.toDouble,
      "compress.task_s" -> compress.taskS,
      "compress.bytes_per_point" -> dirBytes(s"$out/chunks_raw").toDouble / tierRow.rowsIn,
      "rollup.task_s" -> rollup.taskS, "rollup.gc_s" -> rollup.gcS,
      "rollup.shuffle_mb" -> rollup.shuffleMb, "rollup.spill_mb" -> rollup.spillMb,
      "rollup.rows_in" -> tierRow.rowsIn.toDouble, "rollup.rows_out" -> tierRow.rowsOut.toDouble,
      "dist.task_s" -> dist.taskS, "dist.gc_s" -> dist.gcS, "dist.shuffle_mb" -> dist.shuffleMb,
      "dist.tasks" -> dist.tasks.toDouble, "dist.max_task_s" -> dist.maxTaskS,
      "dist.subsequences" -> subsequences.toDouble,
      "kernels.discovery_s" -> walls("kernels.wall_s"),
      "run.jobs" -> jobs.size.toDouble,
      "run.overhead_s" -> (seconds - walls.values.sum))
  }

  override def finish(medians: Map[String, Double]): Map[String, Double] =
    medians - "kernels.wall_s"

  override def tracedExtras(): Map[String, Double] = Sizing.kernelRate(c.seed, w)

  def gates(): Seq[(String, Boolean)] = {
    def golden(name: String) = {
      val src = scala.io.Source.fromFile(s"src/test/resources/ref/$name")
      try src.getLines().map(_.trim).filter(_.nonEmpty).map(_.toDouble).toArray
      finally src.close()
    }
    val sample = spark.read.parquet(s"$out/profiles").as[MpProfileRow]
      .where($"conv_id" === "c_sample" && $"kind" === "gap_s" && $"tier" === "raw")
      .collect()
    val mp = golden("mpx_mp.txt")
    val mpi = golden("mpx_mpi.txt").map(_.toLong - 1)
    val goldenOk = sample.length == 1 && sample.head.mp.length == mp.length &&
      sample.head.mp.zip(mp).forall { case (a, b) => a == b || math.abs(a - b) < 1.5e-4 } &&
      sample.head.pi.toSeq == mpi.toSeq
    val raw = spark.read.parquet(s"$out/series_points")
      .where($"kind" === "token_len_t").count()
    val tierCounts = Seq("m1_full", "h1_full", "d1").map { t =>
      t -> spark.read.parquet(s"$out/tiers/$t").agg(sum($"cnt")).as[Long].first()
    }
    Seq("c_sample gap_s profile == mpx_mp.txt (4 dp) and mpx_mpi.txt" -> goldenOk) ++
      tierCounts.map { case (t, n) => s"sum(cnt) of $t == raw points ($raw)" -> (n == raw) }
  }
}

object PipelineBatch {
  /** Generated turns per input (plus the fixed fixture conversations). */
  val TargetTurns = 12000L
  val FixtureSeed = 42L
  val WarmConvs = 5
}

/** The ops-family queries of `Layers.Queries` (text, dedup and LSH
  * candidate pairs, embedding and media near-duplicates) and
  * `q40_incremental_rollup` (the battery's `Rollup.maintainTier` call),
  * one whole pass per group in a seed-permuted order, over tables
  * generated from a fixed data seed so the committed result digests
  * apply. Each timed operation collects one query's rows; its digest is
  * checked untimed.
  */
final class QueryBattery(c: Ctx) extends Workload {
  import c.spark.implicits._
  private val spark = c.spark
  private val dir = s"${c.work}/sf"
  private val names = Layers.Queries
  private val order = new scala.util.Random(c.seed).shuffle(names).toVector
  private val expected: Map[String, (Long, String)] =
    if (c.recordDigests) Map.empty else Digest.load(c.digests)
  private var recorded = Map.empty[String, (Long, String)]
  private var last: (DataFrame, Array[Row]) = _

  def setup(): Unit = {
    deleteDir(dir)
    BatteryData.write(spark, dir)
  }

  private def release(): Unit = {
    graft.util.StageCache.release(spark)
    spark.catalog.clearCache()
  }

  /** One untimed pass over a table set of its own, of the measured size,
    * so the measured pass finds the JIT and Spark's codegen cache warm.
    * The queries run concurrently: a cold pass is mostly code generation
    * and JIT compilation, which overlap across queries. A warm-up failure
    * is printed, not fatal: the measured pass runs and checks every query.
    */
  def warmup(): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val warm = s"${c.work}/sf_warm"
    BatteryData.write(spark, warm)
    Await.result(Future.traverse(names) { q =>
      Future(graft.SparkEntry.queries(q)(spark, warm).collect().length)
        .recover { case e: Exception => println(s"[warmup] $q failed: $e"); 0 }
    }, Duration.Inf)
    release()
    deleteDir(warm)
  }

  override def groupSize: Int = names.size

  def run(i: Int): Unit = {
    val q = order(i % order.size)
    c.trace.layer(q) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      last = (df, df.collect())
    }
  }

  def work(i: Int): Double = 1.0

  /** Checks the digest; in record mode saves it instead, and writes the
    * rows and the oracle SQL under the work dir for a DuckDB check.
    */
  override def after(i: Int): Boolean = {
    val q = order(i % order.size)
    val (df, rows) = last
    val got = (rows.length.toLong, Digest.of(df.schema, rows))
    println(s"[query] $q rows=${got._1}")
    if (c.recordDigests && !recorded.contains(q)) {
      df.coalesce(1).write.parquet(s"${c.work}/verify/$q")
      recorded += q -> got
      if (recorded.size == names.size) {
        Digest.save(c.digests, recorded)
        Digest.saveOracleSql(s"${c.work}/verify/oracle_sql.json")
      }
    }
    release()
    c.recordDigests || expected.get(q).contains(got)
  }

  /** 1m buckets the q40 delta (its last two days of events) touches. */
  private lazy val q40Touched: Long = {
    val micros = spark.read.parquet(s"$dir/events.parquet")
      .select($"user_id", unix_micros($"ts").as("t"))
    val cut = micros.agg(max($"t")).as[Long].first() - 2 * Rollup.TierStep("1d")
    micros.where($"t" >= cut)
      .select($"user_id", ($"t" - pmod($"t", lit(Rollup.MicrosPerMin))).as("m"))
      .distinct().count()
  }

  override def layers(i: Int, startMs: Long, endMs: Long, seconds: Double): Map[String, Double] = {
    val q = order(i % order.size)
    val s = c.trace.sums(c.trace.window(startMs, endMs))
    val perQuery = Map(s"queries.${q}_s" -> seconds)
    if (Layers.isOps(q))
      perQuery ++ Map(s"ops.task_s.$q" -> s.taskS, s"ops.shuffle_mb.$q" -> s.shuffleMb,
        s"ops.max_task_s.$q" -> s.maxTaskS)
    else perQuery ++ Map("rollup.maintain_wall_s" -> seconds,
      "rollup.maintain_task_s" -> s.taskS, "rollup.maintain_shuffle_mb" -> s.shuffleMb,
      "rollup.rewrite_ratio" -> last._2.length.toDouble / q40Touched)
  }

  override def finish(medians: Map[String, Double]): Map[String, Double] = {
    def total(prefix: String) = medians.collect { case (k, v) if k.startsWith(prefix) => v }
    medians.filter { case (k, _) => k.startsWith("queries.") || k.startsWith("rollup.") } ++ Map(
      "battery.ops_s" -> names.filter(Layers.isOps).map(q => medians(s"queries.${q}_s")).sum,
      "ops.task_s" -> total("ops.task_s.").sum,
      "ops.shuffle_mb" -> total("ops.shuffle_mb.").sum,
      "ops.max_task_s" -> (0.0 +: total("ops.max_task_s.").toSeq).max)
  }

  /** Every operation already checked its digest; nothing left to gate. */
  def gates(): Seq[(String, Boolean)] = Seq.empty
}
