package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.schema.Transcript

/** Deterministic synthetic transcript table (zero-egress stand-in for the
  * production Iceberg scan). Every field is a pure function of
  * (seed, conv_id, turn_idx) via splitmix64 mixing, so any subset of the
  * table regenerates identically on any executor — no RNG state crosses
  * task boundaries, and the same table is reproduced at every parallelism
  * level (the invariance the scaling benchmark relies on).
  *
  * Fixture conversations (see FIXTURES.md §1):
  *  - c_sample: 876 turns whose inter-turn gap encodes the reference's
  *    sampledata.txt (gap_i = 60 + v_i seconds, µs-quantized), so the
  *    derived gap-seconds series reproduces the reference input and the
  *    golden MP gates apply at the pipeline level.
  *  - c_gappy: minutes 10-19 of each hour missing (gap-fill path).
  *  - c_hot: ~100x the median turn count (skew/salting path).
  *  - c_const: constant gaps and text lengths (sigma=0 guards).
  */
object TranscriptGen {

  val EpochMicros: Long = 1704067200L * 1000000L // 2024-01-01T00:00:00Z

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0): Long =
    splitmix64(splitmix64(seed ^ splitmix64(a)) ^ b)

  private def pos(h: Long, mod: Int): Int = (((h % mod) + mod) % mod).toInt

  /** Build a java.sql.Timestamp carrying full microsecond precision
    * (Timestamp(millis) alone would truncate the µs the c_sample golden
    * encoding needs; Spark's TimestampType stores µs).
    */
  def tsFromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  val Roles = Array("user", "assistant", "tool")
  val Tools = Array("search", "bash", "edit", "read", "fetch", "sql", "plot", "diff")

  /** Deterministic text of exactly `len` chars derived from the key. */
  def mkText(seed: Long, convId: String, turnIdx: Int, len: Int): String = {
    val h = hash(seed, convId.hashCode.toLong, turnIdx.toLong)
    val base = s"turn $turnIdx of $convId h=${java.lang.Long.toHexString(h)} "
    val sb = new java.lang.StringBuilder(len + base.length)
    while (sb.length < len) sb.append(base)
    sb.substring(0, math.max(len, 0))
  }

  /** All turns of one conversation — pure function of (seed, k). */
  def genConversation(seed: Long, k: Long, hotFactor: Int = 1): Seq[Transcript] = {
    val convId = f"c$k%06d"
    val h0 = hash(seed, k)
    val nTurns = (24 + pos(hash(seed, k, 1), 200)) * hotFactor
    val startMicros = EpochMicros + pos(h0, 86400) * 1000000L
    var ts = startMicros
    (0 until nTurns).map { i =>
      val hi = hash(seed, k, 1000L + i)
      val gapS = 10 + pos(hi, 290) // 10..299 s
      if (i > 0) ts += gapS * 1000000L
      val role = Roles(if (pos(hi, 7) == 6) 2 else i % 2)
      val len = 20 + pos(hash(seed, k, 2000L + i), 480)
      Transcript(convId, i, role,
        mkText(seed, convId, i, len),
        if (role == "tool") Tools(pos(hi, Tools.length)) else "",
        tsFromMicros(ts))
    }
  }

  lazy val sampledata: Array[Double] = {
    val in = getClass.getResourceAsStream("/ref/sampledata.txt")
    val src = scala.io.Source.fromInputStream(in)
    try src.getLines().map(_.trim).filter(_.nonEmpty).map(_.toDouble).toArray
    finally src.close()
  }

  /** Fixture conversations with controlled series shapes. */
  def fixtureConversations(seed: Long): Seq[Transcript] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Transcript]
    // c_sample — gap-encodes sampledata at µs precision
    var ts = EpochMicros
    val sd = sampledata
    for (i <- 0 to sd.length) {
      if (i > 0) ts += math.round((60.0 + sd(i - 1)) * 1e6)
      val len = 20 + (if (i < sd.length) math.max(0, math.round((sd(i) + 4) * 100)).toInt else 0)
      out += Transcript("c_sample", i, Roles(i % 2),
        mkText(seed, "c_sample", i, len), "", tsFromMicros(ts))
    }
    // c_gappy — one turn per minute, minutes 10-19 of each hour missing
    ts = EpochMicros
    var idx = 0
    for (m <- 0 until 360 if m % 60 < 10 || m % 60 >= 20) {
      out += Transcript("c_gappy", idx, Roles(idx % 2),
        mkText(seed, "c_gappy", idx, 40 + (m % 30)), "",
        tsFromMicros(EpochMicros + m * 60000000L))
      idx += 1
    }
    // c_const — constant gap, constant text length
    for (i <- 0 until 256)
      out += Transcript("c_const", i, Roles(i % 2),
        mkText(seed, "c_const", i, 64), "",
        tsFromMicros(EpochMicros + i * 30000000L))
    out.toSeq ++ genConversation(seed, -1, hotFactor = 100)
      .map(t => t.copy(conv_id = "c_hot"))
  }

  /** Token-length series points for one conversation WITHOUT materializing
    * text — value = the exact length mkText would produce (`20 + pos(hash)`
    * by construction, asserted equivalent in tests). Benchmark-scale
    * generation path: no multi-GB string churn.
    */
  def genPoints(seed: Long, k: Long, turnsScale: Int = 1): Seq[graft.schema.SeriesPoint] = {
    val convId = f"c$k%06d"
    val h0 = hash(seed, k)
    val nTurns = (24 + pos(hash(seed, k, 1), 200)) * turnsScale
    val startMicros = EpochMicros + pos(h0, 86400) * 1000000L
    var ts = startMicros
    (0 until nTurns).map { i =>
      val hi = hash(seed, k, 1000L + i)
      val gapS = 10 + pos(hi, 290)
      if (i > 0) ts += gapS * 1000000L
      val len = 20 + pos(hash(seed, k, 2000L + i), 480)
      graft.schema.SeriesPoint(convId, "tok", ts, len.toDouble)
    }
  }

  /** Distributed string-free points generation (benchmark path), in the
    * layout the colocated rollup requires, stated in the plan: hash
    * partitioned by conv_id, sorted by (conv_id, kind, bucket).
    */
  def generatePoints(spark: SparkSession, numConvs: Int, seed: Long = 42L,
      turnsScale: Int = 1): Dataset[graft.schema.SeriesPoint] = {
    import spark.implicits._
    val parts = math.max(1, math.min(numConvs, spark.sparkContext.defaultParallelism * 2))
    spark.range(0, numConvs.toLong, 1, parts)
      .flatMap(k => genPoints(seed, k, turnsScale))
      .repartition(parts, $"conv_id").sortWithinPartitions($"conv_id", $"kind", $"bucket")
  }

  /** Distributed generation: one task per conversation-range.
    * `turnsScale` multiplies every conversation's turn count (benchmark
    * knob to make per-series compute dominate task overhead).
    */
  def generate(spark: SparkSession, numConvs: Int, seed: Long = 42L,
      includeFixtures: Boolean = true, turnsScale: Int = 1): Dataset[Transcript] = {
    import spark.implicits._
    val base = spark.range(0, numConvs.toLong, 1,
        math.max(1, math.min(numConvs, spark.sparkContext.defaultParallelism * 2)))
      .flatMap(k => genConversation(seed, k, hotFactor = turnsScale))
    if (includeFixtures) {
      val fixtures = spark.createDataset(fixtureConversations(seed))
      base.union(fixtures)
    } else base
  }
}
