package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import graft.schema.{SeriesPoint, Transcript}
import graft.series.Derive

/** Golden fixture loaders (files copied verbatim from the reference's
  * tests/ directory, see FIXTURES.md §2), and the rollup input the specs
  * derive from transcripts.
  */
object Fixtures {
  def load(name: String): Array[Double] = {
    val in = getClass.getResourceAsStream(s"/ref/$name")
    require(in != null, s"missing fixture $name")
    val src = scala.io.Source.fromInputStream(in)
    try src.getLines().map(_.trim).filter(_.nonEmpty).map(_.toDouble).toArray
    finally src.close()
  }

  lazy val sampledata: Array[Double] = load("sampledata.txt")

  /** The `token_len_t` series the pipeline rolls into tiers. */
  def tokenLenT(transcripts: Dataset[Transcript]): Dataset[SeriesPoint] =
    Derive.series(transcripts).where(col("kind") === Derive.TokenLenT)

  /** Run `body` on a fresh temp directory named `prefix…`, deleted with
    * everything in it afterwards.
    */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** Run `body` with the executor's and the task set manager's logging
    * off, restored afterwards: a spec that expects a task to fail asserts
    * on the error it gets, and their two copies of its stack trace only
    * bury the test log.
    */
  def withoutTaskFailureLogs[A](body: => A): A = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val levels = Seq("org.apache.spark.executor.Executor",
      "org.apache.spark.scheduler.TaskSetManager").map(n => n -> LogManager.getLogger(n).getLevel)
    levels.foreach { case (n, _) => Configurator.setLevel(n, Level.OFF) }
    try body
    finally levels.foreach { case (n, l) => Configurator.setLevel(n, l) }
  }

  def assertAlmostEqual(actual: Array[Double], desired: Array[Double],
      decimal: Int = 7): Unit = {
    assert(actual.length == desired.length,
      s"length mismatch: ${actual.length} vs ${desired.length}")
    val tol = 1.5 * math.pow(10, -decimal)
    for (i <- actual.indices) {
      val a = actual(i); val d = desired(i)
      val ok = (a.isNaN && d.isNaN) ||
        (a.isPosInfinity && d.isPosInfinity) ||
        (a.isNegInfinity && d.isNegInfinity) ||
        math.abs(a - d) < tol
      assert(ok, s"index $i: $a != $d (tol $tol)")
    }
  }
}
