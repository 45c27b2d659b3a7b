package graft.run

import graft.Analyze
import graft.kernels._

/** CLI analog of the reference's catch-all `analyze()` entry point
  * (ref analyze.py:173-270): read a 1-column series file, print what
  * `Analyze.analyze(ts, Seq(w))` returns — the exact matrix profile with
  * its top-3 motifs and discords — plus regimes, snippets and statistics.
  * Usage: runMain graft.run.AnalyzeMain <file> [window].
  */
object AnalyzeMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: AnalyzeMain <series.txt> [window]")
    val src = scala.io.Source.fromFile(args(0))
    val ts = try src.getLines().map(_.trim).filter(_.nonEmpty).map(_.toDouble).toArray
    finally src.close()
    val w = if (args.length > 1) args(1).toInt else 32

    val Analyze.MpResult(p) = Analyze.analyze(ts, Seq(w)): @unchecked
    println(f"series n=${ts.length} w=$w profileLen=${p.mp.length} minMp=${p.mp.min}%.6f " +
      s"algorithm=${p.algorithm} ez=${p.ez}")
    println(s"top${p.discords.length} discords: " + p.discords.mkString(", "))
    println(s"top${p.motifs.length} motifs: " + p.motifs.map(m =>
      s"(${m.motifs._1},${m.motifs._2}) neighbors=${m.neighbors.length}").mkString(" | "))

    val cac = Fluss.cac(p.pi, w)
    println("regimes: " + Fluss.extractRegimes(cac, w, 3).mkString(", "))

    if (ts.length >= 4 * w) {
      val snips = Snippets.snippets(ts, 2 * w, 2, w)
      println("snippets: " + snips.map(s => f"idx=${s.index} frac=${s.fraction}%.3f").mkString(" | "))
    }

    val st = Statistics.statistics(ts, w)
    println(f"stats: mean=${st.mean}%.6f std=${st.std}%.6f median=${st.median}%.6f")
  }
}
