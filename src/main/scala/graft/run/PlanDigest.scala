package graft.run

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query physical-plan digest: the round-over-round diffable summary
  * (exchange/broadcast/scan/codegen counts + filter pushdown) that makes a
  * plan regression — a lost broadcast, a new shuffle — visible without
  * re-reading code. Counts come from the formatted explain's numbered
  * node-detail headers (`(5) Exchange`), so each physical node counts
  * exactly once. Bench writes the query digests under SPARK_GRAFT_EXPLAIN=1.
  *
  * The main builds plans without running them (beyond the tiny plan-time
  * jobs some builders run). Usage: `runMain graft.run.PlanDigest <mode>`:
  *   - `digest [sfDir] [prefix] [outJson]`: print each query's digest and
  *     optionally write the name → digest JSON;
  *   - `dump <outDir> <tag> [sfDir] [prefix]`: also write each query's full
  *     formatted plan to `<outDir>/<query>_<tag>.txt`;
  *   - `pipeline [convs] [turnsScale]`: the two pipeline legs' digests at
  *     any corpus size (equal at 1× and 10×: only task counts grow).
  */
object PlanDigest {

  final case class Digest(exchanges: Int, broadcasts: Int, scans: Int,
      codegenSpans: Int, pushedFilters: Boolean) {
    def json: String =
      s"""{"exchanges":$exchanges,"broadcasts":$broadcasts,"scans":$scans,""" +
        s""""codegen_spans":$codegenSpans,"pushed_filters":$pushedFilters}"""
  }

  private val nodeHeader = """(?m)^\((\d+)\) (\S+)""".r
  private val codegenId = """codegen id : (\d+)""".r

  private def formatted(df: DataFrame): String = df.queryExecution.explainString(
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def of(df: DataFrame): Digest = parse(formatted(df))

  private def parse(plan: String): Digest = {
    val nodes = nodeHeader.findAllMatchIn(plan).map(_.group(2)).toSeq
    Digest(nodes.count(_ == "Exchange"), nodes.count(_ == "BroadcastExchange"),
      nodes.count(_ == "Scan"), codegenId.findAllMatchIn(plan).map(_.group(1)).toSet.size,
      plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"))
  }

  /** Plan every SparkEntry query whose name starts with `prefix`, once
    * each, handing `each` the formatted plan (or the builder's error);
    * returns name → digest JSON.
    */
  private def planAll(spark: SparkSession, sfDir: String, prefix: String)(
      each: (String, Either[Throwable, String]) => Unit): Seq[(String, String)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.startsWith(prefix))
      .map { case (name, fn) =>
        val plan = try Right(formatted(fn(spark, sfDir)))
          catch { case e: Throwable => Left(e) }
        each(name, plan)
        graft.util.StageCache.release(spark)
        name -> plan.fold(e => s"""{"error":"${e.getClass.getSimpleName}"}""",
          parse(_).json)
      }

  private def writeJson(path: String, digests: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(path), digests.map { case (n, d) => "\"" + n + "\":" + d }
      .mkString("{\n", ",\n", "\n}\n"))

  /** Digest every SparkEntry query and write one JSON object
    * name → digest to `path`.
    */
  def writeAll(spark: SparkSession, sfDir: String, path: String): Unit =
    writeJson(path, planAll(spark, sfDir, "")((_, _) => ()))

  def main(args: Array[String]): Unit = {
    def arg(i: Int, default: String) = if (args.length > i) args(i) else default
    val mode = arg(0, "digest")
    require(Set("digest", "dump", "pipeline")(mode),
      s"unknown mode '$mode': digest | dump | pipeline")
    val spark = Harness.session("graft-plan-digest")
    def show(name: String, plan: Either[Throwable, String]): Unit = plan match {
      case Right(text) =>
        val d = parse(text)
        println(s"=== $name: exchanges=${d.exchanges} broadcasts=${d.broadcasts} " +
          s"scans=${d.scans} codegenSpans=${d.codegenSpans} pushedFilters=${d.pushedFilters}")
      case Left(e) => println(s"=== $name: ERROR ${e.getMessage}")
    }
    mode match {
      case "digest" =>
        val digests = planAll(spark, arg(1, "/root/testdata/sf0.001"), arg(2, "q"))(show)
        if (args.length > 3) writeJson(args(3), digests)
      case "dump" =>
        val (outDir, tag) = (arg(1, "plans/r08"), arg(2, "before"))
        Files.createDirectories(Paths.get(outDir))
        planAll(spark, arg(3, "/root/testdata/sf0.1"), arg(4, "q")) { (name, plan) =>
          show(name, plan)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
            plan.fold(e => s"ERROR: ${e.getClass.getName}: ${e.getMessage}\n", identity))
        }
      case "pipeline" =>
        val convs = arg(1, "8000").toInt
        val turnsScale = arg(2, "25").toInt
        println(s"""{"convs":$convs,"turns_scale":$turnsScale,""" +
          s""""digest":${graft.Bench.pipelineDigests(spark, convs, turnsScale)}}""")
    }
    spark.stop()
  }
}
