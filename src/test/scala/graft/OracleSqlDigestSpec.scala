package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The SHA-256 of every `SparkEntry.oracleSql` string, one `name<TAB>hex`
  * line per query, sorted by name.
  *
  * Re-record the committed table after an intended oracle change with
  * `sbt -batch "Test/runMain graft.OracleSqlDigest src/test/resources/oracle_sql.sha256"`.
  */
object OracleSqlDigest {
  val Resource = "/oracle_sql.sha256"

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  def table: Seq[(String, String)] =
    SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (q, sql) => q -> sha256(sql) }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: OracleSqlDigest <out.sha256>")
    Files.write(Paths.get(args(0)),
      table.map { case (q, h) => s"$q\t$h\n" }.mkString.getBytes(UTF_8))
  }
}

/** Pins the oracle text: refactors of the SQL builders must leave every
  * `oracleSql` entry byte-identical to the committed digest table.
  */
class OracleSqlDigestSpec extends AnyFunSuite {

  test("every SparkEntry.oracleSql entry matches its committed SHA-256") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(OracleSqlDigest.Resource), "UTF-8")
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(q, h) = l.split('\t'); q -> h
    }.toMap finally src.close()
    val now = OracleSqlDigest.table.toMap
    assert(now.keySet == pinned.keySet,
      s"queries added: ${now.keySet -- pinned.keySet}; removed: ${pinned.keySet -- now.keySet}")
    val changed = now.keys.toSeq.sorted.filter(q => now(q) != pinned(q))
    assert(changed.isEmpty, s"oracle SQL text changed for: ${changed.mkString(", ")}")
  }
}
