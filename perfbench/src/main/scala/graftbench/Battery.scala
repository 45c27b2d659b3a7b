package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.ingest.TranscriptGen

final case class EventRow(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

/** The query battery's input tables (events, documents, embeddings),
  * with the columns `SparkEntry.queries` reads. Generated from
  * a fixed data seed so the committed result digests hold; the benchmark
  * seed only permutes the query order.
  */
object BatteryData {
  /** Row counts of the sf0.01 test tables. */
  val Events = 10000
  val Users = 150
  val Docs = 500
  val Vectors = 500
  val DataSeed = 42L
  val Dim = 64
  val Tables = Seq("events", "documents", "embeddings")

  private val EventTypes = Array("click", "signup", "error", "view", "purchase")
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val Words = ("the fast key order sort table scan merge part window small hash " +
    "join batch stream spark group query row data slow filter customer line value " +
    "column agg a big vector").split(" ")

  private def d(a: Long, b: Long, mod: Int): Int = Sizing.draw(DataSeed, a, b, mod)
  private def round2(x: Double): Double = math.round(x * 100) / 100.0

  private def words(i: Long): Array[String] =
    Array.tabulate(8 + d(i, 1, 80))(j => Words(d(i, 100 + j, Words.length)))

  /** Every seventh document repeats its predecessor with one word changed,
    * so the dedup and LSH queries find near-duplicates.
    */
  private def text(i: Long): String =
    if (i % 7 == 6) {
      val w = words(i - 1)
      w(d(i, 2, w.length)) = Words(d(i, 3, Words.length))
      w.mkString(" ")
    } else words(i).mkString(" ")

  private def vector(i: Long): Array[Float] =
    if (i % 10 == 9) vector(i - 1).zipWithIndex.map { case (x, j) =>
      (x + (d(i, 500 + j, 1001) - 500) * 1e-5).toFloat
    }
    else Array.tabulate(Dim)(j => ((d(i, 200 + j, 10001) - 5000) * 4e-5).toFloat)

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val span = 30L * 86400 * 1000000 / Events
    spark.range(Events).map { i =>
      EventRow(i, TranscriptGen.tsFromMicros(TranscriptGen.EpochMicros + i * span + d(i, 1, span.toInt)),
        d(i, 2, Users).toLong, EventTypes(d(i, 3, EventTypes.length)),
        round2(0.01 + d(i, 4, 49001) / 100.0), s"""{"k": ${d(i, 5, 100)}}""")
    }.write.parquet(s"$dir/events.parquet")
    spark.range(Docs).map { i =>
      val t = text(i)
      DocRow(i, t, Langs(d(i, 4, Langs.length)), s"src${i % 20}", t.length.toLong)
    }.write.parquet(s"$dir/documents.parquet")
    spark.range(Vectors).map(i => EmbRow(i, vector(i), d(i, 6, 10)))
      .write.parquet(s"$dir/embeddings.parquet")
  }
}

/** Order-independent digest of a query result: columns sorted by name,
  * each row rendered to text (doubles at 9 significant digits), rows
  * sorted, MD5 of the lot.
  */
object Digest {
  private def render(v: Any): String = v match {
    case null => "null"
    case x: Double => if (x.isNaN || x.isInfinite) x.toString else "%.9g".formatLocal(java.util.Locale.ROOT, x)
    case x: Float => render(x.toDouble)
    case b: Array[Byte] => md5(b)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  def of(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => cols.map(i => render(r.get(i))).mkString("|")).sorted
    md5(lines.mkString("\n").getBytes(UTF_8))
  }

  def load(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path), UTF_8).toArray(Array.empty[String])
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, n, h) = l.split("\t")
        q -> (n.toLong, h)
      }.toMap

  def save(path: String, ds: Map[String, (Long, String)]): Unit =
    Files.writeString(Paths.get(path),
      "# query\trows\tdigest (perfbench query_battery; see README)\n" +
        ds.toSeq.sortBy(_._1).map { case (q, (n, h)) => s"$q\t$n\t$h\n" }.mkString, UTF_8)

  /** The engine's oracle SQL, for checking a recorded battery with DuckDB. */
  def saveOracleSql(path: String): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    Files.writeString(Paths.get(path), graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"), UTF_8)
  }
}
