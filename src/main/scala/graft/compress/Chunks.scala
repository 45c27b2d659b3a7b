package graft.compress

import org.apache.spark.sql.Dataset
import graft.schema.SeriesPoint

/** Compressed per-(conversation, kind) chunk structs: Gorilla XOR value
  * bytes + delta-of-delta timestamp bytes, at most `maxPoints` points per
  * chunk. The cap bounds a chunk's size, not a task's: `encode` sends each
  * (conv, kind) series to one task, whose sort by bucket spills to disk
  * rather than holding the series, and cuts chunks as the sorted points
  * stream by.
  */
final case class SeriesChunk(
    conv_id: String,
    kind: String,
    chunkIdx: Int,
    startBucket: Long,
    count: Int,
    tsBytes: Array[Byte],
    valBytes: Array[Byte])

object Chunks {

  def encode(points: Dataset[SeriesPoint], maxPoints: Int = 65536): Dataset[SeriesChunk] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .groupBy($"conv_id", $"kind").as[(String, String), SeriesPoint]
      .flatMapSortedGroups($"bucket") { (key, it) =>
        it.grouped(maxPoints).zipWithIndex.map { case (chunk, idx) =>
          SeriesChunk(key._1, key._2, idx, chunk.head.bucket, chunk.length,
            Gorilla.encodeTimestamps(chunk.map(_.bucket).toArray),
            Gorilla.encodeValues(chunk.map(_.value).toArray))
        }
      }
  }

  /** Compaction: re-chunk a fragmented chunk set (the small-file problem
    * a long-running ingest accumulates — each micro-batch appends its own
    * short chunks per conversation) back to full `maxPoints` chunks.
    * Lossless by construction: decode → re-encode through the same
    * codec, one shuffle on (conv, kind), deterministic chunk boundaries
    * from the sorted bucket order. At 100 TB this runs per Iceberg
    * partition as the retention tier's maintenance compaction.
    */
  def compact(chunks: Dataset[SeriesChunk], maxPoints: Int = 65536): Dataset[SeriesChunk] =
    encode(decode(chunks), maxPoints)

  def decode(chunks: Dataset[SeriesChunk]): Dataset[SeriesPoint] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks.flatMap { c =>
      val ts = Gorilla.decodeTimestamps(c.tsBytes, c.count)
      val vs = Gorilla.decodeValues(c.valBytes, c.count)
      (0 until c.count).iterator.map(i => SeriesPoint(c.conv_id, c.kind, ts(i), vs(i)))
    }
  }
}
