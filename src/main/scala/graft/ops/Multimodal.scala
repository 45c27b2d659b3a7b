package graft.ops

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `binary` columns with a typed metadata struct; decode/feature-extract
  * runs batch-wise in mapPartitions (the Scala analog of mapInPandas
  * batches).
  *
  * IMAGE decode is REAL: payloads are PNG bytes (encoded by `encodePng`
  * from deterministic seeded pixels) and `decodeImage` runs
  * `javax.imageio.ImageIO` — shipped with the JDK, zero external
  * dependencies — to recover pixel-exact channel statistics. PNG is
  * lossless, so the decoded stats are hash-compared against a DuckDB
  * oracle that recomputes them in closed form from the pixel formula
  * (q37): a fake decode cannot pass that gate.
  *
  * AUDIO decode is REAL too: payloads are WAV/PCM bytes (RIFF container
  * written by `encodeWav` from deterministic seeded 16-bit samples) and
  * `decodeAudio` runs `javax.sound.sampled` — also shipped with the JDK —
  * to recover sample-exact amplitude statistics, hash-compared against a
  * closed-form DuckDB oracle the same way (q38).
  *
  * VIDEO decode remains STUBBED behind `decodeStub` (no video codec ships
  * with the JDK): a deterministic fake that hashes payload bytes into a
  * fixed-dim feature vector. The Spark-side plumbing (schema, batching,
  * partition sizing, feature schema) is identical to the real paths; swap
  * `decodeStub` for an ffmpeg/JNI call in production.
  */
object Multimodal {

  // ImageIO's default stream cache is a TEMP FILE per encode/decode: under
  // 32 concurrent decode tasks the per-op cost measured 4x the
  // single-threaded cost (file create/delete + shared-registry churn).
  // Memory-backed streams remove that; our payloads are tiny (<64 KB).
  ImageIO.setUseCache(false)

  /** The JDK's audio file readers, resolved ONCE. `AudioSystem
    * .getAudioInputStream` re-runs a SYNCHRONIZED service-provider scan on
    * every call (`JDK13Services.getProviders`) — thread-stack sampling of
    * the q39 decode stage showed 28 of 32 task threads parked inside it,
    * serializing the whole stage. Going through the same SPI
    * (`AudioFileReader`, the class `AudioSystem` itself dispatches to)
    * keeps the decode on the real JDK audio stack while paying the
    * provider scan once per JVM instead of once per row.
    */
  private lazy val audioFileReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toList
  }

  /** AudioSystem.getAudioInputStream semantics (first reader that accepts
    * the stream wins) without its per-call synchronized provider scan.
    */
  private def audioStream(bytes: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val it = audioFileReaders.iterator
    while (it.hasNext) {
      val in = new ByteArrayInputStream(bytes)
      try return it.next().getAudioInputStream(in)
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    // no cached reader accepted (unexpected for our WAV payloads): fall
    // back to the stock path and its error reporting
    javax.sound.sampled.AudioSystem.getAudioInputStream(
      new ByteArrayInputStream(bytes))
  }

  final case class MediaMeta(kind: String, width: Int, height: Int, sampleRateHz: Int)
  final case class MediaRow(media_id: Long, meta: MediaMeta, payload: Array[Byte])

  /** Feature dims q27 reports per kind: real image decode (width, height,
    * mean r/g/b, ...) and audio decode; stub-decoded video keeps `StubDim`.
    */
  val ImageDim = 8
  val AudioDim = 6
  val StubDim = 32

  /** DEDUP vector widths — the component counts of [[imageDedupVec]] /
    * [[audioDedupVec]] (NOT the feature dims above: AudioDim=6 is the
    * feature vector, the audio dedup vector has 5). q39 passes these to
    * the LSH builder so no plan-time take(1) is needed; MultimodalSpec
    * pins them to the decoders' actual output lengths so a component
    * added to a decoder fails the suite instead of silently misbucketing.
    */
  val ImageDedupDim = 8
  val AudioDedupDim = 5

  // ---- the synthetic media formulas, which OracleSqlGen recomputes from
  // the id in closed form (q27/q37/q38/q39)
  final val IdMul = 2654435761L  // pixel and sample: v = id*IdMul + ...
  final val PosMul = 7919L       //   + x*PosMul (pixel), + i*PosMul (sample)
  final val RowMul = 104729L     //   + y*RowMul (pixel)
  final val MinSide = 16         // image width MinSide + id % WidthSpan,
  final val WidthSpan = 16       //   height MinSide + id % HeightSpan
  final val HeightSpan = 8
  final val MinSamples = 200     // audio samples MinSamples + id % SampleSpan
  final val SampleSpan = 120

  /** Deterministic synthetic image geometry: width 16..31, height 16..23.
    * Integer-only so a SQL oracle can recompute it from the id.
    */
  def imageDims(id: Long): (Int, Int) =
    ((MinSide + id % WidthSpan).toInt, (MinSide + id % HeightSpan).toInt)

  /** Deterministic packed-RGB pixel: v = id*2654435761 + x*7919 + y*104729,
    * r = v%256, g = (v/256)%256, b = (v/65536)%256 — integer arithmetic
    * only, mirrored operation-for-operation by the q37 oracle SQL.
    */
  def imagePixel(id: Long, x: Int, y: Int): Int = {
    val v = id * IdMul + x * PosMul + y * RowMul
    val r = (v % 256).toInt
    val g = ((v / 256) % 256).toInt
    val b = ((v / 65536) % 256).toInt
    (r << 16) | (g << 8) | b
  }

  /** Real PNG encode of the seeded pixel field (JDK ImageIO, lossless). */
  def encodePng(id: Long): Array[Byte] = {
    val (w, h) = imageDims(id)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, imagePixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decoded-image channel statistics — the SQL-replayable facts of a real
    * decode: dimensions, per-channel sums, and a position-weighted
    * checksum sum((x*131+y)·(r+2g+3b)) that pins every pixel to its
    * coordinates (channel sums alone would pass under a pixel shuffle).
    */
  final case class ImageStats(media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** Every integer pixel sum the image consumers read (q37's stats, q39's
    * dedup vector), so one decode loop serves both.
    */
  private final case class PixelSums(w: Int, h: Int, sr: Long, sg: Long,
      sb: Long, ck: Long, srg: Long, sgb: Long, srb: Long, m1: Long, m2: Long)

  /** REAL image decode: ImageIO.read over the payload bytes. Throws on
    * undecodable payloads — a corrupt image must fail loudly, not hash
    * quietly.
    */
  private def pixelSums(mediaId: Long, payload: Array[Byte]): PixelSums = {
    val img = ImageIO.read(new ByteArrayInputStream(payload))
    require(img != null, s"media $mediaId: payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
    var srg = 0L; var sgb = 0L; var srb = 0L
    var m1 = 0L; var m2 = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 255
        val g = (rgb >> 8) & 255
        val b = rgb & 255
        sr += r; sg += g; sb += b
        ck += (x * 131L + y) * (r + 2L * g + 3L * b)
        srg += r * g; sgb += g * b; srb += r * b
        m1 += (r * g) % 251
        m2 += (g * b) % 241
        x += 1
      }
      y += 1
    }
    PixelSums(w, h, sr, sg, sb, ck, srg, sgb, srb, m1, m2)
  }

  /** REAL image decode (see [[pixelSums]]) projected to its q37 stats. */
  def decodeImage(mediaId: Long, payload: Array[Byte]): ImageStats = {
    val p = pixelSums(mediaId, payload)
    ImageStats(mediaId, p.w, p.h, p.sr, p.sg, p.sb, p.ck)
  }

  /** Deterministic audio geometry: sample count 200..319 at 8 kHz mono —
    * integer-only so a SQL oracle can recompute it from the id.
    */
  val AudioSampleRate = 8000

  def audioSamples(id: Long): Int = (MinSamples + id % SampleSpan).toInt

  /** Deterministic 16-bit PCM sample: v = id*2654435761 + i*7919;
    * s = (v % 65536) - 32768 — mirrored operation-for-operation by the
    * q38 oracle SQL (int64-safe, no wraparound).
    */
  def audioSample(id: Long, i: Int): Short =
    ((id * IdMul + i * PosMul) % 65536L - 32768L).toShort

  /** Real WAV encode of the seeded PCM samples: RIFF/fmt/data header +
    * little-endian int16 frames (the container is hand-written — it is
    * our synthetic generator — but the DECODE side goes through
    * javax.sound.sampled, the JDK's real audio stack).
    */
  def encodeWav(id: Long): Array[Byte] = {
    val n = audioSamples(id)
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(AudioSampleRate)
      .putInt(AudioSampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) { bb.putShort(audioSample(id, i)); i += 1 }
    bb.array()
  }

  /** Decoded-audio statistics — the SQL-replayable facts of a real PCM
    * decode: sample rate and count from the decoded format, sample sum,
    * absolute-amplitude sum, and a position-weighted checksum that pins
    * every sample to its frame index.
    */
  final case class AudioStats(media_id: Long, sample_rate: Int, n_samples: Long,
      sum_s: Long, sum_abs: Long, checksum: Long)

  /** Every integer sample sum the audio consumers read (q38's stats, q39's
    * dedup vector), so one decode loop serves both.
    */
  private final case class PcmSums(rate: Int, n: Long, sum: Long, sabs: Long,
      ck: Long, alt: Long, s2: Long)

  /** REAL audio decode: javax.sound.sampled over the payload bytes (WAV
    * PCM is lossless). Throws on undecodable payloads.
    */
  private def pcmSums(mediaId: Long, payload: Array[Byte]): PcmSums = {
    val in = audioStream(payload)
    try {
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"media $mediaId: expected 16-bit mono PCM, got $fmt")
      val bytes = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(bytes).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      var sum = 0L; var sabs = 0L; var ck = 0L; var alt = 0L; var s2 = 0L
      var i = 0L
      while (bb.remaining() >= 2) {
        val s = bb.getShort.toLong
        sum += s; sabs += math.abs(s); ck += i * s
        alt += (1L - 2L * (i % 2)) * s
        s2 += s * s
        i += 1
      }
      PcmSums(fmt.getSampleRate.toInt, i, sum, sabs, ck, alt, s2)
    } finally in.close()
  }

  /** REAL audio decode (see [[pcmSums]]) projected to its q38 stats. */
  def decodeAudio(mediaId: Long, payload: Array[Byte]): AudioStats = {
    val p = pcmSums(mediaId, payload)
    AudioStats(mediaId, p.rate, p.n, p.sum, p.sabs, p.ck)
  }

  /** STUB decode for video only: deterministic feature vector from
    * payload bytes. Image decode is real (ImageIO) and audio decode is
    * real (javax.sound.sampled); video containers have no JDK decoder —
    * replace with an ffmpeg/JNI call outside the sandbox.
    */
  def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1469598103934665603L
    var i = 0
    while (i < payload.length) {
      h = (h ^ payload(i)) * 1099511628211L
      out(i % dim) += ((h >>> 40).toInt & 0xffff) / 65536.0f
      i += 1
    }
    out
  }

  /** Build a synthetic media table from the documents table: image rows
    * (doc_id % 3 == 0) carry REAL PNG payloads from the seeded pixel
    * field; audio rows (doc_id % 3 == 1) carry REAL WAV/PCM payloads from
    * the seeded sample field; video rows keep UTF-8 text bytes as the
    * stand-in payload for the stub decode path.
    */
  def syntheticMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The per-row PNG/WAV encode below (and every decode consuming this
    // dataset) is CPU-heavy, but a small documents table arrives as ONE
    // scan split — without a spread the whole media pipeline serializes
    // onto a single core (SessionTuning.spread, by doc_id).
    // Spread width 8, not defaultParallelism: the codecs cost ~0.1 ms/row
    // outside Spark, so 8-way covers the compute, while the repartition's
    // partitioning propagates through caches to EVERY downstream stage of
    // the media queries — at tiny scale each extra partition is a
    // near-empty task paying fixed launch/deserialization cost.
    val spread = graft.util.SessionTuning.spread(docs.select($"doc_id", $"text"),
      math.min(8, spark.sparkContext.defaultParallelism), "doc_id")
    spread.as[(Long, String)].map { case (id, text) =>
      if (id % 3 == 0) {
        val (w, h) = imageDims(id)
        MediaRow(id, MediaMeta("image", w, h, 0), encodePng(id))
      } else if (id % 3 == 1)
        MediaRow(id, MediaMeta("audio", 0, 0, AudioSampleRate), encodeWav(id))
      else
        MediaRow(id,
          MediaMeta("video",
            width = 64 + (id % 512).toInt, height = 64 + (id % 256).toInt,
            sampleRateHz = 0),
          text.getBytes("UTF-8"))
    }
  }

  /** Driver-oracled plumbing summary: runs the full decode path per row
    * and projects the SQL-checkable facts. For image rows `content_bytes`
    * is the DECODED pixel-buffer size (width·height·3 — PNG byte counts
    * are encoder-dependent and not oracle-predictable); for audio rows the
    * decoded PCM byte count (2·n_samples); for video the raw payload size.
    * Stub feature values are spec-asserted in MultimodalSpec; real image/
    * audio values are hash-compared in q37/q38.
    */
  def featureSummary(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        m.meta.kind match {
          case "image" =>
            val s = decodeImage(m.media_id, m.payload)
            (m.media_id, m.meta.kind, ImageDim, 3L * s.width * s.height)
          case "audio" =>
            val s = decodeAudio(m.media_id, m.payload)
            (m.media_id, m.meta.kind, AudioDim, 2L * s.n_samples)
          case _ =>
            val features = decodeStub(m.payload, StubDim)
            (m.media_id, m.meta.kind, features.length, m.payload.length.toLong)
        }
      }
    }.toDF("media_id", "kind", "dim", "content_bytes")
  }

  /** Per-image decoded statistics (q37): the hash-compared evidence that
    * the decode is real — the oracle recomputes every value in closed
    * form from the pixel formula, which only a faithful PNG decode can
    * reproduce.
    */
  def imageStats(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.meta.kind == "image")
      .mapPartitions(it => it.map(m => decodeImage(m.media_id, m.payload)))
      .toDF()
  }

  /** Per-audio decoded statistics (q38): the hash-compared evidence that
    * the audio decode is real — the oracle recomputes every value in
    * closed form from the sample formula, which only a faithful PCM
    * decode can reproduce.
    */
  def audioStats(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.meta.kind == "audio")
      .mapPartitions(it => it.map(m => decodeAudio(m.media_id, m.payload)))
      .toDF()
  }

  /** Media near-dup feature vector from a REAL image decode (q39): eight
    * centered double components — per-channel means, channel-product
    * moments, and two modular mixes — every operation mirrored by the
    * closed-form oracle SQL. The product/mod components exist because the
    * synthetic pixel field is linear mod 256, so linear checksums alone
    * correlate across ids and near-parallel vectors defeat a cosine
    * dedup; the nonlinear moments decorrelate them (measured max
    * non-duplicate cosine 0.99990 at sf0.01 vs 1.0 for a payload copy).
    */
  def imageDedupVec(mediaId: Long, payload: Array[Byte]): Array[Double] = {
    val p = pixelSums(mediaId, payload)
    val n = p.w.toLong * p.h
    Array(
      p.sr / (255.0 * n) - 0.5,
      p.sg / (255.0 * n) - 0.5,
      p.sb / (255.0 * n) - 0.5,
      p.srg / (16256.25 * n) - 1.0,
      (p.sgb / (16256.25 * n) - 1.0) / 16.0,
      (p.srb / (16256.25 * n) - 1.0) / 16.0,
      p.m1 / (125.0 * n) - 1.0,
      p.m2 / (120.0 * n) - 1.0)
  }

  /** Media near-dup feature vector from a REAL audio decode (q39): five
    * centered double components over the decoded PCM samples — mean,
    * mean |amplitude|, index-weighted mean, alternating-sign mean, and
    * mean square — mirrored operation-for-operation by the oracle SQL
    * (the 32768²/3 normalizer is written as the same division on both
    * sides so the doubles match bit-for-bit).
    */
  def audioDedupVec(mediaId: Long, payload: Array[Byte]): Array[Double] = {
    val p = pcmSums(mediaId, payload)
    val n = p.n
    Array(
      p.sum / (32768.0 * n),
      p.sabs / (16384.0 * n) - 1.0,
      p.ck / (16384.0 * n * (n - 1)),
      p.alt / (32768.0 * n),
      p.s2 / ((1073741824.0 / 3.0) * n) - 1.0)
  }

  /** Decode → per-kind normalized dedup vectors (media_id, kind, vec):
    * the downstream consumer shape — these rows feed the SAME
    * hyperplane-LSH + exact-cosine dedup path the document embeddings
    * use (Dedup.embeddingDups), so re-ingested media surface as
    * duplicate pairs. Video is excluded (its decode is the documented
    * stub; a stub-derived dup verdict would be fake evidence).
    */
  def dedupVectors(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(m => m.meta.kind == "image" || m.meta.kind == "audio")
      .mapPartitions { it =>
        it.map { m =>
          val vec =
            if (m.meta.kind == "image") imageDedupVec(m.media_id, m.payload)
            else audioDedupVec(m.media_id, m.payload)
          (m.media_id, m.meta.kind, vec)
        }
      }.toDF("media_id", "kind", "vec")
  }
}
