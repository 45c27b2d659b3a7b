package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal

/** Gates for the REAL image decode path (JDK ImageIO) and the documented
  * audio/video stub. The image gates are independent of Spark: encode →
  * decode must reproduce the seeded pixel field exactly (PNG is lossless),
  * and the decoded statistics must equal the closed-form values the q37
  * oracle computes — the same invariant the driver hash-compares at sf0.01.
  */
class MultimodalSpec extends AnyFunSuite {

  /** Closed-form stats straight from the pixel formula (no image codec):
    * the independent mirror of the q37 oracle SQL.
    */
  private def formulaStats(id: Long): Multimodal.ImageStats = {
    val (w, h) = Multimodal.imageDims(id)
    var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val v = id * 2654435761L + x * 7919L + y * 104729L
      val r = (v % 256).toInt; val g = ((v / 256) % 256).toInt
      val b = ((v / 65536) % 256).toInt
      sr += r; sg += g; sb += b
      ck += (x * 131L + y) * (r + 2L * g + 3L * b)
    }
    Multimodal.ImageStats(id, w, h, sr, sg, sb, ck)
  }

  test("a known 2x2 image round-trips through PNG encode + ImageIO decode " +
      "pixel-exactly") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(2, 2, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0x102030)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val s = Multimodal.decodeImage(7L, bos.toByteArray)
    assert((s.width, s.height) == (2, 2))
    // channel sums: r = 255+16, g = 255+32, b = 255+48
    assert(s.sum_r == 271L && s.sum_g == 287L && s.sum_b == 303L)
    // checksum pins pixels to coordinates: (x*131+y)*(r+2g+3b) per pixel
    val expected = 0L * (255) + 131L * (2 * 255) + 1L * (3 * 255) +
      132L * (16 + 2 * 32 + 3 * 48)
    assert(s.checksum == expected)
  }

  test("seeded PNG decode reproduces the closed-form pixel statistics for " +
      "a spread of ids (the q37 invariant)") {
    for (id <- Seq(0L, 3L, 42L, 123L, 4998L)) {
      val decoded = Multimodal.decodeImage(id, Multimodal.encodePng(id))
      assert(decoded == formulaStats(id), s"id=$id decode != formula")
    }
  }

  test("decodeImage fails loudly on an undecodable payload") {
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeImage(9L, Array[Byte](1, 2, 3, 4))
    }
    assert(e.getMessage.contains("not a decodable image"))
  }

  /** Closed-form audio stats straight from the sample formula (no audio
    * codec): the independent mirror of the q38 oracle SQL.
    */
  private def formulaAudioStats(id: Long): Multimodal.AudioStats = {
    val n = Multimodal.audioSamples(id)
    var sum = 0L; var sabs = 0L; var ck = 0L
    for (i <- 0 until n) {
      val s = (id * 2654435761L + i * 7919L) % 65536L - 32768L
      sum += s; sabs += math.abs(s); ck += i.toLong * s
    }
    Multimodal.AudioStats(id, Multimodal.AudioSampleRate, n, sum, sabs, ck)
  }

  test("a known 4-sample WAV round-trips through encode + " +
      "javax.sound.sampled decode sample-exactly") {
    // hand-build a 4-sample WAV with known amplitudes via the encoder's
    // own container, then check the decode arithmetic directly
    val samples = Array[Short](100, -200, 32767, -32768)
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 8)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(8)
    samples.foreach(bb.putShort)
    val s = Multimodal.decodeAudio(5L, bb.array())
    assert(s.sample_rate == 8000 && s.n_samples == 4L)
    assert(s.sum_s == 100L - 200L + 32767L - 32768L)
    assert(s.sum_abs == 100L + 200L + 32767L + 32768L)
    assert(s.checksum == 0L * 100 + 1L * -200 + 2L * 32767 + 3L * -32768)
  }

  test("seeded WAV decode reproduces the closed-form sample statistics " +
      "for a spread of ids (the q38 invariant)") {
    for (id <- Seq(1L, 4L, 43L, 124L, 4999L)) {
      val decoded = Multimodal.decodeAudio(id, Multimodal.encodeWav(id))
      assert(decoded == formulaAudioStats(id), s"id=$id decode != formula")
    }
  }

  test("decodeAudio fails loudly on an undecodable payload") {
    intercept[Exception] {
      Multimodal.decodeAudio(9L, Array[Byte](1, 2, 3, 4))
    }
  }

  test("video stub decode is deterministic and dimension-stable") {
    val payload = "some synthetic pcm-ish bytes".getBytes("UTF-8")
    val a = Multimodal.decodeStub(payload, Multimodal.StubDim)
    val b = Multimodal.decodeStub(payload, Multimodal.StubDim)
    assert(a.length == Multimodal.StubDim)
    assert(a.toSeq == b.toSeq)
    assert(a.exists(_ != 0.0f))
  }

  /** The q39 consumer invariants without Spark: identical payloads decode
    * to identical dedup vectors (cosine exactly the self-cosine), distinct
    * ids separate well below the 0.99995 query threshold, the components
    * are centered (LSH hyperplanes through the origin can actually split
    * the corpus), and dims are 8 (image) / 5 (audio).
    */
  test("media dedup vectors: copies collide, distinct ids separate, components centered") {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = 0L until 60L
    val imgs = ids.filter(_ % 3 == 0)
      .map(id => id -> Multimodal.imageDedupVec(id, Multimodal.encodePng(id)))
    val auds = ids.filter(_ % 3 == 1)
      .map(id => id -> Multimodal.audioDedupVec(id, Multimodal.encodeWav(id)))
    // pins the constants q39 hands the LSH builder to the decoders'
    // ACTUAL output widths — a component added to a decoder must fail
    // here, not silently misbucket with wrong-length hyperplanes
    assert(imgs.forall(_._2.length == Multimodal.ImageDedupDim))
    assert(auds.forall(_._2.length == Multimodal.AudioDedupDim))
    // a re-ingested payload is bit-identical → its vector is too
    val (i0, v0) = imgs.head
    assert(Multimodal.imageDedupVec(i0 + 1000000L,
      Multimodal.encodePng(i0)).toSeq == v0.toSeq)
    for (vecs <- Seq(imgs, auds)) {
      val pairs = for {
        (a, va) <- vecs; (b, vb) <- vecs if a < b
      } yield cos(va, vb)
      assert(pairs.max < 0.99995,
        f"distinct ids must stay under the dup threshold, max=${pairs.max}%.6f")
      // centered: every component's mean across ids is small relative to
      // the component spreads (~0.01+), so bucket bits carry information
      val dim = vecs.head._2.length
      (0 until dim).foreach { d =>
        val mean = vecs.map(_._2(d)).sum / vecs.size
        assert(math.abs(mean) < 0.05,
          f"component $d of dim-$dim vector is off-center: mean=$mean%.4f")
      }
    }
  }

  /** Exact values, not only invariants: the image and audio dedup vectors
    * of a few seeded ids, pinned as raw IEEE-754 bits (recorded from the
    * two-pass decoders that preceded the shared pixel/PCM passes). The
    * q39 oracle compares the same doubles; this keeps the check in tier 1.
    */
  test("media dedup vectors are pinned to the bit for seeded ids") {
    def bits(v: Array[Double]): Seq[Long] =
      v.toSeq.map(java.lang.Double.doubleToRawLongBits)
    val image = Map(
      0L -> Seq(0xbf78181818181800L, 0x3f73f3f3f3f3f400L, 0xbfdce42424242424L,
        0xbf8ca8f5418dda40L, 0xbfacdf0021426385L, 0xbfacedf8020c1620L,
        0x3f949ba5e353f7c0L, 0xbfb0200000000000L),
      3L -> Seq(0xbf7c24a7228683c0L, 0xbf68292e24ece700L, 0x3fcb0e1d01594844L,
        0xbfa027e64a9f5a30L, 0x3f9a5d593dbb65bcL, 0x3f99e996563bb6d4L,
        0xbf7799a81f8ae800L, 0xbfa3b0c3e97f2020L),
      27L -> Seq(0x3f37cbf1dee86000L, 0x3f551a97d9388800L, 0x3fda8ce3b84e0328L,
        0x3f82027fb6909900L, 0x3faaa47613cb7628L, 0x3faa9b42867c18e2L,
        0xbf9d93013fe320e0L, 0xbfa7a75f83717a70L),
      300L -> Seq(0xbf325b80125b8000L, 0x3f1b89401b894000L, 0xbfdb4064f74064f7L,
        0x3f8ef25806da4000L, 0xbfab4ac998dd28c5L, 0xbfab3a9cf8029826L,
        0xbf9d0d66576b9ba0L, 0xbf909c09c09c09c0L))
    val audio = Map(
      1L -> Seq(0xbf5dcc6afc2dd9cbL, 0xbf80f55555555540L, 0xbf668eac17d7a6beL,
        0x3f432b4db108ea59L, 0xbf879949c44c6b00L),
      4L -> Seq(0xbf52155555555555L, 0x3f73250505050500L, 0xbf61da1fcc914bf0L,
        0xbf6a1c3c3c3c3c3cL, 0x3f802eb4b9696980L),
      37L -> Seq(0x3f560c6c045217c4L, 0x3f740e4feeb7a100L, 0x3f70dab3bf561a2eL,
        0x3f67f716aefcc26eL, 0x3f7f2f82cb577e00L),
      301L -> Seq(0xbf80b601f6310acaL, 0xbf65800000000000L, 0xbf71273eba8a8e2dL,
        0xbf76415941b76ae9L, 0xbf6d09fb2d9bf400L))
    for ((id, want) <- image)
      assert(bits(Multimodal.imageDedupVec(id, Multimodal.encodePng(id))) == want,
        s"image $id")
    for ((id, want) <- audio)
      assert(bits(Multimodal.audioDedupVec(id, Multimodal.encodeWav(id))) == want,
        s"audio $id")
  }
}
