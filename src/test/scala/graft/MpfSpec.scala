package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.io.Mpf
import graft.run.ProfileIO
import graft.schema.MpProfileRow

/** `.mpf` protobuf interop (ref io/protobuf/protobuf_utils.py:156-476,
  * proto_messages.proto:9-111; port of tests/test_io.py:73-128's MPF
  * round-trip cases). The fixtures in resources/ref were produced by an
  * INDEPENDENT pure-Python proto3 encoder (tools/make_mpf_fixture.py)
  * emitting the same canonical bytes protobuf's serializer writes, so the
  * decode path is validated cross-implementation, and the Scala writer is
  * pinned byte-for-byte against them.
  */
class MpfSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-mpf-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fixtureBytes(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/ref/$name")
    require(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  test("decodes a reference-format MatrixProfile .mpf (every field)") {
    val o = Mpf.fromBytes(fixtureBytes("fixture_mp.mpf"))
    assert(o.klass == "MatrixProfile")
    assert(o.algorithm == "mpx" && o.metric == "euclidean")
    assert(o.samplePct == 1.0 && o.windows == Seq(8L))
    val ts = o.ts.get
    assert(ts.rows == 64 && ts.cols == 0 && ts.data.length == 64)
    // spot values from the independent encoder's generator
    assert(ts.data(0) == 3.8813 && ts.data(1) == 8.0323 && ts.data(63) == 7.6603)
    val m = o.mp.get
    assert(m.ez == 2 && !m.join)
    assert(m.mp.get.data.length == 57 && m.mp.get.data(0) == 0.0776 &&
      m.mp.get.data(56) == 2.5097)
    assert(m.pi.get.data(0) == 17L && m.pi.get.data(56) == 26L)
    assert(m.lmp.get.data.length == 57 && m.lpi.get.data.length == 57)
    assert(m.rmp.isEmpty && m.rpi.isEmpty)
    assert(o.discords == Seq(Mpf.Location(9, 0), Mpf.Location(41, 0)))
    assert(o.motifs == Seq(Mpf.Motif(
      Seq(Mpf.Location(3, 0), Mpf.Location(17, 0)), Seq(Mpf.Location(29, 0)))))
    assert(o.cmp.get.data.length == 57 && o.av.get.data.length == 57)
    assert(o.cmp.get.data(0) == 0.0776 + 0.5)
    assert(o.avType == "complexity")

    val rows = Mpf.toProfileRows(o, "migrated")
    assert(rows.length == 1)
    val r = rows.head
    assert(r.w == 8 && r.ez == 2 && !r.join && r.algorithm == "mpx")
    assert(r.mp.toSeq == m.mp.get.data.toSeq && r.pi.toSeq == m.pi.get.data.toSeq)
    assert(r.rmp.isEmpty && r.lmp.length == 57)
  }

  test("decodes a reference-format PMP .mpf into one row per window") {
    val o = Mpf.fromBytes(fixtureBytes("fixture_pmp.mpf"))
    assert(o.klass == "PMP" && o.algorithm == "skimp" && o.metric == "pearson")
    assert(o.windows == Seq(4L, 6L, 8L))
    val p = o.pmp.get
    assert(p.pmp.get.rows == 3 && p.pmp.get.cols == 61)
    assert(p.pmp.get.data(0) == 3.5151 && p.pmp.get.data(2 * 61) == 2.5813)
    val rows = Mpf.toProfileRows(o, "pmp_migrated")
    assert(rows.map(_.w) == Seq(4, 6, 8))
    assert(rows.forall(_.mp.length == 61))
    assert(rows(2).mp(0) == 2.5813)
    assert(rows.forall(_.algorithm == "skimp"))
  }

  test("Scala writer is byte-identical to the independent encoder (canonical " +
      "proto3: field order, packed scalars, default-zero omission)") {
    for (name <- Seq("fixture_mp.mpf", "fixture_pmp.mpf")) {
      val bytes = fixtureBytes(name)
      val reencoded = Mpf.toBytes(Mpf.fromBytes(bytes))
      assert(java.util.Arrays.equals(reencoded, bytes),
        s"$name: re-encoded bytes differ")
    }
  }

  test("absent metric string infers via is_pearson_array (core.py:625-643)") {
    val o = Mpf.fromBytes(fixtureBytes("fixture_mp.mpf"))
    def withMetricless(mp: Array[Double]): Mpf.MpfOutput = o.copy(metric = "",
      mp = o.mp.map(m => m.copy(mp = m.mp.map(_.copy(data = mp)))))
    // euclidean-range values (> 1 present) => euclidean
    assert(Mpf.toProfileRows(withMetricless(o.mp.get.mp.get.data), "x")
      .head.metric == "euclidean")
    // all finite values in [0,1] => pearson
    assert(Mpf.toProfileRows(withMetricless(Array(0.1, 0.9, Double.NaN)), "x")
      .head.metric == "pearson")
    // explicit metric wins over inference
    assert(Mpf.toProfileRows(o, "x").head.metric == "euclidean")
  }

  test("unknown fields are skipped (forward compatibility)") {
    // append an unknown field 19 (varint) and field 20 (length-delimited);
    // tags for fields >= 16 are two-byte varints: (19<<3)|0 = 152 -> 98 01,
    // (20<<3)|2 = 162 -> a2 01
    val base = fixtureBytes("fixture_mp.mpf")
    val extra = Array[Byte](
      0x98.toByte, 0x01, 0x2a, // field 19, varint 42
      0xA2.toByte, 0x01, 3, 1, 2, 3) // field 20, 3 bytes
    val o = Mpf.fromBytes(base ++ extra)
    assert(o.klass == "MatrixProfile" && o.mp.get.mp.get.data.length == 57)
  }

  test("Spark round-trip: engine profiles -> .mpf files -> distributed scan " +
      "(port of test_io.py to_mpf/from_mpf)") {
    import spark.implicits._
    val vals = Fixtures.sampledata.slice(0, 200)
    // several rows per conversation (two kinds for conv_a) — file names
    // must carry the full row key, not just conv_id
    val rows = graft.dist.DistributedMp.mpxProfiles(
      spark.createDataset(Seq(
        graft.dist.DistributedMp.SeriesRow("conv_a", "v", 0L, vals),
        graft.dist.DistributedMp.SeriesRow("conv_a", "gap_s", 0L, vals.map(_ * 2.0 + 1.0)),
        graft.dist.DistributedMp.SeriesRow("conv_b", "v", 0L, vals.map(-_)))),
      16, "raw").collect().sortBy(r => (r.conv_id, r.kind))

    // write/read through the extension dispatch with the SAME path
    val back = Fixtures.withTempDir("graft_mpf") { tmp =>
      val dir = s"$tmp/profiles.mpf"
      ProfileIO.write(spark.createDataset(rows.toSeq), dir)
      ProfileIO.read(spark, dir).collect().sortBy(r => (r.conv_id, r.kind))
    }
    assert(back.length == rows.length,
      "every (conv, kind, tier, w) row must survive the file layout")
    back.zip(rows).foreach { case (b, r) =>
      assert(b.conv_id == r.conv_id && b.kind == r.kind && b.tier == r.tier &&
        b.w == r.w && b.ez == r.ez &&
        b.join == r.join && b.algorithm == r.algorithm && b.metric == r.metric)
      // doubles survive exactly: fixed64 IEEE bits, not text
      assert(b.mp.toSeq == r.mp.toSeq && b.pi.toSeq == r.pi.toSeq)
      assert(b.lmp.toSeq == r.lmp.toSeq && b.rpi.toSeq == r.rpi.toSeq)
    }
  }

  test("reads a legal-but-non-canonical foreign writer: out-of-order fields, " +
      "non-packed repeated scalars, split packed runs") {
    // proto3 wire format allows any field order, repeated scalars emitted
    // one-tag-per-element (non-packed), and a packed run split across
    // multiple occurrences — canonical serializers never produce these, a
    // foreign writer legally can (spec: protobuf encoding docs)
    def vint(v: Long): Array[Byte] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var x = v
      while ((x & ~0x7fL) != 0) { b += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      (b += x.toByte).toArray
    }
    def tag(f: Int, w: Int): Array[Byte] = vint((f.toLong << 3) | w)
    def d64(v: Double): Array[Byte] = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(v).array
    def ld(f: Int, bs: Array[Byte]): Array[Byte] = tag(f, 2) ++ vint(bs.length.toLong) ++ bs

    // DoubleMatrix: per-element fixed64 data FIRST, then cols, then rows
    val dmat =
      tag(3, 1) ++ d64(0.25) ++ tag(3, 1) ++ d64(0.5) ++ tag(3, 1) ++ d64(1.0) ++
      tag(2, 0) ++ vint(0) ++ tag(1, 0) ++ vint(3)
    // IntMatrix: non-packed varint data, rows field last
    val imat = tag(3, 0) ++ vint(2) ++ tag(3, 0) ++ vint(0) ++ tag(3, 0) ++ vint(1) ++
      tag(1, 0) ++ vint(3)
    // MatrixProfile submessage: ez before the matrices
    val mpMsg = tag(9, 0) ++ vint(2) ++ ld(1, dmat) ++ ld(2, imat)
    // MPFOutput: av_type first, windows as a split packed run ([4,6] packed
    // then 8 non-packed), metric/sample_pct/algorithm/klass at the end
    val bytes =
      ld(14, "default".getBytes("UTF-8")) ++
      ld(8, mpMsg) ++
      ld(5, vint(4) ++ vint(6)) ++ // packed run [4, 6]
      tag(5, 0) ++ vint(8) ++      // non-packed continuation: 8
      ld(3, "euclidean".getBytes("UTF-8")) ++
      tag(4, 1) ++ d64(0.5) ++
      ld(2, "mpx".getBytes("UTF-8")) ++
      ld(1, "MatrixProfile".getBytes("UTF-8"))

    val o = Mpf.fromBytes(bytes)
    assert(o.klass == "MatrixProfile" && o.algorithm == "mpx" &&
      o.metric == "euclidean" && o.samplePct == 0.5)
    assert(o.windows == Seq(4L, 6L, 8L),
      "split packed + non-packed repeated runs must concatenate in order")
    val m = o.mp.get
    assert(m.ez == 2 && m.mp.get.rows == 3)
    assert(m.mp.get.data.toSeq == Seq(0.25, 0.5, 1.0))
    assert(m.pi.get.data.toSeq == Seq(2L, 0L, 1L))
    assert(o.avType == "default")
    // and the canonical re-encode of the decoded message round-trips,
    // through the single-file convenience pair as well
    val rt = Fixtures.withTempDir("graft_mpf") { dir =>
      Mpf.writeFile(s"$dir/one.mpf", o)
      Mpf.readFile(s"$dir/one.mpf")
    }
    assert(rt.klass == o.klass && rt.windows == o.windows &&
      rt.samplePct == o.samplePct && rt.avType == o.avType)
    assert(rt.mp.get.ez == 2 &&
      rt.mp.get.mp.get.data.toSeq == Seq(0.25, 0.5, 1.0) &&
      rt.mp.get.pi.get.data.toSeq == Seq(2L, 0L, 1L))
  }

  test("fuzzed mpf bytes terminate: mutated, truncated, or extended input " +
      "either parses or throws — never hangs or loops") {
    import org.scalatest.concurrent.TimeLimits._
    import org.scalatest.time.{Seconds, Span}
    implicit val signaler: org.scalatest.concurrent.Signaler =
      org.scalatest.concurrent.ThreadSignaler
    val base = fixtureBytes("fixture_mp.mpf")
    val rnd = new java.util.Random(5)
    var parsed = 0
    var threw = 0
    failAfter(Span(60, Seconds)) { // a looping reader fails, not hangs
      for (trial <- 0 until 300) {
        val b = base.clone()
        val bytes = trial % 3 match {
          case 0 => b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte; b
          case 1 => java.util.Arrays.copyOfRange(b, 0, rnd.nextInt(b.length))
          case _ => b ++ Array.fill(1 + rnd.nextInt(8))(rnd.nextInt(256).toByte)
        }
        try { Mpf.fromBytes(bytes); parsed += 1 }
        catch { case _: Exception => threw += 1 }
      }
    }
    // both outcomes must occur (the fuzz actually exercises failure paths)
    assert(parsed > 0 && threw > 0, s"parsed=$parsed threw=$threw")
  }

  test("corrupt length-delimited field fails fast instead of looping") {
    val base = fixtureBytes("fixture_mp.mpf")
    // unknown field 20 (tag a2 01), wire 2, varint length far beyond the
    // buffer (and negative after toInt)
    val bad = base ++ Array[Byte](0xA2.toByte, 0x01, -1, -1, -1, -1, 0x7F)
    val e = intercept[IllegalArgumentException] { Mpf.fromBytes(bad) }
    assert(e.getMessage.contains("malformed"))
  }
}
