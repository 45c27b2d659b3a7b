package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.kernels._
import graft.streaming.StreamingRollup

/** The SHA-256 of every kernel output on the committed golden fixtures,
  * over the raw bits (`doubleToRawLongBits` of each double, each index as
  * a long, array lengths in front), one `name<TAB>hex` line per output,
  * sorted by name. Unlike the goldens' 4-7 decimal tolerances this pins
  * every bit, so a refactor that should not move an output proves it.
  *
  * Re-record the committed table after an intended kernel change with
  * `sbt -batch "Test/runMain graft.KernelDigest src/test/resources/kernel_digest.sha256"`.
  */
object KernelDigest {
  val Resource = "/kernel_digest.sha256"

  private final class Bits {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Bits = { buf.clear(); buf.putLong(v); md.update(buf.array()); this }
    def double(v: Double): Bits = long(java.lang.Double.doubleToRawLongBits(v))
    def doubles(a: Array[Double]): Bits = { long(a.length); a.foreach(double); this }
    def longs(a: Array[Long]): Bits = { long(a.length); a.foreach(long); this }
    def hex: String = md.digest().map("%02x".format(_)).mkString
  }

  private def d(a: Array[Double]): String = new Bits().doubles(a).hex
  private def l(a: Array[Long]): String = new Bits().longs(a).hex

  private def motifs(ms: Seq[TopK.Motif]): String = {
    val b = new Bits().long(ms.length)
    ms.foreach { m => b.long(m.motifs._1).long(m.motifs._2).longs(m.neighbors) }
    b.hex
  }

  private def pmpMotifs(ms: Seq[TopK.PmpMotif]): String = {
    val b = new Bits().long(ms.length)
    ms.foreach { m =>
      val ((r1, a), (r2, c)) = m.motifs
      b.long(r1).long(a).long(r2).long(c).long(m.neighbors.length)
      m.neighbors.foreach { case (r, i) => b.long(r).long(i) }
    }
    b.hex
  }

  def table: Seq[(String, String)] = {
    val ts = Fixtures.sampledata
    val tsb = ts.slice(199, 300)
    val w = 32
    val out = Seq.newBuilder[(String, String)]

    val (mp, pi) = Mpx.mpxSelf(ts, w)
    val (pmpC, piC) = Mpx.mpxSelf(ts, w, crossCorrelation = true)
    out ++= Seq("mpx_self.mp" -> d(mp), "mpx_self.pi" -> l(pi),
      "mpx_self_pearson.mp" -> d(pmpC), "mpx_self_pearson.pi" -> l(piC))
    val (mpa, mpia, mpb, mpib) = Mpx.mpxAb(ts, tsb, w)
    out ++= Seq("mpx_ab.mpa" -> d(mpa), "mpx_ab.mpia" -> l(mpia),
      "mpx_ab.mpb" -> d(mpb), "mpx_ab.mpib" -> l(mpib))

    val st = Stomp.stomp(ts, w)
    out ++= Seq("stomp.mp" -> d(st.mp), "stomp.pi" -> l(st.pi),
      "stomp.lmp" -> d(st.lmp), "stomp.lpi" -> l(st.lpi),
      "stomp.rmp" -> d(st.rmp), "stomp.rpi" -> l(st.rpi))
    val stAb = Stomp.stomp(ts, w, Some(tsb))
    out ++= Seq("stomp_ab.mp" -> d(stAb.mp), "stomp_ab.pi" -> l(stAb.pi))

    val sc = Scrimp.scrimpPlusPlus(ts, w)
    out ++= Seq("scrimp++.mp" -> d(sc.mp), "scrimp++.pi" -> l(sc.pi),
      "scrimp++.ez" -> new Bits().long(sc.ez).hex)

    val windows = Array(16, 24, 32)
    val rows = Skimp.skimp(ts, windows)
    val pmp = rows.map(_.mp).toArray
    val pmpi = rows.map(_.pi).toArray
    rows.foreach { r =>
      out ++= Seq(s"skimp.w${r.window}.mp" -> d(r.mp), s"skimp.w${r.window}.pi" -> l(r.pi))
    }

    val minlag = 8 // ceil(w / 4), the mpx exclusion zone Analyze reports
    out ++= Seq(
      "topk.mp_motifs" -> motifs(TopK.mpTopKMotifs(ts, mp, pi, w, minlag)),
      "topk.mp_motifs_k5_r5" -> motifs(TopK.mpTopKMotifs(ts, mp, pi, w, 16, k = 5,
        maxNeighbors = 4, radius = 5.0)),
      "topk.mp_discords" -> l(TopK.mpTopKDiscords(mp, minlag)),
      "topk.pmp_motifs" -> pmpMotifs(TopK.pmpTopKMotifs(ts, pmp, pmpi, windows)),
      "topk.pmp_motifs_ez" -> pmpMotifs(TopK.pmpTopKMotifs(ts, pmp, pmpi, windows,
        Some(minlag), k = 5, maxNeighbors = 4, radius = 5.0)),
      "topk.pmp_discords" -> l(TopK.pmpTopKDiscords(pmp, windows, k = 5)
        .flatMap { case (r, c) => Array(r.toLong, c.toLong) }))

    for ((size, win) <- Seq((64, 0), (64, 32), (128, 32))) {
      val b = new Bits()
      Snippets.snippets(ts, size, 2, win).foreach { s =>
        b.long(s.index).doubles(s.snippet).longs(s.neighbors).double(s.fraction)
      }
      out += s"snippets.size$size.w$win" -> b.hex
    }

    out += "mpdist_vector" -> d(MpDist.mpdistVector(ts, tsb, w))

    for (from <- Seq(0, 300)) {
      val b = new Bits()
      StreamingRollup.leftProfileScores(ts, w, from).foreach { case (i, s) =>
        b.long(i).double(s)
      }
      out += s"left_profile_scores.from$from" -> b.hex
    }

    val an = Analyze.analyze(ts, Seq(w)).asInstanceOf[Analyze.MpResult].profile
    val ast = Analyze.stomp(ts, w)
    out ++= Seq("analyze.mpx" -> new Bits().long(an.ez).longs(an.discords).hex,
      "analyze.mpx.motifs" -> motifs(an.motifs),
      "analyze.stomp.ez" -> new Bits().long(ast.ez).hex)

    // quantized like the driver queries (round(value * 1e4))
    val vi = ts.map(v => math.round(v * 10000.0))
    val b = new Bits()
    BruteMp.pmpMotifs(vi, Array(8, 12, 16), k = 3, maxNeighbors = 3).foreach { p =>
      b.long(p.row).long(p.a).long(p.b).double(p.dist).longs(p.neighbors.map(_.toLong).toArray)
    }
    out += "brute.pmp_motifs" -> b.hex

    out.result().sortBy(_._1)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: KernelDigest <out.sha256>")
    Files.write(Paths.get(args(0)),
      table.map { case (k, h) => s"$k\t$h\n" }.mkString.getBytes(UTF_8))
  }
}

/** Pins every kernel output bit: refactors of the kernels, their shared
  * conventions (exclusion zones, the Pearson→distance map, motif
  * selection) and the FFT plumbing must leave each output bit-identical to
  * the committed digest table.
  */
class KernelDigestSpec extends AnyFunSuite {

  test("every kernel output on the golden fixtures matches its committed SHA-256") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(KernelDigest.Resource), "UTF-8")
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, h) = l.split('\t'); k -> h
    }.toMap finally src.close()
    val now = KernelDigest.table.toMap
    assert(now.keySet == pinned.keySet,
      s"outputs added: ${now.keySet -- pinned.keySet}; removed: ${pinned.keySet -- now.keySet}")
    val changed = now.keys.toSeq.sorted.filter(k => now(k) != pinned(k))
    assert(changed.isEmpty, s"kernel output bits changed for: ${changed.mkString(", ")}")
  }
}
