package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels._
import Fixtures._

/** Ports of tests/test_mpx.py plus tile-decomposition invariance. */
class MpxSpec extends AnyFunSuite {

  val small = Array[Double](0, 1, 1, 1, 0, 0, 2, 1, 0, 0, 2, 1)

  test("mpx self-join euclidean (test_mpx.py:24-33)") {
    val (mp, pi) = Mpx.mpxSelf(small, 4)
    assertAlmostEqual(mp, Array(1.9550, 1.9550, 0.8739, 0, 0, 1.9550, 0.8739, 0, 0), decimal = 4)
    assert(pi.toSeq == Seq(4, 5, 6, 7, 8, 1, 2, 3, 4).map(_.toLong))
  }

  test("mpx self-join pearson (test_mpx.py:46-55)") {
    val (mp, pi) = Mpx.mpxSelf(small, 4, crossCorrelation = true)
    assertAlmostEqual(mp, Array(0.522232967867094, 0.522232967867094,
      0.904534033733291, 1, 1, 0.522232967867094, 0.904534033733291, 1, 1), decimal = 4)
    assert(pi.toSeq == Seq(4, 5, 6, 7, 8, 1, 2, 3, 4).map(_.toLong))
  }

  test("mpx AB join small (test_mpx.py:68-90)") {
    val ts = Array[Double](1, 2, 3, 1, 2, 3, 4, 5, 6, 0, 0, 1, 1, 2, 2, 4, 5, 1, 1, 9)
    val q = Array[Double](0, 0, 1, 1, 2, 2, 4, 5)
    val (mp, pi, _, _) = Mpx.mpxAb(ts, q, 4)
    assertAlmostEqual(mp, Array(
      2.36387589, 2.82842712, 2.17957574, 0.640728972, 0.640728972,
      0.640728972, 3.26103392, 3.61947699, 3.39984131, 0.0, 4.21468485e-08,
      0.0, 4.21468485e-08, 0.0, 2.82842712, 3.57109342, 1.73771570), decimal = 4)
    assert(pi.toSeq == Seq(0, 1, 4, 1, 1, 1, 2, 1, 4, 2, 1, 2, 3, 4, 2, 1, 3).map(_.toLong))
  }

  test("mpx AB join vs MATLAB golden (test_mpx.py:108-120)") {
    val tsb = sampledata.slice(199, 300)
    val (mpa, _, mpb, _) = Mpx.mpxAb(sampledata, tsb, 32)
    assertAlmostEqual(load("mpx_ab_mpa.txt"), mpa, decimal = 4)
    assertAlmostEqual(load("mpx_ab_mpb.txt"), mpb, decimal = 4)
  }

  test("mpx self-join vs MATLAB golden (mpx_mp/mpi.txt)") {
    val (mp, pi) = Mpx.mpxSelf(sampledata, 32)
    assertAlmostEqual(mp, load("mpx_mp.txt"), decimal = 4)
    // golden indices are MATLAB 1-based (like scrimp.mpi.txt)
    val expectedPi = load("mpx_mpi.txt").map(_.toLong - 1)
    assert(pi.toSeq == expectedPi.toSeq)
  }

  test("diagonal-block decomposition + max-merge equals single block") {
    val ts = sampledata
    val w = 32
    val st = Mpx.selfStats(ts, w)
    val (single, singlePi) = Mpx.mpxSelf(ts, w)

    for (nBlocks <- Seq(2, 5, 13)) {
      val total = st.profileLen - (st.minlag + 1)
      val per = math.max(1, math.ceil(total.toDouble / nBlocks).toInt)
      val bufs = (0 until nBlocks).map { b =>
        val s = st.minlag + 1 + b * per
        val e = math.min(st.minlag + 1 + (b + 1) * per, st.profileLen)
        val buf = Mpx.newBuf(st.profileLen)
        if (s < e) Mpx.selfJoinTile(ts, w, st, s, e, st.profileLen, buf)
        buf
      }
      val merged = Mpx.clampBuf(bufs.reduce(Mpx.mergeInto(_, _)))
      val mp = Mpx.selfToEuclidean(merged, w)
      assertAlmostEqual(mp, single, decimal = 10)
      assert(merged.mpi.toSeq == singlePi.toSeq, s"pi mismatch at $nBlocks blocks")
    }
  }

  test("AB row-block decomposition equals single pass") {
    val ts = sampledata
    val tsb = sampledata.slice(199, 300)
    val w = 32
    val (mpa, mpia, mpb, mpib) = Mpx.mpxAb(ts, tsb, w)

    val sa = Mpx.selfStats(ts, w)
    val sb = Mpx.selfStats(tsb, w)
    val bufA = Mpx.newBuf(sa.profileLen)
    val bufB = Mpx.newBuf(sb.profileLen)
    // split the AB pass (A-anchored diagonals [0, plenA)) into 3 blocks and
    // the BA pass (roles swapped, diagonals [0, plenB)) into 2
    val abCuts = Seq(0, sa.profileLen / 3, 2 * sa.profileLen / 3, sa.profileLen)
    for (i <- 0 until 3)
      Mpx.abJoinTile(ts, tsb, w, sa, sb, 0, 0, sb.profileLen, sa.profileLen,
        abCuts(i), abCuts(i + 1), bufA, bufB)
    val baCuts = Seq(0, sb.profileLen / 2, sb.profileLen)
    for (i <- 0 until 2)
      Mpx.abJoinTile(tsb, ts, w, sb, sa, 0, 0, sa.profileLen, sb.profileLen,
        baCuts(i), baCuts(i + 1), bufB, bufA)
    Mpx.clampBuf(bufA); Mpx.clampBuf(bufB)
    assertAlmostEqual(Mpx.abToEuclidean(bufA, w), mpa, decimal = 10)
    assertAlmostEqual(Mpx.abToEuclidean(bufB, w), mpb, decimal = 10)
    assert(bufA.mpi.toSeq == mpia.toSeq)
    assert(bufB.mpi.toSeq == mpib.toSeq)
  }
}
