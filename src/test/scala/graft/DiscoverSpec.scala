package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels._
import Fixtures._

/** Ports of tests/test_mpdist.py, test_top_k_discords.py, test_regimes.py,
  * test_snippets.py, test_skimp.py.
  */
class DiscoverSpec extends AnyFunSuite {

  test("mpdist small series (test_mpdist.py:23-37)") {
    val ts = Array[Double](1, 2, 3, 1, 2, 3, 4, 5, 6, 0, 0, 1, 1, 2, 2, 4, 5, 1, 1, 9)
    val q = Array(0.23595094, 0.9865171, 0.1934413, 0.60880883,
      0.55174926, 0.77139988, 0.33529215, 0.63215848)
    assert(math.abs(MpDist.mpdist(ts, q, 4) - 0.437690617625298) < 1e-7)
  }

  test("mpdist vs MATLAB (test_mpdist.py:57-76)") {
    val tsb = sampledata.slice(199, 300)
    // numpy assert_almost_equal(decimal=7) gate: |diff| < 1.5e-7. The value
    // itself is float-noise ordering of near-zero distances (tsb is an exact
    // slice of ts), so only the same tolerance the reference test uses applies.
    assert(math.abs(MpDist.mpdist(sampledata, tsb, 32) - 1.460009659995543e-07) < 1.5e-7)
  }

  test("discords all-same with default ez (test_top_k_discords.py:20-31)") {
    val found = TopK.mpTopKDiscords(Array.fill(10)(1.0), ez = 2, k = 3)
    assert(found.toSeq == Seq(9L, 6L, 3L))
  }

  test("discords no exclusion (test_top_k_discords.py:34-55)") {
    val mp = Array[Double](1, 2, 3, 4)
    assert(TopK.mpTopKDiscords(mp, ez = 0, k = 3).toSeq == Seq(3L, 2L, 1L))
    assert(TopK.mpTopKDiscords(mp, ez = 0, k = 4).toSeq == Seq(3L, 2L, 1L, 0L))
    assert(TopK.mpTopKDiscords(mp, ez = 1, k = 4).toSeq == Seq(3L, 1L))
  }

  test("motifs all inf returns empty (test_top_k_motifs.py:19-32)") {
    val mp = Array.fill(5)(Double.PositiveInfinity)
    val pi = Array.fill(5)(0L)
    val ts = Array.fill(8)(1.0)
    assert(TopK.mpTopKMotifs(ts, mp, pi, 4, 2).isEmpty)
  }

  test("regimes on sampledata (test_regimes.py:25-43)") {
    val w = 32
    val (_, pi) = Mpx.mpxSelf(sampledata, w)
    val cac = Fluss.cac(pi, w)
    assert(Fluss.extractRegimes(cac, w, 3).toSeq == Seq(759L, 423L, 583L))
    assert(Fluss.extractRegimes(cac, w, 2).toSeq == Seq(759L, 423L))
  }

  test("snippets on sampledata (test_snippets.py:23-53)") {
    val s64 = Snippets.snippets(sampledata, 64, 2, 32)
    assert(s64(0).index == 384L && s64(1).index == 704L)
    assert(s64(0).neighbors.sum == 191408L)
    assert(s64(1).neighbors.sum == 190967L)

    val s64b = Snippets.snippets(sampledata, 64, 2)
    assert(s64b(0).index == 384L && s64b(1).index == 704L)

    val s128 = Snippets.snippets(sampledata, 128, 2, 32)
    assert(s128(0).index == 384L && s128(1).index == 640L)
    assert(s128(0).neighbors.sum == 227661L)
    assert(s128(1).neighbors.sum == 154714L)

    val s8 = Snippets.snippets(sampledata, 8, 2, 4)
    assert(s8(0).index == 72L && s8(1).index == 784L)
    assert(s8(0).neighbors.sum == 149499L)
    assert(s8(1).neighbors.sum == 232876L)
  }

  test("pmp top-k motifs/discords over a long-form PMP") {
    val ts = sampledata
    val windows = Array(16, 32)
    val rows = Skimp.skimp(ts, windows)
    val pmp = rows.map(_.mp).toArray
    val pmpi = rows.map(_.pi).toArray
    val motifs = TopK.pmpTopKMotifs(ts, pmp, pmpi, windows, k = 2)
    assert(motifs.nonEmpty && motifs.length <= 2)
    // motif pair indices must be valid profile positions for their window
    motifs.foreach { m =>
      val (r, a) = m.motifs._1
      val (_, b) = m.motifs._2
      assert(a >= 0 && b >= 0 && a <= ts.length - windows(r))
    }
    val discords = TopK.pmpTopKDiscords(pmp, windows, k = 3)
    assert(discords.length == 3)
    // discord positions carry finite (non-padded) profile values
    discords.foreach { case (r, c) => assert(!pmp(r)(c).isInfinite) }
  }

  test("one-window pmp top-k motifs pick what mp top-k motifs picks at the same exclusion zone") {
    // Compared on the first pick only. From the second pick on, the two
    // entry points differ by design: mpTopKMotifs masks its neighbor
    // profile by the suppressed profile, pmpTopKMotifs by the input row,
    // so it can re-accept positions an earlier pick took as neighbors
    // (q34's oracle replays the latter rule).
    val w = 32
    val (mp, pi) = Mpx.mpxSelf(sampledata, w)
    val row = Skimp.skimp(sampledata, Array(w)).head
    for (ez <- Seq(0, 8, 16)) {
      val mpMotifs = TopK.mpTopKMotifs(sampledata, mp, pi, w, ez, k = 1)
      val pmpMotifs = TopK.pmpTopKMotifs(sampledata, Array(row.mp), Array(row.pi),
        Array(w), exclusionZone = Some(ez), k = 1)
      assert(mpMotifs.length == 1 && mpMotifs.head.neighbors.nonEmpty, s"ez=$ez")
      assert(pmpMotifs.map(m => (m.motifs, m.neighbors.toSeq)) ==
        mpMotifs.map { case TopK.Motif((a, b), nbrs) =>
          (((0, a), (0, b)), nbrs.toSeq.map(n => (0, n)))
        }, s"ez=$ez")
    }
  }

  test("pick_mp projects a window row out of a PMP (utils.py:45-100)") {
    val rows = Skimp.skimp(sampledata, Array(16, 32))
    val picked = Skimp.pickMp(rows, 32, sampledata.length)
    assert(picked.isDefined)
    val (mp, pi) = picked.get
    assert(mp.length == sampledata.length - 32 + 1)
    assertAlmostEqual(mp, load("mpx_mp.txt"), decimal = 4)
    assert(pi.toSeq == load("mpx_mpi.txt").map(_.toLong - 1).toSeq)
    assert(Skimp.pickMp(rows, 99, sampledata.length).isEmpty)
  }

  test("binary_split (test_skimp.py:22-33)") {
    assert(Skimp.binarySplit(1).toSeq == Seq(0))
    assert(Skimp.binarySplit(10).toSeq == Seq(0, 5, 2, 7, 1, 3, 6, 8, 4, 9))
  }

  test("maximum_subsequence 36 and 68 (test_skimp.py:36-59)") {
    val base = load("skimp_seed9999.txt")
    val ts36 = base.clone()
    Array.copy(ts36, 0, ts36, 32 + 100, 32)
    assert(Skimp.maximumSubsequence(ts36, 0.98) == 36)

    val ts68 = base.clone()
    Array.copy(ts68, 0, ts68, 64 + 100, 64)
    assert(Skimp.maximumSubsequence(ts68, 0.98) == 68)
  }

  test("annotation vectors + corrected mp (transform.py semantics)") {
    val ts = Array[Double](0, 1, 2, 1, 0, 1, 2, 1, 0)
    val w = 4
    val av = AnnotationVectors.makeDefaultAv(ts, w)
    assert(av.forall(_ == 1.0))
    val (mp, _) = Mpx.mpxSelf(Array[Double](0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1, 0), 4)
    val cmp = AnnotationVectors.applyAv(mp, AnnotationVectors.makeDefaultAv(
      Array[Double](0, 1, 1, 0, 0, 1, 1, 0, 0, 1, 1, 0), 4))
    assertAlmostEqual(cmp, mp) // all-ones av leaves mp unchanged
    val cav = AnnotationVectors.makeComplexityAv(ts, w)
    assert(cav.forall(v => v >= 0 && v <= 1))
  }

  test("mean-std annotation vector: 1 where the window std is below the " +
      "mean window std (transform.py:181-229)") {
    // w = 2 window stds: [1,1] 0, [1,3] 1, [3,5] 1, [5,5] 0, [5,5] 0; mean 0.4
    assert(AnnotationVectors.makeMeanStdAv(Array[Double](1, 1, 3, 5, 5, 5), 2).toSeq ==
      Seq(1.0, 0.0, 0.0, 1.0, 1.0))
    // every std is 0, none is below the mean
    assert(AnnotationVectors.makeMeanStdAv(Array.fill(5)(3.0), 2).toSeq == Seq.fill(4)(0.0))
  }

  test("clipping annotation vector: 1 - the normalized count of global " +
      "min/max values per window (transform.py:232-285)") {
    // min 1, max 5; w = 2 counts: [1,1] 2, [1,3] 1, [3,5] 1, [5,2] 1, [2,4] 0;
    // less their min (0), over their max (2)
    assert(AnnotationVectors.makeClippingAv(Array[Double](1, 1, 3, 5, 2, 4), 2).toSeq ==
      Seq(0.0, 0.5, 0.5, 0.5, 1.0))
    // all-constant: every value is the min and the max, so every window
    // counts w, the normalized counts are all 0 and so is the vector
    assert(AnnotationVectors.makeClippingAv(Array.fill(5)(3.0), 2).toSeq == Seq.fill(4)(0.0))
  }

  test("preprocess: impute + constant-window noise (preprocess.py semantics)") {
    val nan = Double.NaN
    val ts = Array(1.0, nan, 3.0, 4.0, nan, 6.0, 7.0, 8.0)
    val imputed = Preprocess.imputeMissing(ts, 3, Preprocess.Mean)
    assert(!imputed.exists(v => v.isNaN || v.isInfinite))
    assert(imputed(0) == 1.0 && imputed(2) == 3.0 && imputed(7) == 8.0)

    val const = Array.fill(10)(5.0)
    val noisy = Preprocess.preprocess(const, 4, noiseSeed = 7L)
    assert(noisy.zip(const).forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(!Preprocess.isSubsequenceConstant(noisy.slice(0, 4)))
  }
}
