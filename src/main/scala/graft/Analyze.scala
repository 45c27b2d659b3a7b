package graft

import graft.kernels._

/** The reference's top-level API surface, re-expressed over arrays:
  * `analyze` (ref analyze.py:173-270), `compute` (ref compute.py:91-145),
  * and the `discover` helpers. Dispatch mirrors the reference: window
  * arity and sample_pct select the algorithm; threshold drives the
  * upper-window search when no windows are given.
  *
  * Distributed use goes through graft.dist.DistributedMp (these facades
  * run per-series inside mapGroups); this object is the single-series
  * entry point a reference user would reach for first.
  */
object Analyze {

  final case class Profile(
      mp: Array[Double], pi: Array[Long],
      lmp: Array[Double], lpi: Array[Long],
      rmp: Array[Double], rpi: Array[Long],
      w: Int, ez: Int, join: Boolean, metric: String, algorithm: String,
      motifs: Seq[TopK.Motif] = Seq.empty,
      discords: Array[Long] = Array.empty)

  final case class Pmp(rows: Seq[Skimp.PmpRow], windows: Array[Int],
      samplePct: Double, metric: String)

  sealed trait Result
  final case class MpResult(profile: Profile) extends Result
  final case class PmpResult(pmp: Pmp) extends Result

  /** Typed twin of the reference's preprocessing_kwargs dict
    * (preprocess.py:17-88): same defaults, same accepted values; the
    * dict-shape / int / bool checks are enforced by the types.
    */
  final case class PreprocessKwargs(
      window: Int = 4,
      imputeMethod: String = "mean",
      imputeDirection: String = "forward",
      addNoise: Boolean = true)

  private val ImputeMethods = Seq("mean", "median", "min", "max")
  private val ImputeDirections = Seq("forward", "fwd", "f", "backward", "bwd", "b")

  /** validate_preprocess_kwargs (preprocess.py:17-88): None passes
    * through; invalid method/direction raise with the reference's
    * messages.
    */
  def validatePreprocessKwargs(kwargs: Option[PreprocessKwargs]): Option[PreprocessKwargs] =
    kwargs.map { k =>
      if (!ImputeMethods.contains(k.imputeMethod))
        throw new IllegalArgumentException(
          "invalid imputation method! valid include options: " + ImputeMethods.mkString(", "))
      if (!ImputeDirections.contains(k.imputeDirection))
        throw new IllegalArgumentException(
          "invalid imputation direction! valid include options: " + ImputeDirections.mkString(", "))
      k
    }

  private def applyPreprocess(ts: Array[Double],
      kwargs: Option[PreprocessKwargs]): Array[Double] =
    validatePreprocessKwargs(kwargs) match {
      case None => ts
      case Some(k) =>
        val method = k.imputeMethod match {
          case "mean" => Preprocess.Mean
          case "median" => Preprocess.Median
          case "min" => Preprocess.Min
          case "max" => Preprocess.Max
        }
        val forward = Seq("forward", "fwd", "f").contains(k.imputeDirection)
        Preprocess.preprocess(ts, k.window, method, forward, k.addNoise)
    }

  /** compute(): preprocess (when kwargs given — ref compute.py:107-113),
    * then dispatch: single window exact → mpx; single window sampled →
    * scrimp++; multiple windows → skimp PMP; no windows → upper-window
    * search then skimp (ref compute.py:91-145).
    */
  def compute(tsRaw: Array[Double], windows: Seq[Int] = Seq.empty,
      query: Option[Array[Double]] = None, samplePct: Double = 1.0,
      threshold: Double = 0.98,
      preprocessingKwargs: Option[PreprocessKwargs] = None): Result = {
    require(windows.forall(_ >= 4), "window size must be at least 4.")
    val ts = applyPreprocess(tsRaw, preprocessingKwargs)
    windows match {
      case Seq() =>
        val upper = Skimp.maximumSubsequence(ts, threshold)
        require(upper > 0, "No windows found with given threshold")
        PmpResult(Pmp(Skimp.skimp(ts, (8 to upper).toArray), (8 to upper).toArray,
          1.0, "euclidean"))
      case Seq(w) if query.isDefined =>
        val (mp, pi, _, _) = Mpx.mpxAb(ts, query.get, w)
        MpResult(Profile(mp, pi, Array.empty, Array.empty, Array.empty, Array.empty,
          w, 0, join = true, "euclidean", "mpx"))
      case Seq(w) if samplePct >= 1.0 =>
        val (mp, pi) = Mpx.mpxSelf(ts, w)
        MpResult(Profile(mp, pi, Array.empty, Array.empty, Array.empty, Array.empty,
          w, Core.minlag(w), join = false, "euclidean", "mpx"))
      case Seq(w) =>
        val p = Scrimp.scrimpPlusPlus(ts, w)
        MpResult(Profile(p.mp, p.pi, Array.empty, Array.empty, Array.empty, Array.empty,
          p.w, p.ez, join = false, "euclidean", "scrimp++"))
      case ws =>
        PmpResult(Pmp(Skimp.skimp(ts, ws.toArray), ws.toArray, samplePct, "euclidean"))
    }
  }

  /** analyze(): preprocess (ref analyze.py:243-249) + compute +
    * motif/discord discovery (ref analyze.py:173-270).
    */
  def analyze(tsRaw: Array[Double], windows: Seq[Int] = Seq.empty,
      query: Option[Array[Double]] = None, samplePct: Double = 1.0,
      threshold: Double = 0.98,
      preprocessingKwargs: Option[PreprocessKwargs] = None): Result = {
    val ts = applyPreprocess(tsRaw, preprocessingKwargs)
    compute(ts, windows, query, samplePct, threshold) match {
      case MpResult(p) if !p.join =>
        val motifs = TopK.mpTopKMotifs(ts, p.mp, p.pi, p.w, p.ez, k = 3)
        val discords = TopK.mpTopKDiscords(p.mp, p.ez, k = 3)
        MpResult(p.copy(motifs = motifs, discords = discords))
      case other => other
    }
  }

  /** stomp entry (ref stomp.py:196) — full left/right profiles. */
  def stomp(ts: Array[Double], w: Int, query: Option[Array[Double]] = None): Profile = {
    val r = Stomp.stomp(ts, w, query)
    val ez = if (query.isDefined) 0 else Core.stompZone(w)
    Profile(r.mp, r.pi,
      Option(r.lmp).getOrElse(Array.empty), Option(r.lpi).getOrElse(Array.empty),
      Option(r.rmp).getOrElse(Array.empty), Option(r.rpi).getOrElse(Array.empty),
      w, ez, query.isDefined, "euclidean", "stomp")
  }
}
