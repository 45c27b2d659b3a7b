package graft.dist

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import graft.kernels.{Mpx, Stomp}

/** A tile's profile segment: `part` covers global positions [start, start +
  * its length) of a profile of total length `plen`. `P` is the kernel's own
  * partial type (`Mpx.PearsonBuf`, `Stomp.Batch`).
  */
final case class Segment[P](start: Int, plen: Int, part: P)

/** The engine's cross-partition reduction of tile segments: one typed
  * Aggregator per algorithm, each applying its kernel's own offset-aware
  * merge (MPX: elementwise Pearson max, clamped at 1.0, ref
  * cympx.pyx:104-112; STOMP: elementwise Euclidean min over mp/lmp/rmp,
  * ref stomp.py:340-357). Typed Aggregators give Spark's partial→final
  * aggregation (map-side combine before the shuffle), so a series tiled
  * over many partitions reduces as a tree, not through a single task. The
  * full-length buffer is allocated on the first reduce; the empty zero
  * never meets a merge.
  */
object ProfileMerge {

  class MpxMaxMergeAt extends Aggregator[Segment[Mpx.PearsonBuf], Mpx.PearsonBuf, Mpx.PearsonBuf] {
    override def zero: Mpx.PearsonBuf = Mpx.PearsonBuf(Array.empty, Array.empty)

    // a verbatim copy, not a merge: unclamped row-side values above 1.0
    // must keep their order against later segments, as in the whole sweep
    private def toFull(s: Segment[Mpx.PearsonBuf]): Mpx.PearsonBuf = {
      val full = Mpx.newBuf(s.plen)
      System.arraycopy(s.part.mp, 0, full.mp, s.start, s.part.mp.length)
      System.arraycopy(s.part.mpi, 0, full.mpi, s.start, s.part.mpi.length)
      full
    }

    override def reduce(buf: Mpx.PearsonBuf, in: Segment[Mpx.PearsonBuf]): Mpx.PearsonBuf =
      if (buf.mp.isEmpty) toFull(in) else Mpx.mergeInto(buf, in.part, in.start)
    override def merge(a: Mpx.PearsonBuf, b: Mpx.PearsonBuf): Mpx.PearsonBuf =
      if (a.mp.isEmpty) b else if (b.mp.isEmpty) a else Mpx.mergeInto(a, b)
    override def finish(r: Mpx.PearsonBuf): Mpx.PearsonBuf = Mpx.clampBuf(r)
    override def bufferEncoder: Encoder[Mpx.PearsonBuf] = Encoders.product[Mpx.PearsonBuf]
    override def outputEncoder: Encoder[Mpx.PearsonBuf] = Encoders.product[Mpx.PearsonBuf]
  }

  class StompMinMergeAt extends Aggregator[Segment[Stomp.Batch], Stomp.Batch, Stomp.Batch] {
    override def zero: Stomp.Batch = Stomp.Batch(
      Array.empty, Array.empty, Array.empty, Array.empty, Array.empty, Array.empty)

    // a min-merge into (+Inf, index 0) equals a verbatim copy: tile cells
    // still at +Inf were never written and hold index 0
    private def toFull(s: Segment[Stomp.Batch]): Stomp.Batch = {
      def infs() = Array.fill(s.plen)(Double.PositiveInfinity)
      def zeros() = new Array[Long](s.plen)
      Stomp.mergeInto(Stomp.Batch(infs(), zeros(), infs(), zeros(), infs(), zeros()),
        s.part, s.start)
    }

    override def reduce(buf: Stomp.Batch, in: Segment[Stomp.Batch]): Stomp.Batch =
      if (buf.mp.isEmpty) toFull(in) else Stomp.mergeInto(buf, in.part, in.start)
    override def merge(a: Stomp.Batch, b: Stomp.Batch): Stomp.Batch =
      if (a.mp.isEmpty) b else if (b.mp.isEmpty) a else Stomp.mergeInto(a, b)
    override def finish(r: Stomp.Batch): Stomp.Batch = r
    override def bufferEncoder: Encoder[Stomp.Batch] = Encoders.product[Stomp.Batch]
    override def outputEncoder: Encoder[Stomp.Batch] = Encoders.product[Stomp.Batch]
  }
}
