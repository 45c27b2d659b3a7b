package graft.compress

/** Gorilla-style chunk compression: XOR float encoding for values and
  * delta-of-delta for bucket timestamps (Pelkonen et al., "Gorilla: A
  * Fast, Scalable, In-Memory Time Series Database", VLDB 2015 — engine
  * addition, no reference-library counterpart).
  *
  * Value stream: first value raw 64 bits; then per value the XOR with the
  * previous: '0' if zero, '10' + meaningful bits when the previous
  * leading/trailing-zero window still fits, '11' + 5-bit leading-zero
  * count + 6-bit length + bits otherwise.
  *
  * Timestamp stream: first timestamp raw 64 bits, first delta zigzagged
  * varint-bucketed; then delta-of-delta with buckets
  * 0 / 7 / 9 / 12 / 32 / 64 bits. Regular (gap-filled) grids collapse to
  * one bit per point.
  */
object Gorilla {

  final class BitWriter(initial: Int = 1 << 10) {
    private var buf = new Array[Byte](initial)
    private var bitPos = 0L

    private def ensure(bits: Long): Unit = {
      val needBytes = ((bitPos + bits + 7) / 8).toInt
      if (needBytes > buf.length) {
        var n = buf.length * 2
        while (n < needBytes) n *= 2
        buf = java.util.Arrays.copyOf(buf, n)
      }
    }

    def writeBit(b: Int): Unit = {
      ensure(1)
      if (b != 0) {
        val idx = (bitPos >>> 3).toInt
        buf(idx) = (buf(idx) | (1 << (7 - (bitPos & 7)).toInt)).toByte
      }
      bitPos += 1
    }

    def writeBits(v: Long, n: Int): Unit = {
      ensure(n)
      var i = n - 1
      while (i >= 0) {
        writeBitFast(((v >>> i) & 1L).toInt)
        i -= 1
      }
    }

    private def writeBitFast(b: Int): Unit = {
      if (b != 0) {
        val idx = (bitPos >>> 3).toInt
        buf(idx) = (buf(idx) | (1 << (7 - (bitPos & 7)).toInt)).toByte
      }
      bitPos += 1
    }

    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, ((bitPos + 7) / 8).toInt)
  }

  final class BitReader(bytes: Array[Byte]) {
    private var bitPos = 0L

    def readBit(): Int = {
      val idx = (bitPos >>> 3).toInt
      val b = (bytes(idx) >>> (7 - (bitPos & 7)).toInt) & 1
      bitPos += 1
      b
    }

    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }
  }

  // ---- value stream (XOR) ----

  def encodeValues(values: Array[Double]): Array[Byte] = {
    val w = new BitWriter()
    if (values.isEmpty) return w.toBytes
    var prev = java.lang.Double.doubleToRawLongBits(values(0))
    w.writeBits(prev, 64)
    var prevLead = -1
    var prevLen = 0
    var i = 1
    while (i < values.length) {
      val cur = java.lang.Double.doubleToRawLongBits(values(i))
      val x = cur ^ prev
      if (x == 0L) w.writeBit(0)
      else {
        w.writeBit(1)
        val lead = java.lang.Long.numberOfLeadingZeros(x)
        val trail = java.lang.Long.numberOfTrailingZeros(x)
        if (prevLead >= 0 && lead >= prevLead && (64 - prevLead - prevLen) <= trail) {
          w.writeBit(0)
          w.writeBits(x >>> (64 - prevLead - prevLen), prevLen)
        } else {
          w.writeBit(1)
          val leadC = math.min(lead, 31) // 5-bit field; len absorbs the rest
          val len = 64 - leadC - trail
          w.writeBits(leadC.toLong, 5)
          w.writeBits((len & 63).toLong, 6) // 64 encodes as 0
          w.writeBits(x >>> trail, len)
          prevLead = leadC
          prevLen = len
        }
      }
      prev = cur
      i += 1
    }
    w.toBytes
  }

  def decodeValues(bytes: Array[Byte], count: Int): Array[Double] = {
    val out = new Array[Double](count)
    if (count == 0) return out
    val r = new BitReader(bytes)
    var prev = r.readBits(64)
    out(0) = java.lang.Double.longBitsToDouble(prev)
    var prevLead = 0
    var prevLen = 0
    var i = 1
    while (i < count) {
      if (r.readBit() == 0) out(i) = java.lang.Double.longBitsToDouble(prev)
      else {
        if (r.readBit() == 0) {
          val bits = r.readBits(prevLen)
          prev = prev ^ (bits << (64 - prevLead - prevLen))
        } else {
          prevLead = r.readBits(5).toInt
          prevLen = r.readBits(6).toInt
          if (prevLen == 0) prevLen = 64
          val bits = r.readBits(prevLen)
          val trail = 64 - prevLead - prevLen
          prev = prev ^ (bits << trail)
        }
        out(i) = java.lang.Double.longBitsToDouble(prev)
      }
      i += 1
    }
    out
  }

  // ---- timestamp stream (delta-of-delta) ----

  private def writeDod(w: BitWriter, dod: Long): Unit = {
    if (dod == 0) w.writeBit(0)
    else if (dod >= -63 && dod <= 64) { w.writeBits(2L, 2); w.writeBits(dod + 63, 7) }
    else if (dod >= -255 && dod <= 256) { w.writeBits(6L, 3); w.writeBits(dod + 255, 9) }
    else if (dod >= -2047 && dod <= 2048) { w.writeBits(14L, 4); w.writeBits(dod + 2047, 12) }
    else if (dod >= Int.MinValue && dod <= Int.MaxValue) {
      w.writeBits(30L, 5); w.writeBits(dod & 0xffffffffL, 32)
    } else { w.writeBits(31L, 5); w.writeBits(dod, 64) }
  }

  private def readDod(r: BitReader): Long = {
    if (r.readBit() == 0) return 0L
    if (r.readBit() == 0) return r.readBits(7) - 63
    if (r.readBit() == 0) return r.readBits(9) - 255
    if (r.readBit() == 0) return r.readBits(12) - 2047
    if (r.readBit() == 0) r.readBits(32).toInt.toLong
    else r.readBits(64)
  }

  def encodeTimestamps(ts: Array[Long]): Array[Byte] = {
    val w = new BitWriter()
    if (ts.isEmpty) return w.toBytes
    w.writeBits(ts(0), 64)
    if (ts.length > 1) {
      var prevDelta = ts(1) - ts(0)
      writeDod(w, prevDelta) // first delta encoded as DoD against 0
      var i = 2
      while (i < ts.length) {
        val delta = ts(i) - ts(i - 1)
        writeDod(w, delta - prevDelta)
        prevDelta = delta
        i += 1
      }
    }
    w.toBytes
  }

  def decodeTimestamps(bytes: Array[Byte], count: Int): Array[Long] = {
    val out = new Array[Long](count)
    if (count == 0) return out
    val r = new BitReader(bytes)
    out(0) = r.readBits(64)
    if (count > 1) {
      var prevDelta = readDod(r)
      out(1) = out(0) + prevDelta
      var i = 2
      while (i < count) {
        prevDelta += readDod(r)
        out(i) = out(i - 1) + prevDelta
        i += 1
      }
    }
    out
  }
}
