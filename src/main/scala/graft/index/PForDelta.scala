package graft.index

import java.io.ByteArrayOutputStream

/** PForDelta-style patched bit-packed block codec for posting lists.
  *
  * Values are chunked into frames of up to 128; each frame picks the bit
  * width `b` that minimizes its encoded size: the low `b` bits of every
  * value are bit-packed little-endian, and values that don't fit `b` bits
  * become *exceptions* — their positions (gap-coded) and high bits
  * (`v >>> b`) are appended as VarByte patches after the packed section
  * (Zukowski et al., "Super-Scalar RAM-CPU Cache Compression", ICDE'06;
  * the NewPFD patch placement of Yan/Ding/Suel, WWW'09). Unlike VByte's
  * per-value branchy continuation bits, decode is a fixed-stride bit copy
  * per frame plus a short patch loop — and clustered docId gaps pack at
  * 2-8 bits/posting instead of VByte's 8-bit floor.
  *
  * Frame wire format (frames are concatenated; count is derived from the
  * caller-supplied `n`, so no frame count is stored):
  * {{{
  *   width   : 1 byte  (0..63)
  *   excCount: 1 byte  (0..128)
  *   packed  : ceil(k*b/8) bytes, k = min(128, remaining) values,
  *             little-endian bit order (bit i of value j is bit
  *             (j*b + i) of the section)
  *   patches : excCount × (VarByte posDelta, VarByte highBits)
  *             posDelta = position - previousPosition (first = position),
  *             highBits = value >>> b  (always >= 1)
  * }}}
  *
  * The width choice scans every candidate `b` against the frame's
  * bit-length histogram and takes the exact minimal cost, so degenerate
  * frames degrade gracefully: all-zero frames cost 2 bytes, frames with a
  * single huge outlier pack the rest tightly and patch the outlier.
  *
  * The codec identity is a founding index parameter
  * ([[IndexParams.asMap]] `codec=pfor1`), so an incremental append onto
  * an index built with a different codec is refused loudly rather than
  * silently misread.
  *
  * The reference engine delegates posting storage to OpenSearch/Lucene,
  * whose postings format is the same family (FOR-packed blocks of 128).
  */
object PForDelta {

  private val FRAME = 128

  def encode(values: Array[Long]): Array[Byte] = {
    val out = new ByteArrayOutputStream(values.length * 2)
    var off = 0
    while (off < values.length) {
      val k = math.min(FRAME, values.length - off)
      encodeFrame(values, off, k, out)
      off += k
    }
    out.toByteArray
  }

  /** Decode exactly `n` values from `bytes`. */
  def decode(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    decodeInto(bytes, n, out)
    out
  }

  /** Decode exactly `n` values from `bytes` into `out(0 until n)`
    * (`out.length >= n`; the rest of `out` is left as it was) — the one
    * decoder: a reused buffer makes a block decode allocation-free. */
  def decodeInto(bytes: Array[Byte], n: Int, out: Array[Long]): Unit = {
    var off = 0
    var pos = 0
    while (off < n) {
      val k = math.min(FRAME, n - off)
      pos = decodeFrame(bytes, pos, out, off, k)
      off += k
    }
  }

  /** Delta-gap encode a strictly increasing docId sequence relative to
    * `base` (gaps(0) = ids(0) - base, which may be 0; later gaps > 0). */
  def encodeGaps(ids: Array[Long], base: Long): Array[Byte] = {
    val gaps = new Array[Long](ids.length)
    var prev = base
    var i = 0
    while (i < ids.length) {
      val g = ids(i) - prev
      require(i == 0 || g > 0, s"docIds not strictly increasing at $i")
      require(g >= 0, s"docId below base at $i")
      gaps(i) = g
      prev = ids(i)
      i += 1
    }
    encode(gaps)
  }

  def decodeGaps(bytes: Array[Byte], n: Int, base: Long): Array[Long] = {
    val ids = new Array[Long](n)
    decodeGapsInto(bytes, n, base, ids)
    ids
  }

  /** [[decodeGaps]] into `out(0 until n)`, as [[decodeInto]]. */
  def decodeGapsInto(bytes: Array[Byte], n: Int, base: Long, out: Array[Long]): Unit = {
    decodeInto(bytes, n, out)
    var prev = base
    var i = 0
    while (i < n) {
      prev += out(i)
      out(i) = prev
      i += 1
    }
  }

  // ---- frame internals -----------------------------------------------

  private def bitsOf(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)

  private def vbLen(v: Long): Int = {
    var n = 1
    var x = v >>> 7
    while (x != 0) { n += 1; x >>>= 7 }
    n
  }

  private def encodeFrame(values: Array[Long], off: Int, k: Int,
                          out: ByteArrayOutputStream): Unit = {
    // bit-length histogram of the frame
    val cnt = new Array[Int](65)
    var maxBits = 0
    var i = 0
    while (i < k) {
      val v = values(off + i)
      require(v >= 0, s"PForDelta.encode: negative value $v")
      val b = bitsOf(v)
      cnt(b) += 1
      if (b > maxBits) maxBits = b
      i += 1
    }
    // exact minimal-cost width: packed bytes + patch bytes (posDelta is
    // always 1 VarByte byte since positions are < 128). Between histogram
    // breakpoints the cost is increasing in b (packed grows, exceptions
    // fixed), so only b = 0 and the distinct bit-lengths present are
    // candidates.
    var bestB = maxBits
    var bestCost = Long.MaxValue
    var b = 0
    while (b <= maxBits) {
      if (b == 0 || cnt(b) > 0) {
        var cost = 2L + ((k.toLong * b + 7) >> 3)
        var w = b + 1
        while (w <= maxBits) {
          // highBits of a w-bit value after >>> b has (w - b) bits
          if (cnt(w) > 0) cost += cnt(w).toLong * (1 + ((w - b) + 6) / 7)
          w += 1
        }
        if (cost < bestCost) { bestCost = cost; bestB = b }
      }
      b += 1
    }
    val width = bestB
    val mask = if (width == 0) 0L else (-1L >>> (64 - width))
    // count exceptions
    var exc = 0
    i = 0
    while (i < k) {
      if (bitsOf(values(off + i)) > width) exc += 1
      i += 1
    }
    out.write(width)
    out.write(exc)
    // packed low bits
    val packed = new Array[Byte](((k * width) + 7) >> 3)
    if (width > 0 && width <= 56) {
      // accumulator pack (mirror of the decode fast path): the flush keeps
      // accBits < 8 before each add, so accBits + width <= 63 never spills
      var acc = 0L
      var accBits = 0
      var op = 0
      i = 0
      while (i < k) {
        acc |= (values(off + i) & mask) << accBits
        accBits += width
        while (accBits >= 8) {
          packed(op) = acc.toByte
          op += 1
          acc >>>= 8
          accBits -= 8
        }
        i += 1
      }
      if (accBits > 0) packed(op) = acc.toByte
    } else if (width > 56) {
      var bit = 0
      i = 0
      while (i < k) {
        val low = values(off + i) & mask
        var rem = width
        var vOff = 0
        while (rem > 0) {
          val byteIdx = bit >>> 3
          val bitInByte = bit & 7
          val take = math.min(8 - bitInByte, rem)
          val chunk = ((low >>> vOff) & ((1L << take) - 1)).toInt
          packed(byteIdx) = (packed(byteIdx) | (chunk << bitInByte)).toByte
          bit += take; vOff += take; rem -= take
        }
        i += 1
      }
    }
    out.write(packed, 0, packed.length)
    // patches
    var prevPos = 0
    var first = true
    i = 0
    while (i < k) {
      val v = values(off + i)
      if (bitsOf(v) > width) {
        val delta = if (first) i else i - prevPos
        writeVb(out, delta.toLong)
        writeVb(out, v >>> width)
        prevPos = i
        first = false
      }
      i += 1
    }
  }

  private def decodeFrame(bytes: Array[Byte], pos0: Int,
                          out: Array[Long], off: Int, k: Int): Int = {
    var pos = pos0
    val width = bytes(pos) & 0xff; pos += 1
    val exc = bytes(pos) & 0xff; pos += 1
    val packedBytes = ((k * width) + 7) >> 3
    if (width == 0) {
      java.util.Arrays.fill(out, off, off + k, 0L)
    } else if (width <= 56) {
      // allocation-free accumulator unpack: refill whole bytes into a
      // 64-bit buffer, peel one value per mask+shift. width <= 56
      // guarantees a refill always reaches `width` bits without the
      // accumulator overflowing (accBits < 56 before each load).
      val mask = -1L >>> (64 - width)
      val bpEnd = pos + packedBytes
      var acc = 0L
      var accBits = 0
      var bp = pos
      var i = 0
      while (i < k) {
        while (accBits <= 56 && bp < bpEnd) { // top up, then peel a run
          acc |= (bytes(bp) & 0xffL) << accBits
          bp += 1
          accBits += 8
        }
        val end = off + k
        var o = off + i
        while (accBits >= width && o < end) {
          out(o) = acc & mask
          acc >>>= width
          accBits -= width
          o += 1
        }
        i = o - off
      }
    } else {
      // wide frames (57..63 bits, only near-uniform huge values): per-bit
      // copy — rare enough that simplicity beats speed
      val mask = -1L >>> (64 - width)
      var bit = 0
      var i = 0
      while (i < k) {
        var v = 0L
        var rem = width
        var vOff = 0
        while (rem > 0) {
          val byteIdx = pos + (bit >>> 3)
          val bitInByte = bit & 7
          val take = math.min(8 - bitInByte, rem)
          val chunk = ((bytes(byteIdx) & 0xff) >>> bitInByte) & ((1 << take) - 1)
          v |= chunk.toLong << vOff
          bit += take; vOff += take; rem -= take
        }
        out(off + i) = v & mask
        i += 1
      }
    }
    pos += packedBytes
    var e = 0
    var p = 0
    var first = true
    while (e < exc) {
      // writeVb writes the shortest form, so a value's length is vbLen
      val delta = readVb(bytes, pos)
      pos += vbLen(delta)
      val high = readVb(bytes, pos)
      pos += vbLen(high)
      p = if (first) delta.toInt else p + delta.toInt
      first = false
      out(off + p) |= high << width
      e += 1
    }
    pos
  }

  private def writeVb(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) {
      out.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  /** The VarByte value starting at `pos0` (it spans `vbLen(value)` bytes). */
  private def readVb(bytes: Array[Byte], pos0: Int): Long = {
    var pos = pos0
    var v = 0L
    var shift = 0
    var b = 0
    do {
      b = bytes(pos) & 0xff
      v |= (b & 0x7fL) << shift
      shift += 7
      pos += 1
    } while ((b & 0x80) != 0)
    v
  }
}
