package graft.index

import java.io.ByteArrayOutputStream

/** Variable-byte integer codec — the size baseline of PForDeltaSpec's
  * compression gates.
  *
  * Historically the posting-block codec (docId gaps + term frequencies at
  * ~1-2 bytes per posting); postings now use [[PForDelta]], whose
  * bit-packed frames break VByte's 8-bit-per-value floor, and whose
  * patches use its own variable-byte writer.
  *
  * Encoding: little-endian base-128; the high bit of each byte is a
  * continuation flag (1 = more bytes follow). Values must be >= 0.
  */
object VarByte {

  def encode(values: Array[Long]): Array[Byte] = {
    val out = new ByteArrayOutputStream(values.length * 2)
    var i = 0
    while (i < values.length) {
      var v = values(i)
      require(v >= 0, s"VarByte.encode: negative value $v")
      while ((v & ~0x7fL) != 0) {
        out.write(((v & 0x7f) | 0x80).toInt)
        v >>>= 7
      }
      out.write(v.toInt)
      i += 1
    }
    out.toByteArray
  }

  /** Decode exactly `n` values from `bytes`. */
  def decode(bytes: Array[Byte], n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    var pos = 0
    while (i < n) {
      var v = 0L
      var shift = 0
      var b = 0
      do {
        b = bytes(pos) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7
        pos += 1
      } while ((b & 0x80) != 0)
      out(i) = v
      i += 1
    }
    out
  }

  /** Delta-gap encode a strictly increasing docId sequence relative to
    * `base` (gaps(0) = ids(0) - base; all gaps > 0 except the first which
    * may be 0 when ids(0) == base). */
  def encodeGaps(ids: Array[Long], base: Long): Array[Byte] = {
    val gaps = new Array[Long](ids.length)
    var prev = base
    var i = 0
    while (i < ids.length) {
      val g = ids(i) - prev
      require(i == 0 || g > 0, s"docIds not strictly increasing at $i")
      gaps(i) = g
      prev = ids(i)
      i += 1
    }
    encode(gaps)
  }

  def decodeGaps(bytes: Array[Byte], n: Int, base: Long): Array[Long] = {
    val gaps = decode(bytes, n)
    var prev = base
    var i = 0
    while (i < n) {
      prev += gaps(i)
      gaps(i) = prev
      i += 1
    }
    gaps
  }
}
