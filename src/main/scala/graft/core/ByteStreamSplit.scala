package graft.core

/** BYTE_STREAM_SPLIT (parquet-format Encodings.md, encoding id 9): byte j
  * of every value is grouped into stream j (k streams for k-byte values,
  * little-endian byte order like PLAIN), streams concatenated. The
  * transform is a pure permutation — identical size uncompressed — but it
  * clusters IEEE-754 sign/exponent bytes together, so general-purpose block
  * codecs compress scientific/embedding float columns far better.
  *
  * Post-dates the reference (PARQUET-1622); implemented for write/read
  * parity with modern parquet-mr and arrow, which both speak it.
  */
object ByteStreamSplitCodec {

  def encode(vec: ColVec): Array[Byte] = vec match {
    case FloatVec(vs) =>
      val n = vs.length
      val out = new Array[Byte](4 * n)
      var i = 0
      while (i < n) {
        val b = java.lang.Float.floatToRawIntBits(vs(i))
        out(i) = b.toByte
        out(n + i) = (b >>> 8).toByte
        out(2 * n + i) = (b >>> 16).toByte
        out(3 * n + i) = (b >>> 24).toByte
        i += 1
      }
      out
    case DoubleVec(vs) =>
      val n = vs.length
      val out = new Array[Byte](8 * n)
      var i = 0
      while (i < n) {
        val b = java.lang.Double.doubleToRawLongBits(vs(i))
        var j = 0
        while (j < 8) { out(j * n + i) = (b >>> (8 * j)).toByte; j += 1 }
        i += 1
      }
      out
    case other => throw new IllegalArgumentException(
      s"BYTE_STREAM_SPLIT over ${other.getClass.getSimpleName}")
  }

  /** Decode `n` FLOAT or DOUBLE values from the streams at buf[off..). */
  def decode(physicalType: Int, buf: Array[Byte], off: Int, end: Int,
      n: Int): ColVec =
    physicalType match {
      case PhysicalType.Float => FloatVec(decodeFloats(buf, off, end, n))
      case PhysicalType.Double => DoubleVec(decodeDoubles(buf, off, end, n))
      case other => throw new IllegalArgumentException(
        s"BYTE_STREAM_SPLIT over physical type $other not supported")
    }

  private def decodeFloats(buf: Array[Byte], off: Int, end: Int,
      n: Int): Array[Float] = {
    require(off + 4L * n <= end,
      s"BYTE_STREAM_SPLIT needs ${4L * n} bytes, has ${end - off}")
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      val b = (buf(off + i) & 0xFF) |
        ((buf(off + n + i) & 0xFF) << 8) |
        ((buf(off + 2 * n + i) & 0xFF) << 16) |
        ((buf(off + 3 * n + i) & 0xFF) << 24)
      out(i) = java.lang.Float.intBitsToFloat(b)
      i += 1
    }
    out
  }

  private def decodeDoubles(buf: Array[Byte], off: Int, end: Int,
      n: Int): Array[Double] = {
    require(off + 8L * n <= end,
      s"BYTE_STREAM_SPLIT needs ${8L * n} bytes, has ${end - off}")
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      var b = 0L
      var j = 0
      while (j < 8) {
        b |= (buf(off + j * n + i) & 0xFFL) << (8 * j)
        j += 1
      }
      out(i) = java.lang.Double.longBitsToDouble(b)
      i += 1
    }
    out
  }
}
