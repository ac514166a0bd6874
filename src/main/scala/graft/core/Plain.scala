package graft.core

/** PLAIN encoding (reference semantics at
  * `/root/reference/src/encodings/encoding.rs:85-183`):
  *  - BOOLEAN: 1 bit per value, LSB-first
  *  - INT32/FLOAT: 4-byte little-endian
  *  - INT64/DOUBLE: 8-byte little-endian
  *  - BYTE_ARRAY: 4-byte LE length prefix then the bytes
  */
object PlainCodec {

  def encode(vec: ColVec): Array[Byte] = vec match {
    case BoolVec(vs) =>
      val w = new BitWriter(BitUtil.ceil8(vs.length) + 8)
      var i = 0
      while (i < vs.length) { w.putValue(if (vs(i)) 1L else 0L, 1); i += 1 }
      w.result()
    case IntVec(vs) =>
      val out = new Array[Byte](4 * vs.length)
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < vs.length) { bb.putInt(vs(i)); i += 1 }
      out
    case LongVec(vs) =>
      val out = new Array[Byte](8 * vs.length)
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < vs.length) { bb.putLong(vs(i)); i += 1 }
      out
    case FloatVec(vs) =>
      val out = new Array[Byte](4 * vs.length)
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < vs.length) { bb.putFloat(vs(i)); i += 1 }
      out
    case DoubleVec(vs) =>
      val out = new Array[Byte](8 * vs.length)
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < vs.length) { bb.putDouble(vs(i)); i += 1 }
      out
    case v: BytesVec =>
      val n = v.length
      val out = new Array[Byte](math.toIntExact(v.rawSize))
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < n) {
        val len = v.len(i)
        bb.putInt(len)
        bb.put(v.data, v.start(i), len)
        i += 1
      }
      out
  }

  def decode(physicalType: Int, buf: Array[Byte], numValues: Int): ColVec =
    decodeSlice(physicalType, buf, 0, buf.length, numValues)

  /** Fixed value width of a physical type (0 for booleans and byte arrays). */
  private def width(physicalType: Int): Int = physicalType match {
    case PhysicalType.Int32 | PhysicalType.Float => 4
    case PhysicalType.Int64 | PhysicalType.Double => 8
    case _ => 0
  }

  def decodeSlice(physicalType: Int, buf: Array[Byte], off: Int, len: Int,
      numValues: Int): ColVec = {
    require(numValues >= 0 && off >= 0 && len >= 0 && off.toLong + len <= buf.length,
      s"PLAIN: $numValues values in [$off, $off + $len) of a ${buf.length}-byte buffer")
    require(numValues.toLong * width(physicalType) <= len,
      s"PLAIN: $numValues values of ${width(physicalType)} bytes need more than $len bytes")
    decodeChecked(physicalType, buf, off, len, numValues)
  }

  private def decodeChecked(physicalType: Int, buf: Array[Byte], off: Int, len: Int,
      numValues: Int): ColVec = physicalType match {
    case PhysicalType.Bool =>
      require((numValues + 7L) / 8 <= len,
        s"PLAIN booleans: $numValues values need more than $len bytes")
      // direct LSB-first bit extraction (no per-value reader state)
      val out = new Array[Boolean](numValues)
      var i = 0
      while (i < numValues) {
        out(i) = ((buf(off + (i >> 3)) >>> (i & 7)) & 1) != 0
        i += 1
      }
      BoolVec(out)
    case PhysicalType.Int32 =>
      val bb = java.nio.ByteBuffer.wrap(buf, off, len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Int](numValues)
      var i = 0
      while (i < numValues) { out(i) = bb.getInt(); i += 1 }
      IntVec(out)
    case PhysicalType.Int64 =>
      val bb = java.nio.ByteBuffer.wrap(buf, off, len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Long](numValues)
      var i = 0
      while (i < numValues) { out(i) = bb.getLong(); i += 1 }
      LongVec(out)
    case PhysicalType.Float =>
      val bb = java.nio.ByteBuffer.wrap(buf, off, len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Float](numValues)
      var i = 0
      while (i < numValues) { out(i) = bb.getFloat(); i += 1 }
      FloatVec(out)
    case PhysicalType.Double =>
      val bb = java.nio.ByteBuffer.wrap(buf, off, len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Double](numValues)
      var i = 0
      while (i < numValues) { out(i) = bb.getDouble(); i += 1 }
      DoubleVec(out)
    case PhysicalType.Bytes =>
      // one pass for offsets, then per-value copies into a single arena
      val bb = java.nio.ByteBuffer.wrap(buf, off, len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val offsets = new Array[Int](numValues + 1)
      var total = 0
      var i = 0
      while (i < numValues) {
        require(bb.remaining >= 4, s"PLAIN byte-array page truncated at value $i")
        val n = bb.getInt()
        require(n >= 0 && n <= bb.remaining,
          s"PLAIN byte-array value $i claims $n bytes past page end")
        offsets(i) = total
        total += n
        bb.position(bb.position() + n)
        i += 1
      }
      offsets(numValues) = total
      val data = new Array[Byte](total)
      val bb2 = java.nio.ByteBuffer.wrap(buf, off, len).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      i = 0
      while (i < numValues) {
        val n = bb2.getInt()
        bb2.get(data, offsets(i), n)
        i += 1
      }
      BytesVec(data, offsets)
  }

  /** PLAIN BYTE_ARRAY page decode appending into a shared accumulator —
    * one copy per value, no per-page vector, no cross-page concat. */
  def decodeBytesInto(buf: Array[Byte], off: Int, len: Int, numValues: Int,
      acc: BytesAccum): Unit = {
    var p = off
    val end = off + len
    var i = 0
    while (i < numValues) {
      require(p + 4 <= end, s"PLAIN byte-array page truncated at value $i")
      val n = (buf(p) & 0xFF) | ((buf(p + 1) & 0xFF) << 8) |
        ((buf(p + 2) & 0xFF) << 16) | ((buf(p + 3) & 0xFF) << 24)
      p += 4
      // n <= end - p, not p + n <= end: the addition can wrap for a
      // hostile length near Int.MaxValue and slip past the bound
      require(n >= 0 && n <= end - p,
        s"PLAIN byte-array value $i claims $n bytes past page end")
      val data = acc.ensure(n)
      System.arraycopy(buf, p, data, acc.writePos, n)
      acc.commit(n)
      p += n
      i += 1
    }
  }
}
