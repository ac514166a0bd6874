package graft.core

/** Bit-level primitives shared by all codecs.
  *
  * Layout contract (same as the Parquet spec and the reference's
  * `/root/reference/src/util/bit_util.rs:134-361`): bit-packed values are
  * written LSB-first into a little-endian byte stream; aligned writes flush
  * the bit buffer to the next byte boundary first; VLQ ints are byte-aligned
  * 7-bit groups, low group first; zigzag maps sign into the low bit.
  *
  * The implementation is from scratch (growable buffer, no failure modes)
  * but byte-for-byte produces the same streams.
  */
object BitUtil {
  /** Minimum number of bits needed to represent unsigned `x`. */
  @inline def numRequiredBits(x: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(x)

  /** Bit width for a dictionary of `n` entries — matches the reference's
    * `log2` usage (`/root/reference/src/encodings/encoding.rs:331-340`):
    * 0 entries -> 0, 1 entry -> 1, else ceil(log2(n)). */
  @inline def dictBitWidth(n: Int): Int =
    if (n <= 0) 0
    else if (n == 1) 1
    else numRequiredBits((n - 1).toLong)

  @inline def ceil8(bits: Int): Int = (bits + 7) >>> 3

  @inline def paddedByteWidth(bitWidth: Int): Int = (bitWidth + 7) >>> 3

  private[core] val LongView = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  /** Lowercase hex of a digest — the ONE rendering every sha256 the engine
    * records (chunk hashes, lineage manifests, file manifests) flows
    * through, so the byte-equality contracts between them cannot drift. */
  def hexLower(d: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(d.length * 2)
    d.foreach(b => sb.append(f"${b & 0xFF}%02x"))
    sb.toString
  }
}

/** Growable little-endian bit/byte writer. */
final class BitWriter(initialCapacity: Int = 256) {
  private var buf = new Array[Byte](math.max(initialCapacity, 16))
  private var buffered: Long = 0L // pending bits, LSB-first
  private var byteOffset: Int = 0 // next aligned byte position in buf
  private var bitOffset: Int = 0  // bits used in `buffered`, always < 64

  private def ensure(upTo: Int): Unit = {
    if (upTo > buf.length) {
      var cap = buf.length << 1
      while (cap < upTo) cap <<= 1
      buf = java.util.Arrays.copyOf(buf, cap)
    }
  }

  @inline private def writeLE(v: Long, numBytes: Int, pos: Int): Unit = {
    var i = 0
    while (i < numBytes) { buf(pos + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  /** Write the `numBits` LSBs of `v`, bit-packed. */
  def putValue(v: Long, numBits: Int): Unit = {
    if (numBits == 0) return
    val m = if (numBits >= 64) v else v & ((1L << numBits) - 1)
    buffered |= m << bitOffset
    bitOffset += numBits
    if (bitOffset >= 64) {
      ensure(byteOffset + 8)
      writeLE(buffered, 8, byteOffset)
      byteOffset += 8
      bitOffset -= 64
      val sh = numBits - bitOffset
      buffered = if (sh >= 64) 0L else m >>> sh
    }
  }

  /** Flush pending bits, padding the last byte with zeros. */
  def alignToByte(): Unit = {
    if (bitOffset > 0) {
      val n = BitUtil.ceil8(bitOffset)
      ensure(byteOffset + n)
      writeLE(buffered, n, byteOffset)
      byteOffset += n
    }
    buffered = 0L
    bitOffset = 0
  }

  /** Reserve `n` aligned bytes (zeroed) and return their start offset, for
    * later back-patching via [[putAlignedOffset]]. */
  def skip(n: Int): Int = {
    alignToByte()
    ensure(byteOffset + n)
    java.util.Arrays.fill(buf, byteOffset, byteOffset + n, 0.toByte)
    val r = byteOffset
    byteOffset += n
    r
  }

  def putAligned(v: Long, numBytes: Int): Unit = {
    val pos = skip(numBytes)
    writeLE(v, numBytes, pos)
  }

  def putAlignedOffset(v: Long, numBytes: Int, offset: Int): Unit =
    writeLE(v, numBytes, offset)

  def putBytes(bytes: Array[Byte], from: Int, len: Int): Unit = {
    val pos = skip(len)
    System.arraycopy(bytes, from, buf, pos, len)
  }

  def putBytes(bytes: Array[Byte]): Unit = putBytes(bytes, 0, bytes.length)

  /** Unsigned LEB128. */
  def putVlq(v0: Long): Unit = {
    var v = v0
    while ((v & 0xFFFFFFFFFFFFFF80L) != 0L) {
      putAligned((v & 0x7F) | 0x80, 1)
      v >>>= 7
    }
    putAligned(v & 0x7F, 1)
  }

  def putZigZagVlq(v: Long): Unit = putVlq((v << 1) ^ (v >> 63))

  def bytesWritten: Int = byteOffset + BitUtil.ceil8(bitOffset)

  /** Aligns and returns a copy of the written bytes. */
  def result(): Array[Byte] = {
    alignToByte()
    java.util.Arrays.copyOf(buf, byteOffset)
  }

  def clear(): Unit = { buffered = 0L; byteOffset = 0; bitOffset = 0 }
}

/** Little-endian bit/byte reader mirroring [[BitWriter]]. */
final class BitReader(buf: Array[Byte], start: Int, end: Int) {
  def this(buf: Array[Byte]) = this(buf, 0, buf.length)
  private var byteOffset: Int = start
  private var bitOffset: Int = 0 // within current byte, [0,8)

  def position: Int = byteOffset
  def bytesLeft: Int = end - byteOffset
  def bitsLeft: Long = (end - byteOffset).toLong * 8 - bitOffset

  /** Read `numBits` as an unsigned value (LSB-first). */
  def getValue(numBits: Int): Long = {
    var result = 0L
    var got = 0
    while (got < numBits) {
      require(byteOffset < end, s"bit stream: value passes the stream end $end")
      val take = math.min(8 - bitOffset, numBits - got)
      val b = ((buf(byteOffset) & 0xFF) >>> bitOffset) & ((1 << take) - 1)
      result |= b.toLong << got
      got += take
      bitOffset += take
      if (bitOffset == 8) { bitOffset = 0; byteOffset += 1 }
    }
    result
  }

  /** Batch unpack — the counterpart of the reference's generated `unpack32`
    * kernels (`/root/reference/src/util/bit_packing.rs:33-74`, used by
    * `BitReader::get_batch`, bit_util.rs:454-526). One little-endian word
    * load + shift + mask per value instead of a byte-at-a-time loop: with
    * width <= 56 and a bit phase of < 8, every value fits one 64-bit load.
    * Falls back per-value near the buffer tail and for width > 56. */
  def getBatch(out: Array[Long], outOff: Int, n: Int, numBits: Int): Unit = {
    if (n <= 0) return
    if (numBits == 0) {
      java.util.Arrays.fill(out, outOff, outOff + n, 0L)
      return
    }
    if (numBits > 56) {
      var i = 0
      while (i < n) { out(outOff + i) = getValue(numBits); i += 1 }
      return
    }
    val mask = (1L << numBits) - 1
    // word decode: one unaligned 64-bit load yields floor((64-phase)/numBits)
    // values via shift+mask (the phase is < 8, so any width <= 56 fits).
    // Falls back to the bit-at-a-time path for the last < 8 buffer bytes.
    var bitPos = byteOffset.toLong * 8 + bitOffset
    var i = outOff
    val stop = outOff + n
    while (i < stop) {
      val p = (bitPos >>> 3).toInt
      if (p + 8 <= end) {
        var w = (BitUtil.LongView.get(buf, p): Long) >>> (bitPos & 7).toInt
        var avail = 64 - (bitPos & 7).toInt
        while (i < stop && avail >= numBits) {
          out(i) = w & mask
          w >>>= numBits
          avail -= numBits
          bitPos += numBits
          i += 1
        }
      } else {
        byteOffset = p
        bitOffset = (bitPos & 7).toInt
        while (i < stop) { out(i) = getValue(numBits); i += 1 }
        return
      }
    }
    byteOffset = (bitPos >>> 3).toInt
    bitOffset = (bitPos & 7).toInt
  }

  def alignToByte(): Unit = if (bitOffset != 0) { bitOffset = 0; byteOffset += 1 }

  /** Aligned little-endian read of `numBytes` (≤ 8). */
  def getAligned(numBytes: Int): Long = {
    alignToByte()
    require(byteOffset + numBytes <= end,
      s"bit stream: $numBytes-byte value at $byteOffset passes the stream end $end")
    var v = 0L
    var i = 0
    while (i < numBytes) { v |= (buf(byteOffset + i) & 0xFFL) << (8 * i); i += 1 }
    byteOffset += numBytes
    v
  }

  def getBytes(n: Int): Array[Byte] = {
    alignToByte()
    val out = java.util.Arrays.copyOfRange(buf, byteOffset, byteOffset + n)
    byteOffset += n
    out
  }

  /** Step over `n` bytes, which must lie inside the stream. */
  def skip(n: Int): Unit = {
    alignToByte()
    require(n >= 0 && n <= end - byteOffset,
      s"bit stream: $n bytes at $byteOffset pass the stream end $end")
    byteOffset += n
  }

  def getVlq(): Long = {
    alignToByte()
    var v = 0L
    var shift = 0
    var b = 0
    do {
      require(byteOffset < end, s"bit stream: varint passes the stream end $end")
      b = buf(byteOffset) & 0xFF
      byteOffset += 1
      v |= (b & 0x7FL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  def getZigZagVlq(): Long = {
    val u = getVlq()
    (u >>> 1) ^ -(u & 1L)
  }
}
