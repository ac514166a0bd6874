package graft.core

/** DELTA_BINARY_PACKED (frame-of-reference) for INT32/INT64.
  *
  * Stream layout (reference semantics at
  * `/root/reference/src/encodings/encoding.rs:516-811`):
  * {{{
  * header := vlq(blockSize=128) vlq(numMiniBlocks=4) vlq(totalValues)
  *           zigzagVlq(firstValue)
  * block  := zigzagVlq(minDelta) [4 miniblock bit-width bytes]
  *           [miniblocks: 32 values each, bit-packed (delta - minDelta)]
  * }}}
  * Deltas use WRAPPING subtraction; the INT32 path wraps in 32 bits and
  * zero-extends the packed (delta - minDelta) to avoid high garbage bits.
  * Partial miniblocks are padded with zeros; miniblocks never started keep
  * bit width 0. Partial blocks are flushed at `flush()`.
  */
final class DeltaBinaryPackedEncoder(int32: Boolean) {
  private val BlockSize = 128
  private val NumMiniBlocks = 4
  private val MiniBlockSize = BlockSize / NumMiniBlocks

  private val blocks = new BitWriter(1024)
  private var totalValues = 0L
  private var firstValue = 0L
  private var currentValue = 0L
  private var valuesInBlock = 0
  private val deltas = new Array[Long](BlockSize)

  @inline private def subtract(left: Long, right: Long): Long =
    if (int32) (left.toInt - right.toInt).toLong else left - right

  @inline private def subtractU64(left: Long, right: Long): Long =
    if (int32) ((left.toInt - right.toInt).toLong & 0xFFFFFFFFL) else left - right

  def put(values: Array[Long], off: Int, len: Int): Unit = {
    if (len == 0) return
    var idx = off
    if (totalValues == 0) {
      firstValue = values(off)
      currentValue = firstValue
      idx += 1
    }
    totalValues += len
    val end = off + len
    while (idx < end) {
      val v = values(idx)
      deltas(valuesInBlock) = subtract(v, currentValue)
      currentValue = v
      idx += 1
      valuesInBlock += 1
      if (valuesInBlock == BlockSize) flushBlock()
    }
  }

  def put(values: Array[Long]): Unit = put(values, 0, values.length)

  def putInts(values: Array[Int], off: Int, len: Int): Unit = {
    var i = 0
    val tmp = new Array[Long](len)
    while (i < len) { tmp(i) = values(off + i).toLong; i += 1 }
    put(tmp, 0, len)
  }

  def estimatedSize: Int = blocks.bytesWritten

  /** Emit header ++ blocks and reset so the encoder is reusable. */
  def result(): Array[Byte] = {
    flushBlock()
    val header = new BitWriter(32)
    header.putVlq(BlockSize.toLong)
    header.putVlq(NumMiniBlocks.toLong)
    header.putVlq(totalValues)
    header.putZigZagVlq(firstValue)
    val h = header.result()
    val b = blocks.result()
    val out = new Array[Byte](h.length + b.length)
    System.arraycopy(h, 0, out, 0, h.length)
    System.arraycopy(b, 0, out, h.length, b.length)
    blocks.clear()
    totalValues = 0
    firstValue = 0
    currentValue = 0
    valuesInBlock = 0
    out
  }

  private def flushBlock(): Unit = {
    if (valuesInBlock == 0) return
    var minDelta = Long.MaxValue
    var i = 0
    while (i < valuesInBlock) { minDelta = math.min(minDelta, deltas(i)); i += 1 }
    blocks.putZigZagVlq(minDelta)
    val widthsPos = blocks.skip(NumMiniBlocks)
    var mb = 0
    var left = valuesInBlock
    while (mb < NumMiniBlocks && left > 0) {
      val n = math.min(MiniBlockSize, left)
      var maxPacked = 0L
      var j = 0
      while (j < n) {
        val p = subtractU64(deltas(mb * MiniBlockSize + j), minDelta)
        if (java.lang.Long.compareUnsigned(p, maxPacked) > 0) maxPacked = p
        j += 1
      }
      val width = BitUtil.numRequiredBits(maxPacked)
      blocks.putAlignedOffset(width.toLong, 1, widthsPos + mb)
      j = 0
      while (j < n) {
        blocks.putValue(subtractU64(deltas(mb * MiniBlockSize + j), minDelta), width)
        j += 1
      }
      while (j < MiniBlockSize) { blocks.putValue(0L, width); j += 1 }
      left -= n
      mb += 1
    }
    valuesInBlock = 0
  }
}

object DeltaBinaryPackedDecoder {
  /** Decode a full stream produced by [[DeltaBinaryPackedEncoder]]. */
  def decode(buf: Array[Byte], int32: Boolean): Array[Long] =
    decode(buf, 0, int32)

  /** In-place variant reading from `off` — callers with an embedded stream
    * (e.g. the FSST length stream) must not copy the whole tail just to
    * hand this decoder a zero-based array. */
  def decode(buf: Array[Byte], off: Int, int32: Boolean): Array[Long] =
    decodeWithEnd(buf, off, int32)._1

  /** THE delta-stream walker: decode plus the byte position just past the
    * stream (byte-aligned). Every consumer of an embedded delta stream
    * (DELTA_LENGTH_BYTE_ARRAY lengths, DELTA_BYTE_ARRAY prefix lengths)
    * shares this single implementation of the block/miniblock grammar
    * instead of re-walking with its own copy of the loop. */
  def decodeWithEnd(buf: Array[Byte], off: Int,
      int32: Boolean): (Array[Long], Int) = {
    val r = new BitReader(buf, off, buf.length)
    val blockSize = r.getVlq().toInt
    val numMiniBlocks = r.getVlq().toInt
    val total = r.getVlq().toInt
    val miniBlockSize = blockSize / numMiniBlocks
    val out = new Array[Long](total)
    if (total == 0) { r.getZigZagVlq(); return (out, r.position) }
    var current = r.getZigZagVlq()
    out(0) = if (int32) current.toInt.toLong else current
    var produced = 1
    val mbVals = new Array[Long](miniBlockSize)
    while (produced < total) {
      val minDelta = r.getZigZagVlq()
      val widths = new Array[Int](numMiniBlocks)
      var i = 0
      while (i < numMiniBlocks) { widths(i) = (r.getAligned(1) & 0xFF).toInt; i += 1 }
      var mb = 0
      while (mb < numMiniBlocks && produced < total) {
        r.getBatch(mbVals, 0, miniBlockSize, widths(mb))
        val take = math.min(miniBlockSize, total - produced)
        var j = 0
        while (j < take) {
          current =
            if (int32) (current.toInt + minDelta.toInt + mbVals(j).toInt).toLong
            else current + minDelta + mbVals(j)
          out(produced) = current
          produced += 1
          j += 1
        }
        mb += 1
      }
    }
    r.alignToByte()
    (out, r.position)
  }
}

/** DELTA_LENGTH_BYTE_ARRAY: lengths DELTA_BINARY_PACKED (int32) followed by
  * the concatenated raw bytes (reference
  * `/root/reference/src/encodings/encoding.rs:813-884`). */
object DeltaLengthByteArrayCodec {
  def encode(vec: BytesVec): Array[Byte] = {
    val n = vec.length
    val lenEnc = new DeltaBinaryPackedEncoder(int32 = true)
    val lens = new Array[Long](n)
    var i = 0
    while (i < n) { lens(i) = vec.len(i).toLong; i += 1 }
    lenEnc.put(lens)
    val head = lenEnc.result()
    val total = vec.totalBytes
    val out = new Array[Byte](head.length + total)
    System.arraycopy(head, 0, out, 0, head.length)
    // values are contiguous in the arena: ONE copy for the whole section
    System.arraycopy(vec.data, vec.offsets(0), out, head.length, total)
    out
  }

  /** Returns (values, bytesConsumed). The length stream is self-delimiting
    * only via its value count, so the shared walker reports where the data
    * section starts. */
  def decodeWithLength(buf: Array[Byte], off: Int): (BytesVec, Int) = {
    val (lens, dataStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, off, int32 = true)
    val total = lens.length
    val offsets = new Array[Int](total + 1)
    var acc = 0
    var i = 0
    while (i < total) {
      // each value must lie inside the stream: a cut-short data section
      // would otherwise decode as zero bytes
      require(lens(i) >= 0 && lens(i) <= buf.length - dataStart - acc,
        s"byte-array value $i claims ${lens(i)} bytes past the stream end")
      offsets(i) = acc
      acc += lens(i).toInt
      i += 1
    }
    offsets(total) = acc
    val data = java.util.Arrays.copyOfRange(buf, dataStart, dataStart + acc)
    (BytesVec(data, offsets), dataStart + acc - off)
  }
}

/** DELTA_BYTE_ARRAY (incremental / front coding): shared-prefix lengths vs
  * the previous value DELTA_BINARY_PACKED, suffixes DELTA_LENGTH_BYTE_ARRAY
  * (reference `/root/reference/src/encodings/encoding.rs:886-967`). The
  * `previous` state persists across `put` calls and resets on `result()`. */
final class DeltaByteArrayEncoder {
  private var prefixLens = new Array[Long](256)
  private var nVals = 0
  // suffix arena
  private var sData = new Array[Byte](4096)
  private var sOffsets = new IntArrayList()
  sOffsets.add(0)
  // previous value = a view into the last arena seen (kept alive by ref)
  private var prevArr: Array[Byte] = Array.emptyByteArray
  private var prevOff = 0
  private var prevLen = 0

  def put(vec: BytesVec): Unit = {
    var i = 0
    val n = vec.length
    while (i < n) {
      val off = vec.start(i)
      val len = vec.len(i)
      val maxLen = math.min(prevLen, len)
      var m = 0
      while (m < maxLen && prevArr(prevOff + m) == vec.data(off + m)) m += 1
      if (nVals == prefixLens.length)
        prefixLens = java.util.Arrays.copyOf(prefixLens, nVals << 1)
      prefixLens(nVals) = m.toLong
      nVals += 1
      val sLen = len - m
      val sEnd = sOffsets.get(sOffsets.size - 1)
      if (sEnd + sLen > sData.length) {
        var cap = sData.length << 1
        while (cap < sEnd + sLen) cap <<= 1
        sData = java.util.Arrays.copyOf(sData, cap)
      }
      System.arraycopy(vec.data, off + m, sData, sEnd, sLen)
      sOffsets.add(sEnd + sLen)
      prevArr = vec.data; prevOff = off; prevLen = len
      i += 1
    }
  }

  def result(): Array[Byte] = {
    val lenEnc = new DeltaBinaryPackedEncoder(int32 = true)
    lenEnc.put(prefixLens, 0, nVals)
    val head = lenEnc.result()
    val offs = new Array[Int](nVals + 1)
    var i = 0
    while (i <= nVals) { offs(i) = sOffsets.get(i); i += 1 }
    val tail = DeltaLengthByteArrayCodec.encode(BytesVec(sData, offs))
    val out = new Array[Byte](head.length + tail.length)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(tail, 0, out, head.length, tail.length)
    nVals = 0
    sOffsets.clear()
    sOffsets.add(0)
    prevArr = Array.emptyByteArray; prevOff = 0; prevLen = 0
    out
  }
}

object DeltaByteArrayCodec {
  def encode(vec: BytesVec): Array[Byte] = {
    val e = new DeltaByteArrayEncoder
    e.put(vec)
    e.result()
  }

  /** Decode the stream starting at `off`. */
  def decode(buf: Array[Byte], off: Int = 0): BytesVec = {
    // ONE pass over the prefix-length stream: the shared walker decodes
    // and reports where the suffix section starts (the old code decoded
    // the stream once and re-walked it a second time just for position)
    val (prefixStream, suffixStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, off, int32 = true)
    val total = prefixStream.length
    val (suffixes, _) = DeltaLengthByteArrayCodec.decodeWithLength(buf, suffixStart)
    // exact output arena: len(i) = prefix(i) + suffixLen(i); prev is a view
    // into the output arena itself, so reconstruction never copies twice
    val offsets = new Array[Int](total + 1)
    var acc = 0
    var i = 0
    while (i < total) {
      offsets(i) = acc
      acc += prefixStream(i).toInt + suffixes.len(i)
      i += 1
    }
    offsets(total) = acc
    val data = new Array[Byte](acc)
    var prevOff = 0
    i = 0
    while (i < total) {
      val p = prefixStream(i).toInt
      val sLen = suffixes.len(i)
      val off = offsets(i)
      System.arraycopy(data, prevOff, data, off, p)
      System.arraycopy(suffixes.data, suffixes.start(i), data, off + p, sLen)
      prevOff = off
      i += 1
    }
    BytesVec(data, offsets)
  }
}
