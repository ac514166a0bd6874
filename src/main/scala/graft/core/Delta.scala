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
    decodeWithEnd(buf, 0, buf.length, int32)._1

  /** THE delta-stream walker: decode the stream in `buf[off, end)`, in
    * place, plus the byte position just past it (byte-aligned). Every
    * consumer of an embedded delta stream (DELTA_LENGTH_BYTE_ARRAY lengths,
    * DELTA_BYTE_ARRAY prefix lengths, FSST value lengths) shares this
    * single implementation of the block/miniblock grammar instead of
    * re-walking with its own copy of the loop. */
  def decodeWithEnd(buf: Array[Byte], off: Int, end: Int,
      int32: Boolean): (Array[Long], Int) = {
    val r = new BitReader(buf, off, end)
    val blockClaim = r.getVlq()
    val miniClaim = r.getVlq()
    val totalClaim = r.getVlq()
    // the header is checked once, before anything is allocated from it:
    // the Parquet spec's block grammar, and no count denser than the bytes
    // left can carry (ChunkCodec.dense)
    val left = r.bytesLeft
    require(blockClaim > 0 && blockClaim % 128 == 0 && ChunkCodec.dense(blockClaim, left),
      s"DELTA_BINARY_PACKED stream: block size $blockClaim in $left bytes")
    require(miniClaim >= 1 && blockClaim % miniClaim == 0 && blockClaim / miniClaim % 32 == 0,
      s"DELTA_BINARY_PACKED stream: $miniClaim miniblocks per $blockClaim-value block")
    require(ChunkCodec.dense(totalClaim, left),
      s"DELTA_BINARY_PACKED stream: $totalClaim values in $left bytes")
    val numMiniBlocks = miniClaim.toInt
    val miniBlockSize = (blockClaim / miniClaim).toInt
    val total = totalClaim.toInt
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

  /** The first `n` value lengths of the stream in `buf[off, end)`, each
    * checked to lie inside it, and where the value bytes start. */
  private[core] def lengths(buf: Array[Byte], off: Int, end: Int,
      n: Int): (Array[Long], Int) = {
    val (lens, dataStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, off, end, int32 = true)
    require(lens.length >= n, s"byte-array stream has ${lens.length} values, page needs $n")
    var acc = 0L
    var i = 0
    while (i < n) {
      // each value must lie inside the stream: a cut-short data section
      // would otherwise decode as zero bytes
      require(lens(i) >= 0 && lens(i) <= end - dataStart - acc,
        s"byte-array value $i claims ${lens(i)} bytes past the stream end")
      acc += lens(i)
      i += 1
    }
    (lens, dataStart)
  }

  /** Append the first `n` values of the stream in `buf[off, end)` to
    * `acc`: the value bytes are contiguous, so one copy moves them all. */
  def decodeInto(buf: Array[Byte], off: Int, end: Int, n: Int,
      acc: BytesAccum): Unit = {
    val (lens, dataStart) = lengths(buf, off, end, n)
    var total = 0
    var i = 0
    while (i < n) { total += lens(i).toInt; i += 1 }
    System.arraycopy(buf, dataStart, acc.ensure(total), acc.writePos, total)
    i = 0
    while (i < n) { acc.commit(lens(i).toInt); i += 1 }
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

  /** Every value of one stream (tests and tools). */
  def decode(buf: Array[Byte]): BytesVec = {
    val acc = new BytesAccum(2 * buf.length, 16)
    decodeInto(buf, 0, buf.length, -1, acc)
    acc.toVec
  }

  /** Append the first `n` values of the stream in `buf[off, end)` to `acc`
    * (`n` < 0: all of them). Each value is rebuilt in the arena from the
    * previous one there and its suffix in `buf`: one copy per byte, into
    * room made once for the whole page. */
  def decodeInto(buf: Array[Byte], off: Int, end: Int, n: Int,
      acc: BytesAccum): Unit = {
    // ONE pass over the prefix-length stream: the shared walker decodes
    // and reports where the suffix section starts
    val (prefixes, suffixStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, off, end, int32 = true)
    val count = if (n < 0) prefixes.length else n
    require(prefixes.length >= count,
      s"byte-array stream has ${prefixes.length} values, page needs $count")
    val (suffixLens, dataStart) =
      DeltaLengthByteArrayCodec.lengths(buf, suffixStart, end, count)
    // each value shares at most its predecessor's bytes
    var total = 0L
    var prevLen = 0L
    var i = 0
    while (i < count) {
      val p = prefixes(i)
      require(p >= 0 && p <= prevLen,
        s"DELTA_BYTE_ARRAY value $i shares $p bytes with a $prevLen-byte predecessor")
      prevLen = p + suffixLens(i)
      total += prevLen
      i += 1
    }
    require(total <= Int.MaxValue - 16, s"DELTA_BYTE_ARRAY page expands to $total bytes")
    val data = acc.ensure(total.toInt)
    var s = dataStart
    var prevOff = 0
    i = 0
    while (i < count) {
      val p = prefixes(i).toInt
      val sLen = suffixLens(i).toInt
      val w = acc.writePos
      System.arraycopy(data, prevOff, data, w, p)
      System.arraycopy(buf, s, data, w + p, sLen)
      acc.commit(p + sLen)
      prevOff = w
      s += sLen
      i += 1
    }
  }
}
