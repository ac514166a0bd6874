package graft.core

/** RLE / bit-packed hybrid stream (the Parquet hybrid grammar; behavior
  * matches the reference encoder policy at
  * `/root/reference/src/encodings/rle.rs:151-317`):
  *
  * {{{
  * run            := bit-packed-run | rle-run
  * bit-packed-run := vlq(groups << 1 | 1) then groups*8 values bit-packed
  * rle-run        := vlq(count << 1) then the value in ceil(bitWidth/8) bytes
  * }}}
  *
  * Encoder policy: values buffer in groups of 8; a value repeated more than
  * 8 times in a row switches to an RLE run; bit-packed runs are capped at 64
  * groups (512 values); the bit-packed indicator byte is reserved up front
  * and back-patched when the run closes.
  */
final class RleHybridEncoder(bitWidth: Int, initialCapacity: Int = 256) {
  require(bitWidth >= 0 && bitWidth <= 64, s"bad bit width $bitWidth")
  private val MaxGroupsPerRun = 64

  private val w = new BitWriter(initialCapacity)
  private val bufferedValues = new Array[Long](8)
  private var numBuffered = 0
  private var currentValue = 0L
  private var repeatCount = 0
  private var bitPackedCount = 0
  private var indicatorPos = -1

  def put(value: Long): Unit = {
    if (currentValue == value) {
      repeatCount += 1
      if (repeatCount > 8) return // continuation of an RLE run, nothing to buffer
    } else {
      if (repeatCount >= 8) flushRleRun()
      repeatCount = 1
      currentValue = value
    }
    bufferedValues(numBuffered) = value
    numBuffered += 1
    if (numBuffered == 8) flushBufferedValues()
  }

  /** Flush any pending run. The final partial group pads with zeros unless
    * everything pending is one repeated value (then it becomes an RLE run). */
  def flush(): Unit = {
    if (bitPackedCount > 0 || repeatCount > 0 || numBuffered > 0) {
      val allRepeat = bitPackedCount == 0 &&
        (repeatCount == numBuffered || numBuffered == 0)
      if (repeatCount > 0 && allRepeat) flushRleRun()
      else {
        if (numBuffered > 0) {
          while (numBuffered < 8) { bufferedValues(numBuffered) = 0L; numBuffered += 1 }
        }
        bitPackedCount += numBuffered
        flushBitPackedRun(updateIndicator = true)
        repeatCount = 0
      }
    }
  }

  def result(): Array[Byte] = { flush(); w.result() }

  def bytesWritten: Int = w.bytesWritten

  def clear(): Unit = {
    w.clear()
    numBuffered = 0
    currentValue = 0L
    repeatCount = 0
    bitPackedCount = 0
    indicatorPos = -1
  }

  private def flushRleRun(): Unit = {
    w.putVlq((repeatCount.toLong << 1))
    w.putAligned(currentValue, BitUtil.paddedByteWidth(bitWidth))
    numBuffered = 0
    repeatCount = 0
  }

  private def flushBitPackedRun(updateIndicator: Boolean): Unit = {
    if (indicatorPos < 0) indicatorPos = w.skip(1)
    var i = 0
    while (i < numBuffered) { w.putValue(bufferedValues(i), bitWidth); i += 1 }
    numBuffered = 0
    if (updateIndicator) {
      val numGroups = bitPackedCount / 8
      w.putAlignedOffset(((numGroups << 1) | 1).toLong, 1, indicatorPos)
      indicatorPos = -1
      bitPackedCount = 0
    }
  }

  private def flushBufferedValues(): Unit = {
    if (repeatCount >= 8) {
      // switch to RLE: drop the buffered copies, close any open bit-packed run
      numBuffered = 0
      if (bitPackedCount > 0) flushBitPackedRun(updateIndicator = true)
      return
    }
    bitPackedCount += numBuffered
    val numGroups = bitPackedCount / 8
    if (numGroups + 1 >= MaxGroupsPerRun) flushBitPackedRun(updateIndicator = true)
    else flushBitPackedRun(updateIndicator = false)
    repeatCount = 0
  }
}

object RleHybridEncoder {
  /** A level stream (one level per slot; `levels == null` means `n` ones)
    * as a prefix-free hybrid stream of `bitWidth` — the definition and
    * repetition levels of both containers. */
  def levels(levels: Array[Byte], n: Int, bitWidth: Int): Array[Byte] = {
    val enc = new RleHybridEncoder(bitWidth, math.max(64, n / 8))
    var i = 0
    if (levels == null) while (i < n) { enc.put(1L); i += 1 }
    else while (i < n) { enc.put(levels(i).toLong); i += 1 }
    enc.result()
  }
}

/** Decoder for the hybrid stream. */
final class RleHybridDecoder(bitWidth: Int, buf: Array[Byte], start: Int, end: Int) {
  def this(bitWidth: Int, buf: Array[Byte]) = this(bitWidth, buf, 0, buf.length)
  private val r = new BitReader(buf, start, end)
  private var rleLeft = 0L
  private var bitPackedLeft = 0L
  private var currentValue = 0L

  /** Read up to `n` values into `out`; returns number read. */
  def get(out: Array[Long], outOff: Int, n: Int): Int = {
    var read = 0
    while (read < n) {
      if (rleLeft == 0 && bitPackedLeft == 0 && !reload()) return read
      if (rleLeft > 0) {
        val k = math.min(rleLeft, (n - read).toLong).toInt
        java.util.Arrays.fill(out, outOff + read, outOff + read + k, currentValue)
        rleLeft -= k
        read += k
      } else {
        // only the values asked for must be in the stream: a short final
        // group is legal when the caller wants no more than it holds
        val k = math.min(bitPackedLeft, (n - read).toLong).toInt
        require(k.toLong * bitWidth <= r.bitsLeft,
          s"RLE/bit-packed hybrid: $k values of $bitWidth bits pass the " +
            s"stream end (${r.bitsLeft} bits left)")
        r.getBatch(out, outOff + read, k, bitWidth)
        bitPackedLeft -= k
        read += k
      }
    }
    read
  }

  /** Read exactly `n` values into `out`; a stream that ends before them
    * fails instead of leaving the missing slots as zeros. */
  def getExactly(out: Array[Long], outOff: Int, n: Int): Unit = {
    val got = get(out, outOff, n)
    require(got == n,
      s"RLE/bit-packed hybrid: stream ends after $got of $n values")
  }

  private def reload(): Boolean = {
    if (r.bytesLeft <= 0) return false
    val indicator = r.getVlq()
    if ((indicator & 1L) == 1L) {
      bitPackedLeft = (indicator >>> 1) * 8
    } else {
      rleLeft = indicator >>> 1
      currentValue = r.getAligned(BitUtil.paddedByteWidth(bitWidth))
    }
    true
  }
}

/** Boolean value encoding for data page v2: a 4-byte little-endian length
  * prefix followed by a bit-width-1 hybrid stream (reference:
  * `/root/reference/src/encodings/encoding.rs:433-514`). */
object RleBoolCodec {
  def encode(values: Array[Boolean]): Array[Byte] = {
    val rle = new RleHybridEncoder(1)
    var i = 0
    while (i < values.length) { rle.put(if (values(i)) 1L else 0L); i += 1 }
    val body = rle.result()
    val out = new Array[Byte](4 + body.length)
    out(0) = body.length.toByte
    out(1) = (body.length >>> 8).toByte
    out(2) = (body.length >>> 16).toByte
    out(3) = (body.length >>> 24).toByte
    System.arraycopy(body, 0, out, 4, body.length)
    out
  }

  /** Decode `numValues` booleans from the stream starting at `off`. */
  def decode(buf: Array[Byte], off: Int, numValues: Int): Array[Boolean] =
    decode(buf, off, buf.length, numValues)

  /** Decode `numValues` booleans from the stream in `buf[off, end)`. */
  def decode(buf: Array[Byte], off: Int, end: Int,
      numValues: Int): Array[Boolean] = {
    require(off >= 0 && end - off >= 4,
      s"RLE booleans: no 4-byte length at $off of $end bytes")
    val bodyLen = (buf(off) & 0xFF) | ((buf(off + 1) & 0xFF) << 8) |
      ((buf(off + 2) & 0xFF) << 16) | ((buf(off + 3) & 0xFF) << 24)
    require(bodyLen >= 0 && bodyLen <= end - off - 4,
      s"RLE booleans: body of $bodyLen bytes passes the ${end - off - 4} left")
    val dec = new RleHybridDecoder(1, buf, off + 4, off + 4 + bodyLen)
    val tmp = new Array[Long](numValues)
    dec.getExactly(tmp, 0, numValues)
    val out = new Array[Boolean](numValues)
    var i = 0
    while (i < numValues) { out(i) = tmp(i) != 0L; i += 1 }
    out
  }
}
