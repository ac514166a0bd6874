package graft.core

/** A decoded column chunk: one typed value vector.
  *
  * The engine's value model mirrors the reference's physical types that our
  * input schema can produce (`/root/reference/src/basic.rs:39-48` BOOLEAN /
  * INT32 / INT64 / FLOAT / DOUBLE / BYTE_ARRAY): strings travel as UTF-8
  * byte arrays so encode/decode is byte-exact.
  */
sealed trait ColVec {
  def length: Int
  def physicalType: Int
  /** Raw (uncompressed, PLAIN-equivalent) byte size, the codec baseline. */
  def rawSize: Long
}

object ColVec {
  /** The values at positions `idx`, in that order (row selection and
    * dictionary expansion). */
  def gather(vec: ColVec, idx: Array[Int]): ColVec = {
    val n = idx.length
    vec match {
      case IntVec(vs) =>
        val o = new Array[Int](n); var i = 0
        while (i < n) { o(i) = vs(idx(i)); i += 1 }; IntVec(o)
      case LongVec(vs) =>
        val o = new Array[Long](n); var i = 0
        while (i < n) { o(i) = vs(idx(i)); i += 1 }; LongVec(o)
      case FloatVec(vs) =>
        val o = new Array[Float](n); var i = 0
        while (i < n) { o(i) = vs(idx(i)); i += 1 }; FloatVec(o)
      case DoubleVec(vs) =>
        val o = new Array[Double](n); var i = 0
        while (i < n) { o(i) = vs(idx(i)); i += 1 }; DoubleVec(o)
      case BoolVec(vs) =>
        val o = new Array[Boolean](n); var i = 0
        while (i < n) { o(i) = vs(idx(i)); i += 1 }; BoolVec(o)
      case v: BytesVec =>
        val offsets = new Array[Int](n + 1)
        var total = 0
        var i = 0
        while (i < n) { offsets(i) = total; total += v.len(idx(i)); i += 1 }
        offsets(n) = total
        val data = new Array[Byte](total)
        i = 0
        while (i < n) {
          System.arraycopy(v.data, v.start(idx(i)), data, offsets(i), v.len(idx(i)))
          i += 1
        }
        BytesVec(data, offsets)
    }
  }

  /** [[gather]] of byte values appended to a shared arena (the multi-page
    * decode path: same copies, minus the per-page vector and its concat). */
  def gatherBytesInto(v: BytesVec, idx: Array[Int], acc: BytesAccum): Unit = {
    var i = 0
    while (i < idx.length) {
      val n = v.len(idx(i))
      val data = acc.ensure(n)
      System.arraycopy(v.data, v.start(idx(i)), data, acc.writePos, n)
      acc.commit(n)
      i += 1
    }
  }
}

object PhysicalType {
  val Bool = 0
  val Int32 = 1
  val Int64 = 2
  val Float = 3
  val Double = 4
  val Bytes = 5 // BYTE_ARRAY (UTF8 strings included)
}

final case class BoolVec(values: Array[Boolean]) extends ColVec {
  def length: Int = values.length
  def physicalType: Int = PhysicalType.Bool
  def rawSize: Long = (values.length + 7L) / 8L
}
final case class IntVec(values: Array[Int]) extends ColVec {
  def length: Int = values.length
  def physicalType: Int = PhysicalType.Int32
  def rawSize: Long = 4L * values.length
}
final case class LongVec(values: Array[Long]) extends ColVec {
  def length: Int = values.length
  def physicalType: Int = PhysicalType.Int64
  def rawSize: Long = 8L * values.length
}
final case class FloatVec(values: Array[Float]) extends ColVec {
  def length: Int = values.length
  def physicalType: Int = PhysicalType.Float
  def rawSize: Long = 4L * values.length
}
final case class DoubleVec(values: Array[Double]) extends ColVec {
  def length: Int = values.length
  def physicalType: Int = PhysicalType.Double
  def rawSize: Long = 8L * values.length
}
/** BYTE_ARRAY (UTF-8 for strings), arena representation: ONE contiguous
  * byte buffer + an offsets array (value i = data[offsets(i), offsets(i+1))).
  * No per-value heap objects — at 100 TB the alternative is millions of
  * small arrays per task and an allocator-bound encode. `offsets(0)` may be
  * non-zero: slicing shares `data` and copies only the offset window. */
final case class BytesVec(data: Array[Byte], offsets: Array[Int]) extends ColVec {
  def length: Int = offsets.length - 1
  def physicalType: Int = PhysicalType.Bytes
  @inline def start(i: Int): Int = offsets(i)
  @inline def len(i: Int): Int = offsets(i + 1) - offsets(i)
  /** Total value bytes covered by this (possibly sliced) vector. */
  def totalBytes: Int = offsets(length) - offsets(0)
  def rawSize: Long = totalBytes.toLong + 4L * length
  /** Copy out value i (test/interop convenience — not for hot paths). */
  def valueBytes(i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(data, offsets(i), offsets(i + 1))
  /** Zero-copy slice of values [from, until). */
  def slice(from: Int, until: Int): BytesVec =
    BytesVec(data, java.util.Arrays.copyOfRange(offsets, from, until + 1))
}

/** Append-only builder of ONE BytesVec arena across many decoded pages —
  * the multi-page chunk decode path writes each page's values straight in
  * here instead of building a per-page vector and paying a full-arena
  * `concat` copy at the end (on a 256-page string chunk that copy is a
  * second pass over every value byte). BOTH sizes are hints only (the
  * chunk's uncompressed size bounds pure-PLAIN output exactly;
  * dictionary-expanded output can exceed it; both arrays grow by
  * doubling) — so a hostile footer's claimed counts never translate into
  * an upfront allocation bigger than the values that actually decode.
  * The finished vector may alias an oversized `data` array — BytesVec
  * length/offsets semantics never look past `offsets(length)`. */
final class BytesAccum(dataCap: Int, valuesHint: Int) {
  private var data = new Array[Byte](math.max(dataCap, 64))
  private var offsets = new Array[Int](math.max(valuesHint, 15) + 1)
  private var count = 0
  private var pos = 0

  @inline def ensure(extra: Int): Array[Byte] = {
    if (pos + extra > data.length) {
      var cap = data.length
      while (cap < pos + extra) cap = math.max(cap * 2, cap + extra)
      data = java.util.Arrays.copyOf(data, cap)
    }
    data
  }
  /** Grow `offsets` so `extra` more commits plus the toVec sentinel fit. */
  @inline private def ensureVals(extra: Int): Unit = {
    if (count + extra >= offsets.length) {
      var cap = offsets.length
      while (cap <= count + extra) cap = cap * 2
      offsets = java.util.Arrays.copyOf(offsets, cap)
    }
  }
  /** Record one value already written at [pos, pos+len). */
  @inline def commit(len: Int): Unit = {
    ensureVals(1)
    offsets(count) = pos
    count += 1
    pos += len
  }
  @inline def writePos: Int = pos
  /** Bytes writable at [[writePos]] without growing [[buffer]]. */
  @inline def spare: Int = data.length - pos
  /** The arena as it stands; valid until the next [[ensure]] or append. */
  @inline def buffer: Array[Byte] = data
  def append(v: BytesVec): Unit = {
    val total = v.totalBytes
    ensure(total)
    ensureVals(v.length)
    System.arraycopy(v.data, v.start(0), data, pos, total)
    val base = pos - v.offsets(0)
    var i = 0
    val n = v.length
    while (i < n) { offsets(count) = base + v.offsets(i); count += 1; i += 1 }
    pos += total
  }
  def toVec: BytesVec = {
    offsets(count) = pos
    BytesVec(data, java.util.Arrays.copyOf(offsets, count + 1))
  }
}

/** One column chunk's values gathered page by page, for the page decoders
  * of both containers: byte-array pages decode straight into one
  * [[BytesAccum]] arena; other pages decode whole and are joined once by
  * [[result]] (a one-page chunk is returned as decoded). */
final class ValuesAccum(physicalType: Int, bytesHint: Int, valuesHint: Int) {
  private val bytes: BytesAccum =
    if (physicalType == PhysicalType.Bytes) new BytesAccum(bytesHint, valuesHint)
    else null
  private val pages = scala.collection.mutable.ArrayBuffer.empty[ColVec]

  /** Decode one page's `n` values from `buf[off, end)`, as
    * [[ValueCodec.decode]] takes them. */
  def decodePage(encoding: Int, width: Int, buf: Array[Byte], off: Int,
      end: Int, n: Int, dict: ColVec): Unit =
    if (bytes != null)
      ValueCodec.decodeBytesInto(encoding, width, buf, off, end, n, dict, bytes)
    else pages += ValueCodec.decode(encoding, physicalType, width, buf, off, end, n, dict)

  def result: ColVec =
    if (bytes != null) bytes.toVec
    else if (pages.isEmpty) ValueCodec.empty(physicalType)
    else if (pages.size == 1) pages.head
    else pages.head match {
      case _: BoolVec => BoolVec(join(pages.map(_.asInstanceOf[BoolVec].values)))
      case _: IntVec => IntVec(join(pages.map(_.asInstanceOf[IntVec].values)))
      case _: LongVec => LongVec(join(pages.map(_.asInstanceOf[LongVec].values)))
      case _: FloatVec => FloatVec(join(pages.map(_.asInstanceOf[FloatVec].values)))
      case _: DoubleVec => DoubleVec(join(pages.map(_.asInstanceOf[DoubleVec].values)))
      case other => throw new IllegalArgumentException(
        s"${other.getClass.getSimpleName} pages outside the byte arena")
    }

  private def join[A: scala.reflect.ClassTag](arrs: Iterable[Array[A]]): Array[A] = {
    val out = new Array[A](arrs.map(_.length).sum)
    var pos = 0
    arrs.foreach { a => System.arraycopy(a, 0, out, pos, a.length); pos += a.length }
    out
  }
}

object BytesVec {
  val empty: BytesVec = BytesVec(Array.emptyByteArray, Array(0))

  /** Build an arena vector from independent value arrays. */
  def of(values: Array[Array[Byte]]): BytesVec = {
    val offsets = new Array[Int](values.length + 1)
    var total = 0
    var i = 0
    while (i < values.length) { offsets(i) = total; total += values(i).length; i += 1 }
    offsets(values.length) = total
    val data = new Array[Byte](total)
    i = 0
    while (i < values.length) {
      System.arraycopy(values(i), 0, data, offsets(i), values(i).length)
      i += 1
    }
    BytesVec(data, offsets)
  }

  def of(values: Seq[Array[Byte]]): BytesVec = of(values.toArray)
}

/** Codec ids persisted in chunk blobs and lineage rows. */
object CodecId {
  val Plain = 0
  val Dict = 1              // dict page PLAIN + RLE/bit-packed id stream
  val RleBool = 2           // boolean RLE value encoding (page v2)
  val DeltaBinaryPacked = 3 // INT32/INT64 frame-of-reference
  val DeltaLengthByteArray = 4
  val DeltaByteArray = 5    // front-coding (shared prefixes)
  val Fsst = 6              // extension: FSST-style string symbol table

  val names: Map[Int, String] = Map(
    Plain -> "PLAIN",
    Dict -> "DICT",
    RleBool -> "RLE",
    DeltaBinaryPacked -> "DELTA_BINARY_PACKED",
    DeltaLengthByteArray -> "DELTA_LENGTH_BYTE_ARRAY",
    DeltaByteArray -> "DELTA_BYTE_ARRAY",
    Fsst -> "FSST",
  )
}
