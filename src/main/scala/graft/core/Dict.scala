package graft.core

/** Dictionary encoding (reference semantics at
  * `/root/reference/src/encodings/encoding.rs:185-424`):
  *
  *  - ids are assigned in FIRST-SEEN order (the hash table only affects
  *    probe cost, never the output bytes — ids come from insertion order);
  *  - dictionary page = the unique values, PLAIN-encoded;
  *  - index page = 1 byte bit width then the ids as an RLE/bit-packed
  *    hybrid stream; bit width = 0 for an empty dict, 1 for a single
  *    entry, else ceil(log2(nUniques)).
  *
  * Byte values are hashed as (arena, offset, length) slices — no per-value
  * allocation on the probe path; uniques are appended to a private arena.
  * Floats and doubles are keyed by their raw bits, so every NaN payload
  * is its own entry and decodes bit-exactly. Both containers build their
  * dictionaries here; ids decode in [[ValueCodec]].
  */
object DictCodec {

  final class Encoder(physicalType: Int) {
    // open addressing over ids; key bytes live in the uniques arena
    private var table = new Array[Int](1 << 12) // entry: id+1, 0 = empty
    private var mask = table.length - 1
    private val bufferedIndices = new IntArrayList()
    private var dictBytes = 0L

    // uniques, typed storage (only one in use per instance): byte values
    // in an arena, everything else as a long (floats/doubles as raw bits)
    private var uData = new Array[Byte](4096)
    private var uOffsets = new IntArrayList()
    private var uLongs = new Array[Long](64)
    private var nUnique = 0
    uOffsets.add(0)

    @inline private def grow(): Unit = {
      val old = table
      table = new Array[Int](old.length << 1)
      mask = table.length - 1
      var i = 0
      while (i < old.length) {
        val idPlus = old(i)
        if (idPlus != 0) {
          var h = hashOfId(idPlus - 1) & mask
          while (table(h) != 0) h = (h + 1) & mask
          table(h) = idPlus
        }
        i += 1
      }
    }

    // ---- hashing ---------------------------------------------------------
    @inline private def mix(z0: Long): Int = {
      var z = z0 * 0x9E3779B97F4A7C15L
      z ^= z >>> 29
      z *= 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 32)).toInt
    }

    @inline private def hashBytes(a: Array[Byte], off: Int, len: Int): Int = {
      var h = 1125899906842597L
      var i = off
      val end = off + len
      while (i < end) { h = 31 * h + a(i); i += 1 }
      mix(h)
    }

    private def hashOfId(id: Int): Int = physicalType match {
      case PhysicalType.Bytes =>
        hashBytes(uData, uOffsets.get(id), uOffsets.get(id + 1) - uOffsets.get(id))
      case PhysicalType.Int32 | PhysicalType.Int64 | PhysicalType.Float |
          PhysicalType.Double => mix(uLongs(id))
      case _ => throw new IllegalStateException
    }

    // ---- byte values -----------------------------------------------------
    @inline private def bytesEqual(a: Array[Byte], off: Int, len: Int, id: Int): Boolean = {
      val s = uOffsets.get(id)
      if (uOffsets.get(id + 1) - s != len) return false
      var i = 0
      while (i < len) {
        if (a(off + i) != uData(s + i)) return false
        i += 1
      }
      true
    }

    private def putBytesOne(a: Array[Byte], off: Int, len: Int): Unit = {
      var h = hashBytes(a, off, len) & mask
      var id = -1
      while (id < 0) {
        val e = table(h)
        if (e == 0) {
          id = nUnique
          table(h) = id + 1
          // append to arena
          val end = uOffsets.get(nUnique)
          if (end + len > uData.length) {
            var cap = uData.length << 1
            while (cap < end + len) cap <<= 1
            uData = java.util.Arrays.copyOf(uData, cap)
          }
          System.arraycopy(a, off, uData, end, len)
          uOffsets.add(end + len)
          nUnique += 1
          dictBytes += 4L + len
          if (nUnique * 10 >= table.length * 7) grow()
        } else if (bytesEqual(a, off, len, e - 1)) id = e - 1
        else h = (h + 1) & mask
      }
      bufferedIndices.add(id)
    }

    private def putLongOne(v: Long, width: Int): Unit = {
      var h = mix(v) & mask
      var id = -1
      while (id < 0) {
        val e = table(h)
        if (e == 0) {
          id = nUnique
          table(h) = id + 1
          if (nUnique == uLongs.length) uLongs = java.util.Arrays.copyOf(uLongs, nUnique << 1)
          uLongs(nUnique) = v
          nUnique += 1
          dictBytes += width
          if (nUnique * 10 >= table.length * 7) grow()
        } else if (uLongs(e - 1) == v) id = e - 1
        else h = (h + 1) & mask
      }
      bufferedIndices.add(id)
    }

    def put(vec: ColVec): Unit = put(vec, 0, vec.length)

    /** Add the values at positions [from, until) of `vec`. */
    def put(vec: ColVec, from: Int, until: Int): Unit = {
      var i = from
      vec match {
        case IntVec(vs) => while (i < until) { putLongOne(vs(i).toLong, 4); i += 1 }
        case LongVec(vs) => while (i < until) { putLongOne(vs(i), 8); i += 1 }
        case FloatVec(vs) =>
          while (i < until) {
            putLongOne(java.lang.Float.floatToRawIntBits(vs(i)).toLong, 4); i += 1
          }
        case DoubleVec(vs) =>
          while (i < until) {
            putLongOne(java.lang.Double.doubleToRawLongBits(vs(i)), 8); i += 1
          }
        case v: BytesVec =>
          while (i < until) { putBytesOne(v.data, v.start(i), v.len(i)); i += 1 }
        case BoolVec(_) =>
          throw new IllegalArgumentException("booleans are never dictionary-encoded")
      }
    }

    def numEntries: Int = nUnique

    /** Size in bytes of the PLAIN-encoded dictionary (the reference's
      * fallback trigger compares this against the 1 MiB dict page limit). */
    def dictEncodedSize: Long = dictBytes

    def bitWidth: Int = BitUtil.dictBitWidth(nUnique)

    def numBufferedIndices: Int = bufferedIndices.size

    /** PLAIN-encoded dictionary page of the uniques, in id order. */
    def writeDict(): Array[Byte] = PlainCodec.encode(uniquesVec)

    def uniquesVec: ColVec = physicalType match {
      case PhysicalType.Int32 =>
        val o = new Array[Int](nUnique)
        var i = 0; while (i < nUnique) { o(i) = uLongs(i).toInt; i += 1 }
        IntVec(o)
      case PhysicalType.Int64 => LongVec(java.util.Arrays.copyOf(uLongs, nUnique))
      case PhysicalType.Float =>
        val o = new Array[Float](nUnique)
        var i = 0
        while (i < nUnique) { o(i) = java.lang.Float.intBitsToFloat(uLongs(i).toInt); i += 1 }
        FloatVec(o)
      case PhysicalType.Double =>
        val o = new Array[Double](nUnique)
        var i = 0
        while (i < nUnique) { o(i) = java.lang.Double.longBitsToDouble(uLongs(i)); i += 1 }
        DoubleVec(o)
      case PhysicalType.Bytes =>
        val offs = new Array[Int](nUnique + 1)
        var i = 0
        while (i <= nUnique) { offs(i) = uOffsets.get(i); i += 1 }
        BytesVec(java.util.Arrays.copyOf(uData, offs(nUnique)), offs)
      case other => throw new IllegalArgumentException(s"no dict for type $other")
    }

    /** Index page: [bit width: u8] ++ hybrid-encoded ids. Clears buffered ids. */
    def writeIndices(): Array[Byte] = {
      val width = bitWidth
      val rle = new RleHybridEncoder(width, math.max(256, bufferedIndices.size / 4))
      var i = 0
      while (i < bufferedIndices.size) { rle.put(bufferedIndices.get(i).toLong); i += 1 }
      val body = rle.result()
      val out = new Array[Byte](1 + body.length)
      out(0) = width.toByte
      System.arraycopy(body, 0, out, 1, body.length)
      bufferedIndices.clear()
      out
    }
  }
}

/** Tiny growable int list (avoids boxing on the id hot path). */
final class IntArrayList(initialCapacity: Int = 64) {
  private var a = new Array[Int](math.max(initialCapacity, 8))
  private var n = 0
  def add(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
    a(n) = v; n += 1
  }
  def get(i: Int): Int = a(i)
  def size: Int = n
  def clear(): Unit = n = 0
}
