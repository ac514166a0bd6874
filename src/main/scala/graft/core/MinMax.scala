package graft.core

/** Per-chunk min/max statistics (the reference's `Statistics`,
  * `/root/reference/src/file/statistics.rs:252-330`): values are
  * PLAIN-encoded WITHOUT a length prefix (`:116-119`). Byte-array stats are
  * truncated to [[MaxByteStat]] bytes Parquet-style: min keeps a plain
  * prefix (still a lower bound); max increments the last incrementable byte
  * of the prefix (still an upper bound), or is omitted when the prefix is
  * all 0xFF. An empty array means "no stat" (all-null chunk or omitted). */
object MinMax {
  val MaxByteStat = 64

  /** (minStat, maxStat) for a vector of non-null values. */
  def compute(vec: ColVec): (Array[Byte], Array[Byte]) = vec match {
    case BoolVec(vs) =>
      if (vs.isEmpty) (Array.emptyByteArray, Array.emptyByteArray)
      else {
        var anyF = false
        var anyT = false
        var i = 0
        while (i < vs.length) { if (vs(i)) anyT = true else anyF = true; i += 1 }
        (Array[Byte](if (anyF) 0 else 1), Array[Byte](if (anyT) 1 else 0))
      }
    case IntVec(vs) =>
      if (vs.isEmpty) (Array.emptyByteArray, Array.emptyByteArray)
      else {
        var mn = vs(0); var mx = vs(0); var i = 1
        while (i < vs.length) {
          if (vs(i) < mn) mn = vs(i)
          if (vs(i) > mx) mx = vs(i)
          i += 1
        }
        (le(mn.toLong, 4), le(mx.toLong, 4))
      }
    case LongVec(vs) =>
      if (vs.isEmpty) (Array.emptyByteArray, Array.emptyByteArray)
      else {
        var mn = vs(0); var mx = vs(0); var i = 1
        while (i < vs.length) {
          if (vs(i) < mn) mn = vs(i)
          if (vs(i) > mx) mx = vs(i)
          i += 1
        }
        (le(mn, 8), le(mx, 8))
      }
    // float/double follow the spec's TypeDefinedOrder writer rules
    // (parquet-format Statistics docs): NaN never lands in min/max (a
    // leading NaN would otherwise poison both via always-false compares),
    // all-NaN chunks omit the stat entirely, and signed zeros canonicalize
    // to min=-0.0 / max=+0.0 so a reader ordering -0.0 < +0.0 never prunes
    // a chunk that holds the other zero.
    case FloatVec(vs) =>
      var mn = Float.NaN; var mx = Float.NaN; var i = 0
      while (i < vs.length) {
        val v = vs(i)
        if (!v.isNaN) {
          if (mn.isNaN || v < mn) mn = v
          if (mx.isNaN || v > mx) mx = v
        }
        i += 1
      }
      if (mn.isNaN) (Array.emptyByteArray, Array.emptyByteArray)
      else {
        if (mn == 0.0f) mn = -0.0f
        if (mx == 0.0f) mx = 0.0f
        (le(java.lang.Float.floatToIntBits(mn).toLong, 4),
          le(java.lang.Float.floatToIntBits(mx).toLong, 4))
      }
    case DoubleVec(vs) =>
      var mn = Double.NaN; var mx = Double.NaN; var i = 0
      while (i < vs.length) {
        val v = vs(i)
        if (!v.isNaN) {
          if (mn.isNaN || v < mn) mn = v
          if (mx.isNaN || v > mx) mx = v
        }
        i += 1
      }
      if (mn.isNaN) (Array.emptyByteArray, Array.emptyByteArray)
      else {
        if (mn == 0.0) mn = -0.0
        if (mx == 0.0) mx = 0.0
        (le(java.lang.Double.doubleToLongBits(mn), 8),
          le(java.lang.Double.doubleToLongBits(mx), 8))
      }
    case v: BytesVec =>
      if (v.length == 0) (Array.emptyByteArray, Array.emptyByteArray)
      else {
        var mnI = 0
        var mxI = 0
        var i = 1
        while (i < v.length) {
          if (compareValues(v, i, v, mnI) < 0) mnI = i
          if (compareValues(v, i, v, mxI) > 0) mxI = i
          i += 1
        }
        (truncMin(v.valueBytes(mnI)), truncMax(v.valueBytes(mxI)))
      }
  }

  @inline private def le(v: Long, n: Int): Array[Byte] = {
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (v >>> (8 * i)).toByte; i += 1 }
    out
  }

  def leToLong(a: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < a.length) { v |= (a(i) & 0xFFL) << (8 * i); i += 1 }
    // sign-extend 4-byte stats
    if (a.length == 4) v.toInt.toLong else v
  }

  /** Unsigned lexicographic compare of two arena values. */
  private def compareValues(a: BytesVec, ai: Int, b: BytesVec, bi: Int): Int = {
    val aOff = a.start(ai); val aLen = a.len(ai)
    val bOff = b.start(bi); val bLen = b.len(bi)
    val n = math.min(aLen, bLen)
    var k = 0
    while (k < n) {
      val c = (a.data(aOff + k) & 0xFF) - (b.data(bOff + k) & 0xFF)
      if (c != 0) return c
      k += 1
    }
    aLen - bLen
  }

  /** Compare two stat values of `physicalType`, as [[compute]] encodes
    * them, in the type's sort order: signed integers, `Float.compare` /
    * `Double.compare`, unsigned-lexicographic bytes and booleans. */
  def compareStat(physicalType: Int, a: Array[Byte], b: Array[Byte]): Int =
    physicalType match {
      case PhysicalType.Int32 | PhysicalType.Int64 =>
        java.lang.Long.compare(leToLong(a), leToLong(b))
      case PhysicalType.Float =>
        java.lang.Float.compare(java.lang.Float.intBitsToFloat(leToLong(a).toInt),
          java.lang.Float.intBitsToFloat(leToLong(b).toInt))
      case PhysicalType.Double =>
        java.lang.Double.compare(java.lang.Double.longBitsToDouble(leToLong(a)),
          java.lang.Double.longBitsToDouble(leToLong(b)))
      case _ => compareBytes(a, b)
    }

  /** May a chunk, row group or page whose stats are `[min, max]` hold a
    * value in `[lower, upper]`? The one stats-range predicate of both
    * containers; `false` only when a stat proves every value lies outside.
    *
    * `min`/`max` are stat values of `physicalType` as [[compute]] encodes
    * them; an empty (or null) side says nothing, so that side keeps.
    * Bounds are inclusive and null is open: a `java.lang.Number` for
    * Bool/Int32/Int64 (compared as longs) and Float/Double (compared as
    * doubles; a NaN on either side keeps, and -0.0 equals +0.0), a
    * `String` (UTF-8) or `Array[Byte]` for Bytes (unsigned lexicographic,
    * so a truncated min prefix and an incremented max prefix stay sound).
    * Facts beyond the stat bytes stay with the caller: an all-null chunk
    * (no stat) or a footer stat whose byte order is untrusted. */
  def overlaps(physicalType: Int, min: Array[Byte], max: Array[Byte],
      lower: Any, upper: Any): Boolean = {
    def cmp(stat: Array[Byte], bound: Any): Int = physicalType match {
      case PhysicalType.Bytes => compareBytes(stat, bound match {
        case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case a: Array[Byte] => a
        case other => throw new IllegalArgumentException(s"bad byte bound $other")
      })
      case PhysicalType.Float | PhysicalType.Double =>
        val s =
          if (physicalType == PhysicalType.Float)
            java.lang.Float.intBitsToFloat(leToLong(stat).toInt).toDouble
          else java.lang.Double.longBitsToDouble(leToLong(stat))
        val b = bound.asInstanceOf[Number].doubleValue()
        if (s > b) 1 else if (s < b) -1 else 0
      case _ =>
        java.lang.Long.compare(leToLong(stat), bound.asInstanceOf[Number].longValue())
    }
    (upper == null || min == null || min.isEmpty || cmp(min, upper) <= 0) &&
      (lower == null || max == null || max.isEmpty || cmp(max, lower) >= 0)
  }

  /** Unsigned lexicographic compare of raw byte arrays. */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var k = 0
    while (k < n) {
      val c = (a(k) & 0xFF) - (b(k) & 0xFF)
      if (c != 0) return c
      k += 1
    }
    a.length - b.length
  }

  private def truncMin(v: Array[Byte]): Array[Byte] =
    if (v.length <= MaxByteStat) v else java.util.Arrays.copyOf(v, MaxByteStat)

  private def truncMax(v: Array[Byte]): Array[Byte] = {
    if (v.length <= MaxByteStat) return v
    val p = java.util.Arrays.copyOf(v, MaxByteStat)
    var i = MaxByteStat - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) Array.emptyByteArray // unbounded
    else {
      p(i) = (p(i) + 1).toByte
      java.util.Arrays.copyOf(p, i + 1)
    }
  }
}
