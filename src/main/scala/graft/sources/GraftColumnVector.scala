package graft.sources

import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, MapType, StructField, StructType,
  TimestampType}
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}

import graft.core.{BoolVec, BytesVec, ColVec, DoubleVec, FloatVec, IntVec, LongVec}
import graft.sources.ParquetFileReader.DecodedChunk

/** Zero-copy Spark ColumnVector over a decoded [[graft.core.ColVec]]:
  * primitive getters index the decode arrays directly, `getUTF8String`
  * returns a view over the arena bytes (no copy, no String), and nullable
  * columns translate row → value slot through one precomputed int map
  * (values are null-suppressed in the ColVec). A STRUCT, LIST or MAP vector
  * holds no values: its null map marks null rows, a STRUCT's children share
  * its rows, and a LIST's or MAP's rows index `offsets` into child vectors
  * over its entries. A null row reads as its type's default (0, false or
  * null), as in Spark's own vectors. Built only by
  * [[GraftColumnVector.build]]. */
final class GraftColumnVector private (dt: DataType, decoded: ColVec,
    valIdx: Array[Int], offsets: Array[Int], kids: Array[GraftColumnVector])
    extends ColumnVector(dt) {

  // INT96 timestamps decode as raw 12-byte values: convert to micros once
  private val vec: ColVec = decoded match {
    case b: BytesVec if dt == TimestampType =>
      LongVec(Array.tabulate(b.length)(i =>
        ParquetFileReader.int96ToMicros(b.valueBytes(i))))
    case v => v
  }

  private var nNulls = -1

  @inline private def slot(rowId: Int): Int =
    if (valIdx == null) rowId else valIdx(rowId)

  override def isNullAt(rowId: Int): Boolean =
    valIdx != null && valIdx(rowId) == -1
  override def hasNull: Boolean = numNulls > 0
  override def numNulls: Int = {
    if (nNulls < 0) {
      var c = 0
      if (valIdx != null) {
        var i = 0
        while (i < valIdx.length) { if (valIdx(i) == -1) c += 1; i += 1 }
      }
      nNulls = c
    }
    nNulls
  }

  override def getBoolean(rowId: Int): Boolean = {
    val s = slot(rowId)
    s >= 0 && vec.asInstanceOf[BoolVec].values(s)
  }
  override def getInt(rowId: Int): Int = {
    val s = slot(rowId)
    if (s < 0) 0 else vec.asInstanceOf[IntVec].values(s)
  }
  override def getLong(rowId: Int): Long = {
    val s = slot(rowId)
    if (s < 0) 0L else vec.asInstanceOf[LongVec].values(s)
  }
  override def getFloat(rowId: Int): Float = {
    val s = slot(rowId)
    if (s < 0) 0f else vec.asInstanceOf[FloatVec].values(s)
  }
  override def getDouble(rowId: Int): Double = {
    val s = slot(rowId)
    if (s < 0) 0d else vec.asInstanceOf[DoubleVec].values(s)
  }
  override def getUTF8String(rowId: Int):
      org.apache.spark.unsafe.types.UTF8String = {
    val s = slot(rowId)
    if (s < 0) return null
    val b = vec.asInstanceOf[BytesVec]
    org.apache.spark.unsafe.types.UTF8String.fromBytes(
      b.data, b.start(s), b.len(s))
  }
  override def getBinary(rowId: Int): Array[Byte] = {
    val s = slot(rowId)
    if (s < 0) null else vec.asInstanceOf[BytesVec].valueBytes(s)
  }
  /** Unscaled int32/int64, or two's-complement big-endian unscaled bytes
    * (the FLBA layout of wide decimals). */
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal = {
    val s = slot(rowId)
    if (s < 0) return null
    vec match {
      case IntVec(vs) => Decimal.createUnsafe(vs(s), precision, scale)
      case LongVec(vs) => Decimal.createUnsafe(vs(s), precision, scale)
      case b: BytesVec => Decimal(new java.math.BigDecimal(
        new java.math.BigInteger(b.data, b.start(s), b.len(s)), scale), precision, scale)
      case other => throw new UnsupportedOperationException(s"decimal over $other")
    }
  }
  override def getArray(rowId: Int): ColumnarArray =
    new ColumnarArray(kids(0), offsets(rowId), offsets(rowId + 1) - offsets(rowId))
  override def getMap(rowId: Int): ColumnarMap =
    new ColumnarMap(kids(0), kids(1), offsets(rowId), offsets(rowId + 1) - offsets(rowId))

  override def getByte(rowId: Int): Byte =
    throw new UnsupportedOperationException("byte")
  override def getShort(rowId: Int): Short =
    throw new UnsupportedOperationException("short")
  override def getChild(ordinal: Int): GraftColumnVector = kids(ordinal)
  override def close(): Unit = ()

  /** Non-null row `rowId`'s value as the library's row API boxes it:
    * Boolean, Int, Long, Float, Double, or a copy of its raw bytes (INT96
    * unconverted). */
  private[sources] def value(rowId: Int): Any = {
    val s = slot(rowId)
    decoded match {
      case BoolVec(a) => a(s)
      case IntVec(a) => a(s)
      case LongVec(a) => a(s)
      case FloatVec(a) => a(s)
      case DoubleVec(a) => a(s)
      case b: BytesVec => b.valueBytes(s)
    }
  }

  /** A LIST or MAP row's entries: their positions in the child vectors. */
  private[sources] def entries(rowId: Int): Range = offsets(rowId) until offsets(rowId + 1)
}

/** The one place where rep/def levels become vectors (the Dremel level
  * model): a field's [[Shape]] plus its leaves' decoded values and levels
  * give its vector tree at any depth. The Parquet file scan and the `GC`
  * chunk scan both build every vector here. */
object GraftColumnVector {

  /** Where one field sits in its leaves' levels: a node is non-null at its
    * positions whose def level is at least `defined`. */
  sealed trait Shape {
    def dt: DataType
    def defined: Int
    /** The leaf indexes under the node, in order. */
    def leaves: Seq[Int] = this match {
      case p: Prim => Seq(p.leaf)
      case g: Group => g.fields.flatMap(_.leaves) match {
        case Seq() => g.witness
        case ls => ls
      }
      case r: Repeated => r.children.flatMap(_.leaves)
      case _: Missing => Nil
    }
  }
  /** A primitive held by leaf `leaf`; `defined` is the leaf's max def. */
  final case class Prim(dt: DataType, defined: Int, leaf: Int) extends Shape
  /** A STRUCT: one child per field of `dt`, in its order. When none of
    * them is in the file, the `witness` leaf is read for its levels alone. */
  final case class Group(dt: DataType, defined: Int, fields: Seq[Shape],
      witness: Seq[Int] = Nil) extends Shape
  /** A LIST (one child) or MAP (key, value): its repeated group holds an
    * entry at def level `entryDef` and starts one at rep level `entryRep`. */
  final case class Repeated(dt: DataType, defined: Int, entryDef: Int,
      entryRep: Int, children: Seq[Shape]) extends Shape
  /** A field the file lacks: null at every position, as in Spark's reader. */
  final case class Missing(dt: DataType) extends Shape {
    def defined: Int = Int.MaxValue
  }

  /** The shape of field `f` in a file that lacks it; a read that requires
    * the field fails, as Spark's does. */
  def missing(f: StructField): Missing = {
    require(f.nullable, s"the file has no field ${f.name}, which the read requires")
    Missing(f.dataType)
  }

  /** `s` narrowed to the type a scan asks for: a STRUCT keeps the fields
    * `dt` names, in `dt`'s order (Spark's nested column pruning), so only
    * their leaves are read; a field the file lacks is [[Missing]]. */
  def project(s: Shape, dt: DataType): Shape = (s, dt) match {
    case (g: Group, st: StructType) =>
      val byName = g.dt.asInstanceOf[StructType].fieldNames.zip(g.fields).toMap
      val fields = st.fields.toSeq.map(f =>
        byName.get(f.name).fold[Shape](missing(f))(project(_, f.dataType)))
      // a struct's own nulls come from its leaves, so one lacking every
      // field asked for still reads one of the file's (as Spark's does)
      Group(st, g.defined, fields,
        if (fields.exists(_.leaves.nonEmpty)) Nil else g.leaves.take(1))
    case (r: Repeated, ArrayType(et, _)) if r.children.size == 1 =>
      r.copy(dt = dt, children = Seq(project(r.children.head, et)))
    case (r: Repeated, MapType(kt, vt, _)) if r.children.size == 2 =>
      r.copy(dt = dt, children = Seq(project(r.children(0), kt), project(r.children(1), vt)))
    case (p: Prim, _) => p.copy(dt = dt)
    case _ => throw new IllegalArgumentException(s"a ${s.dt} column cannot be read as $dt")
  }

  /** The vector of `rows` rows that shape `s` assembles from `leaves`
    * (indexed by [[Prim.leaf]]; only the shape's own entries are read).
    * Levels that disagree with the values, the row count or each other
    * fail with an IllegalArgumentException. */
  def build(s: Shape, leaves: Int => DecodedChunk, rows: Int): GraftColumnVector =
    children(Seq(s), leaves, 0, 0, rows).head

  /** Node `s` over the positions of its nearest repeated ancestor: the
    * slots at rep <= `rep` and def >= `entry` (every rep 0 slot at top
    * level). Its first leaf's levels give its null map — a primitive's maps
    * each position to its value, -1 for null — and a LIST's or MAP's
    * entries. Returns the vector and its position count. */
  private def node(s: Shape, leaves: Int => DecodedChunk, entry: Int,
      rep: Int): (GraftColumnVector, Int) = {
    val l = leaves(s.leaves.head)
    val (defs, reps) = (l.defs, l.reps)
    val n = if (defs != null) defs.length else if (reps != null) reps.length else l.values.length
    require((defs == null || defs.length == n) && (reps == null || reps.length == n),
      "rep/def stream length mismatch")
    val prim = s.isInstanceOf[Prim]
    if (prim && reps == null && entry == 0) // a flat leaf: one pass over its def levels
      return (new GraftColumnVector(s.dt, l.values, slots(defs, s.defined, l.values.length),
        null, null), n)
    val (entryDef, entryRep) = s match {
      case r: Repeated => (r.entryDef, r.entryRep)
      case _ => (Int.MaxValue, Int.MaxValue)
    }
    val idx = new Array[Int](n)
    val offsets = new Array[Int](n + 1)
    var (pos, values, entries) = (0, 0, 0)
    var i = 0
    while (i < n) {
      val d = if (defs == null) 0 else defs(i)
      val r = if (reps == null) 0 else reps(i)
      if (r <= rep) {
        if (d >= entry) {
          offsets(pos) = entries
          idx(pos) = if (d < s.defined) -1 else if (prim) values else pos
          pos += 1
          if (d >= entryDef) entries += 1
        }
      } else if (!s.isInstanceOf[Group]) {
        // a continuation: only a LIST or MAP entry, or a deeper one, repeats
        require(!prim && pos > 0 && d >= entryDef, s"nested levels: bad continuation slot $i")
        if (r <= entryRep) entries += 1
      }
      if (prim && d >= s.defined) values += 1
      i += 1
    }
    if (prim) require(values == l.values.length, s"leaf holds ${l.values.length} values, its levels $values")
    offsets(pos) = entries
    val m = java.util.Arrays.copyOf(idx, pos)
    (s match {
      case p: Prim => new GraftColumnVector(p.dt, l.values, m, null, null)
      case g: Group => new GraftColumnVector(g.dt, null, m, null,
        children(g.fields, leaves, entry, rep, pos))
      case r: Repeated => new GraftColumnVector(r.dt, null, m, java.util.Arrays.copyOf(offsets, pos + 1),
        children(r.children, leaves, entryDef, entryRep, entries))
      case m: Missing => throw new IllegalStateException(s"no levels for a missing ${m.dt}")
    }, pos)
  }

  /** The child vectors of a node, each required to hold `count` positions. */
  private def children(kids: Seq[Shape], leaves: Int => DecodedChunk,
      entry: Int, rep: Int, count: Int): Array[GraftColumnVector] =
    kids.map {
      case m: Missing => nulls(m.dt, count)
      case k =>
        val (v, n) = node(k, leaves, entry, rep)
        require(n == count, s"${k.dt} levels hold $n positions, expected $count")
        v
    }.toArray

  /** A vector of `count` nulls; a STRUCT's children share its positions,
    * a LIST's or MAP's hold no entries. */
  private def nulls(dt: DataType, count: Int): GraftColumnVector = {
    val kids = dt match {
      case st: StructType => st.fields.map(f => nulls(f.dataType, count))
      case ArrayType(et, _) => Array(nulls(et, 0))
      case MapType(kt, vt, _) => Array(nulls(kt, 0), nulls(vt, 0))
      case _ => null
    }
    new GraftColumnVector(dt, null, Array.fill(count)(-1), new Array[Int](count + 1), kids)
  }

  /** rowId -> value index (-1 = null); null (identity) when no nulls. */
  private def slots(defs: Array[Int], maxDef: Int, values: Int): Array[Int] =
    if (defs == null) null
    else {
      val m = new Array[Int](defs.length)
      var i = 0
      var vi = 0
      while (i < defs.length) {
        if (defs(i) == maxDef) { m(i) = vi; vi += 1 } else m(i) = -1
        i += 1
      }
      require(vi == values, s"leaf holds $values values, its levels $vi")
      m
    }
}
