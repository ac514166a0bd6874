package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.types._

import graft.core._

/** Chunks -> rows (the reference's record-assembly layer re-expressed as a
  * typed Dataset transformation; cf. `/root/reference/src/record/reader.rs`
  * — columns of one (partId, chunkIdx) range zip back into rows). */
object DecodeJob {

  /** Decode chunk rows back into a DataFrame with the given flat schema.
    * One shuffle: groupByKey on (partId, chunkIdx). Works for ANY chunk
    * Dataset layout; see [[decodeLocal]] for the shuffle-free path. */
  def decode(chunks: Dataset[ChunkRow], schema: StructType): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val fields = schema.fields
    val rowEnc = Encoders.row(schema)
    chunks
      .groupByKey(c => (c.partId, c.chunkIdx))
      .flatMapGroups((_, it) => decodeGroup(fields, it.toArray))(rowEnc)
  }

  /** Typed decode — the counterpart of the reference's compile-time-typed
    * `RowIter<T>` (`/root/reference/src/record/reader.rs:751-774`): Spark's
    * Encoder resolution performs the same schema-vs-type check the
    * reference does with `T::parse`. */
  def decodeAs[T <: Product : org.apache.spark.sql.Encoder](
      chunks: Dataset[ChunkRow]): Dataset[T] = {
    val enc = implicitly[org.apache.spark.sql.Encoder[T]]
    decode(chunks, enc.schema).as[T](enc)
  }

  /** Shuffle-free decode for chunk Datasets whose partitions already hold
    * every column chunk of each (partId, chunkIdx) — true for EncodeJob
    * output, caches of it, and per-partition-written chunk files. Groups
    * rows locally inside each partition (ordering within the partition
    * doesn't matter); fails fast if a row range's chunks are split across
    * partitions. */
  def decodeLocal(chunks: Dataset[ChunkRow], schema: StructType): DataFrame =
    decodeLocalKept(chunks, schema)(_ => true)

  /** [[decodeLocal]] of the row ranges whose complete chunk group passes
    * `keep`; a rejected group's blobs are never unwrapped or decoded. */
  private def decodeLocalKept(chunks: Dataset[ChunkRow], schema: StructType)(
      keep: Array[ChunkRow] => Boolean): DataFrame = {
    val fields = schema.fields
    val rowEnc = Encoders.row(schema)
    chunks.mapPartitions { it =>
      val groups = scala.collection.mutable.LinkedHashMap
        .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[ChunkRow]]
      it.foreach { c =>
        groups.getOrElseUpdate((c.partId, c.chunkIdx),
          scala.collection.mutable.ArrayBuffer.empty[ChunkRow]) += c
      }
      groups.valuesIterator.flatMap { g =>
        val group = g.toArray
        requireComplete(fields, group)
        if (keep(group)) decodeGroup(fields, group) else Iterator.empty
      }
    }(rowEnc)
  }

  /** One chunk per column, or the same-partition contract is broken. */
  private def requireComplete(fields: Array[StructField],
      group: Array[ChunkRow]): Unit =
    require(group.length == fields.length,
      s"expected ${fields.length} column chunks, got ${group.length} " +
        s"(partId=${group.head.partId}, chunkIdx=${group.head.chunkIdx} — " +
        "for decodeLocal all columns of a row range must share a partition)")

  /** Re-assemble one (partId, chunkIdx) row range from its column chunks. */
  private def decodeGroup(fields: Array[StructField],
      group: Array[ChunkRow]): Iterator[Row] = {
    requireComplete(fields, group)
    val byCol = group.sortBy(_.colIdx)
    val n = byCol.head.numValues.toInt // top-level rows in this range
    val cols: Array[Int => Any] = byCol.zipWithIndex.map { case (c, ci) =>
      val blob = BlockCodec.maybeUnwrap(c.blob)
      if (ChunkCodec.isArrayChunk(blob))
        materializeArray(fields(ci).dataType,
          ChunkCodec.decodeArrayChunk(blob))
      else if (ChunkCodec.isMapChunk(blob))
        materializeMap(fields(ci).dataType,
          ChunkCodec.decodeMapChunk(blob))
      else {
        val d = ChunkCodec.decodeWithLevels(blob)
        require(d.numRows == n, s"row-count mismatch in chunk group: " +
          s"${fields(ci).name} has ${d.numRows}, expected $n")
        val values = materialize(fields(ci).dataType, d.vec)
        if (d.defLevels == null) values
        else {
          // row -> value index (nulls hold -1); values are null-suppressed
          val idx = new Array[Int](n)
          var vi = 0
          var i = 0
          while (i < n) {
            if (d.defLevels(i) != 0) { idx(i) = vi; vi += 1 } else idx(i) = -1
            i += 1
          }
          (i: Int) => if (idx(i) < 0) null else values(idx(i))
        }
      }
    }
    (0 until n).iterator.map { i =>
      Row.fromSeq(cols.indices.map(c => cols(c)(i)))
    }
  }

  /** Decode only the row ranges whose `column` chunk statistics may hold a
    * value in [lower, upper] — chunk-level pruning, the read-side
    * counterpart of the reference's unrealized row-group filtering TODO
    * (parquet-rs `src/file/reader.rs:198`). One pass over each partition,
    * no shuffle and no join: the partition's chunk rows are grouped
    * locally as in [[decodeLocal]], each complete group's `column` chunk
    * is tested with [[statsOverlap]], and only surviving groups are
    * decoded; pruned blobs are never unwrapped or decoded.
    *
    * Same-partition contract (that of [[decodeLocal]]): every column chunk
    * of a (partId, chunkIdx) row range must sit in one partition, as in
    * EncodeJob output, caches of it and per-partition-written chunk files.
    * A split row range fails with the same-partition error before its
    * stats are consulted, never with partial rows. Use [[decode]] plus a
    * filter for arbitrary layouts.
    *
    * Bounds are inclusive; pass `null` for an open end. The caller still
    * applies the exact row predicate afterwards (stats are range-level).
    * Numeric bounds: java.lang.Number (decimal bounds in user units);
    * string/binary bounds: String or Array[Byte]. Chunks with absent stats
    * are kept (never wrong, only less pruning).
    */
  def decodeWhere(chunks: Dataset[ChunkRow], schema: StructType,
      column: String, lower: Any, upper: Any): DataFrame = {
    // Decimal columns store UNSCALED values: p <= 18 as int64 (so a
    // user-facing bound like 10.50 must scale to 1050 before it meets the
    // stats — comparing raw longValue() would silently prune matching
    // chunks), p > 18 as two's-complement FLBA bytes whose unsigned-lex
    // stat order disagrees with signed numeric order, so those never
    // prune (decode-everything is correct, just less pruning).
    val (loB, hiB) = schema(column).dataType match { // fails on an unknown column
      case dt: DecimalType if dt.precision <= 18 =>
        def unscaled(b: Any, up: Boolean): Any = b match {
          case null => null
          case n: Number =>
            val mode = if (up) java.math.RoundingMode.CEILING
                       else java.math.RoundingMode.FLOOR
            try java.lang.Long.valueOf(new java.math.BigDecimal(n.toString)
              .setScale(dt.scale, mode).unscaledValue().longValueExact())
            catch { case _: ArithmeticException => null } // out of range: open
          case other => other
        }
        (unscaled(lower, up = false), unscaled(upper, up = true))
      case _: DecimalType => (null, null)
      case _ => (lower, upper)
    }
    decodeLocalKept(chunks, schema) { group =>
      val c = group.find(_.column == column).getOrElse(
        throw new IllegalArgumentException(
          s"chunk group (partId=${group.head.partId}, chunkIdx=" +
            s"${group.head.chunkIdx}) has no $column chunk"))
      statsOverlap(c, loB, hiB)
    }
  }

  /** May chunk `c` hold a value in [lower, upper]? An all-null chunk holds
    * none; otherwise its stats decide through [[MinMax.overlaps]]. */
  private[graft] def statsOverlap(c: ChunkRow, lower: Any, upper: Any): Boolean =
    c.numValues != c.numNulls &&
      MinMax.overlaps(c.physicalType, c.minStat, c.maxStat, lower, upper)

  private def materialize(dt: DataType, vec: ColVec): Int => Any = (dt, vec) match {
    case (StringType, v: BytesVec) =>
      i => new String(v.data, v.start(i), v.len(i),
        java.nio.charset.StandardCharsets.UTF_8)
    case (BinaryType, v: BytesVec) => i => v.valueBytes(i)
    case (IntegerType, IntVec(vs)) => i => vs(i)
    case (DateType, IntVec(vs)) => i => java.sql.Date.valueOf(
      java.time.LocalDate.ofEpochDay(vs(i).toLong))
    case (LongType, LongVec(vs)) => i => vs(i)
    case (TimestampNTZType, LongVec(vs)) => i => {
      val micros = vs(i)
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    }
    case (TimestampType, LongVec(vs)) => i => {
      val micros = vs(i)
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    }
    case (FloatType, FloatVec(vs)) => i => vs(i)
    case (DoubleType, DoubleVec(vs)) => i => vs(i)
    case (BooleanType, BoolVec(vs)) => i => vs(i)
    case (dt: DecimalType, LongVec(vs)) =>
      i => java.math.BigDecimal.valueOf(vs(i), dt.scale)
    // precision > 18: two's-complement big-endian unscaled bytes (the FLBA
    // layout EncodeJob.ColBuilder writes for wide decimals)
    case (dt: DecimalType, v: BytesVec) =>
      i => new java.math.BigDecimal(
        new java.math.BigInteger(v.valueBytes(i)), dt.scale)
    case other => throw new IllegalArgumentException(s"cannot materialize $other")
  }

  /** Rebuild per-row arrays from a decoded LIST chunk (reverse shredding:
    * rep 0 starts a row; def 0 = null array, 1 = empty, 2 = null element,
    * 3 = element). */
  private def materializeArray(dt: DataType,
      da: ChunkCodec.DecodedArray): Int => Any = {
    val elemDt = dt match {
      case ArrayType(et, _) => et
      case other => throw new IllegalArgumentException(
        s"array chunk for non-array column type $other")
    }
    val elemGet = materialize(elemDt, da.elems)
    val rows = new Array[Any](da.numRows)
    val slots = da.rep.length
    var i = 0
    var ri = 0
    var vi = 0
    while (i < slots) {
      da.defs(i) match {
        case 0 => rows(ri) = null; i += 1
        case 1 => rows(ri) = Seq.empty[Any]; i += 1
        case _ =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
          var cont = true
          while (cont) {
            if (da.defs(i) == 3) { buf += elemGet(vi); vi += 1 } else buf += null
            i += 1
            cont = i < slots && da.rep(i) == 1
          }
          rows(ri) = buf.toSeq
      }
      ri += 1
    }
    require(ri == da.numRows, s"array reassembly: $ri rows != ${da.numRows}")
    (r: Int) => rows(r)
  }

  /** Rebuild per-row maps from a decoded MAP chunk (reverse shredding:
    * rep 0 starts a row; def 0 = null map, 1 = empty, 2 = entry with null
    * value, 3 = entry with value; keys exist for def >= 2, values for
    * def == 3). */
  private def materializeMap(dt: DataType,
      dm: ChunkCodec.DecodedMap): Int => Any = {
    val (keyDt, valDt) = dt match {
      case MapType(kt, vt, _) => (kt, vt)
      case other => throw new IllegalArgumentException(
        s"map chunk for non-map column type $other")
    }
    val keyGet = materialize(keyDt, dm.keys)
    val valGet = materialize(valDt, dm.vals)
    val rows = new Array[Any](dm.numRows)
    val slots = dm.rep.length
    var i = 0
    var ri = 0
    var ki = 0
    var vi = 0
    while (i < slots) {
      dm.defs(i) match {
        case 0 => rows(ri) = null; i += 1
        case 1 => rows(ri) = Map.empty[Any, Any]; i += 1
        case _ =>
          val b = Map.newBuilder[Any, Any]
          var cont = true
          while (cont) {
            val k = keyGet(ki); ki += 1
            if (dm.defs(i) == 3) { b += ((k, valGet(vi))); vi += 1 }
            else b += ((k, null))
            i += 1
            cont = i < slots && dm.rep(i) == 1
          }
          rows(ri) = b.result()
      }
      ri += 1
    }
    require(ri == dm.numRows, s"map reassembly: $ri rows != ${dm.numRows}")
    (r: Int) => rows(r)
  }
}
