package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core._

/** Chunks -> rows (the reference's record-assembly layer re-expressed as a
  * Catalyst plan node; cf. parquet-rs `src/record/reader.rs` —
  * columns of one (partId, chunkIdx) range zip back into rows). Every read
  * is a [[ChunkScan]]: the planner hands its exec only the columns the
  * query references, and those decode into columnar batches. */
object DecodeJob {

  /** Decode chunk rows back into a DataFrame with the given flat schema.
    * One shuffle: a repartition on (partId, chunkIdx) gathers each row
    * range, then [[decodeLocal]]. Works for ANY chunk Dataset layout. */
  def decode(chunks: Dataset[ChunkRow], schema: StructType): DataFrame =
    decodeLocal(chunks.repartition(col("partId"), col("chunkIdx")), schema)

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
    * partitions. Only the columns a query references are decoded. */
  def decodeLocal(chunks: Dataset[ChunkRow], schema: StructType): DataFrame =
    ChunkScan.dataFrame(chunks, schema, None)

  /** Decode only the row ranges whose `column` chunk statistics may hold a
    * value in [lower, upper] — chunk-level pruning, the read-side
    * counterpart of the reference's unrealized row-group filtering TODO
    * (parquet-rs `src/file/reader.rs:198`). One pass over each partition,
    * no shuffle and no join: the partition's chunk rows are grouped
    * locally as in [[decodeLocal]], each complete group's `column` chunk
    * is tested with [[statsOverlap]], and only the referenced columns of
    * surviving groups are decoded; pruned blobs are never unwrapped.
    *
    * Same-partition contract (that of [[decodeLocal]]): every column chunk
    * of a (partId, chunkIdx) row range must sit in one partition, as in
    * EncodeJob output, caches of it and per-partition-written chunk files.
    * A split row range fails with the same-partition error before any row
    * is returned, never with partial rows. Use [[decode]] plus a
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
    ChunkScan.dataFrame(chunks, schema,
      Some(ChunkRange(schema.fieldIndex(column), loB, hiB)))
  }

  /** May chunk `c` hold a value in [lower, upper]? An all-null chunk holds
    * none; otherwise its stats decide through [[MinMax.overlaps]]. */
  private[graft] def statsOverlap(c: ChunkRow, lower: Any, upper: Any): Boolean =
    statsOverlap(c.numValues, c.numNulls, c.physicalType, c.minStat,
      c.maxStat, lower, upper)

  private[graft] def statsOverlap(numValues: Long, numNulls: Long,
      physicalType: Int, minStat: Array[Byte], maxStat: Array[Byte],
      lower: Any, upper: Any): Boolean =
    numValues != numNulls &&
      MinMax.overlaps(physicalType, minStat, maxStat, lower, upper)
}

