package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types._

import graft.core._
import graft.operators.ColBuilder

/** Standard `.parquet` FILE writer over the engine's codec core — PAR1
  * container, v1 or v2 data pages, RLE definition levels, thrift
  * compact footer; the counterpart of the reference's SerializedFileWriter
  * (`/root/reference/src/file/writer.rs:120-243`). Files are readable by
  * any Parquet implementation — the test suite round-trips them through
  * Spark's own built-in reader as the external correctness anchor.
  * This file owns only the container and the encoding choice: value bytes
  * come from the one value-codec layer ([[graft.core.ValueCodec]]),
  * dictionaries from [[graft.core.DictCodec.Encoder]] and page compression
  * from [[graft.core.BlockCodec]], the same code the `GC` chunk container
  * runs.
  *
  * Leaf types: Boolean / Int / Date / Long / Timestamp / Float / Double /
  * Decimal(p<=18) / String / Binary. Nested: ARRAY columns become standard
  * 3-level LIST groups (`optional group (LIST) { repeated group list {
  * optional element } }`), MAP columns key_value groups, and STRUCT
  * columns plain optional groups (one leaf chunk per subfield, maxDef 2,
  * no rep stream), with RLE rep/def level streams — the reference's
  * nested write support
  * (`/root/reference/src/record/`) re-expressed over the same shredded
  * rep/def streams the chunk engine produces. Flat columns are written
  * OPTIONAL with an RLE def-level stream (bit width 1); values use the
  * dictionary path (PLAIN dict page + PLAIN_DICTIONARY ids) when the
  * chunk's distinct count stays under the dict limits, else PLAIN — the
  * reference's writer policy
  * (`/root/reference/src/column/writer.rs:393-416`).
  */
/** Fallback (non-dictionary) value-encoding policy for the file writer.
  *
  *  - `Plain`     — classic v1 behavior: every non-dict page is PLAIN.
  *  - `V2Default` — the reference's WriterVersion::PARQUET_2_0 defaults
  *    (`/root/reference/src/column/writer.rs:718-795`): bool → RLE,
  *    INT32/INT64 → DELTA_BINARY_PACKED, BYTE_ARRAY → DELTA_BYTE_ARRAY.
  *  - `Auto`      — stats-driven per chunk, the file-writer incarnation of
  *    the north-star codec auto-selector: int/bool candidates are measured
  *    exactly (one cheap extra pass), byte-array prefix sharing is sampled
  *    to pick DELTA_BYTE_ARRAY vs DELTA_LENGTH_BYTE_ARRAY, and PLAIN wins
  *    whenever a candidate fails to actually shrink the page.
  */
object EncPolicy {
  val Plain = 0
  val V2Default = 1
  val Auto = 2
  def parse(s: String): Int = s.toLowerCase match {
    case "plain" => Plain
    case "v2" | "v2default" => V2Default
    case "auto" => Auto
    case other => throw new IllegalArgumentException(s"enc policy $other")
  }
}

object ParquetFileWriter {

  val DictMaxEntries = 65536
  val DictMaxBytes: Long = 1L << 20
  /** Target data-page size — the reference's DEFAULT_PAGE_SIZE
    * (`/root/reference/src/file/properties.rs:56`). Flat PLAIN chunks
    * larger than this are cut into multiple pages. */
  val PageBytes: Long = 1L << 20

  private final case class ChunkInfo(meta: PqColumnMeta)

  private def pqTypeOf(dt: DataType): Int = dt match {
    case BooleanType => PqType.Boolean
    case IntegerType | DateType => PqType.Int32
    case LongType | TimestampType | TimestampNTZType => PqType.Int64
    case d: DecimalType if d.precision <= 18 => PqType.Int64
    case _: DecimalType => PqType.FixedLenByteArray // p > 18: two's-comp BE
    case FloatType => PqType.Float
    case DoubleType => PqType.Double
    case StringType | BinaryType => PqType.ByteArray
    case other => throw new IllegalArgumentException(
      s"unsupported parquet writer type $other")
  }

  /** FLBA leaves (big-decimal columns): fixed raw concat on the page, no
    * dictionary, no unsigned-lexicographic stats (sign bit breaks order). */
  private def isFlba(dt: DataType): Boolean = dt match {
    case d: DecimalType => d.precision > 18
    case _ => false
  }

  private def isTimestamp(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** Days from the Julian-day epoch to 1970-01-01 (public calendar fact). */
  private val JulianDayOfEpoch = 2440588L
  private val MicrosPerDay = 86400000000L

  /** micros-since-epoch → legacy INT96 timestamps: 8-byte LE nanos-of-day
    * followed by 4-byte LE Julian day (the Impala/legacy-Spark layout our
    * reader already decodes from the reference golden files). */
  private def int96VecOf(vs: Array[Long]): BytesVec = {
    val n = vs.length
    val data = new Array[Byte](12 * n)
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      val micros = vs(i)
      val julian = Math.floorDiv(micros, MicrosPerDay) + JulianDayOfEpoch
      val nanos = Math.floorMod(micros, MicrosPerDay) * 1000L
      val p = 12 * i
      var b = 0
      while (b < 8) { data(p + b) = ((nanos >>> (8 * b)) & 0xFF).toByte; b += 1 }
      b = 0
      while (b < 4) {
        data(p + 8 + b) = ((julian >>> (8 * b)) & 0xFF).toByte; b += 1
      }
      offsets(i) = p
      i += 1
    }
    offsets(n) = 12 * n
    BytesVec(data, offsets)
  }

  private def convertedTypeOf(dt: DataType): Int = dt match {
    case StringType => PqConvertedType.Utf8
    case DateType => PqConvertedType.Date
    case TimestampType | TimestampNTZType => PqConvertedType.TimestampMicros
    case _: DecimalType => PqConvertedType.Decimal
    case _ => -1
  }

  /** Write `rows` to one parquet file; returns the row count.
    * `pageVersion` 1 writes classic v1 data pages; 2 writes DATA_PAGE_V2
    * (prefix-free uncompressed level streams, value-only compression —
    * the reference's WriterVersion::PARQUET_2_0,
    * `/root/reference/src/file/properties.rs:71-83`). */
  def writeFile(path: String, schema: StructType, rows: Iterator[Row],
      rowGroupRows: Int = 1 << 16, codec: Int = PqCodec.Snappy,
      pageVersion: Int = 1, bloomCols: Set[String] = Set.empty,
      encPolicy: Int = EncPolicy.Plain,
      int96Timestamps: Boolean = false,
      props: WriterProps = WriterProps.empty): Long = {
    val w = new IncrementalFileWriter(path, schema, rowGroupRows, codec,
      pageVersion, bloomCols, encPolicy = encPolicy,
      int96Timestamps = int96Timestamps, props = props)
    rows.foreach(w.addRow)
    w.close()
  }

  /** Row-at-a-time file writer — the shape DataSource V2 DataWriters need
    * (and what the reference's SerializedFileWriter is: an open handle you
    * push batches through, then close). */
  final class IncrementalFileWriter(path: String, schema: StructType,
      rowGroupRows: Int = 1 << 16, codec: Int = PqCodec.Snappy,
      pageVersion: Int = 1,
      /** FLAT leaf columns to stamp split-block bloom filters for
        * (equality pruning on columns whose min/max stats cannot prune);
        * filters are written after all row-group data, before the footer,
        * and referenced from ColumnMetaData fields 14/15. */
      bloomCols: Set[String] = Set.empty,
      bloomFpp: Double = 0.01,
      /** fallback value-encoding policy — see [[EncPolicy]] */
      encPolicy: Int = EncPolicy.Plain,
      /** opt-in LEGACY mode: flat timestamp columns are written as
        * physical INT96 (8-byte LE nanos-of-day + 4-byte LE Julian day —
        * the Impala/legacy-Spark layout, reference writer.rs:51-100's
        * eighth physical type) instead of INT64 TIMESTAMP_MICROS. For
        * consumers that still expect INT96; modern writers should leave
        * this off. */
      int96Timestamps: Boolean = false,
      /** byte-based row-group cut (parquet.block.size analogue): a group
        * also flushes once its buffered RAW bytes reach this, so wide
        * rows (multi-MB blobs, giant strings) can't accumulate a whole
        * partition in the builder arenas before the row-count cut —
        * unbounded task memory and a 2 GiB arena overflow at scale. */
      rowGroupBytes: Long = 128L << 20,
      /** per-column property overrides (encoding pin, codec, dictionary
        * and statistics toggles) — the reference's WriterProperties
        * surface, see [[WriterProps]]. Validated against `schema` here,
        * at construction, not at first flush. */
      props: WriterProps = WriterProps.empty) {
    private val fields = schema.fields
    private val nCols = fields.length
    // leaf-path -> resolved overrides; null map means "all defaults" so
    // the per-chunk lookup is free on the common path
    private val colProps: Map[String, ResolvedColProps] =
      if (props.isEmpty) null
      else props.resolveFor(schema, codec, int96Timestamps)
    private def propsOf(path: Seq[String]): ResolvedColProps =
      if (colProps == null) null else colProps(path.mkString("."))
    // create-or-truncate through the pluggable I/O seam: local paths hit
    // the JDK, scheme:// paths stream through Hadoop's FileSystem
    private val out = GraftIO.forPath(path).create(path)
    private var pos = 0L
    private def write(b: Array[Byte]): Unit = { out.write(b); pos += b.length }

    write("PAR1".getBytes)
    private val builders = fields.map(f => ColBuilder(f.dataType))
    private val rowGroups = ArrayBuffer.empty[PqRowGroup]
    // (row-group index, chunk index within group, filter) awaiting a file
    // offset — blooms land between the last row group and the footer
    private val pendingBlooms = ArrayBuffer.empty[(Int, Int, Sbbf)]
    // (row-group index, chunk index, data pages with their stats) awaiting
    // the page-index region — ColumnIndex+OffsetIndex land after blooms,
    // before the footer (parquet.thrift ColumnChunk fields 4-7)
    private val pendingIdx =
      ArrayBuffer.empty[(Int, Int, Seq[(PqPageLocation, Option[PqStats], Boolean)])]
    private var totalRows = 0L
    private var buffered = 0

    private var bufferedBytes = 0L

    /** Push one CATALYST row (the native DSv2 DataWriter shape — values are
      * copied out before return, so the caller may reuse the instance). */
    def add(row: InternalRow): Unit = {
      var c = 0
      while (c < nCols) { bufferedBytes += builders(c).add(row, c); c += 1 }
      buffered += 1
      if (buffered >= rowGroupRows || bufferedBytes >= rowGroupBytes) {
        flushRowGroup(buffered); buffered = 0; bufferedBytes = 0L
      }
    }

    // external-Row convenience for tests/tools; converts at the boundary
    private lazy val toInternal =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(schema)
    def addRow(row: Row): Unit = add(toInternal(row).asInstanceOf[InternalRow])

    /** Flush the tail row group, write the footer, return total rows. The
      * builders' arenas go back to the thread's pool whether or not this
      * succeeds (an aborting task closes the writer too). */
    def close(): Long =
      try {
        flushRowGroup(buffered)
        finish()
        totalRows
      } finally builders.foreach(_.release())

    /** Per-column write accounting across all flushed row groups (call
      * after close()): (dotted column path, encodings used, uncompressed
      * bytes, compressed bytes, values) — the per-partition lineage the
      * chunk engine records, on the real-file path. */
    def columnLineage: Seq[(String, Seq[Int], Long, Long, Long)] =
      rowGroups.flatMap(_.columns)
        .groupBy(_.pathInSchema.mkString("."))
        .toSeq.map { case (path, cs) =>
          (path, cs.flatMap(_.encodings).distinct.sorted.toSeq,
            cs.map(_.totalUncompressedSize).sum,
            cs.map(_.totalCompressedSize).sum,
            cs.map(_.numValues).sum)
        }.sortBy(_._1)

    private def flushRowGroup(buffered: Int): Unit = {
      if (buffered == 0) return
      val chunks = ArrayBuffer.empty[PqColumnMeta]
      var c = 0
      while (c < nCols) {
        val f = fields(c)
        builders(c) match {
          case rb: ColBuilder.RepeatedBuilder =>
            // our rep/def streams are exactly parquet's for a 3-level LIST
            // (one leaf, <name>.list.element) and a MAP key_value group (a
            // key leaf, required: maxDef 2, and a value leaf: maxDef 3)
            val (leaves, rep, defsArr) = rb.buildRepeated()
            // (leaf path, leaf type, max def level) per leaf
            val leafCols = f.dataType match {
              case ArrayType(et, _) => Seq((Seq(f.name, "list", "element"), et, 3))
              case MapType(kt, vt, _) =>
                Seq((Seq(f.name, "key_value", "key"), kt, 2),
                  (Seq(f.name, "key_value", "value"), vt, 3))
            }
            leafCols.zip(leaves).foreach { case ((path, dt, maxDef), vec) =>
              val levels =
                if (maxDef == 3) defsArr else defsArr.map(d => math.min(d, 2).toByte)
              chunks += writeColumnChunk(write, () => pos, path, dt, vec,
                rep, levels, rep.length, defWidth = 2, maxDef = maxDef, codec,
                pageVersion, encPolicy,
                pages => pendingIdx += ((rowGroups.length, chunks.length, pages)),
                colProps = propsOf(path))
            }
          case sb: ColBuilder.StructBuilder =>
            // non-repeated group: one leaf chunk per subfield, maxDef 2
            // (optional group + optional field), no rep stream
            val leaves = sb.buildStruct()
            val subFields = sb.st.fields
            var j = 0
            while (j < subFields.length) {
              val (vec, defsArr) = leaves(j)
              chunks += writeColumnChunk(write, () => pos,
                Seq(f.name, subFields(j).name), subFields(j).dataType, vec,
                null, defsArr, sb.rowCount, defWidth = 2, maxDef = 2, codec,
                pageVersion, encPolicy,
                pages => pendingIdx += ((rowGroups.length, chunks.length, pages)),
                colProps = propsOf(Seq(f.name, subFields(j).name)))
              j += 1
            }
          case b =>
            val asInt96 = int96Timestamps && isTimestamp(f.dataType)
            val vec =
              if (asInt96) int96VecOf(b.build().asInstanceOf[LongVec].values)
              else b.build()
            val levels = b.defLevels
            val nRows = b.rowCount
            if (bloomCols.contains(f.name) && vec.length > 0 &&
                !vec.isInstanceOf[BoolVec] && !isFlba(f.dataType) && !asInt96)
              pendingBlooms += ((rowGroups.length, chunks.length,
                Sbbf.build(vec, bloomFpp)))
            chunks += writeColumnChunk(write, () => pos,
              Seq(f.name), f.dataType, vec,
              null, levels, nRows, defWidth = 1, maxDef = 1, codec,
              pageVersion, encPolicy,
              pages => pendingIdx += ((rowGroups.length, chunks.length, pages)),
              int96 = asInt96, colProps = propsOf(Seq(f.name)))
        }
        builders(c).clear()
        c += 1
      }
      rowGroups += PqRowGroup(chunks.toSeq,
        chunks.map(_.totalUncompressedSize).sum, buffered.toLong)
      totalRows += buffered
    }

    // schema: root group + per column either one OPTIONAL primitive, a
    // 3-level LIST group, or a MAP key_value group
    private def primitive(name: String, dt: DataType,
        repetition: Int): PqSchemaElement = {
      if (int96Timestamps && isTimestamp(dt))
        // legacy INT96 timestamp leaf: no converted type, no type length
        return PqSchemaElement(name, typ = PqType.Int96,
          repetition = repetition)
      val (sc, pr) = dt match {
        case d: DecimalType => (d.scale, d.precision)
        case _ => (-1, -1)
      }
      val tl = if (isFlba(dt)) ColBuilder.decimalFlbaLen(pr) else -1
      PqSchemaElement(name, typ = pqTypeOf(dt), typeLength = tl,
        repetition = repetition, convertedType = convertedTypeOf(dt),
        scale = sc, precision = pr)
    }
    private def finish(): Unit = {
      // bloom filters: thrift header + little-endian bitset per chunk, then
      // the footer's ColumnMetaData points back at them (fields 14/15)
      if (pendingBlooms.nonEmpty) {
        val patches = pendingBlooms.map { case (rg, ci, f) =>
          val off = pos
          val header = Sbbf.writeHeader(f.numBytes)
          write(header)
          write(f.toBytes)
          (rg, ci, off, header.length + f.numBytes)
        }
        patches.groupBy(_._1).foreach { case (rg, ps) =>
          val group = rowGroups(rg)
          val cols = group.columns.toArray
          ps.foreach { case (_, ci, off, len) =>
            cols(ci) = cols(ci).copy(bloomOffset = off, bloomLength = len)
          }
          rowGroups(rg) = group.copy(columns = cols.toSeq)
        }
        pendingBlooms.clear()
      }
      // page index: all ColumnIndexes, then all OffsetIndexes (parquet-mr's
      // on-disk layout), each chunk's ColumnChunk fields 4-7 patched with
      // absolute offsets. Readers prune pages from these footer-side blobs
      // without touching any chunk bytes.
      if (pendingIdx.nonEmpty) {
        val patches = ArrayBuffer.empty[(Int, Int, PqColumnMeta => PqColumnMeta)]
        pendingIdx.foreach { case (rg, ci, pages) =>
          buildColumnIndex(rowGroups(rg).columns(ci).typ, pages).foreach { colIdx =>
            val off = pos
            val b = ParquetMeta.writeColumnIndex(colIdx)
            write(b)
            patches += ((rg, ci,
              m => m.copy(columnIndexOffset = off, columnIndexLength = b.length)))
          }
        }
        pendingIdx.foreach { case (rg, ci, pages) =>
          if (pages.nonEmpty) {
            val off = pos
            val b = ParquetMeta.writeOffsetIndex(pages.map(_._1))
            write(b)
            patches += ((rg, ci,
              m => m.copy(offsetIndexOffset = off, offsetIndexLength = b.length)))
          }
        }
        patches.groupBy(_._1).foreach { case (rg, ps) =>
          val group = rowGroups(rg)
          val cols = group.columns.toArray
          ps.foreach { case (_, ci, f) => cols(ci) = f(cols(ci)) }
          rowGroups(rg) = group.copy(columns = cols.toSeq)
        }
        pendingIdx.clear()
      }
      val schemaElems =PqSchemaElement("spark_schema", numChildren = nCols) +:
        fields.toSeq.flatMap { f =>
          f.dataType match {
            case ArrayType(et, _) => Seq(
              PqSchemaElement(f.name, repetition = 1, numChildren = 1,
                convertedType = PqConvertedType.List),
              PqSchemaElement("list", repetition = 2, numChildren = 1),
              primitive("element", et, repetition = 1))
            case MapType(kt, vt, _) => Seq(
              PqSchemaElement(f.name, repetition = 1, numChildren = 1,
                convertedType = PqConvertedType.Map),
              PqSchemaElement("key_value", repetition = 2, numChildren = 2,
                convertedType = PqConvertedType.MapKeyValue),
              primitive("key", kt, repetition = 0),
              primitive("value", vt, repetition = 1))
            case st: StructType =>
              PqSchemaElement(f.name, repetition = 1,
                numChildren = st.fields.length) +:
                st.fields.toSeq.map(sf =>
                  primitive(sf.name, sf.dataType, repetition = 1))
            case dt => Seq(primitive(f.name, dt, repetition = 1))
          }
        }
      val footer = ParquetMeta.writeFileMeta(PqFileMeta(
        version = 1, schema = schemaElems, numRows = totalRows,
        rowGroups = rowGroups.toSeq, createdBy = "graft parquet writer"))
      write(footer)
      val lenBytes = Array[Byte](footer.length.toByte,
        (footer.length >>> 8).toByte,
        (footer.length >>> 16).toByte, (footer.length >>> 24).toByte)
      write(lenBytes)
      write("PAR1".getBytes)
      out.close()
    }
  }

  /** RLE level stream with the v1 4-byte LE length prefix. `levels == null`
    * means all-ones (no nulls). */
  private def levelStream(levels: Array[Byte], n: Int, width: Int): Array[Byte] = {
    val body = RleHybridEncoder.levels(levels, n, width)
    val outB = new Array[Byte](4 + body.length)
    outB(0) = body.length.toByte
    outB(1) = (body.length >>> 8).toByte
    outB(2) = (body.length >>> 16).toByte
    outB(3) = (body.length >>> 24).toByte
    System.arraycopy(body, 0, outB, 4, body.length)
    outB
  }

  /** One leaf column chunk: optional PLAIN dict page + one data page (v1 or
    * v2 per `pageVersion`).
    * `repLevels == null` for non-repeated (flat) leaves; `numValues` is the
    * slot count (= rows for flat leaves, rep/def stream length for repeated
    * ones); `vec` holds the null-suppressed values (one per max-def slot). */
  private def writeColumnChunk(write: Array[Byte] => Unit, tell: () => Long,
      path: Seq[String], dt: DataType, vec: ColVec, repLevels: Array[Byte],
      defLevels: Array[Byte], numValues: Int, defWidth: Int, maxDef: Int,
      fileCodec: Int, pageVersion: Int,
      encPolicy: Int = EncPolicy.Plain,
      /** invoked (during this call) with every data page's location +
        * stats + all-null flag, for the footer page index */
      recordPages: Seq[(PqPageLocation, Option[PqStats], Boolean)] => Unit = null,
      /** legacy INT96 timestamp chunk: `vec` holds 12-byte values */
      int96: Boolean = false,
      /** this leaf's resolved per-column overrides (WriterProps) — null
        * means "no overrides": file codec, dict on, stats on, policy-chosen
        * fallback encoding */
      colProps: ResolvedColProps = null)
      : PqColumnMeta = {
    // per-column resolution (reference properties.rs:168-210): codec,
    // dictionary toggle, statistics toggle, pinned fallback encoding
    val codec = if (colProps == null) fileCodec else colProps.codec
    val dictOn = colProps == null || colProps.dictionary
    val statsOn = colProps == null || colProps.statistics
    val encPin: Option[Int] =
      if (colProps == null) None else colProps.encPin
    val typ = if (int96) PqType.Int96 else pqTypeOf(dt)
    // raw fixed-width values (FLBA decimals, INT96): PLAIN concat with no
    // length prefixes, no dictionary, no min/max (FLBA decimal order is
    // signed BE; INT96 sort order is undefined by the spec)
    val rawFixed = isFlba(dt) || int96
    val pageRec = ArrayBuffer.empty[(PqPageLocation, Option[PqStats], Boolean)]

    var numNulls = 0
    if (defLevels != null) {
      var i = 0
      while (i < numValues) {
        if (defLevels(i).toInt != maxDef) numNulls += 1
        i += 1
      }
    }
    // chunk statistics: stat-encoded min/max over the non-null values plus
    // the null count (the reference's statistics.rs fields; its own writer
    // left them TODO — writer.rs:352). statistics_enabled=false omits them
    // entirely (properties.rs:195-204) — chunk meta, page stats, and the
    // footer page index all go stat-less for this column.
    val stats =
      if (!statsOn) None
      else if (rawFixed) Some(PqStats(Array.emptyByteArray,
        Array.emptyByteArray, numNulls.toLong))
      else {
        val (mn, mx) = MinMax.compute(vec)
        Some(PqStats(mn, mx, numNulls.toLong))
      }

    // dictionary attempt (first-seen order, like the reference's writer);
    // dictionary_enabled=false (properties.rs:185) skips the attempt so
    // the fallback (possibly pinned) encoding carries the whole chunk
    val dict: Option[DictCodec.Encoder] =
      if (rawFixed || !dictOn) None else dictionaryOf(vec)

    // the dict path knows the EXACT distinct count — carry it in the
    // footer stats (thrift Statistics field 4, the reference's
    // statistics.rs distinct_count); non-dict chunks leave it unknown,
    // like parquet-mr
    val chunkStats = dict match {
      case Some(d) => stats.map(_.copy(distinctCount = d.numEntries.toLong))
      case None => stats
    }

    val startOff = tell()
    var uncTotal = 0L
    var dictOff = -1L

    val idPage = dict.map { d =>
      dictOff = tell()
      val dictPage = d.writeDict()
      val dictComp = BlockCodec.compress(dictPage, codec)
      val dictHeader = ParquetMeta.writeDictPageHeader(d.numEntries,
        dictPage.length, dictComp.length, crc = Some(crc32(dictComp)))
      write(dictHeader); write(dictComp)
      uncTotal += dictHeader.length + dictPage.length
      d.writeIndices()
    }
    // fallback (non-dict) encoding chosen per chunk by the active policy;
    // delta/RLE streams restart at every page, so the choice applies to
    // each page slice independently. When the Auto policy measured the
    // WHOLE chunk (it fit the sample bound), the winning encoding's bytes
    // come back cached — the single-page path below reuses them instead of
    // encoding twice.
    // a pinned encoding (set_column_encoding) bypasses the policy; with
    // dictionary enabled it is the FALLBACK, reached only when the dict
    // path rejects the chunk — the reference's set_encoding semantics
    // (properties.rs:348-358). Empty value vectors stay PLAIN (nothing to
    // encode; delta headers over zero values are wasted bytes).
    val (fallbackEnc, cachedVals) =
      if (idPage.isEmpty && !rawFixed) encPin match {
        case Some(pin) if vec.length > 0 => (pin, null: Array[Byte])
        case Some(_) => (PqEncoding.Plain, null: Array[Byte])
        case None => selectEnc(vec, dt, encPolicy)
      }
      else (PqEncoding.Plain, null: Array[Byte])
    val valueEnc =
      if (idPage.isEmpty) fallbackEnc
      else if (pageVersion >= 2) PqEncoding.RleDictionary
      else PqEncoding.PlainDictionary
    val dataOff = tell()

    /** Emit one data page: `n` slots, the page's def-level slice (null =
      * no nulls anywhere), its rep-level slice (null for flat leaves), and
      * its encoded values. */
    def emitPage(n: Int, defs: Array[Byte], reps: Array[Byte],
        vals: Array[Byte], pageStats: Option[PqStats],
        firstRow: Long = 0L): Unit = {
      val pageOff = tell()
      if (pageVersion >= 2) {
        // DATA_PAGE_V2: prefix-free uncompressed level streams + compressed
        // values (reference writer.rs DataPageV2 serialization path)
        val repStream =
          if (reps == null) Array.emptyByteArray else RleHybridEncoder.levels(reps, n, 1)
        val defStream = RleHybridEncoder.levels(defs, n, defWidth)
        var nulls = 0
        if (defs != null) {
          var i = 0
          while (i < n) { if (defs(i).toInt != maxDef) nulls += 1; i += 1 }
        }
        var nRows = n
        if (reps != null) {
          nRows = 0
          var i = 0
          while (i < n) { if (reps(i) == 0) nRows += 1; i += 1 }
        }
        val comp = BlockCodec.compress(vals, codec)
        val lvlLen = repStream.length + defStream.length
        val header = ParquetMeta.writePageHeaderV2(n, nulls, nRows,
          valueEnc, lvlLen + vals.length, lvlLen + comp.length,
          defStream.length, repStream.length, stats = pageStats,
          crc = Some(crc32(repStream, defStream, comp)))
        write(header); write(repStream); write(defStream); write(comp)
        uncTotal += header.length + lvlLen + vals.length
      } else {
        // v1 page body: [repLevels][defLevels][values], one compressed region
        val repBytes =
          if (reps == null) Array.emptyByteArray else levelStream(reps, n, 1)
        val content = repBytes ++ levelStream(defs, n, defWidth) ++ vals
        val repEnc =
          if (reps == null) PqEncoding.BitPacked else PqEncoding.Rle
        val comp = BlockCodec.compress(content, codec)
        val header = ParquetMeta.writePageHeaderV1(n, valueEnc,
          content.length, comp.length, repEnc, stats = pageStats,
          crc = Some(crc32(comp)))
        write(header); write(comp)
        uncTotal += header.length + content.length
      }
      pageRec += ((PqPageLocation(pageOff, (tell() - pageOff).toInt, firstRow),
        pageStats, pageStats.exists(_.nullCount == n)))
    }

    // Flat PLAIN chunks above the reference's DEFAULT_PAGE_SIZE are cut into
    // ~1 MiB pages (reference writer.rs:359-433). Dict chunks keep one id
    // stream (bounded by the 1 MiB dict limit + id widths), FLBA and
    // repeated leaves stay single-page (rep streams would need
    // record-aligned splits).
    if (idPage.isEmpty && repLevels == null && !rawFixed &&
        ChunkCodec.cutSizeOf(vec, 0, vec.length) > PageBytes) {
      var r0 = 0
      var v0 = 0
      var r = 0
      var v = 0
      var acc = 0L
      def cut(rEnd: Int, vEnd: Int): Unit = {
        val defsSlice =
          if (defLevels == null) null
          else java.util.Arrays.copyOfRange(defLevels, r0, rEnd)
        val slice = ColVec.gather(vec, Array.range(v0, vEnd))
        // page-level statistics over this page's values (the page-skipping
        // granularity the reference never reached — its writer left even
        // chunk stats TODO, writer.rs:352)
        val pStats =
          if (!statsOn) None
          else {
            val (pMn, pMx) = MinMax.compute(slice)
            Some(PqStats(pMn, pMx, (rEnd - r0 - (vEnd - v0)).toLong))
          }
        emitPage(rEnd - r0, defsSlice, null, ValueCodec.encode(slice, fallbackEnc),
          pStats, firstRow = r0)
        r0 = rEnd; v0 = vEnd; acc = 0L
      }
      while (r < numValues) {
        if (defLevels == null || defLevels(r).toInt == maxDef) {
          acc += ChunkCodec.rawSizeOf(vec, v); v += 1
        }
        r += 1
        if (acc >= PageBytes && r < numValues) cut(r, v)
      }
      cut(numValues, v)
    } else {
      val valueBytes = idPage.getOrElse {
        if (rawFixed) {
          // FLBA/INT96 PLAIN: raw fixed-size concat, no length prefixes
          val v = vec.asInstanceOf[BytesVec]
          val nVals = v.length
          if (nVals == 0) Array.emptyByteArray
          else java.util.Arrays.copyOfRange(v.data, v.start(0),
            v.start(nVals - 1) + v.len(nVals - 1))
        } else if (cachedVals != null) cachedVals
        else ValueCodec.encode(vec, fallbackEnc)
      }
      // single data page == whole chunk: page stats are the chunk stats
      emitPage(numValues, defLevels, repLevels, valueBytes, chunkStats)
    }
    val endOff = tell()
    if (recordPages != null) recordPages(pageRec.toSeq)
    val encodings =
      if (idPage.isEmpty) Seq(PqEncoding.Rle, fallbackEnc).distinct
      else Seq(PqEncoding.Rle, valueEnc, PqEncoding.Plain)
    PqColumnMeta(typ, encodings, path, codec, numValues.toLong, uncTotal,
      endOff - startOff, dataPageOffset = dataOff,
      dictionaryPageOffset = dictOff, stats = chunkStats)
  }

  /** Auto-policy measurement bound: candidates are measured on a bounded
    * PREFIX slice of the chunk, not the whole chunk — a 64 MiB delta chunk
    * must not be encoded twice just to pick its encoding. A prefix (not a
    * stride) keeps delta/front-coding adjacency intact, which is exactly
    * what the candidates exploit. */
  private val SelectSample = 4096

  /** Choose the fallback (non-dict) value encoding for one chunk under
    * `encPolicy` — the file-writer face of the north-star auto-selector.
    * V2Default is the reference's fixed per-type WriterVersion::PARQUET_2_0
    * table (`/root/reference/src/column/writer.rs:718-795`); Auto measures
    * candidates on a [[SelectSample]]-bounded prefix slice and falls back
    * to PLAIN whenever the candidate doesn't actually win. Float and
    * double columns stay PLAIN under every policy: their only other
    * encoding, BYTE_STREAM_SPLIT, is rejected by Spark's default vectorized
    * reader, so it is written only when pinned (`enc.<col>=bss`).
    *
    * Returns (encoding, cachedBytes): when the measured slice WAS the whole
    * chunk and the winner's encoding was materialized, its bytes come back
    * so a single-page chunk never encodes twice; null otherwise. */
  private def selectEnc(vec: ColVec, dt: DataType,
      encPolicy: Int): (Int, Array[Byte]) = {
    if (encPolicy == EncPolicy.Plain || isFlba(dt) || vec.length == 0)
      return (PqEncoding.Plain, null)
    val whole = vec.length <= SelectSample
    // bounded prefix slice (identity when the chunk is small)
    def slice: ColVec =
      if (whole) vec
      else ColVec.gather(vec, Array.range(0, SelectSample))
    vec match {
      case BoolVec(vs) =>
        if (encPolicy == EncPolicy.V2Default) (PqEncoding.Rle, null)
        else {
          val s = slice
          val rle = ValueCodec.encode(s, PqEncoding.Rle)
          if (rle.length < s.rawSize)
            (PqEncoding.Rle, if (whole) rle else null)
          else (PqEncoding.Plain, null)
        }
      case _: IntVec | _: LongVec =>
        if (encPolicy == EncPolicy.V2Default)
          (PqEncoding.DeltaBinaryPacked, null)
        else {
          val s = slice
          val delta = ValueCodec.encode(s, PqEncoding.DeltaBinaryPacked)
          if (delta.length < s.rawSize)
            (PqEncoding.DeltaBinaryPacked, if (whole) delta else null)
          else (PqEncoding.Plain, null)
        }
      case v: BytesVec =>
        if (encPolicy == EncPolicy.V2Default) (PqEncoding.DeltaByteArray, null)
        else {
          // DELTA_BYTE_ARRAY front-codes against the previous value: it
          // pays a second delta-packed prefix-length stream (well under a
          // byte/value) and saves the shared-prefix bytes. Sample up to 512
          // evenly-spaced adjacent pairs; mean shared prefix >= 2 bytes is
          // a comfortable win, else DELTA_LENGTH_BYTE_ARRAY (which already
          // beats PLAIN's 4-byte length prefixes for any non-trivial page).
          val n = v.length
          val pick =
            if (n < 2) PqEncoding.DeltaLengthByteArray
            else {
              val step = math.max(1, (n - 1) / 512)
              var i = 1
              var prefixSum = 0L
              var cnt = 0
              while (i < n) {
                val aOff = v.start(i - 1)
                val bOff = v.start(i)
                val lim = math.min(v.len(i - 1), v.len(i))
                var p = 0
                while (p < lim && v.data(aOff + p) == v.data(bOff + p)) p += 1
                prefixSum += p
                cnt += 1
                i += step
              }
              if (prefixSum >= 2L * cnt) PqEncoding.DeltaByteArray
              else PqEncoding.DeltaLengthByteArray
            }
          // guard: tiny pages where the delta headers outweigh the savings
          // (measured on the bounded slice, cached when it's the chunk)
          val s = slice
          val enc = ValueCodec.encode(s, pick)
          if (enc.length < s.rawSize)
            (pick, if (whole) enc else null)
          else (PqEncoding.Plain, null)
        }
      case _ => (PqEncoding.Plain, null)
    }
  }

  /** The chunk's dictionary, or None when it should go without one: past
    * [[DictMaxEntries]] entries or [[DictMaxBytes]] of PLAIN dictionary, or
    * (non-byte columns) more than one entry per two values. Values go in
    * by mini-batch, so a chunk past either limit stops early. */
  private def dictionaryOf(vec: ColVec): Option[DictCodec.Encoder] = {
    val n = vec.length
    if (n == 0 || vec.isInstanceOf[BoolVec]) return None // parquet: bools are PLAIN
    val dict = new DictCodec.Encoder(vec.physicalType)
    var i = 0
    while (i < n) {
      val until = math.min(i + ChunkCodec.MiniBatch, n)
      dict.put(vec, i, until)
      if (dict.numEntries > DictMaxEntries || dict.dictEncodedSize > DictMaxBytes)
        return None
      i = until
    }
    // heuristic: dictionary only pays when it actually shrinks
    if (dict.numEntries > n / 2 && !vec.isInstanceOf[BytesVec]) None
    else Some(dict)
  }

  /** Assemble a ColumnIndex from per-page stats, or None when any page
    * lacks usable min/max (FLBA chunks, stat-less pages): ColumnIndex
    * min/max are required per page, so a partial index would misreport.
    * Boundary order is computed with the column's stat-byte comparator —
    * UNORDERED is always safe, ASC/DESC lets readers binary-search. */
  private def buildColumnIndex(
      typ: Int, pages: Seq[(PqPageLocation, Option[PqStats], Boolean)]):
      Option[PqColumnIndex] = {
    if (pages.isEmpty) return None
    val ok = pages.forall { case (_, st, nullPage) =>
      st.isDefined && (nullPage || (st.get.min.nonEmpty && st.get.max.nonEmpty))
    }
    if (!ok) return None
    val nullPages = pages.map(_._3)
    // null pages carry empty min/max per spec
    val mins = pages.map { case (_, st, np) =>
      if (np) Array.emptyByteArray else st.get.min }
    val maxs = pages.map { case (_, st, np) =>
      if (np) Array.emptyByteArray else st.get.max }
    val nullCounts = pages.map(_._2.get.nullCount)
    val live = pages.indices.filterNot(nullPages)
    val phys = PqType.physical(typ)
    def ordered(sign: Int): Boolean = live.size < 2 || live.sliding(2).forall {
      case Seq(a, b) =>
        sign * MinMax.compareStat(phys, mins(a), mins(b)) <= 0 &&
          sign * MinMax.compareStat(phys, maxs(a), maxs(b)) <= 0
      case _ => true
    }
    val order =
      if (!cmpDefined(typ)) 0
      else if (ordered(1)) 1 // ASCENDING
      else if (ordered(-1)) 2 // DESCENDING
      else 0 // UNORDERED
    Some(PqColumnIndex(nullPages, mins, maxs, order, nullCounts))
  }

  private def cmpDefined(typ: Int): Boolean = typ match {
    case PqType.Int32 | PqType.Int64 | PqType.Float | PqType.Double |
         PqType.ByteArray | PqType.Boolean => true
    case _ => false
  }

  /** CRC32 over the page bytes exactly as written after the header — the
    * parquet-format page-checksum definition (PageHeader field 4, same
    * coverage as parquet-mr: compressed body; for v2 pages the level
    * streams are part of the written body and are included). */
  private def crc32(parts: Array[Byte]*): Int = {
    val c = new java.util.zip.CRC32
    parts.foreach(c.update)
    c.getValue.toInt
  }
}

/** Distributed parquet sink: each partition writes its own standard
  * `.parquet` file into `dir` (the Spark files model — at cluster scale the
  * local-path write becomes a DFS stream, the per-partition shape is
  * identical). Returns one (path, rows) row per written file. */
object ParquetSink {

  def write(df: DataFrame, dir: String, codec: Int = PqCodec.Snappy,
      rowGroupRows: Int = 1 << 16, pageVersion: Int = 1,
      bloomCols: Seq[String] = Nil,
      encPolicy: Int = EncPolicy.Plain,
      int96Timestamps: Boolean = false,
      props: WriterProps = WriterProps.empty): DataFrame = {
    // fail on bad column types or per-column props at the DRIVER, before
    // tasks launch
    ColBuilder.check(df.schema)
    if (!props.isEmpty) props.resolveFor(df.schema, codec, int96Timestamps)
    val spark = df.sparkSession
    import spark.implicits._
    val schema = df.schema
    val blooms = bloomCols.toSet
    GraftIO.forPath(dir).mkdirs(dir)
    TaskCommit.sweep(dir)
    // catalyst rows straight into the writer — no per-row external
    // conversion (same hot-loop shape as the DSv2 DataWriter)
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val path = TaskCommit.partPath(dir, TaskContext.getPartitionId())
        val n = TaskCommit.write(path) { stage =>
          val w = new ParquetFileWriter.IncrementalFileWriter(stage, schema,
            rowGroupRows, codec, pageVersion, blooms, encPolicy = encPolicy,
            int96Timestamps = int96Timestamps, props = props)
          it.foreach(w.add)
          w.close()
        }
        Iterator((path, n))
      }
    }
    spark.createDataset(rdd).toDF("path", "rows")
  }

  /** One per-column lineage row of a resumable write — the north rule's
    * per-partition lineage (partition id, codec chosen, input/output bytes,
    * sha256 manifest) for files instead of chunk tables. */
  final case class FileLineageRow(partId: Int, path: String, rows: Long,
      fileBytes: Long, fileSha256: String, column: String, codecs: String,
      uncompressedBytes: Long, compressedBytes: Long, values: Long)

  /** Resumable distributed write — a thin caller of
    * [[TaskCommit.runResumable]], like `EncodeJob.encodeResumable`: a
    * lineage table under `dir/_lineage` records every COMPLETED partition
    * (per column: encodings, bytes, values; per file: sha256 manifest);
    * re-running over the same deterministic input skips completed
    * partitions entirely and writes only the missing ones. Lineage is
    * committed per TASK — each task commits its data file, then its
    * sidecar `_lineage/part-<pid>.parquet` — so a killed job loses only
    * the partitions in flight. A lineage read that fails while sidecars
    * exist refuses the run instead of rewriting over the checkpoint.
    * A partition id names the same rows only under the same input
    * partitioning, so the first run pins the input's partition count in
    * `_lineage/_write_meta` and a resume at another count is refused (a
    * checkpoint from before the marker adopts this run's count).
    * Returns the full `_lineage` table. */
  def writeResumable(df: DataFrame, dir: String, codec: Int = PqCodec.Snappy,
      rowGroupRows: Int = 1 << 16, pageVersion: Int = 1,
      encPolicy: Int = EncPolicy.Plain,
      props: WriterProps = WriterProps.empty): DataFrame = {
    val spark = df.sparkSession
    ColBuilder.check(df.schema) // driver-side checks
    if (!props.isEmpty) props.resolveFor(df.schema, codec)
    val lineageDir = s"$dir/_lineage"
    val schema = df.schema
    val rows = df.queryExecution.toRdd
    val metaPath = s"$lineageDir/_write_meta"
    val metaNow = s"v1 partitions=${rows.getNumPartitions}"
    TaskCommit.readMarker(metaPath) match {
      case Some(prev) => require(prev == metaNow,
        s"resume partitioning mismatch for $dir\n  checkpoint: $prev\n" +
          s"  this run:   $metaNow\nResume with the checkpoint's input " +
          "partitioning, or write into a fresh dir")
      case None =>
        GraftIO.forPath(lineageDir).mkdirs(lineageDir)
        TaskCommit.writeMarker(metaPath, metaNow)
    }
    TaskCommit.runResumable[InternalRow, FileLineageRow](spark, dir,
        lineageDir)(_ => rows) { (pid, it, stage) =>
      val w = new ParquetFileWriter.IncrementalFileWriter(stage, schema,
        rowGroupRows, codec, pageVersion, encPolicy = encPolicy,
        props = props)
      it.foreach(w.add)
      val n = w.close()
      // the stage holds the final bytes: hash and size it before publish
      val fileBytes = GraftIO.forPath(stage).length(stage)
      val sha = sha256File(stage)
      w.columnLineage.map { case (c, encs, unc, comp, vals) =>
        FileLineageRow(pid, TaskCommit.partPath(dir, pid), n, fileBytes, sha,
          c, encs.map(PqEncoding.name).mkString("+"), unc, comp, vals)
      }
    }
    spark.read.schema(Encoders.product[FileLineageRow].schema)
      .parquet(lineageDir)
  }

  private def sha256File(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = GraftIO.forPath(path).openStream(path)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    graft.core.BitUtil.hexLower(md.digest())
  }

  /** Hive-style partitioned write: rows land under
    * `dir/k1=v1/.../part-<taskId>.parquet`, partition columns dropped from
    * the file payload (they live in the path, like Spark's own layout — so
    * Spark, DuckDB, and pyarrow read it back with partition columns
    * restored). One `repartition` on the partition columns co-locates each
    * value; within a task one incremental writer per live value keeps
    * memory O(row group), not O(partition). */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: Seq[String],
      codec: Int = PqCodec.Snappy, rowGroupRows: Int = 1 << 16,
      pageVersion: Int = 1, encPolicy: Int = EncPolicy.Plain): DataFrame = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    val dataFields = df.schema.fields.filterNot(f =>
      partitionCols.contains(f.name))
    require(dataFields.nonEmpty, "all columns are partition columns")
    val dataSchema = StructType(dataFields.toSeq)
    ColBuilder.check(dataSchema)
    val allFields = df.schema.fields
    val pIdx = partitionCols.map(df.schema.fieldIndex).toArray
    val dIdx = dataFields.map(f => df.schema.fieldIndex(f.name)).toArray
    GraftIO.forPath(dir).mkdirs(dir)
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rdd = df.repartition(partitionCols.map(col): _*)
      .queryExecution.toRdd.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      // partition values render through the external converter so directory
      // names (dates, decimals, ...) match the external-Row behavior
      val keyConvs = pIdx.map(i =>
        CatalystTypeConverters.createToScalaConverter(allFields(i).dataType))
      // projection of the data columns only (partition cols live in the path)
      val proj = UnsafeProjection.create(dIdx.map(i =>
        BoundReference(i, allFields(i).dataType, allFields(i).nullable)).toSeq)
      val writers = scala.collection.mutable.LinkedHashMap
        .empty[Seq[String], (String, ParquetFileWriter.IncrementalFileWriter)]
      it.foreach { row =>
        val key: Seq[String] = pIdx.indices.map { k =>
          val i = pIdx(k)
          String.valueOf(keyConvs(k)(row.get(i, allFields(i).dataType)))
        }.toSeq
        val (_, w) = writers.getOrElseUpdate(key, {
          val sub = partitionCols.zip(key).map { case (k, v) =>
            s"$k=${PartitionPath.escape(v)}"
          }.mkString("/")
          val d = s"$dir/$sub"
          GraftIO.forPath(d).mkdirs(d)
          val path = TaskCommit.partPath(d, pid)
          (path, new ParquetFileWriter.IncrementalFileWriter(
            TaskCommit.stagePath(path), dataSchema, rowGroupRows, codec,
            pageVersion, encPolicy = encPolicy))
        })
        // the projection output is reused; the writer copies values out
        w.add(proj(row))
      }
      writers.valuesIterator.map { case (path, w) =>
        val n = w.close()
        TaskCommit.publish(path)
        (path, n)
      }
    }
    spark.createDataset(rdd).toDF("path", "rows")
  }
}
