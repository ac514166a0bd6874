package graft.sources

/** Minimal Thrift compact-protocol reader/writer + the subset of the public
  * Apache parquet-format metadata structs needed for real `.parquet` file
  * interop (the reference's container layer: footer parse at
  * `/root/reference/src/file/reader.rs:145-222`, footer write at
  * `/root/reference/src/file/writer.rs:148-196`; struct/field ids follow the
  * public parquet.thrift spec the reference's parquet-format 2.5.0 crate
  * generates from).
  *
  * Compact-protocol facts used (public Thrift spec):
  *  - field header: `(idDelta << 4) | type` when 1 <= delta <= 15, else the
  *    type byte alone followed by the zigzag-varint field id;
  *  - BOOL is carried in the header type (1 = true, 2 = false);
  *  - i16/i32/i64 are zigzag ULEB128 varints; enums are i32;
  *  - binary/string: ULEB128 length + bytes;
  *  - list header: `(size << 4) | elemType` when size < 15, else
  *    `0xF? | elemType` + ULEB128 size;
  *  - struct = fields then a 0x00 stop byte; field-id deltas reset per
  *    struct.
  */
object ThriftCompact {
  // compact type ids
  val TStop = 0
  val TBoolTrue = 1
  val TBoolFalse = 2
  val TByte = 3
  val TI16 = 4
  val TI32 = 5
  val TI64 = 6
  val TDouble = 7
  val TBinary = 8
  val TList = 9
  val TSet = 10
  val TMap = 11
  val TStruct = 12

  final class Reader(val buf: Array[Byte], var pos: Int) {
    def u8(): Int = {
      require(pos >= 0 && pos < buf.length,
        s"thrift: read at $pos past the end of a ${buf.length}-byte buffer")
      val b = buf(pos) & 0xFF
      pos += 1
      b
    }

    def varint(): Long = {
      var shift = 0
      var out = 0L
      var b = 0
      do {
        b = u8()
        out |= (b & 0x7FL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      out
    }

    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1) }

    def binary(): Array[Byte] = {
      val len = varint().toInt
      // corrupted length guard: copyOfRange zero-pads past the buffer end,
      // so a hostile varint would otherwise allocate GBs before any read fails
      require(len >= 0 && pos + len.toLong <= buf.length,
        s"thrift binary claims $len bytes at $pos in a ${buf.length}-byte buffer")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }

    def string(): String =
      new String(binary(), java.nio.charset.StandardCharsets.UTF_8)

    /** (fieldId, compactType), or (_, TStop) at struct end. `lastId` is the
      * previous field id within the current struct. */
    def fieldHeader(lastId: Int): (Int, Int) = {
      val b = u8()
      if (b == TStop) return (0, TStop)
      val tpe = b & 0x0F
      val delta = (b >>> 4) & 0x0F
      val id = if (delta != 0) lastId + delta else zigzag().toInt
      (id, tpe)
    }

    /** (elemType, size) */
    def listHeader(): (Int, Int) = {
      val b = u8()
      val tpe = b & 0x0F
      val sz = (b >>> 4) & 0x0F
      if (sz == 0x0F) (tpe, varint().toInt) else (tpe, sz)
    }

    def skip(tpe: Int): Unit = skipDepth(tpe, 0)

    private def skipDepth(tpe: Int, depth: Int): Unit = tpe match {
      case TBoolTrue | TBoolFalse => ()
      case TByte => u8()
      case TI16 | TI32 | TI64 => varint()
      case TDouble => pos += 8
      case TBinary =>
        // NB: must read the length BEFORE touching pos — `pos += varint()`
        // captures the pre-varint pos and silently drops the length bytes
        val len = varint().toInt
        pos += len
      case TList | TSet =>
        val (et, n) = listHeader()
        var i = 0
        while (i < n) { skipListElem(et, depth); i += 1 }
      case TMap =>
        // compact map: ULEB size, then (if size > 0) one key/value-type byte
        val n = varint().toInt
        if (n > 0) {
          val b = u8()
          val kt = (b >>> 4) & 0x0F
          val vt = b & 0x0F
          var i = 0
          while (i < n) { skipListElem(kt, depth); skipListElem(vt, depth); i += 1 }
        }
      case TStruct =>
        // depth cap: hostile/corrupted bytes can encode arbitrarily nested
        // structs — real parquet metadata never nests past a handful of
        // levels, and unbounded recursion here is a stack overflow (an
        // Error, not a clean failure) on garbage input
        require(depth < 64, s"thrift struct nesting exceeds 64 at $pos")
        var last = 0
        var done = false
        while (!done) {
          val (id, t) = fieldHeader(last)
          if (t == TStop) done = true
          else { skipDepth(t, depth + 1); last = id }
        }
      case other => throw new IllegalArgumentException(
        s"thrift type $other at pos $pos ctx " +
          buf.slice(math.max(0, pos - 12), math.min(buf.length, pos + 4))
            .map(b => f"${b & 0xFF}%02x").mkString(" "))
    }

    private def skipListElem(tpe: Int, depth: Int = 0): Unit = tpe match {
      case TBoolTrue | TBoolFalse => u8() // bools in lists are 1 byte
      case TList | TSet | TMap =>
        require(depth < 64, s"thrift container nesting exceeds 64 at $pos")
        skipDepth(tpe, depth + 1)
      case other => skipDepth(other, depth)
    }
  }

  final class Writer {
    private var buf = new Array[Byte](256)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length << 1
        while (cap < len + n) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def u8(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { u8(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      u8(v.toInt)
    }
    def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def bytes(b: Array[Byte]): Unit = {
      ensure(b.length); System.arraycopy(b, 0, buf, len, b.length); len += b.length
    }
    def binary(b: Array[Byte]): Unit = { varint(b.length.toLong); bytes(b) }
    def string(s: String): Unit =
      binary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def fieldHeader(id: Int, tpe: Int, lastId: Int): Unit = {
      val delta = id - lastId
      if (delta >= 1 && delta <= 15) u8((delta << 4) | tpe)
      else { u8(tpe); zigzag(id.toLong) }
    }
    def stop(): Unit = u8(TStop)
    def listHeader(elemType: Int, size: Int): Unit =
      if (size < 15) u8((size << 4) | elemType)
      else { u8(0xF0 | elemType); varint(size.toLong) }
    def i32Field(id: Int, lastId: Int, v: Int): Unit = {
      fieldHeader(id, TI32, lastId); zigzag(v.toLong)
    }
    def i64Field(id: Int, lastId: Int, v: Long): Unit = {
      fieldHeader(id, TI64, lastId); zigzag(v)
    }
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }
}

// ------------------------------------------------------------------ structs

/** Parquet physical types (public format spec / reference basic.rs:39-48). */
object PqType {
  val Boolean = 0
  val Int32 = 1
  val Int64 = 2
  val Int96 = 3
  val Float = 4
  val Double = 5
  val ByteArray = 6
  val FixedLenByteArray = 7

  /** The core physical type values of `typ` decode to (INT96 and
    * FIXED_LEN_BYTE_ARRAY as fixed-width byte values). */
  def physical(typ: Int): Int = typ match {
    case Boolean => graft.core.PhysicalType.Bool
    case Int32 => graft.core.PhysicalType.Int32
    case Int64 => graft.core.PhysicalType.Int64
    case Float => graft.core.PhysicalType.Float
    case Double => graft.core.PhysicalType.Double
    case ByteArray | Int96 | FixedLenByteArray => graft.core.PhysicalType.Bytes
    case other => throw new IllegalArgumentException(
      s"physical type $other unsupported")
  }
}

/** Parquet encodings (public format spec); the ids are the value codec's
  * key space ([[graft.core.ValueCodec]]). */
object PqEncoding extends graft.core.ParquetEncodingIds {
  def name(e: Int): String = e match {
    case Plain => "PLAIN"
    case PlainDictionary => "PLAIN_DICTIONARY"
    case Rle => "RLE"
    case BitPacked => "BIT_PACKED"
    case DeltaBinaryPacked => "DELTA_BINARY_PACKED"
    case DeltaLengthByteArray => "DELTA_LENGTH_BYTE_ARRAY"
    case DeltaByteArray => "DELTA_BYTE_ARRAY"
    case RleDictionary => "RLE_DICTIONARY"
    case ByteStreamSplit => "BYTE_STREAM_SPLIT"
    case other => s"ENC_$other"
  }
}

/** Parquet compression codecs; the ids are the block codec's key space
  * ([[graft.core.BlockCodec]]). */
object PqCodec extends graft.core.ParquetCodecIds {

  /** Writer-option codec names (the single parser for DSv2 options and
    * per-column overrides). */
  def parse(s: String): Int = s.toLowerCase match {
    case "snappy" => Snappy
    case "gzip" => Gzip
    case "zstd" => Zstd
    case "lz4_raw" | "lz4" => Lz4Raw
    case "brotli" => Brotli
    case "uncompressed" | "none" => Uncompressed
    case other => throw new IllegalArgumentException(s"codec $other")
  }
}

object PqConvertedType {
  val Utf8 = 0
  val Map = 1
  val MapKeyValue = 2
  val List = 3
  val Decimal = 5
  val Date = 6
  val TimestampMicros = 10
}

final case class PqSchemaElement(
    name: String,
    typ: Int = -1, // -1 = absent (group node)
    typeLength: Int = -1,
    repetition: Int = -1, // 0 REQUIRED, 1 OPTIONAL, 2 REPEATED; -1 absent
    numChildren: Int = 0,
    convertedType: Int = -1,
    scale: Int = -1,
    precision: Int = -1)

/** Column chunk statistics (public parquet.thrift Statistics; the
  * reference parses these in `/root/reference/src/file/statistics.rs`).
  * `min`/`max` use the stat encoding (LE ints, raw bytes for BYTE_ARRAY,
  * possibly truncated); empty array = unbounded/absent. */
/** `distinctCount` = -1 when unknown; written/parsed as thrift Statistics
  * field 4 (the reference's statistics.rs:252-330 carries it too).
  * `legacyOnly` = min/max came from the deprecated fields 1/2 with no
  * modern 5/6 pair present. Old writers (parquet-mr < 1.8) computed
  * BYTE_ARRAY/FLBA stats with SIGNED byte comparison, so byte-wise
  * (unsigned lexicographic) pruning must not trust such stats unless
  * min == max (all sort orders agree on a single value). Numeric LE
  * stats are unaffected — signed order is the correct int order. */
final case class PqStats(min: Array[Byte], max: Array[Byte], nullCount: Long,
    distinctCount: Long = -1L, legacyOnly: Boolean = false) {
  /** Are these stats safe for unsigned-lexicographic byte comparison? */
  def byteOrderTrusted: Boolean =
    !legacyOnly || java.util.Arrays.equals(min, max)
}

final case class PqColumnMeta(
    typ: Int,
    encodings: Seq[Int],
    pathInSchema: Seq[String],
    codec: Int,
    numValues: Long,
    totalUncompressedSize: Long,
    totalCompressedSize: Long,
    dataPageOffset: Long,
    dictionaryPageOffset: Long = -1L, // -1 = absent
    stats: Option[PqStats] = None,
    /** split-block bloom filter location (parquet.thrift ColumnMetaData
      * fields 14/15); -1 = absent */
    bloomOffset: Long = -1L,
    bloomLength: Int = -1,
    /** page-index locations (parquet.thrift ColumnChunk fields 4-7);
      * -1 = absent. These live on ColumnChunk, not ColumnMetaData. */
    offsetIndexOffset: Long = -1L,
    offsetIndexLength: Int = -1,
    columnIndexOffset: Long = -1L,
    columnIndexLength: Int = -1)

/** One data page's location (parquet.thrift PageLocation): absolute file
  * offset of the page header, total bytes (header + body), and the index of
  * its first row within the row group. Dictionary pages are not listed. */
final case class PqPageLocation(offset: Long, compressedPageSize: Int,
    firstRowIndex: Long)

/** parquet.thrift ColumnIndex: per-page min/max/null metadata stored in the
  * footer region so readers prune pages without touching chunk bytes.
  * `boundaryOrder`: 0 unordered, 1 ascending, 2 descending. */
final case class PqColumnIndex(
    nullPages: Seq[Boolean],
    minValues: Seq[Array[Byte]],
    maxValues: Seq[Array[Byte]],
    boundaryOrder: Int,
    nullCounts: Seq[Long])

final case class PqRowGroup(
    columns: Seq[PqColumnMeta],
    totalByteSize: Long,
    numRows: Long)

final case class PqFileMeta(
    version: Int,
    schema: Seq[PqSchemaElement],
    numRows: Long,
    rowGroups: Seq[PqRowGroup],
    createdBy: String,
    /** parsed size of the footer's `column_orders` list (field 7) — the
      * spec's precondition for readers to trust `min_value`/`max_value`;
      * 0 when the writer omitted it. The writer always re-derives the list
      * from the schema's leaf count rather than trusting this. */
    columnOrders: Int = 0)

final case class PqPageHeader(
    pageType: Int, // 0 data v1, 2 dictionary, 3 data v2
    uncompressedSize: Int,
    compressedSize: Int,
    /** CRC32 of the page bytes as written after the header (field 4);
      * `crcDefined=false` when the writer omitted it */
    crcDefined: Boolean = false,
    crc: Int = 0,
    // data page v1
    numValues: Int = 0,
    encoding: Int = 0,
    defLevelEncoding: Int = 0,
    repLevelEncoding: Int = 0,
    /** bytes consumed by the header itself */
    headerLen: Int = 0,
    // data page v2 (public parquet.thrift DataPageHeaderV2; the reference
    // reads these at /root/reference/src/file/reader.rs:449-533)
    numNulls: Int = 0,
    numRows: Int = 0,
    defLevelsByteLen: Int = 0,
    repLevelsByteLen: Int = 0,
    isCompressed: Boolean = true,
    /** page-level min/max/null-count (DataPageHeader field 5 /
      * DataPageHeaderV2 field 8) — absent in most files */
    stats: Option[PqStats] = None)

/** Parse/serialize the metadata subset. Field ids follow parquet.thrift. */
object ParquetMeta {
  import ThriftCompact._

  // ---------------------------------------------------------------- parsing

  def parseFileMeta(buf: Array[Byte], off: Int): PqFileMeta = {
    val r = new Reader(buf, off)
    var version = 0
    var schema: Seq[PqSchemaElement] = Nil
    var numRows = 0L
    var rowGroups: Seq[PqRowGroup] = Nil
    var createdBy = ""
    var columnOrders = 0
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 1 => version = r.zigzag().toInt
          case 2 => schema = parseList(r)(parseSchemaElement)
          case 3 => numRows = r.zigzag()
          case 4 => rowGroups = parseList(r)(parseRowGroup)
          case 6 => createdBy = r.string()
          case 7 => columnOrders = parseList(r)(rr => rr.skip(TStruct)).size
          case _ => r.skip(t)
        }
        last = id
      }
    }
    PqFileMeta(version, schema, numRows, rowGroups, createdBy,
      columnOrders = columnOrders)
  }

  private def parseList[A](r: Reader)(elem: Reader => A): Seq[A] = {
    val (_, n) = r.listHeader()
    (0 until n).map(_ => elem(r))
  }

  private def parseSchemaElement(r: Reader): PqSchemaElement = {
    var name = ""
    var typ = -1
    var typeLength = -1
    var repetition = -1
    var numChildren = 0
    var converted = -1
    var scale = -1
    var precision = -1
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 1 => typ = r.zigzag().toInt
          case 2 => typeLength = r.zigzag().toInt
          case 3 => repetition = r.zigzag().toInt
          case 4 => name = r.string()
          case 5 => numChildren = r.zigzag().toInt
          case 6 => converted = r.zigzag().toInt
          case 7 => scale = r.zigzag().toInt
          case 8 => precision = r.zigzag().toInt
          case _ => r.skip(t)
        }
        last = id
      }
    }
    PqSchemaElement(name, typ, typeLength, repetition, numChildren, converted,
      scale, precision)
  }

  private def parseRowGroup(r: Reader): PqRowGroup = {
    var columns: Seq[PqColumnMeta] = Nil
    var totalByteSize = 0L
    var numRows = 0L
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 1 => columns = parseList(r)(parseColumnChunk)
          case 2 => totalByteSize = r.zigzag()
          case 3 => numRows = r.zigzag()
          case _ => r.skip(t)
        }
        last = id
      }
    }
    PqRowGroup(columns, totalByteSize, numRows)
  }

  private def parseColumnChunk(r: Reader): PqColumnMeta = {
    var meta: PqColumnMeta = null
    var oiOff = -1L
    var oiLen = -1
    var ciOff = -1L
    var ciLen = -1
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 3 => meta = parseColumnMeta(r)
          case 4 => oiOff = r.zigzag()
          case 5 => oiLen = r.zigzag().toInt
          case 6 => ciOff = r.zigzag()
          case 7 => ciLen = r.zigzag().toInt
          case _ => r.skip(t)
        }
        last = id
      }
    }
    // the reader needs every chunk's ColumnMetaData (an encrypted column
    // carries it elsewhere, which this reader does not support)
    require(meta != null, "thrift ColumnChunk without meta_data")
    if (oiOff >= 0 || ciOff >= 0)
      meta.copy(offsetIndexOffset = oiOff, offsetIndexLength = oiLen,
        columnIndexOffset = ciOff, columnIndexLength = ciLen)
    else meta
  }

  private def parseColumnMeta(r: Reader): PqColumnMeta = {
    var typ = 0
    var encodings: Seq[Int] = Nil
    var path: Seq[String] = Nil
    var codec = 0
    var numValues = 0L
    var totalUnc = 0L
    var totalComp = 0L
    var dataOff = 0L
    var dictOff = -1L
    var stats: Option[PqStats] = None
    var bloomOff = -1L
    var bloomLen = -1
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 1 => typ = r.zigzag().toInt
          case 2 => encodings = parseList(r)(rr => rr.zigzag().toInt)
          case 3 => path = parseList(r)(rr => rr.string())
          case 4 => codec = r.zigzag().toInt
          case 5 => numValues = r.zigzag()
          case 6 => totalUnc = r.zigzag()
          case 7 => totalComp = r.zigzag()
          case 9 => dataOff = r.zigzag()
          // normalize "no dictionary" to -1: some writers emit an explicit
          // 0 for absent, and 0 is never a valid absolute page offset (the
          // 4-byte PAR1 magic occupies it) — while REBASED chunk metas
          // (ParquetFileReader.rebaseChunk) legitimately put a present
          // dictionary at offset 0, so presence tests must be `>= 0`
          case 11 =>
            val v = r.zigzag()
            dictOff = if (v <= 0) -1L else v
          case 12 => stats = parseStatistics(r)
          case 14 => bloomOff = r.zigzag()
          case 15 => bloomLen = r.zigzag().toInt
          case _ => r.skip(t)
        }
        last = id
      }
    }
    PqColumnMeta(typ, encodings, path, codec, numValues, totalUnc, totalComp,
      dataOff, dictOff, stats, bloomOff, bloomLen)
  }

  /** Statistics { 1: max (legacy), 2: min (legacy), 3: null_count,
    * 4: distinct_count, 5: max_value, 6: min_value }; the modern 5/6 pair
    * wins over the legacy 1/2 when both are present. */
  /** Test seam: parse one thrift-compact Statistics struct. */
  private[sources] def parseStatisticsForTest(
      buf: Array[Byte]): Option[PqStats] =
    parseStatistics(new ThriftCompact.Reader(buf, 0))

  private def parseStatistics(r: Reader): Option[PqStats] = {
    var minLegacy: Array[Byte] = null
    var maxLegacy: Array[Byte] = null
    var minV: Array[Byte] = null
    var maxV: Array[Byte] = null
    var nullCount = -1L
    var distinctCount = -1L
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 1 => maxLegacy = r.binary()
          case 2 => minLegacy = r.binary()
          case 3 => nullCount = r.zigzag()
          case 4 => distinctCount = r.zigzag()
          case 5 => maxV = r.binary()
          case 6 => minV = r.binary()
          case _ => r.skip(t)
        }
        last = id
      }
    }
    val mn = if (minV != null) minV else minLegacy
    val mx = if (maxV != null) maxV else maxLegacy
    if (mn == null && mx == null && nullCount < 0) None
    else Some(PqStats(
      if (mn == null) Array.emptyByteArray else mn,
      if (mx == null) Array.emptyByteArray else mx,
      math.max(nullCount, 0L),
      distinctCount,
      legacyOnly = minV == null && maxV == null &&
        (minLegacy != null || maxLegacy != null)))
  }

  def parsePageHeader(buf: Array[Byte], off: Int): PqPageHeader = {
    val r = new Reader(buf, off)
    var pageType = 0
    var unc = 0
    var comp = 0
    var numValues = 0
    var encoding = 0
    var defEnc = 0
    var repEnc = 0
    var numNulls = 0
    var numRows = 0
    var defLen = 0
    var repLen = 0
    var isComp = true
    var pageStats: Option[PqStats] = None
    var hasCrc = false
    var crc = 0
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 1 => pageType = r.zigzag().toInt
          case 2 => unc = r.zigzag().toInt
          case 3 => comp = r.zigzag().toInt
          case 4 => crc = r.zigzag().toInt; hasCrc = true
          case 5 | 7 | 8 => // DataPageHeader | DictionaryPageHeader | V2
            var l2 = 0
            var d2 = false
            while (!d2) {
              val (id2, t2) = r.fieldHeader(l2)
              if (t2 == TStop) d2 = true
              else {
                (id, id2) match {
                  case (5, 1) => numValues = r.zigzag().toInt
                  case (5, 2) => encoding = r.zigzag().toInt
                  case (5, 3) => defEnc = r.zigzag().toInt
                  case (5, 4) => repEnc = r.zigzag().toInt
                  case (5, 5) =>
                    if (t2 == TStruct) pageStats = parseStatistics(r)
                    else r.skip(t2)
                  case (7, 1) => numValues = r.zigzag().toInt
                  case (7, 2) => encoding = r.zigzag().toInt
                  case (8, 1) => numValues = r.zigzag().toInt
                  case (8, 2) => numNulls = r.zigzag().toInt
                  case (8, 3) => numRows = r.zigzag().toInt
                  case (8, 4) => encoding = r.zigzag().toInt
                  case (8, 5) => defLen = r.zigzag().toInt
                  case (8, 6) => repLen = r.zigzag().toInt
                  case (8, 7) => isComp = t2 == TBoolTrue // bool lives in type
                  case (8, 8) =>
                    if (t2 == TStruct) pageStats = parseStatistics(r)
                    else r.skip(t2)
                  case _ => r.skip(t2)
                }
                l2 = id2
              }
            }
          case _ => r.skip(t)
        }
        last = id
      }
    }
    PqPageHeader(pageType, unc, comp, crcDefined = hasCrc, crc = crc,
      numValues = numValues, encoding = encoding, defLevelEncoding = defEnc,
      repLevelEncoding = repEnc,
      headerLen = r.pos - off, numNulls = numNulls, numRows = numRows,
      defLevelsByteLen = defLen, repLevelsByteLen = repLen, isCompressed = isComp,
      stats = pageStats)
  }

  // -------------------------------------------------------------- writing

  /** Statistics struct body (modern 5/6 + legacy 1/2 pairs, like
    * parquet-mr) — shared by column-chunk metadata and page headers. */
  private[sources] def writeStatisticsStruct(w: Writer, st: PqStats,
      fieldId: Int, last: Int): Unit = {
    w.fieldHeader(fieldId, TStruct, last)
    var l2 = 0
    if (st.max.nonEmpty) { w.fieldHeader(1, TBinary, l2); w.binary(st.max); l2 = 1 }
    if (st.min.nonEmpty) { w.fieldHeader(2, TBinary, l2); w.binary(st.min); l2 = 2 }
    w.i64Field(3, l2, st.nullCount); l2 = 3
    if (st.distinctCount >= 0) { w.i64Field(4, l2, st.distinctCount); l2 = 4 }
    if (st.max.nonEmpty) { w.fieldHeader(5, TBinary, l2); w.binary(st.max); l2 = 5 }
    if (st.min.nonEmpty) { w.fieldHeader(6, TBinary, l2); w.binary(st.min) }
    w.stop()
  }

  def writePageHeaderV1(numValues: Int, encoding: Int, uncompressed: Int,
      compressed: Int, repEncoding: Int = PqEncoding.BitPacked,
      stats: Option[PqStats] = None, crc: Option[Int] = None): Array[Byte] = {
    val w = new Writer
    w.i32Field(1, 0, 0) // type = DATA_PAGE
    w.i32Field(2, 1, uncompressed)
    w.i32Field(3, 2, compressed)
    var lastTop = 3
    crc.foreach { c => w.i32Field(4, 3, c); lastTop = 4 } // page body CRC32
    w.fieldHeader(5, TStruct, lastTop) // data_page_header
    w.i32Field(1, 0, numValues)
    w.i32Field(2, 1, encoding)
    w.i32Field(3, 2, PqEncoding.Rle) // def levels
    // rep levels: RLE for repeated leaves; BitPacked when maxRep=0 (no bytes)
    w.i32Field(4, 3, repEncoding)
    stats.foreach(st => writeStatisticsStruct(w, st, 5, 4))
    w.stop()
    w.stop()
    w.result()
  }

  /** DATA_PAGE_V2 header: level streams sit uncompressed after the header
    * (prefix-free RLE), only values are block-compressed. is_compressed is
    * left at its thrift default (true); with UNCOMPRESSED codec readers
    * treat decompression as identity. */
  def writePageHeaderV2(numValues: Int, numNulls: Int, numRows: Int,
      encoding: Int, uncompressed: Int, compressed: Int,
      defLevelsByteLen: Int, repLevelsByteLen: Int,
      stats: Option[PqStats] = None, crc: Option[Int] = None): Array[Byte] = {
    val w = new Writer
    w.i32Field(1, 0, 3) // type = DATA_PAGE_V2
    w.i32Field(2, 1, uncompressed)
    w.i32Field(3, 2, compressed)
    var lastTop = 3
    crc.foreach { c => w.i32Field(4, 3, c); lastTop = 4 } // page body CRC32
    w.fieldHeader(8, TStruct, lastTop) // data_page_header_v2
    w.i32Field(1, 0, numValues)
    w.i32Field(2, 1, numNulls)
    w.i32Field(3, 2, numRows)
    w.i32Field(4, 3, encoding)
    w.i32Field(5, 4, defLevelsByteLen)
    w.i32Field(6, 5, repLevelsByteLen)
    // is_compressed (7) keeps its thrift default; statistics is field 8
    stats.foreach(st => writeStatisticsStruct(w, st, 8, 6))
    w.stop()
    w.stop()
    w.result()
  }

  def writeDictPageHeader(numValues: Int, uncompressed: Int,
      compressed: Int, crc: Option[Int] = None): Array[Byte] = {
    val w = new Writer
    w.i32Field(1, 0, 2) // type = DICTIONARY_PAGE
    w.i32Field(2, 1, uncompressed)
    w.i32Field(3, 2, compressed)
    var lastTop = 3
    crc.foreach { c => w.i32Field(4, 3, c); lastTop = 4 } // page body CRC32
    w.fieldHeader(7, TStruct, lastTop) // dictionary_page_header
    w.i32Field(1, 0, numValues)
    w.i32Field(2, 1, PqEncoding.PlainDictionary)
    w.stop()
    w.stop()
    w.result()
  }

  /** OffsetIndex { 1: list<PageLocation> }; PageLocation { 1: offset,
    * 2: compressed_page_size, 3: first_row_index }. */
  def writeOffsetIndex(pages: Seq[PqPageLocation]): Array[Byte] = {
    val w = new Writer
    w.fieldHeader(1, TList, 0)
    w.listHeader(TStruct, pages.size)
    pages.foreach { p =>
      w.i64Field(1, 0, p.offset)
      w.i32Field(2, 1, p.compressedPageSize)
      w.i64Field(3, 2, p.firstRowIndex)
      w.stop()
    }
    w.stop()
    w.result()
  }

  def parseOffsetIndex(buf: Array[Byte], off: Int): Seq[PqPageLocation] = {
    val r = new Reader(buf, off)
    var pages: Seq[PqPageLocation] = Nil
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        if (id == 1) pages = parseList(r) { rr =>
          var o = 0L; var sz = 0; var fr = 0L
          var l2 = 0
          var d2 = false
          while (!d2) {
            val (id2, t2) = rr.fieldHeader(l2)
            if (t2 == TStop) d2 = true
            else {
              id2 match {
                case 1 => o = rr.zigzag()
                case 2 => sz = rr.zigzag().toInt
                case 3 => fr = rr.zigzag()
                case _ => rr.skip(t2)
              }
              l2 = id2
            }
          }
          PqPageLocation(o, sz, fr)
        }
        else r.skip(t)
        last = id
      }
    }
    pages
  }

  /** ColumnIndex { 1: list<bool> null_pages, 2: list<binary> min_values,
    * 3: list<binary> max_values, 4: BoundaryOrder, 5: list<i64>
    * null_counts }. Compact-protocol bools in lists are one byte each
    * (1 = true, 2 = false). */
  def writeColumnIndex(ci: PqColumnIndex): Array[Byte] = {
    val w = new Writer
    w.fieldHeader(1, TList, 0)
    w.listHeader(TBoolTrue, ci.nullPages.size)
    ci.nullPages.foreach(b => w.u8(if (b) 1 else 2))
    w.fieldHeader(2, TList, 1)
    w.listHeader(TBinary, ci.minValues.size)
    ci.minValues.foreach(w.binary)
    w.fieldHeader(3, TList, 2)
    w.listHeader(TBinary, ci.maxValues.size)
    ci.maxValues.foreach(w.binary)
    w.i32Field(4, 3, ci.boundaryOrder)
    w.fieldHeader(5, TList, 4)
    w.listHeader(TI64, ci.nullCounts.size)
    ci.nullCounts.foreach(w.zigzag)
    w.stop()
    w.result()
  }

  def parseColumnIndex(buf: Array[Byte], off: Int): PqColumnIndex = {
    val r = new Reader(buf, off)
    var nullPages: Seq[Boolean] = Nil
    var mins: Seq[Array[Byte]] = Nil
    var maxs: Seq[Array[Byte]] = Nil
    var order = 0
    var nullCounts: Seq[Long] = Nil
    var last = 0
    var done = false
    while (!done) {
      val (id, t) = r.fieldHeader(last)
      if (t == TStop) done = true
      else {
        id match {
          case 1 => nullPages = parseList(r)(rr => rr.u8() == 1)
          case 2 => mins = parseList(r)(rr => rr.binary())
          case 3 => maxs = parseList(r)(rr => rr.binary())
          case 4 => order = r.zigzag().toInt
          case 5 => nullCounts = parseList(r)(rr => rr.zigzag())
          case _ => r.skip(t)
        }
        last = id
      }
    }
    PqColumnIndex(nullPages, mins, maxs, order, nullCounts)
  }

  def writeFileMeta(meta: PqFileMeta): Array[Byte] = {
    val w = new Writer
    w.i32Field(1, 0, meta.version)
    w.fieldHeader(2, TList, 1)
    w.listHeader(TStruct, meta.schema.size)
    meta.schema.foreach(se => writeSchemaElement(w, se))
    w.i64Field(3, 2, meta.numRows)
    w.fieldHeader(4, TList, 3)
    w.listHeader(TStruct, meta.rowGroups.size)
    meta.rowGroups.foreach(rg => writeRowGroup(w, rg))
    w.fieldHeader(6, TBinary, 4)
    w.string(meta.createdBy)
    // column_orders (field 7): one ColumnOrder per schema LEAF, each the
    // TYPE_ORDER union arm (an empty TypeDefinedOrder struct). Without
    // this field the spec tells readers to IGNORE min_value/max_value, so
    // omitting it silently disables stats pruning in strict readers.
    // Our stats follow type-defined order for every type we emit them for
    // (signed ints, unsigned-lexicographic byte arrays, NaN-free floats
    // with canonicalized zeros); INT96/FLBA chunks carry no min/max, which
    // is exactly what the spec prescribes for undefined/unsupported orders.
    val leaves = meta.schema.drop(1).count(_.numChildren <= 0)
    if (leaves > 0) {
      w.fieldHeader(7, TList, 6)
      w.listHeader(TStruct, leaves)
      var i = 0
      while (i < leaves) {
        w.fieldHeader(1, TStruct, 0) // union arm 1: TypeDefinedOrder
        w.stop() // empty TypeDefinedOrder struct
        w.stop() // end ColumnOrder union
        i += 1
      }
    }
    w.stop()
    w.result()
  }

  private def writeSchemaElement(w: Writer, se: PqSchemaElement): Unit = {
    var last = 0
    if (se.typ >= 0) { w.i32Field(1, last, se.typ); last = 1 }
    if (se.typeLength > 0) { w.i32Field(2, last, se.typeLength); last = 2 }
    if (se.repetition >= 0) { w.i32Field(3, last, se.repetition); last = 3 }
    w.fieldHeader(4, TBinary, last); w.string(se.name); last = 4
    if (se.numChildren > 0) { w.i32Field(5, last, se.numChildren); last = 5 }
    if (se.convertedType >= 0) { w.i32Field(6, last, se.convertedType); last = 6 }
    if (se.scale >= 0) { w.i32Field(7, last, se.scale); last = 7 }
    if (se.precision >= 0) { w.i32Field(8, last, se.precision); last = 8 }
    w.stop()
  }

  private def writeRowGroup(w: Writer, rg: PqRowGroup): Unit = {
    w.fieldHeader(1, TList, 0)
    w.listHeader(TStruct, rg.columns.size)
    rg.columns.foreach { cm =>
      // ColumnChunk { 2: file_offset, 3: meta_data }
      w.i64Field(2, 0, cm.dataPageOffset)
      w.fieldHeader(3, TStruct, 2)
      writeColumnMeta(w, cm)
      w.stop() // ends ColumnMetaData
      var lastCc = 3
      if (cm.offsetIndexOffset >= 0) {
        w.i64Field(4, lastCc, cm.offsetIndexOffset); lastCc = 4
        w.i32Field(5, lastCc, cm.offsetIndexLength); lastCc = 5
      }
      if (cm.columnIndexOffset >= 0) {
        w.i64Field(6, lastCc, cm.columnIndexOffset); lastCc = 6
        w.i32Field(7, lastCc, cm.columnIndexLength); lastCc = 7
      }
      w.stop() // ends ColumnChunk
    }
    w.i64Field(2, 1, rg.totalByteSize)
    w.i64Field(3, 2, rg.numRows)
    w.stop()
  }

  private def writeColumnMeta(w: Writer, cm: PqColumnMeta): Unit = {
    w.i32Field(1, 0, cm.typ)
    w.fieldHeader(2, TList, 1)
    w.listHeader(TI32, cm.encodings.size)
    cm.encodings.foreach(e => w.zigzag(e.toLong))
    w.fieldHeader(3, TList, 2)
    w.listHeader(TBinary, cm.pathInSchema.size)
    cm.pathInSchema.foreach(w.string)
    w.i32Field(4, 3, cm.codec)
    w.i64Field(5, 4, cm.numValues)
    w.i64Field(6, 5, cm.totalUncompressedSize)
    w.i64Field(7, 6, cm.totalCompressedSize)
    w.i64Field(9, 7, cm.dataPageOffset)
    var last = 9
    if (cm.dictionaryPageOffset >= 0) {
      w.i64Field(11, 9, cm.dictionaryPageOffset)
      last = 11
    }
    cm.stats.foreach { st =>
      writeStatisticsStruct(w, st, 12, last)
      last = 12
    }
    if (cm.bloomOffset >= 0) {
      w.i64Field(14, last, cm.bloomOffset)
      last = 14
      if (cm.bloomLength >= 0) { w.i32Field(15, last, cm.bloomLength); last = 15 }
    }
  }
}
