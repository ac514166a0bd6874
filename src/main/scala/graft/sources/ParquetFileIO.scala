package graft.sources

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.types.{BinaryType, BooleanType, DoubleType, FloatType,
  IntegerType, LongType, StringType, StructType}

import graft.core._
import graft.sources.GraftColumnVector.{Group, Prim, Repeated, Shape}

/** Real `.parquet` FILE interop — the reference's most user-visible
  * capability (`/root/reference/src/file/reader.rs:145-283`,
  * `/root/reference/src/file/writer.rs:120-243`), re-done over our own
  * codec core: page values decode in the engine's one value-codec layer
  * ([[graft.core.ValueCodec]]) and pages decompress in
  * [[graft.core.BlockCodec]], the code the `GC` chunk container runs. This
  * layer adds only the PAR1 container (thrift footer, page headers, levels,
  * offsets) and the row API's boxing of assembled records (the reference's
  * `src/record/reader.rs` Dremel layer): records assemble in
  * [[GraftColumnVector.build]], the builder the DSv2 file scan and the `GC`
  * chunk scan use, so rep/def levels map to values and nulls in one place.
  *
  * Reader: flat AND nested schemas (LIST / MAP / struct groups, legacy
  * 2-level lists, unannotated repeated fields), data pages V1 AND V2 (v2:
  * prefix-free uncompressed level streams, value-only block compression)
  * in PLAIN, PLAIN_DICTIONARY/RLE_DICTIONARY, RLE booleans, the three
  * DELTA encodings and BYTE_STREAM_SPLIT, RLE or legacy BIT_PACKED level
  * streams, UNCOMPRESSED / SNAPPY / GZIP / ZSTD / LZ4 / LZ4_RAW / BROTLI
  * pages, all physical types incl. INT96 (raw 12-byte values) and
  * FIXED_LEN_BYTE_ARRAY.
  * Validated value-exactly against the reference's own golden files
  * (the golden files under `/root/reference/data/` — the anchors its tests use,
  * reader.rs:728-815 and record/triplet.rs:294-427).
  */
object ParquetFileReader {

  /** Leaf descriptor: schema-DFS leaf + its column chunk metadata.
    * `maxDef`/`maxRep` are computed by the reference's DFS rule
    * (`/root/reference/src/schema/types.rs:800-854`): OPTIONAL adds one def
    * level, REPEATED adds one def and one rep level. */
  final case class LeafColumn(path: Seq[String], typ: Int, typeLength: Int,
      convertedType: Int, maxDef: Int, maxRep: Int, meta: PqColumnMeta)

  /** Raw value/def/rep triplets for one column chunk; `values` is
    * null-suppressed (one entry per slot with def == maxDef). `defs`/`reps`
    * are null when the respective max level is 0 (all zeros). */
  final case class Triplets(values: IndexedSeq[Any], defs: Array[Int],
      reps: Array[Int], maxDef: Int)

  // ------------------------------------------------------------ schema tree

  sealed trait SchemaNode { def elem: PqSchemaElement }
  final case class SchemaLeaf(elem: PqSchemaElement, leafIdx: Int,
      maxDef: Int, maxRep: Int) extends SchemaNode
  final case class SchemaGroup(elem: PqSchemaElement,
      children: Seq[SchemaNode]) extends SchemaNode

  /** Parse the flattened footer schema (DFS with child counts) into a tree;
    * returns (root children, leaves in DFS = column-chunk order). */
  def schemaTree(meta: PqFileMeta): (Seq[SchemaNode], IndexedSeq[SchemaLeaf]) = {
    val leaves = ArrayBuffer.empty[SchemaLeaf]
    var pos = 1
    def parse(pdef: Int, prep: Int): SchemaNode = {
      require(pos < meta.schema.length,
        s"schema: child counts claim more than ${meta.schema.length} elements")
      val se = meta.schema(pos)
      pos += 1
      val d = pdef + (if (se.repetition == 1 || se.repetition == 2) 1 else 0)
      val r = prep + (if (se.repetition == 2) 1 else 0)
      if (se.numChildren == 0) {
        val leaf = SchemaLeaf(se, leaves.length, d, r)
        leaves += leaf
        leaf
      } else SchemaGroup(se, (0 until se.numChildren).map(_ => parse(d, r)))
    }
    require(meta.schema.nonEmpty, "schema: no root element")
    val root = meta.schema.head
    val children = (0 until root.numChildren).map(_ => parse(0, 0))
    (children, leaves.toIndexedSeq)
  }

  def readFooter(bytes: Array[Byte]): PqFileMeta = {
    val n = bytes.length
    require(n > 12 && bytes(0) == 'P' && bytes(1) == 'A' && bytes(2) == 'R' &&
      bytes(3) == '1', "not a parquet file (magic)")
    ParquetMeta.parseFileMeta(bytes, n - 8 - footerLength(bytes, n - 8, n, "parquet bytes"))
  }

  /** The footer length in the 8-byte trailer at `trailer(at)` of the
    * `n`-byte file `what`, which must be longer than 12 bytes: the trailer
    * must end in the magic and the footer fit between it and the leading
    * magic. */
  private def footerLength(trailer: Array[Byte], at: Int, n: Long, what: String): Int = {
    require(trailer(at + 4) == 'P' && trailer(at + 5) == 'A' && trailer(at + 6) == 'R' &&
      trailer(at + 7) == '1', s"$what: not a parquet file (trailer magic)")
    val len = (trailer(at) & 0xFF) | ((trailer(at + 1) & 0xFF) << 8) |
      ((trailer(at + 2) & 0xFF) << 16) | ((trailer(at + 3) & 0xFF) << 24)
    require(len > 0 && len <= n - 12, s"$what: bad footer length $len")
    len
  }

  /** Process-wide footer cache. One query reads each footer 2-3× on the
    * driver (statistics + planning) and once per row-group task on the
    * executors — a file split into N row-group tasks would parse the same
    * footer N times. PqFileMeta is immutable, so cache by identity on disk:
    * the [[GraftIO.cacheKey]] (path, size, mtime, and — locally — the
    * filesystem fileKey/inode, so a same-size in-place rewrite within the
    * mtime granularity still misses). An in-place data-region corruption
    * (tests do this) safely hits since the footer region is unchanged.
    * Bounded; a miss on a full cache evicts one entry (footers are KBs —
    * the bound exists for pathological many-file churn, not memory
    * pressure in normal use). */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, PqFileMeta]()
  private val FooterCacheMax = 8192
  private[graft] def footerCacheSize: Int = footerCache.size

  /** Footer metadata alone, reading only the file tail (8-byte trailer →
    * footer region) — planning-time metadata access must stay O(footer)
    * regardless of file size. Offsets inside the returned meta remain
    * absolute file offsets. */
  def readFooterOnly(path: String): PqFileMeta = {
    val key = GraftIO.forPath(path).cacheKey(path)
    val hit = footerCache.get(key)
    if (hit != null) return hit
    val meta = readFooterUncached(path)
    if (footerCache.size >= FooterCacheMax) {
      val keys = footerCache.keys()
      if (keys.hasMoreElements) footerCache.remove(keys.nextElement())
    }
    footerCache.put(key, meta)
    meta
  }

  private def readFooterUncached(path: String): PqFileMeta = {
    val in = GraftIO.forPath(path).open(path)
    try {
      val n = in.length
      require(n > 12, s"$path too short to be a parquet file")
      val tail = new Array[Byte](8)
      in.readFully(n - 8, tail)
      val footerLen = footerLength(tail, 0, n, path)
      val buf = new Array[Byte](footerLen)
      in.readFully(n - 8 - footerLen, buf)
      ParquetMeta.parseFileMeta(buf, 0)
    } finally in.close()
  }

  /** Leaf columns of row group `rg` with full level descriptors. */
  def leafColumns(meta: PqFileMeta, rg: Int): IndexedSeq[LeafColumn] = {
    val (_, leaves) = schemaTree(meta)
    val cols = meta.rowGroups(rg).columns
    require(cols.size == leaves.size,
      s"row group has ${cols.size} chunks for ${leaves.size} schema leaves")
    leaves.map { l =>
      val cm = cols(l.leafIdx)
      LeafColumn(cm.pathInSchema, cm.typ, l.elem.typeLength,
        l.elem.convertedType, l.maxDef, l.maxRep, cm)
    }
  }

  // ------------------------------------------------------- the page decoder
  // The ONE Parquet page decoder. A chunk's pages decode into a typed ColVec
  // (null-suppressed) plus def/rep levels, with no per-value boxing:
  // primitives land in primitive arrays, byte-like values (BYTE_ARRAY,
  // INT96, FIXED_LEN_BYTE_ARRAY) in one arena shared across pages. Record
  // assembly ([[readRows]]), the triplet view ([[readTriplets]]), the flat
  // column views ([[readColumn]], [[readColumnRowRanges]],
  // [[readColumnVec]]), the columnar file scan and the aggregate fallback
  // all decode through it, so every chunk and page guard lives here, once.

  /** One decoded chunk (or its kept rows): non-null values, def levels
    * (null when maxDef == 0) and rep levels (null when maxRep == 0). */
  private[graft] final case class DecodedChunk(values: ColVec,
      defs: Array[Int], reps: Array[Int])

  /** Decode one column chunk. With `ranges` (ascending disjoint chunk-row
    * intervals, flat columns only) only the data pages overlapping them are
    * decompressed and decoded, and exactly the rows inside them come back,
    * in row order. */
  private[sources] def decodeChunk(bytes: Array[Byte], col: LeafColumn,
      ranges: Seq[(Long, Long)] = null): DecodedChunk = {
    val cm = col.meta
    // corruption guards: sizes claimed by (possibly corrupted) metadata must
    // stay self-consistent, or we fail cleanly instead of allocating per a
    // hostile length. Bools pack 8 values per UNCOMPRESSED byte — the
    // loosest PLAIN bound — and `bytes` may be just this chunk's compressed
    // range (ChunkFetcher), so bound against the larger of the two. RLE and
    // delta pages are legitimately denser than any byte-derived bound (one
    // run header can cover millions of values), so small claims pass on an
    // absolute ceiling instead: 16M values caps the transient decode
    // allocation a hostile claim can force at ~128 MB. totalUncompressedSize
    // is itself a FOOTER claim, so it enters the bound only clamped to a
    // plausible block-codec ratio (256x) of the bytes actually present.
    // numValues stays strictly under Int.MaxValue so the +1 sentinel in
    // offset arrays can never overflow; a large-but-honest
    // totalUncompressedSize (>2 GB chunk from a big-row-group writer) must
    // still read — only a negative claim is rejected outright.
    require(cm.totalUncompressedSize >= 0,
      s"chunk claims ${cm.totalUncompressedSize} uncompressed bytes")
    require(cm.numValues >= 0 && cm.numValues <= (Int.MaxValue - 16).toLong &&
      (cm.numValues <=
        8L * math.max(bytes.length.toLong,
          math.min(cm.totalUncompressedSize, 256L * bytes.length)) ||
        cm.numValues <= (1L << 24)),
      s"chunk claims ${cm.numValues} values in ${bytes.length} bytes")
    require(ranges == null || col.maxRep == 0,
      "row ranges apply to flat columns only")
    val (dictPage, spans) = pageWalk(bytes, cm)
    val kept =
      if (ranges == null) spans
      else spans.filter(s => ranges.exists(r =>
        r._1 < s.rowStart + s.header.numValues && r._2 > s.rowStart))
    val width = byteWidth(col)
    val phys = PqType.physical(col.typ)
    val dict = dictPage.map(decodeDictPage(bytes, _, col, phys, width)).orNull
    // byte-like chunks decode into ONE arena across pages (single copy per
    // value) instead of per-page vectors + a whole-arena concat. The sizes
    // are capacity HINTS only (both arrays double on demand), taken from
    // the decoded pages' headers and clamped to the bytes actually read, so
    // a crafted header cannot force a huge upfront allocation
    val pageBytes = (dictPage ++ kept).map(_.header.uncompressedSize.toLong).sum
    val values = new ValuesAccum(phys,
      math.min(math.min(pageBytes, 64L * bytes.length + 64),
        (Int.MaxValue - 16).toLong).toInt,
      math.min(kept.map(_.header.numValues.toLong).sum, 1L << 20).toInt)
    val defParts = if (col.maxDef > 0) ArrayBuffer.empty[Array[Int]] else null
    val repParts = if (col.maxRep > 0) ArrayBuffer.empty[Array[Int]] else null
    kept.foreach { s =>
      val (reps, defs, raw, pos) = dataPage(bytes, s, col)
      if (reps != null) repParts += reps
      if (defs != null) defParts += defs
      val nNonNull =
        if (defs != null) countMax(defs, col.maxDef) else s.header.numValues
      values.decodePage(s.header.encoding, width, raw, pos, raw.length,
        nNonNull, dict)
    }
    val out = DecodedChunk(values.result, concatLevels(defParts), concatLevels(repParts))
    if (ranges == null) out else keepRows(out, kept, ranges, col.maxDef)
  }

  /** Walk a chunk's page headers without decompressing anything: (the
    * dictionary page, the data pages). This is the only page-header loop,
    * so every per-page guard lives here. */
  private def pageWalk(bytes: Array[Byte],
      cm: PqColumnMeta): (Option[PageSpan], Seq[PageSpan]) = {
    var off = chunkByteRange(cm)._1
    require(off >= 0 && off < bytes.length, s"page offset $off out of file")
    var dict: Option[PageSpan] = None
    var row = 0L
    var remaining = cm.numValues
    val out = Seq.newBuilder[PageSpan]
    while (remaining > 0) {
      val ph = ParquetMeta.parsePageHeader(bytes, off.toInt)
      val dataStart = off + ph.headerLen
      require(ph.compressedSize >= 0 &&
        dataStart + ph.compressedSize <= bytes.length,
        s"page claims ${ph.compressedSize} compressed bytes past EOF")
      require(ph.uncompressedSize >= 0 &&
        ph.uncompressedSize <= math.max(1 << 20, 1024L * ph.compressedSize),
        s"page claims implausible uncompressed size ${ph.uncompressedSize}")
      ph.pageType match {
        case 2 => dict = Some(PageSpan(off.toInt, ph, row))
        case 0 | 3 =>
          require(ph.numValues >= 0 && ph.numValues <= remaining,
            s"page claims ${ph.numValues} values, chunk has $remaining left")
          // negative ids are the value codec's own (GC-only FSST)
          require(ph.encoding >= 0, s"page encoding ${ph.encoding} not supported")
          if (ph.pageType == 3) checkV2Lengths(ph, cm.codec)
          out += PageSpan(off.toInt, ph, row)
          row += ph.numValues
          remaining -= ph.numValues
        case other => throw new IllegalArgumentException(
          s"page type $other not supported")
      }
      off = dataStart + ph.compressedSize
    }
    (dict, out.result())
  }

  /** A v2 page's level streams sit uncompressed in front of its values:
    * they must fit the page body, and an uncompressed value region must
    * really hold the bytes its header claims. */
  private def checkV2Lengths(ph: PqPageHeader, codec: Int): Unit = {
    val repLen = ph.repLevelsByteLen
    val defLen = ph.defLevelsByteLen
    require(repLen >= 0 && defLen >= 0 &&
      repLen.toLong + defLen <= ph.compressedSize,
      s"v2 page level streams (rep $repLen + def $defLen bytes) exceed " +
        s"its ${ph.compressedSize}-byte body")
    val vUnc = ph.uncompressedSize.toLong - repLen - defLen
    require(vUnc >= 0,
      s"v2 page claims $vUnc uncompressed value bytes after rep $repLen + " +
        s"def $defLen level bytes")
    require((ph.isCompressed && codec != PqCodec.Uncompressed) ||
      vUnc <= ph.compressedSize - repLen - defLen,
      s"uncompressed v2 page claims $vUnc value bytes, body holds " +
        s"${ph.compressedSize - repLen - defLen}")
  }

  /** Page-CRC verification mode, settable via the system property
    * `graft.parquet.page.verify-crc`: `all` (default — v1, v2, and dict
    * pages), `v1` (skip DATA_PAGE_V2 — the v2 CRC definition was only
    * settled by PARQUET-2048, and files stamped by older third-party
    * writers carry differently-computed v2 CRCs that would hard-fail an
    * otherwise-readable file), or `off` (parquet-mr's default posture:
    * verification opt-in). */
  private def crcMode: String =
    System.getProperty("graft.parquet.page.verify-crc", "all")

  /** Verify a page's CRC32 (PageHeader field 4) over the body bytes as
    * written, when the writer stamped one — corrupted pages fail here with
    * a clear message instead of obscurely inside a decoder. Pages pruned by
    * statistics are never read, so they are never checked (same contract as
    * parquet-mr's verify-checksum mode). */
  private def checkPageCrc(ph: PqPageHeader, bytes: Array[Byte],
      dataStart: Int): Unit =
    if (ph.crcDefined) {
      val mode = crcMode
      val skip = mode == "off" || (mode == "v1" && ph.pageType == 3)
      if (!skip) {
        val c = new java.util.zip.CRC32
        c.update(bytes, dataStart, ph.compressedSize)
        require(c.getValue.toInt == ph.crc,
          s"page CRC mismatch: stored ${ph.crc}, computed ${c.getValue.toInt}" +
            " (set -Dgraft.parquet.page.verify-crc=v1|off for files from " +
            "pre-PARQUET-2048 writers)")
      }
    }

  /** Value width of a byte-like column: 0 for BYTE_ARRAY (variable), 12 for
    * INT96, type_length for FIXED_LEN_BYTE_ARRAY; -1 for primitives. */
  private def byteWidth(col: LeafColumn): Int = col.typ match {
    case PqType.ByteArray => 0
    case PqType.Int96 => 12
    case PqType.FixedLenByteArray =>
      require(col.typeLength > 0, "FIXED_LEN_BYTE_ARRAY needs a type_length")
      col.typeLength
    case _ => -1
  }

  private def decodeDictPage(bytes: Array[Byte], s: PageSpan, col: LeafColumn,
      phys: Int, width: Int): ColVec = {
    val ph = s.header
    val dataStart = s.off + ph.headerLen
    checkPageCrc(ph, bytes, dataStart)
    val raw = BlockCodec.decompress(bytes, dataStart, ph.compressedSize,
      ph.uncompressedSize, col.meta.codec)
    require(ph.numValues >= 0 && ph.numValues <= raw.length, // entries >= 1 byte
      s"dict page claims ${ph.numValues} entries in ${raw.length} bytes")
    ValueCodec.decode(PqEncoding.Plain, phys, width, raw, 0, raw.length,
      ph.numValues, null)
  }

  /** One DATA page (v1 or v2) of `col`: (rep levels or null, def levels or
    * null, the buffer holding its values, their start in it). */
  private def dataPage(bytes: Array[Byte], s: PageSpan, col: LeafColumn):
      (Array[Int], Array[Int], Array[Byte], Int) = {
    val ph = s.header
    val codec = col.meta.codec
    val dataStart = s.off + ph.headerLen
    val n = ph.numValues
    checkPageCrc(ph, bytes, dataStart)
    if (ph.pageType == 0) {
      // data page v1: [rep levels][def levels][values], one region
      val raw = BlockCodec.decompress(bytes, dataStart, ph.compressedSize,
        ph.uncompressedSize, codec)
      var pos = 0
      var reps: Array[Int] = null
      var defs: Array[Int] = null
      if (col.maxRep > 0) {
        val (lv, p2) = readLevelStream(raw, pos, n, col.maxRep, ph.repLevelEncoding)
        reps = lv
        pos = p2
      }
      if (col.maxDef > 0) {
        val (lv, p2) = readLevelStream(raw, pos, n, col.maxDef, ph.defLevelEncoding)
        defs = lv
        pos = p2
      }
      (reps, defs, raw, pos)
    } else {
      // data page v2 (reference reader.rs:449-533): rep + def level
      // streams sit UNCOMPRESSED right after the header, RLE with NO
      // 4-byte length prefix (lengths come from the header, checked by
      // the page walk); only the value region is block-compressed (unless
      // is_compressed=false).
      val repLen = ph.repLevelsByteLen
      val defLen = ph.defLevelsByteLen
      val reps =
        if (col.maxRep > 0) rleLevels(bytes, dataStart, repLen, n, col.maxRep)
        else null
      val defs =
        if (col.maxDef > 0)
          rleLevels(bytes, dataStart + repLen, defLen, n, col.maxDef)
        else null
      val vOff = dataStart + repLen + defLen
      val vUnc = ph.uncompressedSize - repLen - defLen
      val raw =
        if (ph.isCompressed && codec != PqCodec.Uncompressed)
          BlockCodec.decompress(bytes, vOff, ph.compressedSize - repLen - defLen,
            vUnc, codec)
        else java.util.Arrays.copyOfRange(bytes, vOff, vOff + vUnc)
      (reps, defs, raw, 0)
    }
  }

  private def countMax(lv: Array[Int], max: Int): Int = {
    var c = 0
    var i = 0
    while (i < lv.length) { if (lv(i) == max) c += 1; i += 1 }
    c
  }

  private def concatLevels(parts: ArrayBuffer[Array[Int]]): Array[Int] =
    if (parts == null) null
    else if (parts.size == 1) parts.head
    else {
      val out = new Array[Int](parts.map(_.length).sum)
      var p = 0
      parts.foreach { a => System.arraycopy(a, 0, out, p, a.length); p += a.length }
      out
    }

  /** Restrict a decoded flat chunk to the rows of `ranges`: `kept` are the
    * decoded pages in order, and their rows outside the ranges drop out. */
  private def keepRows(d: DecodedChunk, kept: Seq[PageSpan],
      ranges: Seq[(Long, Long)], maxDef: Int): DecodedChunk = {
    val slots = Array.newBuilder[Int]
    var base = 0
    kept.foreach { s =>
      val end = s.rowStart + s.header.numValues
      ranges.foreach { r =>
        var row = math.max(r._1, s.rowStart)
        val until = math.min(r._2, end)
        while (row < until) { slots += base + (row - s.rowStart).toInt; row += 1 }
      }
      base += s.header.numValues
    }
    val rows = slots.result()
    if (rows.length == base) d // the kept pages lie wholly inside the ranges
    else if (d.defs == null)
      DecodedChunk(ColVec.gather(d.values, rows), null, null)
    else {
      // value ordinal of every non-null slot
      val ord = new Array[Int](d.defs.length)
      var vi = 0
      var i = 0
      while (i < ord.length) {
        if (d.defs(i) == maxDef) { ord(i) = vi; vi += 1 }
        i += 1
      }
      DecodedChunk(
        ColVec.gather(d.values,
          rows.filter(d.defs(_) == maxDef).map(ord)),
        rows.map(d.defs), null)
    }
  }

  /** One v1 level stream: RLE (4-byte LE length prefix) or legacy BIT_PACKED
    * (fixed width, MSB-first — reference levels.rs:142-264). Returns the
    * levels and the position after the stream. */
  private def readLevelStream(raw: Array[Byte], pos: Int, n: Int,
      maxLevel: Int, encoding: Int): (Array[Int], Int) = encoding match {
    case PqEncoding.Rle =>
      val len = (raw(pos) & 0xFF) | ((raw(pos + 1) & 0xFF) << 8) |
        ((raw(pos + 2) & 0xFF) << 16) | ((raw(pos + 3) & 0xFF) << 24)
      (rleLevels(raw, pos + 4, len, n, maxLevel), pos + 4 + len)
    case PqEncoding.BitPacked =>
      val width = levelBitWidth(maxLevel)
      val out = new Array[Int](n)
      var bit = 0
      var i = 0
      while (i < n) {
        var v = 0
        var k = 0
        while (k < width) {
          val b = raw(pos + (bit >> 3)) & 0xFF
          v = (v << 1) | ((b >> (7 - (bit & 7))) & 1)
          bit += 1
          k += 1
        }
        out(i) = v
        i += 1
      }
      (out, pos + (n * width + 7) / 8)
    case other =>
      throw new IllegalArgumentException(s"level encoding $other")
  }

  /** `n` levels from a prefix-free RLE/bit-packed hybrid stream. */
  private def rleLevels(buf: Array[Byte], off: Int, len: Int, n: Int,
      maxLevel: Int): Array[Int] = {
    val dec = new RleHybridDecoder(levelBitWidth(maxLevel), buf, off, off + len)
    val tmp = new Array[Long](n)
    dec.getExactly(tmp, 0, n)
    tmp.map(_.toInt)
  }

  // ------------------------------------------------ boxing views

  /** Boxed values of a decoded vector: Boolean | Int | Long | Float |
    * Double | Array[Byte] (one copy per value). */
  private def boxed(v: ColVec): IndexedSeq[Any] = v match {
    case BoolVec(a) => ArraySeq.unsafeWrapArray(a)
    case IntVec(a) => ArraySeq.unsafeWrapArray(a)
    case LongVec(a) => ArraySeq.unsafeWrapArray(a)
    case FloatVec(a) => ArraySeq.unsafeWrapArray(a)
    case DoubleVec(a) => ArraySeq.unsafeWrapArray(a)
    case b: BytesVec => IndexedSeq.tabulate(b.length)(b.valueBytes)
  }

  /** Per-row boxed values of a decoded flat chunk of `col`, nulls inline:
    * its vector from [[GraftColumnVector.build]], boxed row by row. */
  private def flatRows(d: DecodedChunk, col: Column): IndexedSeq[Any] = {
    val dt = col.typ match {
      case PqType.Boolean => BooleanType
      case PqType.Int32 => IntegerType
      case PqType.Int64 => LongType
      case PqType.Float => FloatType
      case PqType.Double => DoubleType
      case _ => BinaryType // BYTE_ARRAY, INT96 and FIXED_LEN_BYTE_ARRAY: raw bytes
    }
    val s = Prim(dt, col.maxDef, 0)
    val rows = if (d.defs != null) d.defs.length else d.values.length
    val v = GraftColumnVector.build(s, _ => d, rows)
    IndexedSeq.tabulate(rows)(boxRow(s, v, _))
  }

  /** Raw value/def/rep triplets of one column chunk — a boxing view over
    * [[decodeChunk]]. Values: Boolean | Int | Long |
    * Float | Double | Array[Byte] (BYTE_ARRAY / INT96 / FLBA raw). */
  def readTriplets(bytes: Array[Byte], col: LeafColumn): Triplets = {
    val d = decodeChunk(bytes, col)
    Triplets(boxed(d.values), d.defs, d.reps, col.maxDef)
  }

  /** The typed decode of one FLAT column chunk: (non-null values as a typed
    * ColVec, def levels or null) — what the vectorized scan hands to Spark
    * zero-copy. INT96 and FIXED_LEN_BYTE_ARRAY values come back as
    * fixed-width BytesVec. */
  def readColumnVec(bytes: Array[Byte], col: Column): (ColVec, Array[Int]) = {
    val d = decodeChunk(bytes, leafOf(col))
    (d.values, d.defs)
  }

  private[sources] def leafOf(col: Column): LeafColumn =
    LeafColumn(Seq(col.name), col.typ, col.typeLength, -1, col.maxDef, 0,
      col.meta)

  // ------------------------------------------------------------ ranged I/O
  // A projected scan must not READ unprojected bytes, not merely skip
  // decoding them: at 100 TB a 2-of-20-column projection that slurps whole
  // files does 10× the I/O the query needs. Chunk offsets in the footer
  // (data/dictionary page offset + total_compressed_size) delimit each
  // column chunk's byte range exactly, so a task reads the footer tail plus
  // only the projected chunks' ranges.

  /** Byte range [start, end) of one column chunk inside its file. */
  def chunkByteRange(cm: PqColumnMeta): (Long, Long) = {
    val start =
      if (cm.dictionaryPageOffset >= 0)
        math.min(cm.dictionaryPageOffset, cm.dataPageOffset)
      else cm.dataPageOffset
    (start, start + cm.totalCompressedSize)
  }

  /** The same chunk metadata with page offsets rebased to a buffer whose
    * byte 0 is the chunk's first byte (what [[ChunkFetcher.fetch]] returns). */
  def rebaseChunk(cm: PqColumnMeta): PqColumnMeta = {
    val start = chunkByteRange(cm)._1
    cm.copy(
      dataPageOffset = cm.dataPageOffset - start,
      dictionaryPageOffset =
        if (cm.dictionaryPageOffset >= 0) cm.dictionaryPageOffset - start
        else -1L)
  }

  /** Random-access per-chunk reader: each fetch reads ONLY that chunk's
    * byte range, never the rest of the file. All downstream decode
    * entry points take (buffer, chunk meta) with offsets drawn from the
    * meta, so handing them the fetched buffer plus rebased meta reuses
    * the whole decode layer unchanged. */
  final class ChunkFetcher(val path: String) extends AutoCloseable {
    private val in = GraftIO.forPath(path).open(path)
    private val fileLen = in.length
    def fetch(cm: PqColumnMeta): (Array[Byte], PqColumnMeta) = {
      val (s, e) = chunkByteRange(cm)
      require(s >= 0 && s <= e && e <= fileLen,
        s"chunk byte range [$s,$e) outside $fileLen-byte file")
      val buf = new Array[Byte]((e - s).toInt)
      in.readFully(s, buf)
      (buf, rebaseChunk(cm))
    }
    def fetchLeaf(col: LeafColumn): (Array[Byte], LeafColumn) = {
      val (b, cm) = fetch(col.meta)
      (b, col.copy(meta = cm))
    }
    def fetchColumn(col: Column): (Array[Byte], Column) = {
      val (b, cm) = fetch(col.meta)
      (b, col.copy(meta = cm))
    }
    /** Raw absolute byte range — page-index and bloom blobs live outside
      * any chunk's range. */
    def range(off: Long, len: Int): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= fileLen,
        s"range [$off,+$len) outside $fileLen-byte file")
      val buf = new Array[Byte](len)
      in.readFully(off, buf)
      buf
    }
    override def close(): Unit = in.close()
  }

  // ------------------------------------------------------------- flat reads

  /** One leaf of a FLAT schema; `typeLength` is the schema's type_length
    * (needed by FIXED_LEN_BYTE_ARRAY only; -1 when absent). */
  final case class Column(name: String, typ: Int, maxDef: Int, meta: PqColumnMeta,
      typeLength: Int = -1)

  /** Leaf columns of a FLAT schema (root group + primitive children). */
  def flatColumns(meta: PqFileMeta, rg: Int): Seq[Column] = {
    val leaves = meta.schema.drop(1)
    require(leaves.forall(_.numChildren == 0),
      "nested schemas not supported by the flat reader (use readFileRows)")
    leaves.zip(meta.rowGroups(rg).columns).map { case (se, cm) =>
      Column(se.name, cm.typ, if (se.repetition == 1) 1 else 0, cm, se.typeLength)
    }
  }

  /** Decode one FLAT column chunk to per-row values (nulls inline) — a
    * boxing view over the one page decoder. */
  def readColumn(bytes: Array[Byte], col: Column): IndexedSeq[Any] =
    flatRows(decodeChunk(bytes, leafOf(col)), col)

  /** Read a whole flat file: (column names, per-column values). */
  def readFile(path: String): (Seq[String], Seq[IndexedSeq[Any]]) = {
    val bytes = GraftIO.forPath(path).readAll(path)
    val meta = readFooter(bytes)
    val allCols = (0 until meta.rowGroups.size).map(rg => flatColumns(meta, rg))
    val names = allCols.head.map(_.name)
    val merged = names.indices.map { c =>
      allCols.indices.flatMap(rg => readColumn(bytes, allCols(rg)(c))).toIndexedSeq
    }
    (names, merged)
  }

  // ------------------------------------------------ statistics pruning
  // Row-group filtering over footer min/max — the reference's unrealized
  // TODO (`/root/reference/src/file/reader.rs:198`); stats themselves are
  // its statistics.rs layer. Pruned groups are never read or decoded.

  def chunkFor(meta: PqFileMeta, rg: Int,
      colName: String): Option[PqColumnMeta] =
    meta.rowGroups(rg).columns.find(c =>
      c.pathInSchema.headOption.contains(colName))

  /** Row groups that may hold a `colName` value in [lo, hi], by
    * [[statsOverlap]]; a group without the chunk or its stats is kept. */
  def rowGroupsOverlapping(meta: PqFileMeta, colName: String, lo: Any,
      hi: Any): Seq[Int] =
    meta.rowGroups.indices.filter(rg => chunkFor(meta, rg, colName).forall(cm =>
      cm.stats.forall(statsOverlap(cm.typ, _, lo, hi))))

  /** [[rowGroupsOverlapping]] with byte-string bounds. */
  def rowGroupsInRangeBytes(meta: PqFileMeta, colName: String,
      lo: Array[Byte], hi: Array[Byte]): Seq[Int] =
    rowGroupsOverlapping(meta, colName, lo, hi)

  /** Assembled records from only the row groups surviving a [lo,hi] range
    * predicate on an INT32/INT64 column. */
  def readFileRowsWhere(path: String, colName: String, lo: Long,
      hi: Long): (Seq[String], IndexedSeq[PqGroupVal]) = {
    val meta = readFooterOnly(path)
    val (rootChildren, _) = schemaTree(meta)
    val names = rootChildren.map(_.elem.name)
    val fetch = new ChunkFetcher(path)
    try {
      // pruned row groups are never read from disk, not just never decoded
      val rows = rowGroupsOverlapping(meta, colName, lo, hi)
        .flatMap(rg => readRowsFetched(fetch, meta, rg))
      (names, rows.toIndexedSeq)
    } finally fetch.close()
  }

  // --------------------------------------------------- page-level pruning
  // Finer granularity than row groups: every data page of our writer's
  // multi-page chunks carries min/max/null-count statistics in its header
  // (DataPageHeader field 5 / DataPageHeaderV2 field 8), so a range
  // predicate can skip individual ~1 MiB pages — they are never
  // decompressed or decoded. Pages without statistics always survive.

  /** One data page of a flat chunk: header file offset, parsed header, and
    * the first chunk row it covers (it spans `header.numValues` rows). */
  final case class PageSpan(off: Int, header: PqPageHeader, rowStart: Long)

  /** A chunk's page headers, read without decompressing anything:
    * (dictionary page offset or -1, data page spans). Page rows are chunk
    * rows for FLAT (maxRep == 0) chunks. */
  def pageSpans(bytes: Array[Byte], cm: PqColumnMeta): (Long, Seq[PageSpan]) = {
    val (dict, spans) = pageWalk(bytes, cm)
    (dict.fold(-1L)(_.off.toLong), spans)
  }

  /** May the stats of a chunk or page of Parquet type `typ` hold a value
    * in [lo, hi]? The one file adapter over [[MinMax.overlaps]], bounds as
    * [[ScanBounds]] holds them: Longs for INT32/INT64, UTF-8 bytes for
    * BYTE_ARRAY (unsigned lexicographic, sound under stat truncation).
    * Other types, bounds of the other form and byte stats whose order is
    * untrusted ([[PqStats.byteOrderTrusted]]: old writers signed-compared
    * them) keep. */
  def statsOverlap(typ: Int, st: PqStats, lo: Any, hi: Any): Boolean = {
    def bytes(b: Any) = b.isInstanceOf[Array[Byte]]
    val pt = typ match {
      case PqType.Int32 | PqType.Int64 if !bytes(lo) && !bytes(hi) => PhysicalType.Int64
      case PqType.ByteArray if (lo == null || bytes(lo)) && (hi == null || bytes(hi)) &&
          st.byteOrderTrusted => PhysicalType.Bytes
      case _ => -1
    }
    pt < 0 || MinMax.overlaps(pt, st.min, st.max, lo, hi)
  }

  /** [[statsOverlap]] for BYTE_ARRAY stats. */
  def byteStatsOverlap(st: PqStats, lo: Array[Byte], hi: Array[Byte]): Boolean =
    statsOverlap(PqType.ByteArray, st, lo, hi)

  /** Chunk row ranges (ascending, disjoint, end-exclusive) covered by the
    * pages whose statistics pass `keep`; stat-less pages always pass. */
  def pageRowRanges(bytes: Array[Byte], cm: PqColumnMeta,
      keep: PqStats => Boolean): Seq[(Long, Long)] = {
    val (_, spans) = pageSpans(bytes, cm)
    val out = new ArrayBuffer[(Long, Long)]()
    spans.foreach { s =>
      if (s.header.stats.forall(keep)) {
        val r = (s.rowStart, s.rowStart + s.header.numValues)
        if (out.nonEmpty && out.last._2 == r._1)
          out(out.length - 1) = (out.last._1, r._2)
        else out += r
      }
    }
    out.toSeq
  }

  /** Chunk row ranges from the FOOTER-SIDE page index alone — the same
    * contract as [[pageRowRanges]] with zero chunk-byte I/O: the
    * ColumnIndex supplies per-page min/max/null stats, the OffsetIndex the
    * page row boundaries. Null pages and index/stat gaps are kept
    * (missed skip, never a wrong row). */
  def indexRowRanges(ci: PqColumnIndex, oi: Seq[PqPageLocation], nRows: Long,
      keep: PqStats => Boolean): Seq[(Long, Long)] = {
    val out = new ArrayBuffer[(Long, Long)]()
    var i = 0
    while (i < oi.length) {
      val st = PqStats(
        if (i < ci.minValues.length) ci.minValues(i) else Array.emptyByteArray,
        if (i < ci.maxValues.length) ci.maxValues(i) else Array.emptyByteArray,
        if (i < ci.nullCounts.length) ci.nullCounts(i) else -1L)
      if (keep(st)) {
        val start = oi(i).firstRowIndex
        val end = if (i + 1 < oi.length) oi(i + 1).firstRowIndex else nRows
        if (out.nonEmpty && out.last._2 == start)
          out(out.length - 1) = (out.last._1, end)
        else out += ((start, end))
      }
      i += 1
    }
    out.toSeq
  }

  /** Intersect two ascending disjoint range lists. */
  def intersectRowRanges(a: Seq[(Long, Long)],
      b: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = new ArrayBuffer[(Long, Long)]()
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo < hi) out += ((lo, hi))
      if (a(i)._2 <= b(j)._2) i += 1 else j += 1
    }
    out.toSeq
  }

  /** Decode only the pages of a FLAT column chunk intersecting `ranges`
    * (ascending disjoint chunk-row intervals): returns values (nulls
    * inline) of exactly those rows, in row order. Pages outside the
    * ranges are never decompressed or decoded. A boxing view over the one
    * page decoder. */
  def readColumnRowRanges(bytes: Array[Byte], col: Column,
      ranges: Seq[(Long, Long)]): IndexedSeq[Any] =
    flatRows(decodeChunk(bytes, leafOf(col), ranges), col)

  // --------------------------------------------------- record assembly

  /** An assembled group (struct / record) value. */
  final case class PqGroupVal(names: Seq[String], values: Seq[Any]) {
    def apply(name: String): Any = {
      val i = names.indexOf(name)
      require(i >= 0, s"no field $name in ${names.mkString(",")}")
      values(i)
    }
  }

  /** Read a whole file (nested schemas supported) as assembled records:
    * lists → Vector[Any], maps → Vector[(key, value)] (order- and
    * duplicate-preserving), groups → PqGroupVal, UTF8/ENUM byte arrays →
    * String. The reference's `RowIter` equivalent
    * (`/root/reference/src/record/reader.rs:731-903`). */
  def readFileRows(path: String): (Seq[String], IndexedSeq[PqGroupVal]) = {
    val meta = readFooterOnly(path)
    val (rootChildren, _) = schemaTree(meta)
    val names = rootChildren.map(_.elem.name)
    val fetch = new ChunkFetcher(path)
    try {
      val rows = (0 until meta.rowGroups.size)
        .flatMap(rg => readRowsFetched(fetch, meta, rg))
      (names, rows.toIndexedSeq)
    } finally fetch.close()
  }

  /** Assemble one row group into records. `projection` (top-level field
    * names) prunes column decode: chunks of unselected fields are never
    * decompressed or decoded — the column-pruning half of Spark's
    * ReadSchema pushdown, applied inside our own source. */
  def readRows(bytes: Array[Byte], meta: PqFileMeta, rg: Int,
      projection: Set[String] = null): IndexedSeq[PqGroupVal] =
    readRowsVia(decodeChunk(bytes, _), meta, rg, projection)

  /** [[readRows]] over a [[ChunkFetcher]]: only the projected chunks'
    * byte ranges are ever read from disk. */
  def readRowsFetched(fetch: ChunkFetcher, meta: PqFileMeta, rg: Int,
      projection: Set[String] = null): IndexedSeq[PqGroupVal] =
    readRowsVia(lc => {
      val (b, c) = fetch.fetchLeaf(lc)
      decodeChunk(b, c)
    }, meta, rg, projection)

  /** The kept fields' vectors, each built by [[GraftColumnVector.build]]
    * from the shape that types it ([[ParquetSource.fields]]), boxed row by
    * row. */
  private def readRowsVia(decode: LeafColumn => DecodedChunk,
      meta: PqFileMeta, rg: Int,
      projection: Set[String]): IndexedSeq[PqGroupVal] = {
    val kept = ParquetSource.fields(meta)
      .filter { case (f, _) => projection == null || projection.contains(f.name) }
    val n = meta.rowGroups(rg).numRows
    // loosest physical bound: bools pack 8 values per uncompressed byte
    require(n >= 0 && n <= 8L * math.max(16L, meta.rowGroups(rg).totalByteSize),
      s"row group claims $n rows in ${meta.rowGroups(rg).totalByteSize} bytes")
    val leafCols = leafColumns(meta, rg)
    val decoded = new Array[DecodedChunk](leafCols.size)
    kept.foreach(_._2.leaves.foreach(i => decoded(i) = decode(leafCols(i))))
    val cols = kept.map { case (_, s) => (s, GraftColumnVector.build(s, decoded, n.toInt)) }
    val names = kept.map(_._1.name)
    (0 until n.toInt).map(i => PqGroupVal(names, cols.map { case (s, v) => boxRow(s, v, i) }))
  }

  /** Row `i` of `v`, the vector of shape `s`, boxed as [[readFileRows]]
    * returns it. */
  private def boxRow(s: Shape, v: GraftColumnVector, i: Int): Any =
    if (v.isNullAt(i)) null
    else s match {
      case p: Prim => v.value(i) match {
        case b: Array[Byte] if p.dt == StringType =>
          new String(b, java.nio.charset.StandardCharsets.UTF_8)
        case x => x
      }
      case g: Group => PqGroupVal(g.dt.asInstanceOf[StructType].fieldNames.toSeq,
        g.fields.indices.map(k => boxRow(g.fields(k), v.getChild(k), i)))
      case Repeated(_, _, _, _, Seq(e)) =>
        v.entries(i).map(j => boxRow(e, v.getChild(0), j)).toVector
      case Repeated(_, _, _, _, Seq(k, x)) =>
        v.entries(i).map(j => (boxRow(k, v.getChild(0), j), boxRow(x, v.getChild(1), j))).toVector
      case other => throw new IllegalArgumentException(s"no row form for $other")
    }

  // -------------------------------------------------------------- utilities

  private def levelBitWidth(maxLevel: Int): Int =
    32 - Integer.numberOfLeadingZeros(maxLevel)

  /** INT96 timestamp (nanos-of-day LE in bytes 0-7, Julian day LE in bytes
    * 8-11) -> epoch micros. */
  def int96ToMicros(v: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(v).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanos = bb.getLong(0)
    val julian = bb.getInt(8)
    (julian.toLong - 2440588L) * 86400000000L + nanos / 1000L
  }
}
