package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BitReader, BitWriter, BlockCodec, BytesAccum, BytesVec,
  ChunkCodec, CodecId, DeltaBinaryPackedDecoder, DeltaBinaryPackedEncoder,
  DeltaLengthByteArrayCodec, FsstCodec, IntVec, LongVec, PhysicalType,
  PlainCodec, RleBoolCodec, RleHybridDecoder, RleHybridEncoder, ValueCodec}

/** Unit coverage for the round-3 review fixes: Hive-compatible partition
  * path escaping, legacy-statistics distrust in byte-wise pruning, and
  * forged-count allocation guards in the graft chunk readers and the
  * Parquet page decoder; plus the shared codec layer's loud failures on
  * short blocks and out-of-range dictionary ids. */
class HardeningSpec extends AnyFunSuite {

  // ------------------------------------------------------- PartitionPath

  test("partition path escaping matches Hive/Spark semantics") {
    // space stays literal (URLEncoder would have turned it into '+')
    assert(PartitionPath.escape("a b") == "a b")
    // '+' is never touched (URLDecoder would have turned it into ' ')
    assert(PartitionPath.escape("a+b") == "a+b")
    assert(PartitionPath.unescape("a+b") == "a+b")
    // Hive's escape set, uppercase hex
    assert(PartitionPath.escape("a/b") == "a%2Fb")
    assert(PartitionPath.escape("k=v") == "k%3Dv")
    assert(PartitionPath.escape("100%") == "100%25")
    assert(PartitionPath.escape("a:b*c?d") == "a%3Ab%2Ac%3Fd")
    assert(PartitionPath.escape("tab\there") == "tab%09here")
    // non-ASCII stays literal, as in Hive
    assert(PartitionPath.escape("café") == "café")
    // round trip over the whole tricky set
    val tricky = Seq("a b", "a+b", "a/b", "k=v", "100%", "a:b*c?d",
      "tab\there", "café", "{x}[y]^z", "back\\slash", "'quote\"")
    tricky.foreach { s =>
      assert(PartitionPath.unescape(PartitionPath.escape(s)) == s, s)
    }
    // lenient unescape: a '%' not followed by two hex digits stays literal
    assert(PartitionPath.unescape("50%") == "50%")
    assert(PartitionPath.unescape("%zz") == "%zz")
  }

  // ---------------------------------------- legacy binary stats distrust

  test("byte pruning ignores legacy-only stats unless min == max") {
    def b(s: String) = s.getBytes("UTF-8")
    // modern stats prune normally
    val modern = PqStats(b("m"), b("p"), 0L)
    assert(!ParquetFileReader.byteStatsOverlap(modern, b("q"), b("z")))
    assert(ParquetFileReader.byteStatsOverlap(modern, b("n"), b("o")))
    // legacy-only stats with min != max never prune (old writers compared
    // signed, so the recorded order can be wrong for non-ASCII bytes)
    val legacy = PqStats(b("m"), b("p"), 0L, legacyOnly = true)
    assert(ParquetFileReader.byteStatsOverlap(legacy, b("q"), b("z")))
    // legacy min == max is trustworthy (all sort orders agree on equality)
    val legacyEq = PqStats(b("m"), b("m"), 0L, legacyOnly = true)
    assert(!ParquetFileReader.byteStatsOverlap(legacyEq, b("q"), b("z")))
    assert(ParquetFileReader.byteStatsOverlap(legacyEq, b("a"), b("z")))
  }

  test("parseStatistics flags legacy-only min/max") {
    // thrift-compact Statistics with ONLY deprecated fields 1 (max) and
    // 2 (min): field 1 type BINARY(8) -> header 0x18, then len + bytes
    val bytes = Array[Byte](
      0x18, 1, 'z'.toByte, // field 1 (max), binary, len 1
      0x18, 1, 'a'.toByte, // field 2 (min), delta 1, binary
      0x00) // stop
    val meta = ParquetMeta.parseStatisticsForTest(bytes)
    assert(meta.exists(_.legacyOnly))
    assert(meta.exists(s => new String(s.min, "UTF-8") == "a"))
    // with modern fields 5/6 present the flag clears
    val modern = Array[Byte](
      0x18, 1, 'z'.toByte, // 1: max legacy
      0x18, 1, 'a'.toByte, // 2: min legacy
      0x38, 1, 'z'.toByte, // 5: max_value (delta 3)
      0x18, 1, 'a'.toByte, // 6: min_value (delta 1)
      0x00)
    val m2 = ParquetMeta.parseStatisticsForTest(modern)
    assert(m2.exists(s => !s.legacyOnly))
  }

  // ------------------------------------- forged chunk count guards

  test("forged vlq counts in graft chunks raise cleanly, never allocate") {
    def blob(build: BitWriter => Unit): Array[Byte] = {
      val w = new BitWriter(64)
      w.putAligned('G'.toLong, 1); w.putAligned('C'.toLong, 1)
      build(w)
      w.result()
    }
    val hugeRows = blob { w =>
      w.putAligned(2L, 1) // version 2 (nullable)
      w.putAligned(PhysicalType.Int64.toLong, 1)
      w.putAligned(0L, 1) // codec
      w.putVlq(Int.MaxValue.toLong) // forged row count in a ~10-byte blob
    }
    val e1 = intercept[IllegalArgumentException](
      ChunkCodec.decodeWithLevels(hugeRows))
    assert(e1.getMessage.contains("row count"))
    val hugeSlots = blob { w =>
      w.putAligned(3L, 1) // array chunk
      w.putAligned(PhysicalType.Int64.toLong, 1)
      w.putAligned(0L, 1)
      w.putVlq(1L) // rows
      w.putVlq(Int.MaxValue.toLong) // forged slot count
    }
    val e2 = intercept[IllegalArgumentException](
      ChunkCodec.decodeRepeatedChunk(hugeSlots))
    assert(e2.getMessage.contains("slot count"))
    val hugeMap = blob { w =>
      w.putAligned(4L, 1) // map chunk
      w.putAligned(PhysicalType.Bytes.toLong, 1)
      w.putAligned(PhysicalType.Int64.toLong, 1)
      w.putVlq(Int.MaxValue.toLong) // forged row count
    }
    val e3 = intercept[IllegalArgumentException](
      ChunkCodec.decodeRepeatedChunk(hugeMap))
    assert(e3.getMessage.contains("row count"))
  }

  // ------------------------------------- forged Parquet footers

  test("a trailer's footer length that does not fit the bytes fails with IllegalArgumentException") {
    // PAR1, 8 filler bytes, the 4-byte LE footer length, PAR1
    def file(footerLen: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("PAR1".getBytes("US-ASCII")).put(new Array[Byte](8))
        .putInt(footerLen).put("PAR1".getBytes("US-ASCII"))
      b.array()
    }
    Seq(1000, -5, 0, Int.MaxValue).foreach { len =>
      val e = intercept[IllegalArgumentException](ParquetFileReader.readFooter(file(len)))
      assert(e.getMessage.contains(s"bad footer length $len"), e.getMessage)
    }
  }

  /** A footer of one required INT64 leaf under a root that claims
    * `rootChildren` children, and one row group whose column chunk has
    * no ColumnMetaData. */
  private def forgedFooter(rootChildren: Int): Array[Byte] = {
    import ThriftCompact._
    val w = new Writer
    w.i32Field(1, 0, 1)
    w.fieldHeader(2, TList, 1)
    w.listHeader(TStruct, 2)
    w.fieldHeader(4, TBinary, 0); w.string("schema"); w.i32Field(5, 4, rootChildren); w.stop()
    w.i32Field(1, 0, PqType.Int64); w.i32Field(3, 1, 0)
    w.fieldHeader(4, TBinary, 3); w.string("a"); w.stop()
    w.i64Field(3, 2, 1L)
    w.fieldHeader(4, TList, 3)
    w.listHeader(TStruct, 1)
    w.fieldHeader(1, TList, 0)
    w.listHeader(TStruct, 1)
    w.i64Field(2, 0, 4L); w.stop() // ColumnChunk { 2: file_offset }
    w.i64Field(2, 1, 8L); w.i64Field(3, 2, 1L); w.stop()
    w.stop()
    w.result()
  }

  test("a footer cut short fails in the thrift reader with IllegalArgumentException") {
    val bytes = forgedFooter(1)
    Seq(1, bytes.length / 2, bytes.length - 3).foreach { k =>
      val e = intercept[IllegalArgumentException](ParquetMeta.parseFileMeta(bytes.take(k), 0))
      assert(e.getMessage.contains("thrift"), e.getMessage)
    }
  }

  test("a column chunk without metadata fails with IllegalArgumentException") {
    val e = intercept[IllegalArgumentException](
      ParquetFileReader.leafColumns(ParquetMeta.parseFileMeta(forgedFooter(1), 0), 0))
    assert(e.getMessage.contains("meta_data"), e.getMessage)
  }

  test("schema child counts past the element list fail with IllegalArgumentException") {
    val meta = PqFileMeta(1, Seq(PqSchemaElement("schema", numChildren = 2),
      PqSchemaElement("a", typ = PqType.Int64, repetition = 0)), 0L, Nil, "")
    val e = intercept[IllegalArgumentException](ParquetFileReader.schemaTree(meta))
    assert(e.getMessage.contains("schema"), e.getMessage)
    intercept[IllegalArgumentException](ParquetFileReader.schemaTree(meta.copy(schema = Nil)))
  }

  test("PLAIN values past their slice fail with IllegalArgumentException") {
    Seq(PhysicalType.Int32 -> 4, PhysicalType.Int64 -> 8, PhysicalType.Float -> 4,
        PhysicalType.Double -> 8).foreach { case (t, w) =>
      val e = intercept[IllegalArgumentException](PlainCodec.decodeSlice(t, new Array[Byte](3 * w), 0, 3 * w - 1, 3))
      assert(e.getMessage.contains("PLAIN"), e.getMessage)
    }
    // a length prefix past the page end
    val page = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(2).put("ab".getBytes("US-ASCII")).put(Array[Byte](9, 0)).array()
    intercept[IllegalArgumentException](PlainCodec.decodeSlice(PhysicalType.Bytes, page, 0, 8, 2))
    assert(PlainCodec.decodeSlice(PhysicalType.Bytes, page, 0, 6, 1).length == 1)
  }

  // ------------------------------------- forged Parquet page headers

  test("a page claiming an implausible uncompressed size fails before allocating") {
    val n = 100
    val plain = java.nio.ByteBuffer.allocate(8 * n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => plain.putLong(i.toLong))
    val body = org.xerial.snappy.Snappy.compress(plain.array())
    // a one-column, one-page snappy chunk; only the header's claim differs
    def chunk(uncompressed: Int): (Array[Byte], ParquetFileReader.Column) = {
      val bytes = ParquetMeta.writePageHeaderV1(n, PqEncoding.Plain,
        uncompressed, body.length) ++ body
      (bytes, ParquetFileReader.Column("x", PqType.Int64, 0, PqColumnMeta(
        typ = PqType.Int64, encodings = Seq(PqEncoding.Plain),
        pathInSchema = Seq("x"), codec = PqCodec.Snappy, numValues = n,
        totalUncompressedSize = 8L * n, totalCompressedSize = bytes.length,
        dataPageOffset = 0L)))
    }
    val (honest, col) = chunk(8 * n)
    assert(ParquetFileReader.readColumn(honest, col) == (0L until n))
    val (forged, _) = chunk(Int.MaxValue - 16)
    val e1 = intercept[IllegalArgumentException](
      ParquetFileReader.readColumnVec(forged, col))
    assert(e1.getMessage.contains("implausible"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      ParquetFileReader.readColumn(forged, col))
    assert(e2.getMessage.contains("implausible"), e2.getMessage)
  }

  test("v2 page level and value lengths are checked against the page body") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val path = java.nio.file.Files.createTempDirectory("pqv2len")
      .resolve("v2.parquet").toString
    ParquetFileWriter.writeFile(path,
      StructType(Seq(StructField("x", LongType))),
      (0 until 300).iterator.map(i =>
        Row(if (i % 5 == 0) null else i.toLong * 7919)),
      codec = PqCodec.Uncompressed, pageVersion = 2)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val col = ParquetFileReader.flatColumns(ParquetFileReader.readFooter(bytes), 0).head
    val at = col.meta.dataPageOffset.toInt
    val ph = ParquetMeta.parsePageHeader(bytes, at)
    assert(ph.pageType == 3 && ph.defLevelsByteLen > 0)
    // the first data page re-headed with forged lengths; its body is intact
    def reheaded(defLen: Int, uncompressed: Int): Array[Byte] =
      bytes.take(at) ++ ParquetMeta.writePageHeaderV2(ph.numValues,
        ph.numNulls, ph.numRows, ph.encoding, uncompressed, ph.compressedSize,
        defLen, ph.repLevelsByteLen, ph.stats,
        if (ph.crcDefined) Some(ph.crc) else None) ++
        bytes.drop(at + ph.headerLen)
    val honest = reheaded(ph.defLevelsByteLen, ph.uncompressedSize)
    assert(ParquetFileReader.readColumn(honest, col) ==
      ParquetFileReader.readColumn(bytes, col))
    // def levels claimed past the page body would decode the next page
    val pastBody = ph.compressedSize + 1000
    val overrun = reheaded(pastBody, ph.uncompressedSize)
    val e1 = intercept[IllegalArgumentException](
      ParquetFileReader.readColumnVec(overrun, col))
    assert(e1.getMessage.contains(s"def $pastBody"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      ParquetFileReader.readColumn(overrun, col))
    assert(e2.getMessage.contains(s"def $pastBody"), e2.getMessage)
    // an uncompressed value region claiming more bytes than the body holds
    val inflated = reheaded(ph.defLevelsByteLen, ph.uncompressedSize + 500000)
    val e3 = intercept[IllegalArgumentException](
      ParquetFileReader.readColumnVec(inflated, col))
    assert(e3.getMessage.contains("uncompressed v2 page"), e3.getMessage)
  }

  // ------------------------------------- the shared codec layer

  /** A `GZ` wrapper over a PLAIN chunk, re-framed with `extra` more raw
    * bytes declared than the block holds and `cut` bytes dropped from the
    * end of its body. */
  private def reframed(codec: Int, extra: Long, cut: Int): Array[Byte] = {
    val blob = ChunkCodec.encodeWith(
      LongVec(Array.tabulate(500)(i => i * 7919L)), CodecId.Plain)
    val wrapped = BlockCodec.wrap(blob, codec)
    val r = new BitReader(wrapped)
    r.getAligned(3)
    r.getVlq()
    val body = wrapped.slice(r.position, wrapped.length - cut)
    val w = new BitWriter(body.length + 16)
    w.putAligned('G'.toLong, 1); w.putAligned('Z'.toLong, 1)
    w.putAligned(codec.toLong, 1)
    w.putVlq(blob.length + extra)
    w.putBytes(body)
    w.result()
  }

  test("a GZ block that holds fewer bytes than it declares fails loudly") {
    assert(BlockCodec.maybeUnwrap(reframed(BlockCodec.Snappy, 0, 0)).length > 0)
    val e1 = intercept[IllegalArgumentException](
      BlockCodec.maybeUnwrap(reframed(BlockCodec.Snappy, 8, 0)))
    assert(e1.getMessage.contains("SNAPPY"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      BlockCodec.maybeUnwrap(reframed(BlockCodec.Lz4, 0, 16)))
    assert(e2.getMessage.contains("LZ4"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      BlockCodec.maybeUnwrap(reframed(BlockCodec.Zstd, Int.MaxValue.toLong, 0)))
    assert(e3.getMessage.contains("raw bytes"), e3.getMessage)
  }

  test("a snappy page whose uncompressed_page_size is too large fails loudly") {
    val n = 100
    val plain = PlainCodec.encode(LongVec(Array.tabulate(n)(_.toLong)))
    val body = org.xerial.snappy.Snappy.compress(plain)
    val bytes = ParquetMeta.writePageHeaderV1(n, PqEncoding.Plain,
      plain.length + 8, body.length) ++ body
    val col = ParquetFileReader.Column("x", PqType.Int64, 0, PqColumnMeta(
      typ = PqType.Int64, encodings = Seq(PqEncoding.Plain),
      pathInSchema = Seq("x"), codec = PqCodec.Snappy, numValues = n,
      totalUncompressedSize = plain.length + 8L,
      totalCompressedSize = bytes.length, dataPageOffset = 0L))
    val e = intercept[IllegalArgumentException](
      ParquetFileReader.readColumnVec(bytes, col))
    assert(e.getMessage.contains("SNAPPY"), e.getMessage)
  }

  test("a GC dictionary id past the dictionary fails naming the id") {
    val dict = PlainCodec.encode(IntVec(Array(10, 20, 30)))
    val ids = new RleHybridEncoder(3)
    Seq(0, 2, 5, 1).foreach(id => ids.put(id.toLong))
    val idPage = 3.toByte +: ids.result()
    val w = new BitWriter(64)
    w.putAligned('G'.toLong, 1); w.putAligned('C'.toLong, 1)
    w.putAligned(1L, 1) // version 1: no nulls
    w.putAligned(PhysicalType.Int32.toLong, 1)
    w.putAligned(CodecId.Dict.toLong, 1)
    w.putVlq(4L) // rows
    w.putAligned(1L, 1) // has a dictionary
    w.putVlq(3L); w.putVlq(dict.length.toLong); w.putBytes(dict)
    w.putVlq(1L) // one page
    w.putAligned(CodecId.Dict.toLong, 1)
    w.putVlq(4L); w.putVlq(idPage.length.toLong); w.putBytes(idPage)
    val e = intercept[IllegalArgumentException](ChunkCodec.decode(w.result()))
    assert(e.getMessage.contains("dict id 5"), e.getMessage)
  }

  test("a DELTA_LENGTH_BYTE_ARRAY page cut short fails instead of zero-filling") {
    val n = 100
    val full = DeltaLengthByteArrayCodec.encode(
      BytesVec.of(Array.tabulate(n)(i => s"value-$i".getBytes("UTF-8"))))
    def chunk(page: Array[Byte]): (Array[Byte], ParquetFileReader.Column) = {
      val bytes = ParquetMeta.writePageHeaderV1(n, PqEncoding.DeltaLengthByteArray,
        page.length, page.length) ++ page
      (bytes, ParquetFileReader.Column("s", PqType.ByteArray, 0, PqColumnMeta(
        typ = PqType.ByteArray, encodings = Seq(PqEncoding.DeltaLengthByteArray),
        pathInSchema = Seq("s"), codec = PqCodec.Uncompressed, numValues = n,
        totalUncompressedSize = bytes.length, totalCompressedSize = bytes.length,
        dataPageOffset = 0L)))
    }
    val (honest, col) = chunk(full)
    assert(ParquetFileReader.readColumn(honest, col).map(
      v => new String(v.asInstanceOf[Array[Byte]], "UTF-8")) ==
      (0 until n).map(i => s"value-$i"))
    val (cut, _) = chunk(full.dropRight(20))
    val e = intercept[IllegalArgumentException](ParquetFileReader.readColumnVec(cut, col))
    assert(e.getMessage.contains("past the stream end"), e.getMessage)
  }

  test("a GC dictionary id page cut inside a bit-packed run fails naming the layer") {
    val rnd = new scala.util.Random(6L)
    val n = 1000
    val dict = PlainCodec.encode(IntVec(Array.tabulate(64)(_ * 3)))
    val ids = new RleHybridEncoder(6)
    (0 until n).foreach(_ => ids.put(rnd.nextInt(64).toLong))
    val body = ids.result()
    def blob(idPage: Array[Byte]): Array[Byte] = {
      val w = new BitWriter(1024)
      w.putAligned('G'.toLong, 1); w.putAligned('C'.toLong, 1)
      w.putAligned(1L, 1) // version 1: no nulls
      w.putAligned(PhysicalType.Int32.toLong, 1)
      w.putAligned(CodecId.Dict.toLong, 1)
      w.putVlq(n.toLong) // rows
      w.putAligned(1L, 1) // has a dictionary
      w.putVlq(64L); w.putVlq(dict.length.toLong); w.putBytes(dict)
      w.putVlq(1L) // one page
      w.putAligned(CodecId.Dict.toLong, 1)
      w.putVlq(n.toLong); w.putVlq(idPage.length.toLong); w.putBytes(idPage)
      w.result()
    }
    assert(ChunkCodec.decode(blob(6.toByte +: body)).length == n)
    // the page holds half its hybrid body: the bit-packed run passes its end
    val e = intercept[IllegalArgumentException](
      ChunkCodec.decode(blob(6.toByte +: body.take(body.length / 2))))
    assert(e.getMessage.contains("RLE/bit-packed"), e.getMessage)
  }

  test("the hybrid decoder reads only inside its stream") {
    val enc = new RleHybridEncoder(3)
    (0 until 10).foreach(i => enc.put((i % 8).toLong))
    val stream = enc.result() // indicator + two 8-value groups of 3 bytes
    assert(stream.length == 7)
    // the next stream's bytes follow; the decoder is bounded before them
    val buf = stream ++ Array.fill[Byte](16)(0x55)
    def read(end: Int, k: Int): Seq[Long] = {
      val out = new Array[Long](k)
      val got = new RleHybridDecoder(3, buf, 0, end).get(out, 0, k)
      out.take(got).toSeq
    }
    assert(read(stream.length, 10) == (0 until 10).map(i => (i % 8).toLong))
    // a final group cut to the bits of the values asked for still decodes
    val short = 1 + (10 * 3 + 7) / 8
    assert(read(short, 10) == (0 until 10).map(i => (i % 8).toLong))
    val e = intercept[IllegalArgumentException](read(short, 16))
    assert(e.getMessage.contains("RLE/bit-packed"), e.getMessage)
    // an RLE run whose value bytes pass the end
    val rle = new RleHybridEncoder(16)
    (0 until 20).foreach(_ => rle.put(7L))
    val run = rle.result()
    val e2 = intercept[IllegalArgumentException](
      new RleHybridDecoder(16, run ++ Array[Byte](1, 2), 0, run.length - 1)
        .get(new Array[Long](20), 0, 20))
    assert(e2.getMessage.contains("stream end"), e2.getMessage)
  }

  test("a hybrid stream that ends before the values asked for fails") {
    // 50 booleans asked for as 100: the stream ends on a run boundary
    val e = intercept[IllegalArgumentException](
      RleBoolCodec.decode(RleBoolCodec.encode(Array.fill(50)(true)), 0, 100))
    assert(e.getMessage.contains("RLE/bit-packed hybrid"), e.getMessage)
    // a v2 chunk whose def-level stream holds 10 levels but claims 20 rows
    val blob = ChunkCodec.encodeWith(IntVec((1 to 10).toArray), CodecId.Plain,
      Array.fill[Byte](10)(1))
    assert(blob(2) == 2.toByte && blob(5) == 10.toByte)
    assert(ChunkCodec.decodeWithLevels(blob).numRows == 10)
    val forged = blob.clone()
    forged(5) = 20.toByte
    val e2 = intercept[IllegalArgumentException](ChunkCodec.decodeWithLevels(forged))
    assert(e2.getMessage.contains("RLE/bit-packed hybrid"), e2.getMessage)
  }

  test("an RLE boolean stream's length prefix is checked against the buffer") {
    val enc = RleBoolCodec.encode(Array.tabulate(100)(_ % 3 == 0))
    assert(RleBoolCodec.decode(enc, 0, 100).toSeq == (0 until 100).map(_ % 3 == 0))
    val forged = enc.clone()
    forged(0) = (forged(0) + 1).toByte // one byte more than the buffer holds
    val e = intercept[IllegalArgumentException](RleBoolCodec.decode(forged, 0, 100))
    assert(e.getMessage.contains("RLE booleans"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](RleBoolCodec.decode(enc.take(3), 0, 1))
    assert(e2.getMessage.contains("RLE booleans"), e2.getMessage)
  }

  // ------------------------------------------------ FSST and page bounds

  /** A version-1 `GC` byte-array chunk of `pages`, each (codec, values, bytes). */
  private def bytesChunk(pages: Seq[(Int, Int, Array[Byte])]): Array[Byte] = {
    val w = new BitWriter(1024)
    w.putAligned('G'.toLong, 1); w.putAligned('C'.toLong, 1)
    w.putAligned(1L, 1) // version 1: no nulls
    w.putAligned(PhysicalType.Bytes.toLong, 1)
    w.putAligned(pages.head._1.toLong, 1)
    w.putVlq(pages.map(_._2).sum.toLong) // rows
    w.putAligned(0L, 1) // no dictionary
    w.putVlq(pages.size.toLong)
    pages.foreach { case (codec, n, bytes) =>
      w.putAligned(codec.toLong, 1)
      w.putVlq(n.toLong); w.putVlq(bytes.length.toLong); w.putBytes(bytes)
    }
    w.result()
  }

  /** An FSST page built by hand: symbol table, value count, the
    * DELTA_BINARY_PACKED code lengths and the code bytes. */
  private def fsstPage(symbols: Seq[Array[Byte]], lens: Seq[Long],
      body: Array[Byte]): Array[Byte] = {
    val w = new BitWriter(256)
    w.putVlq(symbols.size.toLong)
    symbols.foreach { sym => w.putAligned(sym.length.toLong, 1); w.putBytes(sym) }
    w.putVlq(lens.size.toLong)
    val e = new DeltaBinaryPackedEncoder(int32 = true)
    e.put(lens.toArray)
    w.putBytes(e.result())
    w.putBytes(body)
    w.result()
  }

  private def fsstFails(page: Array[Byte], n: Int): String = {
    val e = intercept[IllegalArgumentException](
      ChunkCodec.decode(bytesChunk(Seq((CodecId.Fsst, n, page)))))
    assert(e.getMessage.contains("FSST"), e.getMessage)
    e.getMessage
  }

  private def strings(v: graft.core.ColVec): Seq[String] = {
    val b = v.asInstanceOf[BytesVec]
    (0 until b.length).map(i => new String(b.valueBytes(i), "UTF-8"))
  }

  private val fsstValues = BytesVec.of(Array.tabulate(400)(i =>
    s"value-$i-the-quick-brown-fox-jumps-over-the-lazy-dog".getBytes("UTF-8")))

  test("an FSST page cut short fails naming FSST") {
    val page = FsstCodec.encode(fsstValues)
    val honest = ChunkCodec.decode(bytesChunk(Seq((CodecId.Fsst, 400, page))))
    assert(strings(honest) == strings(fsstValues))
    // the last values' code lengths run past the page end
    assert(fsstFails(page.dropRight(10), 400).contains("left in the page"))
  }

  test("an FSST value length that is negative fails naming FSST") {
    val ab = Seq("ab".getBytes("UTF-8"))
    val page = fsstPage(ab, Seq(1L, -1L, 1L), Array[Byte](0, 0, 0))
    assert(fsstFails(page, 3).contains("-1 code bytes"))
  }

  test("an FSST code past a short symbol table fails naming FSST") {
    val page = FsstCodec.encode(fsstValues)
    // the first code byte of value 0 becomes the first code past the table
    val r = new BitReader(page)
    val nSyms = r.getVlq().toInt
    assert(nSyms < 255, s"$nSyms symbols leave no code past the table")
    (0 until nSyms).foreach(_ => r.skip((r.getAligned(1) & 0xFF).toInt))
    r.getVlq()
    val bodyStart = DeltaBinaryPackedDecoder.decodeWithEnd(page, r.position,
      page.length, int32 = true)._2
    val forged = page.clone()
    forged(bodyStart) = nSyms.toByte
    assert(fsstFails(forged, 400).contains("code past the symbol table"))
    // a code past the table as a value's only byte
    val ab = Seq("ab".getBytes("UTF-8"))
    assert(fsstFails(fsstPage(ab, Seq(1L, 1L), Array[Byte](0, 7)), 2)
      .contains("value 1 holds a code past the symbol table"))
  }

  test("an FSST escape as a value's last byte fails naming FSST") {
    val ab = Seq("ab".getBytes("UTF-8"))
    // value 0 is [ab, escape]; the escape would take value 1's code as its literal
    val page = fsstPage(ab, Seq(2L, 1L), Array[Byte](0, -1, 0))
    assert(fsstFails(page, 2).contains("value 0 ends in an escape"))
    // the same escape with its literal inside the value decodes
    val ok = fsstPage(ab, Seq(3L, 1L), Array[Byte](0, -1, 'z'.toByte, 0))
    assert(strings(ChunkCodec.decode(bytesChunk(Seq((CodecId.Fsst, 2, ok))))) ==
      Seq("abz", "ab"))
  }

  test("an FSST symbol of length 0 or more than 8 fails naming FSST") {
    Seq(0, 9).foreach { len =>
      val page = fsstPage(Seq("ab".getBytes("UTF-8"), Array.fill[Byte](len)('x')),
        Seq(1L), Array[Byte](0))
      assert(fsstFails(page, 1).contains(s"length $len"))
    }
  }

  test("a forged DELTA_BINARY_PACKED header fails naming the stream, before allocating") {
    def forged(blockSize: Long, miniBlocks: Long, total: Long): Array[Byte] = {
      val w = new BitWriter(16)
      w.putVlq(blockSize)
      w.putVlq(miniBlocks)
      w.putVlq(total)
      w.putZigZagVlq(7L)
      w.result() ++ Array.fill[Byte](64)(0)
    }
    // the honest header shape decodes
    assert(DeltaBinaryPackedDecoder.decode(forged(128, 4, 1), int32 = true).toSeq == Seq(7L))
    Seq(
      (forged(128, 0, 5), "0 miniblocks"), // was a division by zero
      (forged(1L << 28, 4, 5), "block size 268435456"), // was a 512 MB miniblock buffer
      (forged(128, 4, 0xFFFFFFFFL), "4294967295 values"), // was total -1
      (forged(128, 4, 1L << 28), "268435456 values") // was a 2 GB buffer
    ).foreach { case (bytes, what) =>
      val e = intercept[IllegalArgumentException](
        DeltaBinaryPackedDecoder.decode(bytes, int32 = false))
      assert(e.getMessage.contains("DELTA_BINARY_PACKED") &&
        e.getMessage.contains(what), e.getMessage)
    }
    // the spec's block grammar: a multiple of 128, miniblocks of 32k values
    Seq(forged(100, 4, 5), forged(128, 3, 5), forged(128, 8, 5)).foreach { b =>
      intercept[IllegalArgumentException](DeltaBinaryPackedDecoder.decode(b, int32 = true))
    }
  }

  test("a PLAIN byte page is read only up to its own end") {
    // page 1's last value claims 6 bytes: 3 of its own and 3 of page 2
    val page1 = PlainCodec.encode(BytesVec.of(Seq("abc", "def").map(_.getBytes("UTF-8"))))
    page1(page1.length - 7) = 6
    val page2 = PlainCodec.encode(BytesVec.of(Seq("ghi").map(_.getBytes("UTF-8"))))
    val buf = page1 ++ page2
    val e = intercept[IllegalArgumentException](ValueCodec.decodeBytesInto(
      ValueCodec.Plain, 0, buf, 0, page1.length, 2, null, new BytesAccum(16, 2)))
    assert(e.getMessage.contains("past page end"), e.getMessage)
    // the same two pages inside one GC chunk blob
    val e2 = intercept[IllegalArgumentException](ChunkCodec.decode(
      bytesChunk(Seq((CodecId.Plain, 2, page1), (CodecId.Plain, 1, page2)))))
    assert(e2.getMessage.contains("past page end"), e2.getMessage)
  }
}
