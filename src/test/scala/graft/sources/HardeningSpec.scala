package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BitWriter, ChunkCodec, PhysicalType}

/** Unit coverage for the round-3 review fixes: Hive-compatible partition
  * path escaping, legacy-statistics distrust in byte-wise pruning, and
  * forged-count allocation guards in the graft chunk readers and the
  * Parquet page decoder. */
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
      ChunkCodec.decodeArrayChunk(hugeSlots))
    assert(e2.getMessage.contains("slot count"))
    val hugeMap = blob { w =>
      w.putAligned(4L, 1) // map chunk
      w.putAligned(PhysicalType.Bytes.toLong, 1)
      w.putAligned(PhysicalType.Int64.toLong, 1)
      w.putVlq(Int.MaxValue.toLong) // forged row count
    }
    val e3 = intercept[IllegalArgumentException](
      ChunkCodec.decodeMapChunk(hugeMap))
    assert(e3.getMessage.contains("row count"))
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
}
