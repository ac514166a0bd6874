package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** External correctness anchors for the real-`.parquet` interop layer.
  *
  * Reading: the reference's own golden files
  * (`/root/reference/data/alltypes_plain.parquet`,
  * `alltypes_dictionary.parquet`, `alltypes_plain.snappy.parquet` — the
  * anchor files of `/root/reference/src/file/reader.rs:728-815`), decoded
  * value-exactly with our own PLAIN / dictionary / RLE kernels.
  */
class ParquetInteropSpec extends AnyFunSuite {

  private val dataDir = "/root/reference/data"

  private def str(v: Any): String = new String(v.asInstanceOf[Array[Byte]], "UTF-8")
  private def tsMicros(v: Any): Long =
    ParquetFileReader.int96ToMicros(v.asInstanceOf[Array[Byte]])
  private def utcMicros(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli * 1000L

  test("golden: alltypes_plain.parquet decodes value-exactly") {
    val (names, cols) = ParquetFileReader.readFile(s"$dataDir/alltypes_plain.parquet")
    assert(names == Seq("id", "bool_col", "tinyint_col", "smallint_col",
      "int_col", "bigint_col", "float_col", "double_col", "date_string_col",
      "string_col", "timestamp_col"))
    assert(cols(0) == IndexedSeq(4, 5, 6, 7, 2, 3, 0, 1))
    assert(cols(1) == IndexedSeq(true, false, true, false, true, false, true, false))
    assert(cols(2) == IndexedSeq(0, 1, 0, 1, 0, 1, 0, 1))
    assert(cols(3) == IndexedSeq(0, 1, 0, 1, 0, 1, 0, 1))
    assert(cols(4) == IndexedSeq(0, 1, 0, 1, 0, 1, 0, 1))
    assert(cols(5) == IndexedSeq(0L, 10L, 0L, 10L, 0L, 10L, 0L, 10L))
    assert(cols(6) == IndexedSeq(0.0f, 1.1f, 0.0f, 1.1f, 0.0f, 1.1f, 0.0f, 1.1f))
    assert(cols(7) == IndexedSeq(0.0, 10.1, 0.0, 10.1, 0.0, 10.1, 0.0, 10.1))
    assert(cols(8).map(str) == IndexedSeq("03/01/09", "03/01/09", "04/01/09",
      "04/01/09", "02/01/09", "02/01/09", "01/01/09", "01/01/09"))
    assert(cols(9).map(str) == IndexedSeq("0", "1", "0", "1", "0", "1", "0", "1"))
    assert(cols(10).map(tsMicros) == IndexedSeq(
      utcMicros("2009-03-01T00:00:00Z"), utcMicros("2009-03-01T00:01:00Z"),
      utcMicros("2009-04-01T00:00:00Z"), utcMicros("2009-04-01T00:01:00Z"),
      utcMicros("2009-02-01T00:00:00Z"), utcMicros("2009-02-01T00:01:00Z"),
      utcMicros("2009-01-01T00:00:00Z"), utcMicros("2009-01-01T00:01:00Z")))
  }

  test("golden: alltypes_dictionary.parquet decodes value-exactly") {
    val (names, cols) = ParquetFileReader.readFile(s"$dataDir/alltypes_dictionary.parquet")
    assert(names.head == "id")
    assert(cols(0) == IndexedSeq(0, 1))
    assert(cols(1) == IndexedSeq(true, false))
    assert(cols(5) == IndexedSeq(0L, 10L))
    assert(cols(7) == IndexedSeq(0.0, 10.1))
    assert(cols(8).map(str) == IndexedSeq("01/01/09", "01/01/09"))
    assert(cols(9).map(str) == IndexedSeq("0", "1"))
    assert(cols(10).map(tsMicros) == IndexedSeq(
      utcMicros("2009-01-01T00:00:00Z"), utcMicros("2009-01-01T00:01:00Z")))
  }

  test("golden: alltypes_plain.snappy.parquet (snappy pages) decodes") {
    val (names, cols) = ParquetFileReader.readFile(s"$dataDir/alltypes_plain.snappy.parquet")
    assert(names.head == "id")
    assert(cols(0).length == cols(1).length)
    assert(cols(0).forall(_ != null))
  }

  test("golden: footer metadata fields match the reference's assertions") {
    // mirrors /root/reference/src/file/reader.rs:736-758
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/alltypes_plain.parquet"))
    val meta = ParquetFileReader.readFooter(bytes)
    assert(meta.version == 1)
    assert(meta.numRows == 8)
    assert(meta.rowGroups.size == 1)
    assert(meta.createdBy ==
      "impala version 1.3.0-INTERNAL (build 8a48ddb1eff84592b3fc06bc6f51ec120e1fffc9)")
    assert(meta.rowGroups.head.columns.size == 11)
    assert(meta.rowGroups.head.numRows == 8)
    assert(meta.rowGroups.head.totalByteSize == 671)
  }

  test("schema text: golden footer prints, flat messages parse back") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/alltypes_plain.parquet"))
    val meta = ParquetFileReader.readFooter(bytes)
    val text = SchemaText.print(meta)
    assert(text.contains("message schema {"))
    assert(text.contains("INT32 id"))
    assert(text.contains("INT96 timestamp_col"))
    // parse a flat message and check the Spark schema
    val parsed = SchemaText.parse(
      """message m {
        |  required INT64 id;
        |  optional BYTE_ARRAY name (UTF8);
        |  optional INT32 day (DATE);
        |  optional INT64 ts (TIMESTAMP_MICROS);
        |  required DOUBLE score;
        |  optional BOOLEAN flag;
        |}""".stripMargin)
    import org.apache.spark.sql.types._
    assert(parsed == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("score", DoubleType, nullable = false),
      StructField("flag", BooleanType))))
  }

  // ------------------------------------------------------- nested reads
  // Expected values below are the reference's own test vectors:
  // /root/reference/src/record/triplet.rs:294-427 (triplets) and
  // /root/reference/src/record/reader.rs:1054-1690 (assembled rows).

  import ParquetFileReader.PqGroupVal
  private def G(pairs: (String, Any)*): PqGroupVal =
    PqGroupVal(pairs.map(_._1), pairs.map(_._2))
  private def L(xs: Any*): Vector[Any] = xs.toVector
  private def M(pairs: (Any, Any)*): Vector[(Any, Any)] = pairs.toVector

  test("golden triplets: nested_lists leaf def/rep vectors (triplet.rs:368-400)") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/nested_lists.snappy.parquet"))
    val meta = ParquetFileReader.readFooter(bytes)
    val leaf = ParquetFileReader.leafColumns(meta, 0).head
    assert(leaf.maxDef == 7 && leaf.maxRep == 3)
    val t = ParquetFileReader.readTriplets(bytes, leaf)
    assert(t.defs.toSeq == Seq(7, 7, 7, 4, 7, 7, 7, 7, 7, 4, 7, 7, 7, 7, 7, 7, 4, 7))
    assert(t.reps.toSeq == Seq(0, 3, 2, 1, 2, 0, 3, 2, 3, 1, 2, 0, 3, 2, 3, 2, 1, 2))
    assert(t.values.map(str) ==
      IndexedSeq("a", "b", "c", "d", "a", "b", "c", "d", "e", "a", "b", "c", "d", "e", "f"))
  }

  test("golden triplets: nested_maps inner key vectors (triplet.rs:405-427)") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/nested_maps.snappy.parquet"))
    val meta = ParquetFileReader.readFooter(bytes)
    val leaves = ParquetFileReader.leafColumns(meta, 0)
    val innerKey = leaves.find(_.path == Seq("a", "key_value", "value", "key_value", "key")).get
    assert(innerKey.maxDef == 4 && innerKey.maxRep == 2)
    val t = ParquetFileReader.readTriplets(bytes, innerKey)
    assert(t.defs.toSeq == Seq(4, 4, 4, 2, 3, 4, 4, 4, 4))
    assert(t.reps.toSeq == Seq(0, 2, 0, 0, 0, 0, 0, 2, 2))
    assert(t.values == IndexedSeq(1, 2, 1, 1, 3, 4, 5))
  }

  test("golden rows: nested_lists.snappy.parquet assembles exactly") {
    val (names, rows) =
      ParquetFileReader.readFileRows(s"$dataDir/nested_lists.snappy.parquet")
    assert(names == Seq("a", "b"))
    assert(rows.size == 3)
    assert(rows.map(_("b")) == IndexedSeq(1, 1, 1))
    assert(rows(0)("a") == L(L(L("a", "b"), L("c")), L(null, L("d"))))
    assert(rows(1)("a") == L(L(L("a", "b"), L("c", "d")), L(null, L("e"))))
    assert(rows(2)("a") == L(L(L("a", "b"), L("c", "d"), L("e")), L(null, L("f"))))
  }

  test("golden rows: nested_maps.snappy.parquet assembles exactly") {
    val (names, rows) =
      ParquetFileReader.readFileRows(s"$dataDir/nested_maps.snappy.parquet")
    assert(names == Seq("a", "b", "c"))
    assert(rows.size == 6)
    assert(rows.forall(r => r("b") == 1 && r("c") == 1.0))
    assert(rows(0)("a") == M("a" -> M(1 -> true, 2 -> false)))
    assert(rows(1)("a") == M("b" -> M(1 -> true)))
    assert(rows(2)("a") == M("c" -> null))
    assert(rows(3)("a") == M("d" -> M()))
    assert(rows(4)("a") == M("e" -> M(1 -> true)))
    assert(rows(5)("a") == M("f" -> M(3 -> true, 4 -> false, 5 -> true)))
  }

  test("golden rows: nulls.snappy.parquet (struct with all-null field)") {
    val (names, rows) = ParquetFileReader.readFileRows(s"$dataDir/nulls.snappy.parquet")
    assert(names == Seq("b_struct"))
    assert(rows.size == 8)
    assert(rows.forall(_("b_struct") == G("b_c_int" -> null)))
  }

  test("golden rows: repeated_no_annotation.parquet (unannotated repeated group)") {
    val (names, rows) =
      ParquetFileReader.readFileRows(s"$dataDir/repeated_no_annotation.parquet")
    assert(names == Seq("id", "phoneNumbers"))
    assert(rows.map(_("id")) == IndexedSeq(1, 2, 3, 4, 5, 6))
    assert(rows(0)("phoneNumbers") == null)
    assert(rows(1)("phoneNumbers") == null)
    assert(rows(2)("phoneNumbers") == G("phone" -> L()))
    assert(rows(3)("phoneNumbers") ==
      G("phone" -> L(G("number" -> 5555555555L, "kind" -> null))))
    assert(rows(4)("phoneNumbers") ==
      G("phone" -> L(G("number" -> 1111111111L, "kind" -> "home"))))
    assert(rows(5)("phoneNumbers") == G("phone" -> L(
      G("number" -> 1111111111L, "kind" -> "home"),
      G("number" -> 2222222222L, "kind" -> null),
      G("number" -> 3333333333L, "kind" -> "mobile"))))
  }

  test("golden rows: nonnullable.impala.parquet (required nested, empty lists/maps)") {
    val (names, rows) =
      ParquetFileReader.readFileRows(s"$dataDir/nonnullable.impala.parquet")
    assert(names == Seq("ID", "Int_Array", "int_array_array", "Int_Map",
      "int_map_array", "nested_Struct"))
    assert(rows.size == 1)
    val r = rows(0)
    assert(r("ID") == 8L)
    assert(r("Int_Array") == L(-1))
    assert(r("int_array_array") == L(L(-1, -2), L()))
    assert(r("Int_Map") == M("k1" -> -1))
    assert(r("int_map_array") == L(M(), M("k1" -> 1), M(), M()))
    assert(r("nested_Struct") == G(
      "a" -> -1,
      "B" -> L(-1),
      "c" -> G("D" -> L(L(G("e" -> -1, "f" -> "nonnullable")))),
      "G" -> M()))
  }

  test("golden rows: nullable.impala.parquet (reader.rs:1552-1690 typed vectors)") {
    val (names, rows) =
      ParquetFileReader.readFileRows(s"$dataDir/nullable.impala.parquet")
    assert(names == Seq("id", "int_array", "int_array_Array", "int_map",
      "int_Map_Array", "nested_struct"))
    assert(rows.size == 7)
    assert(rows.map(_("id")) == IndexedSeq(1L, 2L, 3L, 4L, 5L, 6L, 7L))

    // row 0 (id=1)
    assert(rows(0)("int_array") == L(1, 2, 3))
    assert(rows(0)("int_array_Array") == L(L(1, 2), L(3, 4)))
    assert(rows(0)("int_map") == M("k1" -> 1, "k2" -> 100))
    assert(rows(0)("int_Map_Array") == L(M("k1" -> 1)))
    assert(rows(0)("nested_struct") == G(
      "A" -> 1,
      "b" -> L(1),
      "C" -> G("d" -> L(
        L(G("E" -> 10, "F" -> "aaa"), G("E" -> -10, "F" -> "bbb")),
        L(G("E" -> 11, "F" -> "c")))),
      "g" -> M("foo" -> G("H" -> G("i" -> L(1.1))))))

    // row 1 (id=2) — nulls woven through every nesting level
    assert(rows(1)("int_array") == L(null, 1, 2, null, 3, null))
    assert(rows(1)("int_array_Array") ==
      L(L(null, 1, 2, null), L(3, null, 4), L(), null))
    assert(rows(1)("int_map") == M("k1" -> 2, "k2" -> null))
    assert(rows(1)("int_Map_Array") == L(M("k3" -> null, "k1" -> 1), null, M()))
    assert(rows(1)("nested_struct") == G(
      "A" -> null,
      "b" -> L(null),
      "C" -> G("d" -> L(
        L(G("E" -> null, "F" -> null), G("E" -> 10, "F" -> "aaa"),
          G("E" -> null, "F" -> null), G("E" -> -10, "F" -> "bbb"),
          G("E" -> null, "F" -> null)),
        L(G("E" -> 11, "F" -> "c"), null),
        L(),
        null)),
      "g" -> M(
        "g1" -> G("H" -> G("i" -> L(2.2, null))),
        "g2" -> G("H" -> G("i" -> L())),
        "g3" -> null,
        "g4" -> G("H" -> G("i" -> null)),
        "g5" -> G("H" -> null))))

    // row 2 (id=3)
    assert(rows(2)("int_array") == L())
    assert(rows(2)("int_array_Array") == L(null))
    assert(rows(2)("int_map") == M())
    assert(rows(2)("int_Map_Array") == L(null, null))
    assert(rows(2)("nested_struct") == G(
      "A" -> null, "b" -> null, "C" -> G("d" -> L()), "g" -> M()))

    // row 3 (id=4)
    assert(rows(3)("int_array") == null)
    assert(rows(3)("int_array_Array") == L())
    assert(rows(3)("int_map") == M())
    assert(rows(3)("int_Map_Array") == L())
    assert(rows(3)("nested_struct") == G(
      "A" -> null, "b" -> null, "C" -> G("d" -> null), "g" -> null))

    // row 4 (id=5)
    assert(rows(4)("int_array") == null)
    assert(rows(4)("int_array_Array") == null)
    assert(rows(4)("int_map") == M())
    assert(rows(4)("int_Map_Array") == null)
    assert(rows(4)("nested_struct") == G(
      "A" -> null, "b" -> null, "C" -> null,
      "g" -> M("foo" -> G("H" -> G("i" -> L(2.2, 3.3))))))

    // row 5 (id=6)
    assert(rows(5)("int_array") == null)
    assert(rows(5)("int_array_Array") == null)
    assert(rows(5)("int_map") == null)
    assert(rows(5)("int_Map_Array") == null)
    assert(rows(5)("nested_struct") == null)

    // row 6 (id=7)
    assert(rows(6)("int_array") == null)
    assert(rows(6)("int_array_Array") == L(null, L(5, 6)))
    assert(rows(6)("int_map") == M("k1" -> null, "k3" -> null))
    assert(rows(6)("int_Map_Array") == null)
    assert(rows(6)("nested_struct") == G(
      "A" -> 7,
      "b" -> L(2, 3, null),
      "C" -> G("d" -> L(L(), L(null), null)),
      "g" -> null))
  }

  test("golden rows: datapage_v2.snappy.parquet (V2 pages, snappy, LIST col)") {
    // Reference anchor: reader.rs:817-907 pins the page structure (dict page
    // + RLE_DICTIONARY v2 data page, num_nulls=1, def_levels_byte_len=2);
    // row values cross-checked with an independent reader (DuckDB).
    val (names, rows) =
      ParquetFileReader.readFileRows(s"$dataDir/datapage_v2.snappy.parquet")
    assert(names == Seq("a", "b", "c", "d", "e"))
    assert(rows.size == 5)
    assert(rows.map(_("a")) == IndexedSeq("abc", "abc", "abc", null, "abc"))
    assert(rows.map(_("b")) == IndexedSeq(1, 2, 3, 4, 5))
    assert(rows.map(_("c")) == IndexedSeq(2.0, 3.0, 4.0, 5.0, 2.0))
    assert(rows.map(_("d")) == IndexedSeq(true, true, true, false, true))
    assert(rows.map(_("e")) ==
      IndexedSeq(L(1, 2, 3), null, null, L(1, 2, 3), L(1, 2)))
  }

  test("golden: 10k-v2.parquet (DELTA_BINARY_PACKED/DELTA_BYTE_ARRAY pages)") {
    // 10k rows, all columns non-null; delta-packed int32/int64, front-coded
    // binary + FLBA(1024), RLE booleans, dictionary INT96. Aggregates
    // cross-checked with an independent reader (DuckDB).
    val (names, cols) = ParquetFileReader.readFile(s"$dataDir/10k-v2.parquet")
    assert(names == Seq("binary_field", "int32_field", "int64_field",
      "boolean_field", "float_field", "double_field", "flba_field",
      "int96_field"))
    assert(cols.forall(_.size == 10000))
    assert(cols(1).map(_.asInstanceOf[Int].toLong).sum == 11671850101L)
    assert(cols(2).map(_.asInstanceOf[Long]).min == -9217190823346207710L)
    assert(cols(2).map(_.asInstanceOf[Long]).max == 9222389343952262822L)
    assert(cols(3).count(_ == true) == 5064)
    assert(str(cols(0).head) == "67b97f12-fe84-491b-bd54-95df42147f0d")
    assert(cols(0).map(v => str(v)).distinct.size == 10000)
    assert(cols(6).forall(_.asInstanceOf[Array[Byte]].length == 1024))
    assert(cols(1).take(3) == IndexedSeq(-1929575853, 88299796, 1325909065))
  }

  test("golden: commits.parquet (parquet-cpp, gzip, 23 cols, dict→PLAIN fallback)") {
    // real-world file: the `message` chunk switches encodings mid-chunk
    // (dict pages then PLAIN after dictionary overflow). Aggregates
    // cross-checked with an independent reader (DuckDB).
    val (names, cols) = ParquetFileReader.readFile(s"$dataDir/commits.parquet")
    assert(names.size == 23)
    assert(cols.forall(_.size == 14444))
    assert(cols(names.indexOf("id")).map(str(_)).distinct.size == 14444)
    assert(cols(names.indexOf("nfiles")).map(_.asInstanceOf[Int].toLong).sum == 60993L)
    assert(cols(names.indexOf("ismerge")).count(_ == true) == 887)
    assert(cols(names.indexOf("author_time")).map(_.asInstanceOf[Long]).min ==
      1237717800000L)
    assert(cols(names.indexOf("committer_time")).map(_.asInstanceOf[Long]).max ==
      1515670857000L)
  }

  test("golden: stock_simulated.parquet (snappy doubles, an all-null column)") {
    val (names, cols) =
      ParquetFileReader.readFile(s"$dataDir/stock_simulated.parquet")
    assert(names.size == 22)
    assert(cols.forall(_.size == 42000))
    val bp1 = cols(names.indexOf("bp1")).map(_.asInstanceOf[Double]).sum
    assert(math.abs(bp1 - 2937216.7) < 0.5)
    assert(cols(names.indexOf("valid")).forall(_ == null))
    val idx = cols(names.indexOf("__index_level_0__")).map(_.asInstanceOf[Long])
    assert(idx.min == 34200922L && idx.max == 57599999L)
  }

  test("golden: nation.dict-malformed.parquet still decodes") {
    val (names, cols) =
      ParquetFileReader.readFile(s"$dataDir/nation.dict-malformed.parquet")
    assert(names == Seq("nation_key", "name", "region_key", "comment_col"))
    assert(cols(0).map(_.asInstanceOf[Int]).sum == 300)
    assert(cols(2).map(_.asInstanceOf[Int]).sum == 50)
    val nm = cols(1).map(str(_))
    assert(nm.min == "ALGERIA" && nm.max == "VIETNAM")
  }

  test("page CRC32: written on every page, verified on read, catches flips") {
    val tmp = java.nio.file.Files.createTempDirectory("pqcrc").toString
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    val rows = (0 until 500).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"value_$i"))
    for (pv <- Seq(1, 2)) {
      val path = s"$tmp/crc_v$pv.parquet"
      ParquetFileWriter.writeFile(path, schema, rows.iterator,
        rowGroupRows = 200, codec = PqCodec.Snappy, pageVersion = pv)
      // every page header carries field 4 and the body matches it
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val meta = ParquetFileReader.readFooter(bytes)
      var pages = 0
      meta.rowGroups.foreach(_.columns.foreach { cm =>
        var off =
          if (cm.dictionaryPageOffset >= 0)
            math.min(cm.dictionaryPageOffset, cm.dataPageOffset)
          else cm.dataPageOffset
        var remaining = cm.numValues
        while (remaining > 0) {
          val ph = ParquetMeta.parsePageHeader(bytes, off.toInt)
          assert(ph.crcDefined, s"page at $off missing crc (v$pv)")
          val c = new java.util.zip.CRC32
          c.update(bytes, off.toInt + ph.headerLen, ph.compressedSize)
          assert(c.getValue.toInt == ph.crc, s"crc wrong at $off (v$pv)")
          if (ph.pageType != 2) remaining -= ph.numValues
          off += ph.headerLen + ph.compressedSize
          pages += 1
        }
      })
      assert(pages >= 6) // 3 row groups x 2 columns at least
      val (_, got) = ParquetFileReader.readFileRows(path)
      assert(got.size == 500)
      // flip one byte in the middle of the first data page body: the read
      // must fail with the CRC message, not an obscure decoder error
      val cm0 = meta.rowGroups.head.columns.head
      val ph0 = ParquetMeta.parsePageHeader(bytes, cm0.dataPageOffset.toInt)
      val target = cm0.dataPageOffset.toInt + ph0.headerLen +
        ph0.compressedSize / 2
      val bad = bytes.clone()
      bad(target) = (bad(target) ^ 0x5A).toByte
      val badPath = s"$tmp/bad_v$pv.parquet"
      java.nio.file.Files.write(java.nio.file.Paths.get(badPath), bad)
      val e = intercept[Exception] { ParquetFileReader.readFileRows(badPath) }
      assert(e.getMessage.contains("CRC mismatch"), s"got: ${e.getMessage}")
    }
  }

  test("page index: ColumnIndex/OffsetIndex written, parsed, and prune " +
      "with zero chunk I/O") {
    val tmp = java.nio.file.Files.createTempDirectory("pqidx").toString
    val path = s"$tmp/idx.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("txt", StringType)))
    val n = 200000
    val rows = (0 until n).map(i =>
      org.apache.spark.sql.Row(i.toLong, f"row_payload_$i%09d_of_the_table"))
    ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 1 << 20, codec = PqCodec.Snappy)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val meta = ParquetFileReader.readFooter(bytes)
    assert(meta.rowGroups.size == 1)
    meta.rowGroups.head.columns.foreach { cm =>
      assert(cm.offsetIndexOffset >= 0 && cm.offsetIndexLength > 0,
        s"${cm.pathInSchema}: no offset index")
      assert(cm.columnIndexOffset >= 0 && cm.columnIndexLength > 0,
        s"${cm.pathInSchema}: no column index")
      val oi = ParquetMeta.parseOffsetIndex(bytes, cm.offsetIndexOffset.toInt)
      val ci = ParquetMeta.parseColumnIndex(bytes, cm.columnIndexOffset.toInt)
      // offset index agrees with a full page-header walk of the chunk
      val (_, spans) = ParquetFileReader.pageSpans(bytes, cm)
      assert(oi.size == spans.size && ci.minValues.size == spans.size)
      oi.zip(spans).foreach { case (loc, sp) =>
        assert(loc.offset == sp.off && loc.firstRowIndex == sp.rowStart)
        assert(loc.compressedPageSize ==
          sp.header.headerLen + sp.header.compressedSize)
      }
      // column index stats match the page-header stats, order ascending
      ci.minValues.zip(spans).foreach { case (mn, sp) =>
        assert(java.util.Arrays.equals(mn, sp.header.stats.get.min))
      }
      assert(ci.boundaryOrder == 1, s"${cm.pathInSchema} not ASCENDING")
      assert(ci.nullPages.forall(!_) && ci.nullCounts.forall(_ == 0L))
    }
    // the string chunk spans multiple ~1MiB pages, so pruning has teeth
    val txtCm = meta.rowGroups.head.columns(1)
    assert(ParquetMeta.parseOffsetIndex(bytes,
      txtCm.offsetIndexOffset.toInt).size > 3)
    // index-derived row ranges == header-walk row ranges for a point range
    val idCm = meta.rowGroups.head.columns.head
    val keepFn = (st: PqStats) =>
      ParquetFileReader.statsOverlap(PqType.Int64, st, 100000L, 100100L)
    val viaIdx = ParquetFileReader.indexRowRanges(
      ParquetMeta.parseColumnIndex(bytes, idCm.columnIndexOffset.toInt),
      ParquetMeta.parseOffsetIndex(bytes, idCm.offsetIndexOffset.toInt),
      n.toLong, keepFn)
    val fetch = new ParquetFileReader.ChunkFetcher(path)
    try {
      val (b, rcm) = fetch.fetch(idCm)
      assert(viaIdx == ParquetFileReader.pageRowRanges(b, rcm, keepFn))
      assert(viaIdx.nonEmpty && viaIdx.map(r => r._2 - r._1).sum < n)
    } finally fetch.close()
    // ZERO chunk I/O on filter-only columns: obliterate the id chunk's
    // bytes entirely — a ranged columnBatch filtering on id but projecting
    // only txt must still answer exactly (the filter pruned via the
    // footer-side index, never touching the destroyed chunk)
    val (s0, e0) = ParquetFileReader.chunkByteRange(idCm)
    val raf = new java.io.RandomAccessFile(path, "rw")
    try {
      raf.seek(s0)
      raf.write(Array.fill[Byte]((e0 - s0).toInt)(0x7F))
    } finally raf.close()
    val fetch2 = new ParquetFileReader.ChunkFetcher(path)
    try {
      val (vals, kept) = GraftFlatScan.columnBatch(fetch2, meta, 0,
        Array(StructField("txt", StringType)),
        ScanBounds.empty.narrow("id", 100000L, 100100L))
      assert(kept > 0 && kept < n, s"kept $kept")
      val txt = vals.head
      val got = (0 until kept).map(i => txt.getUTF8String(i).toString)
      // surviving pages cover the target rows; residual filtering is the
      // engine's job — here we check the target payloads are present
      assert(got.contains("row_payload_000100000_of_the_table"))
      assert(got.contains("row_payload_000100100_of_the_table"))
      // and reading the DESTROYED column itself fails (proves the bytes
      // really are gone — the pruning above wasn't reading a healthy chunk)
      intercept[Exception] {
        val (b2, rcm2) = fetch2.fetch(idCm)
        ParquetFileReader.readColumn(b2,
          ParquetFileReader.Column("id", idCm.typ, 1, rcm2))
      }
    } finally fetch2.close()
  }

  test("nested writer roundtrip: LIST and MAP columns through our reader") {
    val tmp = java.nio.file.Files.createTempDirectory("pqwn").toString
    val path = s"$tmp/nested.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType)),
      StructField("scores", ArrayType(IntegerType)),
      StructField("attrs", MapType(StringType, LongType))))
    val rows = (0 until 300).map { i =>
      org.apache.spark.sql.Row(
        i.toLong,
        if (i % 7 == 0) null else (0 until i % 4).map(j => s"t$j"),
        if (i % 5 == 0) Seq.empty[Int] else Seq(i, i + 1),
        if (i % 3 == 0) null else (0 until i % 3).map(j => s"k$j" -> i.toLong).toMap)
    }
    val n = ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 128, codec = PqCodec.Gzip)
    assert(n == 300)
    val (names, got) = ParquetFileReader.readFileRows(path)
    assert(names == Seq("id", "tags", "scores", "attrs"))
    assert(got.size == 300)
    (0 until 300).foreach { i =>
      val r = got(i)
      assert(r("id") == i.toLong)
      if (i % 7 == 0) assert(r("tags") == null)
      else assert(r("tags") == (0 until i % 4).map(j => s"t$j").toVector)
      if (i % 5 == 0) assert(r("scores") == Vector())
      else assert(r("scores") == Vector(i, i + 1))
      if (i % 3 == 0) assert(r("attrs") == null)
      else {
        val exp = (0 until i % 3).map(j => (s"k$j": Any) -> (i.toLong: Any))
        assert(r("attrs").asInstanceOf[Vector[(Any, Any)]].sortBy(_._1.toString) ==
          exp.sortBy(_._1.toString).toVector)
      }
    }
  }

  test("struct writer roundtrip: optional group columns through our reader") {
    val tmp = java.nio.file.Files.createTempDirectory("pqws").toString
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType),
        StructField("b", StringType),
        StructField("c", DoubleType))))))
    val rows = (0 until 500).map { i =>
      org.apache.spark.sql.Row(
        i.toLong,
        if (i % 11 == 0) null
        else org.apache.spark.sql.Row(
          if (i % 5 == 0) null else Int.box(i),
          s"v${i % 7}", // dict-eligible
          i * 0.5))
    }
    for (pv <- Seq(1, 2)) {
      val path = s"$tmp/struct_v$pv.parquet"
      val n = ParquetFileWriter.writeFile(path, schema, rows.iterator,
        rowGroupRows = 128, codec = PqCodec.Snappy, pageVersion = pv)
      assert(n == 500)
      val (names, got) = ParquetFileReader.readFileRows(path)
      assert(names == Seq("id", "s"))
      assert(got.size == 500)
      (0 until 500).foreach { i =>
        val r = got(i)
        assert(r("id") == i.toLong)
        if (i % 11 == 0) assert(r("s") == null)
        else {
          val g = r("s").asInstanceOf[ParquetFileReader.PqGroupVal]
          assert(g("a") == (if (i % 5 == 0) null else i))
          assert(g("b") == s"v${i % 7}")
          assert(g("c") == i * 0.5)
        }
      }
    }
  }

  test("writer v2 pages: flat + LIST + MAP roundtrip through our reader") {
    val tmp = java.nio.file.Files.createTempDirectory("pqw2").toString
    val path = s"$tmp/v2.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("s", StringType),
      StructField("xs", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, LongType))))
    val rows = (0 until 700).map { i =>
      org.apache.spark.sql.Row(
        i.toLong,
        if (i % 13 == 0) null else s"s${i % 9}",
        if (i % 6 == 0) null else Seq(i, i * 2),
        if (i % 4 == 0) Map.empty[String, Long] else Map(s"k${i % 3}" -> i.toLong))
    }
    val n = ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 256, codec = PqCodec.Snappy, pageVersion = 2)
    assert(n == 700)
    // header sanity: first page of col 0 after the dict page is DATA_PAGE_V2
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val meta = ParquetFileReader.readFooter(bytes)
    val cm = meta.rowGroups.head.columns.head
    val ph = ParquetMeta.parsePageHeader(bytes, cm.dataPageOffset.toInt)
    assert(ph.pageType == 3)
    assert(ph.numRows == 256)
    val (names, got) = ParquetFileReader.readFileRows(path)
    assert(names == Seq("id", "s", "xs", "m"))
    assert(got.size == 700)
    (0 until 700).foreach { i =>
      val r = got(i)
      assert(r("id") == i.toLong)
      if (i % 13 == 0) assert(r("s") == null) else assert(r("s") == s"s${i % 9}")
      if (i % 6 == 0) assert(r("xs") == null)
      else assert(r("xs") == Vector(i, i * 2))
      if (i % 4 == 0) assert(r("m") == Vector())
      else assert(r("m") == Vector((s"k${i % 3}", i.toLong)))
    }
  }

  test("footer statistics: written, parsed back, and row groups prune") {
    val tmp = java.nio.file.Files.createTempDirectory("pqst").toString
    val path = s"$tmp/stats.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType)))
    // 10 row groups of 100 sorted ids → group g covers [100g, 100g+99]
    val rows = (0 until 1000).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        if (i % 17 == 0) null else f"name-$i%04d")
    }
    ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 100, codec = PqCodec.Snappy)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val meta = ParquetFileReader.readFooter(bytes)
    assert(meta.rowGroups.size == 10)
    val st0 = meta.rowGroups(0).columns(0).stats.get
    assert(graft.core.MinMax.leToLong(st0.min) == 0L)
    assert(graft.core.MinMax.leToLong(st0.max) == 99L)
    val stName = meta.rowGroups(3).columns(1).stats.get
    assert(new String(stName.min, "UTF-8") == "name-0300")
    assert(stName.nullCount > 0)

    assert(ParquetFileReader.rowGroupsOverlapping(meta, "id", 250L, 420L) ==
      Seq(2, 3, 4))
    assert(ParquetFileReader.rowGroupsOverlapping(meta, "id", 5000L, 6000L).isEmpty)
    assert(ParquetFileReader.rowGroupsInRangeBytes(meta, "name",
      "name-0500".getBytes, "name-0501".getBytes) == Seq(5))
    // unbounded sides (null) — the DSv2 string-filter pruning shapes
    assert(ParquetFileReader.rowGroupsInRangeBytes(meta, "name",
      "name-0800".getBytes, null) == Seq(8, 9))
    assert(ParquetFileReader.rowGroupsInRangeBytes(meta, "name",
      null, "name-0150".getBytes) == Seq(0, 1))

    val (_, got) = ParquetFileReader.readFileRowsWhere(path, "id", 250, 420)
    assert(got.map(_("id")) == (200L until 500L).toIndexedSeq)
  }

  test("column_orders: TypeDefinedOrder per leaf; float stats NaN-free " +
      "with canonical zeros") {
    val tmp = java.nio.file.Files.createTempDirectory("pqcord").toString
    val path = s"$tmp/corder.parquet"
    import org.apache.spark.sql.types._
    // nested schema: leaves = id + tags.element + attrs.{key,value} + score
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("tags", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, LongType)),
      StructField("score", DoubleType)))
    val rows = (0 until 50).map { i =>
      org.apache.spark.sql.Row(i.toLong, Seq(s"t$i"), Map(s"k$i" -> i.toLong),
        i match {
          case 0 => Double.NaN // must never surface in min/max
          case 1 => 0.0
          case 2 => -0.0
          case _ => i.toDouble
        })
    }
    ParquetFileWriter.writeFile(path, schema, rows.iterator)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val meta = ParquetFileReader.readFooter(bytes)
    // the spec's precondition for trusting min_value/max_value: one
    // TypeDefinedOrder entry per LEAF column (groups don't count)
    assert(meta.columnOrders == 5, s"columnOrders=${meta.columnOrders}")
    assert(ParquetFileReader.leafColumns(meta, 0).size == 5)
    // double stats: NaN skipped, min is NEGATIVE zero (sign bit set), max 49
    val st = meta.rowGroups(0).columns
      .find(_.pathInSchema.headOption.contains("score")).get.stats.get
    assert(java.lang.Double.longBitsToDouble(
      graft.core.MinMax.leToLong(st.min)) == 0.0 &&
      (graft.core.MinMax.leToLong(st.min) >>> 63) == 1L,
      "min must be -0.0 (canonical signed zero)")
    assert(java.lang.Double.longBitsToDouble(
      graft.core.MinMax.leToLong(st.max)) == 49.0)
    // all-NaN chunk → stat omitted entirely
    val (mnN, mxN) = graft.core.MinMax.compute(
      graft.core.DoubleVec(Array(Double.NaN, Double.NaN)))
    assert(mnN.isEmpty && mxN.isEmpty)
    val (mnF, mxF) = graft.core.MinMax.compute(
      graft.core.FloatVec(Array(Float.NaN, 3.5f, -1.0f)))
    assert(java.lang.Float.intBitsToFloat(
      graft.core.MinMax.leToLong(mnF).toInt) == -1.0f)
    assert(java.lang.Float.intBitsToFloat(
      graft.core.MinMax.leToLong(mxF).toInt) == 3.5f)
    // third-party writers (driver testdata = parquet-mr) carry the field
    // too — our parser surfaces it rather than skipping
    val ext = ParquetFileReader.readFooter(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/orders.parquet")))
    assert(ext.columnOrders > 0)
    // >14 leaves: the ColumnOrder list needs the thrift compact LONG-form
    // list header (short form caps at 14 elements)
    val wideP = s"$tmp/wide.parquet"
    val wide = StructType((0 until 20).map(i =>
      StructField(s"c$i", LongType)))
    ParquetFileWriter.writeFile(wideP, wide,
      Iterator(org.apache.spark.sql.Row((0 until 20).map(_.toLong): _*)))
    val wm = ParquetFileReader.readFooter(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(wideP)))
    assert(wm.columnOrders == 20)
  }

  test("footer statistics: externally-written files carry parseable stats") {
    // Spark/parquet-mr testdata files — independent writers whose stats our
    // thrift parser must understand
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/orders.parquet"))
    val meta = ParquetFileReader.readFooter(bytes)
    val leaves = ParquetFileReader.leafColumns(meta, 0)
    val okey = leaves.find(_.path == Seq("o_orderkey")).get
    val st = okey.meta.stats.get
    assert(st.min.nonEmpty && st.max.nonEmpty)
    assert(graft.core.MinMax.leToLong(st.min) <=
      graft.core.MinMax.leToLong(st.max))
  }

  test("page cuts: >1MiB flat PLAIN chunks split into ~1MiB pages") {
    val tmp = java.nio.file.Files.createTempDirectory("pqpages").toString
    for (pv <- Seq(1, 2)) {
      val path = s"$tmp/pages-v$pv.parquet"
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("blob", StringType)))
      // unique 1 KiB strings -> no dictionary, ~3 MiB of PLAIN values
      val rows = (0 until 3000).map { i =>
        org.apache.spark.sql.Row(i.toLong,
          if (i % 11 == 0) null else s"row-$i-" + ("abcdefgh" * 128))
      }
      ParquetFileWriter.writeFile(path, schema, rows.iterator,
        rowGroupRows = 1 << 16, codec = PqCodec.Uncompressed, pageVersion = pv)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val meta = ParquetFileReader.readFooter(bytes)
      val cm = meta.rowGroups.head.columns(1) // blob
      // walk the chunk's page headers and count data pages
      var off = cm.dataPageOffset
      var pages = 0
      var seen = 0L
      while (seen < cm.numValues) {
        val ph = ParquetMeta.parsePageHeader(bytes, off.toInt)
        if (ph.pageType == 0 || ph.pageType == 3) { pages += 1; seen += ph.numValues }
        off += ph.headerLen + ph.compressedSize
      }
      assert(pages >= 3, s"expected multiple pages, got $pages (v$pv)")
      val (_, cols) = ParquetFileReader.readFile(path)
      assert(cols(0) == (0 until 3000).map(_.toLong))
      (0 until 3000).foreach { i =>
        if (i % 11 == 0) assert(cols(1)(i) == null)
        else assert(str(cols(1)(i)) == s"row-$i-" + ("abcdefgh" * 128))
      }
    }
  }

  test("page statistics: written per page, pruned reads skip excluded pages") {
    val tmp = java.nio.file.Files.createTempDirectory("pqpstats").toString
    for (pv <- Seq(1, 2)) {
      val path = s"$tmp/pstats-v$pv.parquet"
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("tag", StringType)))
      // sorted ids; tag sorts with id; 400k longs ≈ 3.2 MiB PLAIN -> >= 3
      // pages; tag ~ 26 B * 400k ≈ 10 MiB -> ~10 pages
      val n = 400000
      val rows = (0 until n).map { i =>
        org.apache.spark.sql.Row(i.toLong,
          if (i % 97 == 0) null else f"tag-$i%09d-${"x" * 10}")
      }
      // snappy: a decompress of any corrupted page body throws, so the
      // skipped-page proof below is airtight
      ParquetFileWriter.writeFile(path, schema, rows.iterator,
        rowGroupRows = 1 << 20, codec = PqCodec.Snappy, pageVersion = pv)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val meta = ParquetFileReader.readFooter(bytes)
      val idMeta = meta.rowGroups.head.columns(0)
      val (_, idSpans) = ParquetFileReader.pageSpans(bytes, idMeta)
      assert(idSpans.size >= 3, s"id pages: ${idSpans.size} (v$pv)")
      // every page carries parseable min/max + null-count statistics
      idSpans.foreach { s =>
        val st = s.header.stats.getOrElse(fail(s"page without stats (v$pv)"))
        assert(st.min.nonEmpty && st.max.nonEmpty && st.nullCount == 0L)
      }
      // a narrow id window survives in far fewer rows than the chunk
      val (lo, hi) = (250000L, 250999L)
      val keep = ParquetFileReader.pageRowRanges(bytes, idMeta,
        st => ParquetFileReader.statsOverlap(PqType.Int64, st, lo, hi))
      val kept = keep.map(r => r._2 - r._1).sum
      assert(kept < n / 2, s"page pruning kept $kept of $n rows (v$pv)")
      val ids = ParquetFileReader.readColumnRowRanges(bytes,
        ParquetFileReader.flatColumns(meta, 0).head, keep)
      val idSet = ids.toSet
      assert((lo to hi).forall(idSet.contains), s"pruned read lost rows (v$pv)")
      // string-stat pruning on tag behaves the same way
      val tagMeta = meta.rowGroups.head.columns(1)
      val slo = "tag-000300000".getBytes("UTF-8")
      val shi = "tag-000300999~".getBytes("UTF-8")
      val keepS = ParquetFileReader.pageRowRanges(bytes, tagMeta,
        st => ParquetFileReader.byteStatsOverlap(st, slo, shi))
      assert(keepS.map(r => r._2 - r._1).sum < n / 2, s"tag pages kept all rows (v$pv)")
      // skipped pages are never decompressed or decoded: corrupt a page
      // body far outside the kept ranges, pruned read still succeeds
      val farSpan = idSpans.find(s =>
        s.header.stats.exists(st => graft.core.MinMax.leToLong(st.max) < lo)).get
      val corrupt = bytes.clone()
      val bodyOff = farSpan.off + farSpan.header.headerLen
      (bodyOff until bodyOff + 64).foreach(i =>
        corrupt(i) = (corrupt(i) ^ 0x5A).toByte)
      val ids2 = ParquetFileReader.readColumnRowRanges(corrupt,
        ParquetFileReader.flatColumns(meta, 0).head, keep)
      assert(ids2 == ids, s"pruned read touched a skipped page (v$pv)")
    }
  }

  test("typed column decode equals parquet-mr on every flat golden column") {
    import graft.core._
    import org.apache.spark.sql.types._
    // every FLAT golden file, every column: the one page decoder's typed
    // output must agree value-for-value with Spark's built-in parquet-mr
    // reader — this pins dict, delta-family, RLE-bool, INT96, FLBA and
    // data-page-v2 encodings the writer-roundtrip E2Es never emit
    val goldens = Seq("alltypes_plain.parquet", "alltypes_plain.snappy.parquet",
      "alltypes_dictionary.parquet", "10k-v2.parquet", "datapage_v2.snappy.parquet",
      "nation.dict-malformed.parquet", "stock_simulated.parquet")
    val files = goldens.map(g => g -> java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dataDir/$g")))
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    // integers compare by value whatever width parquet-mr surfaces them at
    def canon(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case x => x
    }
    var checked = 0
    try files.foreach { case (g, bytes) =>
      val meta = readFooterOf(bytes)
      // skip non-flat goldens (datapage_v2 has a repeated column)
      val flat = meta.schema.size > 1 &&
        meta.schema.drop(1).forall(se => se.numChildren == 0 && se.repetition != 2)
      if (flat) {
        // one small file reads as one split, in file order
        val native = spark.read.parquet(s"$dataDir/$g")
        val exp = native.collect()
        var row0 = 0
        meta.rowGroups.indices.foreach { rg =>
          ParquetFileReader.flatColumns(meta, rg).zipWithIndex.foreach { case (col, j) =>
            val dt = native.schema(j).dataType
            val (vec, defs) = ParquetFileReader.readColumnVec(bytes, col)
            val rows = if (defs != null) defs.length else vec.length
            var vi = -1
            (0 until rows).foreach { i =>
              val got: Any =
                if (defs != null && defs(i) != col.maxDef) null
                else {
                  vi += 1
                  val v: Any = vec match {
                    case BoolVec(vs) => vs(vi)
                    case IntVec(vs) => vs(vi)
                    case LongVec(vs) => vs(vi)
                    case FloatVec(vs) => vs(vi)
                    case DoubleVec(vs) => vs(vi)
                    case b: BytesVec => b.valueBytes(vi)
                  }
                  if (dt == StringType) str(v) else ParquetSource.externalValue(v, dt)
                }
              val want = exp(row0 + i).get(j)
              assert(canon(got) == canon(want), s"$g rg$rg ${col.name} row $i: " +
                s"${canon(got)} != ${canon(want)}")
            }
            checked += 1
          }
          row0 += meta.rowGroups(rg).numRows.toInt
        }
        assert(row0 == exp.length, s"$g: $row0 rows, parquet-mr ${exp.length}")
      }
    } finally spark.stop()
    assert(checked > 30, s"only $checked columns checked")
  }

  test("ranged I/O: projected reads never touch unprojected bytes on disk") {
    val tmp = java.nio.file.Files.createTempDirectory("pqranged").toString
    val path = s"$tmp/ranged.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("payload", StringType)))
    val rows = (0 until 4000).map(i =>
      org.apache.spark.sql.Row(i.toLong,
        if (i % 11 == 0) null else s"payload-$i-" + ("y" * 40)))
    ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 1500, codec = PqCodec.Snappy)
    // fetch-based full read == in-memory full read, value-exactly
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val meta = readFooterOf(bytes)
    assert(meta.rowGroups.size == 3)
    val inMem = (0 until 3).flatMap(rg => ParquetFileReader.readRows(bytes, meta, rg))
    val (_, fetched) = ParquetFileReader.readFileRows(path)
    assert(fetched.map(_.values) == inMem.map(_.values))
    // obliterate the ENTIRE payload chunk byte range of every row group ON
    // DISK (footer untouched): a projected read of `id` alone must succeed,
    // proving those bytes are never even read, let alone decoded
    val raf = new java.io.RandomAccessFile(path, "rw")
    try meta.rowGroups.foreach { rg =>
      val cm = rg.columns(1)
      val (s, e) = ParquetFileReader.chunkByteRange(cm)
      raf.seek(s)
      raf.write(Array.fill((e - s).toInt)(0x5A.toByte))
    } finally raf.close()
    val fetch = new ParquetFileReader.ChunkFetcher(path)
    val ids =
      try (0 until 3).flatMap(rg =>
        ParquetFileReader.readRowsFetched(fetch, meta, rg, Set("id"))
          .map(_("id").asInstanceOf[Long]))
      finally fetch.close()
    assert(ids == (0L until 4000L))
    // the corruption is real: a projected read of payload fails
    intercept[Exception] {
      val fetch2 = new ParquetFileReader.ChunkFetcher(path)
      try (0 until 3).flatMap(rg =>
        ParquetFileReader.readRowsFetched(fetch2, meta, rg, Set("payload")))
      finally fetch2.close()
    }
    // row-group pruning prunes at the I/O layer too: on a fresh copy,
    // corrupt the whole byte region of the last row group; a range read
    // excluding that group still succeeds
    val path2 = s"$tmp/ranged2.parquet"
    ParquetFileWriter.writeFile(path2, schema, rows.iterator,
      rowGroupRows = 1500, codec = PqCodec.Snappy)
    val meta2 = ParquetFileReader.readFooterOnly(path2)
    val raf2 = new java.io.RandomAccessFile(path2, "rw")
    try meta2.rowGroups(2).columns.foreach { cm =>
      val (s, e) = ParquetFileReader.chunkByteRange(cm)
      raf2.seek(s)
      raf2.write(Array.fill((e - s).toInt)(0x33.toByte))
    } finally raf2.close()
    val (_, pruned) = ParquetFileReader.readFileRowsWhere(path2, "id", 0L, 2999L)
    assert(pruned.map(_("id").asInstanceOf[Long]) == (0L until 3000L))
    assert(pruned.map(_("payload")) ==
      rows.take(3000).map(_.get(1)).map {
        case null => null
        case s: String => s
      })
  }

  test("byte-based row-group cut bounds writer memory for wide rows") {
    val tmp = java.nio.file.Files.createTempDirectory("pqrgbytes").toString
    val path = s"$tmp/wide.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("blob", BinaryType)))
    // 40 rows x 1 MiB: far below the 65536-row cut, but rowGroupBytes =
    // 4 MiB must flush every ~4 rows instead of arena-buffering all 40 MiB
    val w = new ParquetFileWriter.IncrementalFileWriter(path, schema,
      codec = PqCodec.Uncompressed, rowGroupBytes = 4L << 20)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 40).map { i =>
      val b = new Array[Byte](1 << 20); rnd.nextBytes(b)
      org.apache.spark.sql.Row(i.toLong, b)
    }
    rows.foreach(w.addRow)
    assert(w.close() == 40L)
    val meta = ParquetFileReader.readFooterOnly(path)
    assert(meta.numRows == 40L)
    assert(meta.rowGroups.length >= 8,
      s"expected byte-cut row groups, got ${meta.rowGroups.length}")
    assert(meta.rowGroups.forall(g => g.numRows <= 5))
    // values survive the multi-group layout bit-exactly
    val (_, cols) = ParquetFileReader.readFile(path)
    assert(cols(0) == (0L until 40L))
    assert(cols(1).zipWithIndex.forall { case (v, i) =>
      java.util.Arrays.equals(v.asInstanceOf[Array[Byte]],
        rows(i).get(1).asInstanceOf[Array[Byte]]) })
  }

  test("column projection: unselected chunks are never decoded") {
    val tmp = java.nio.file.Files.createTempDirectory("pqproj").toString
    val path = s"$tmp/proj.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("payload", StringType)))
    val rows = (0 until 500).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"payload-$i-" + ("x" * 50)))
    ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 500, codec = PqCodec.Snappy)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val meta = readFooterOf(bytes)
    // corrupt the middle of the `payload` chunk's compressed page BODY
    // (header length varies now that headers carry statistics)
    val payloadMeta = meta.rowGroups.head.columns(1)
    val ph = ParquetMeta.parsePageHeader(bytes, payloadMeta.dataPageOffset.toInt)
    val off = payloadMeta.dataPageOffset.toInt + ph.headerLen + 8
    (off until off + 32).foreach(i => bytes(i) = (bytes(i) ^ 0x5A).toByte)
    // projected read of `id` alone succeeds — payload pages untouched
    val got = ParquetFileReader.readRows(bytes, meta, 0, Set("id"))
    assert(got.map(_("id")) == (0L until 500L))
    // full read must hit the corruption
    intercept[Throwable] {
      val all = ParquetFileReader.readRows(bytes, meta, 0)
      // force materialization + value check in case decode survives
      assert(all.map(_("payload")) == rows.map(_.getString(1)))
    }
  }

  private def readFooterOf(bytes: Array[Byte]) = ParquetFileReader.readFooter(bytes)

  /** Targeted hostile-footer claims the random fuzz sweep is unlikely to
    * construct: a KB-sized file whose footer asserts hundreds of millions
    * of values backed by a forged multi-TB totalUncompressedSize. Both
    * typed and boxed chunk readers must reject the CLAIM with a clean
    * require (before any claim-sized allocation), and a claim at the Int
    * boundary must not surface as NegativeArraySizeException. */
  test("forged footer counts fail cleanly in both chunk readers") {
    val tmp = java.nio.file.Files.createTempDirectory("pqforge").toString
    val path = s"$tmp/seed.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType)))
    val rows = (0 until 200).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"name-${i % 7}"))
    ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 200, codec = PqCodec.Uncompressed)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val meta = readFooterOf(bytes)
    val forgedCounts = Seq(
      // forged uncompressed size widens the density bound only up to a
      // plausible codec ratio of the bytes present — 500M values from a
      // KB file must fail the guard, not allocate a 2 GB offsets array
      (500L * 1000 * 1000, 1L << 40),
      // Int-boundary claim: must be a clean require, never an overflowed
      // `new Array[Int](numValues + 1)` NegativeArraySizeException
      (Int.MaxValue.toLong, Int.MaxValue.toLong * 8))
    for ((nVals, unc) <- forgedCounts) {
      ParquetFileReader.flatColumns(meta, 0).foreach { c =>
        val forged = c.copy(meta =
          c.meta.copy(numValues = nVals, totalUncompressedSize = unc))
        val e1 = intercept[IllegalArgumentException](
          ParquetFileReader.readColumnVec(bytes, forged))
        assert(e1.getMessage.contains("claims"))
        val e2 = intercept[IllegalArgumentException](
          ParquetFileReader.readColumn(bytes, forged))
        assert(e2.getMessage.contains("claims"))
      }
    }
    // honest footers still read after the guard change
    val (names, cols) = ParquetFileReader.readFile(path)
    assert(names == Seq("id", "name") && cols(0).length == 200)
  }

  /** Fuzz sweep in the spirit of the reference's AFL target
    * (fuzz/src/main.rs:14-37: arbitrary bytes → SerializedFileReader → full
    * row iteration). Every mutated/truncated input must either decode or
    * raise a clean Exception — never an Error (OOM from a hostile length,
    * stack overflow) and never a hang.
    */
  test("fuzz sweep: mutated parquet bytes fail cleanly, never catastrophically") {
    val tmp = java.nio.file.Files.createTempDirectory("pqfuzz").toString
    val path = s"$tmp/seed.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("flag", BooleanType)))
    val rows = (0 until 800).map(i => org.apache.spark.sql.Row(
      i.toLong, if (i % 9 == 0) null else s"name-${i % 40}", i * 0.25, i % 2 == 0))
    ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 300, codec = PqCodec.Snappy)
    val seeds = Seq(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dataDir/alltypes_dictionary.parquet")))
    val rnd = new scala.util.Random(20260817L)
    def attempt(bytes: Array[Byte]): Unit =
      // Exception only: an Error (OOM, SOE) escapes and fails the sweep
      try {
        val meta = readFooterOf(bytes)
        meta.rowGroups.indices.foreach { rg =>
          ParquetFileReader.readRows(bytes, meta, rg).foreach(_ => ())
        }
      } catch { case _: Exception => () }
    seeds.foreach { seed =>
      // point mutations anywhere in the file (headers, pages, footer)
      (0 until 400).foreach { _ =>
        val b = seed.clone()
        (0 until 1 + rnd.nextInt(8)).foreach { _ =>
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        }
        attempt(b)
      }
      // truncations (footer gone, pages cut mid-stream)
      (0 until 60).foreach { _ =>
        attempt(java.util.Arrays.copyOf(seed, 1 + rnd.nextInt(seed.length)))
      }
      // mutations concentrated in the footer region, the parser-heaviest path
      val footerStart = math.max(0, seed.length - 700)
      (0 until 200).foreach { _ =>
        val b = seed.clone()
        b(footerStart + rnd.nextInt(b.length - footerStart)) =
          rnd.nextInt(256).toByte
        attempt(b)
      }
    }
  }

  test("writer roundtrip: our file reads back through our reader") {
    val tmp = java.nio.file.Files.createTempDirectory("pqw").toString
    val path = s"$tmp/rt.parquet"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.BooleanType)))
    val rows = (0 until 5000).map { i =>
      org.apache.spark.sql.Row(
        i.toLong,
        if (i % 11 == 0) null else s"val-${i % 7}",
        i * 0.5,
        i % 3 == 0)
    }
    val n = ParquetFileWriter.writeFile(path, schema, rows.iterator,
      rowGroupRows = 2048, codec = PqCodec.Snappy)
    assert(n == 5000)
    val (names, cols) = ParquetFileReader.readFile(path)
    assert(names == Seq("a", "b", "c", "d"))
    assert(cols(0) == (0 until 5000).map(_.toLong))
    assert(cols(1).zipWithIndex.forall { case (v, i) =>
      if (i % 11 == 0) v == null else str(v) == s"val-${i % 7}" })
    assert(cols(2) == (0 until 5000).map(_ * 0.5))
    assert(cols(3) == (0 until 5000).map(_ % 3 == 0))
  }

  test("brotli: pyarrow-written BROTLI parquet decodes value-exactly") {
    // fixture written by parquet-cpp-arrow 16.1.0 with compression=BROTLI
    // (google/brotli encoder) — the third-party-page interop anchor for the
    // reference's BrotliCodec (/root/reference/src/compression.rs:141-172)
    val url = getClass.getResource("/brotli/brotli.parquet")
    assert(url != null, "missing brotli.parquet fixture")
    val path = new java.io.File(url.toURI).getAbsolutePath
    val (names, cols) = ParquetFileReader.readFile(path)
    assert(names == Seq("doc_id", "lang", "score", "text"))
    val n = 2000
    assert(cols(0) == (0 until n).map(_.toLong))
    val langs = Seq("scala", "rust", "python", "go", "java")
    assert(cols(1).zipWithIndex.forall { case (v, i) => str(v) == langs(i % 5) })
    assert(cols(2) == (0 until n).map(i => (i * 7919 % 1000) / 10.0))
    assert(cols(3).zipWithIndex.forall { case (v, i) =>
      str(v) == s"the quick columnar scan $i " + "batch " * (i % 7) })
  }

  test("brotli: our writer's BROTLI pages read back, both page versions") {
    val tmp = java.nio.file.Files.createTempDirectory("pqbr").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val rows = (0 until 4000).map(i =>
      org.apache.spark.sql.Row(i.toLong,
        if (i % 13 == 0) null else s"brotli page payload ${i % 97} " * 3))
    for (pv <- Seq(1, 2)) {
      val path = s"$tmp/br_v$pv.parquet"
      val n = ParquetFileWriter.writeFile(path, schema, rows.iterator,
        rowGroupRows = 1500, codec = PqCodec.Brotli, pageVersion = pv)
      assert(n == 4000)
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      val meta = ParquetFileReader.readFooter(bytes)
      assert(meta.rowGroups.forall(_.columns.forall(_.codec == PqCodec.Brotli)))
      val (names, cols) = ParquetFileReader.readFile(path)
      assert(names == Seq("id", "s"))
      assert(cols(0) == (0 until 4000).map(_.toLong))
      assert(cols(1).zipWithIndex.forall { case (v, i) =>
        if (i % 13 == 0) v == null
        else str(v) == s"brotli page payload ${i % 97} " * 3 })
    }
  }
}
