package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BoolVec, BytesVec, ColVec, DoubleVec, FloatVec, IntVec, LongVec}

/** Differential check of our one Parquet page decoder against parquet-mr,
  * an independent implementation that ships with Spark. Every fixture is
  * written by Spark's own writer (parquet-mr) under one writer version,
  * dictionary setting and codec, with INT96 timestamps, or — for
  * BYTE_STREAM_SPLIT, which Spark's writer options cannot select — by
  * parquet-mr's `ExampleParquetWriter`; its footer must list the codec and
  * the encodings the case claims, so a case cannot quietly degrade to v1
  * PLAIN. Then three of our reads must equal Spark's native read value for
  * value: record assembly ([[ParquetFileReader.readFileRows]]), the typed
  * column decode ([[ParquetFileReader.readColumnVec]]) on the flat columns,
  * and the `graft` DSv2 scan (columnar for flat and nested files alike)
  * whole, projected to `id` and with a pushed range filter. */
class ParquetMrDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  @transient private var spark: SparkSession = _
  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("pqmrdiff").toString
  private val n = 6000

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-parquet-mr-diff")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "INT96")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Nullable primitives: int, long, float, double, boolean, string,
    * binary, an INT96 timestamp and an all-null int; `id` is the sorted
    * non-null key. */
  private def flatInput: DataFrame = {
    val id = col("id")
    def nullEvery(k: Int, c: org.apache.spark.sql.Column) =
      when(id % k === 0, lit(null)).otherwise(c)
    spark.range(0, n).select(id,
      nullEvery(7, ((id * 37) % 100 - 50).cast("int")).as("i"),
      nullEvery(11, when(id < 1000, id % 10).otherwise(id * 1000003L - 7)).as("l"),
      nullEvery(5, ((id % 64) * 0.25).cast("float")).as("f"),
      nullEvery(9, id * 0.125).as("d"),
      nullEvery(4, id % 3 === 0).as("b"),
      nullEvery(13, concat(lit("s-"), (id % 50).cast("string"))).as("s"),
      nullEvery(6, unhex(lpad(hex((id * 2654435761L) % 65536), 6, "0"))).as("bin"),
      nullEvery(8, expr("timestamp_micros(1600000000000000 + id * 1000003)"))
        .as("ts"),
      lit(null).cast("int").as("nil"))
  }

  /** One LIST (null and empty lists, null elements), one MAP (null
    * values) and one struct column. */
  private def nestedInput: DataFrame = {
    val id = col("id")
    spark.range(0, n).select(id,
      when(id % 10 === 0, lit(null)).otherwise(expr(
        "transform(filter(sequence(0, id % 4), x -> x > 0), " +
          "x -> IF(x = 2, NULL, CAST(id + x AS INT)))")).as("arr"),
      when(id % 9 === 0, lit(null)).otherwise(expr(
        "map_from_arrays(transform(sequence(0, id % 3), x -> concat('k', x)), " +
          "transform(sequence(0, id % 3), x -> IF(x = 1, NULL, id * x)))")).as("m"),
      when(id % 7 === 0, lit(null)).otherwise(struct(
        (id % 100).cast("int").as("a"),
        when(id % 3 === 0, lit(null))
          .otherwise(concat(lit("v"), id.cast("string"))).as("b"))).as("st"))
  }

  /** A writer configuration and what its flat fixture's footer must show:
    * per column, the encodings its chunks list; and the data page version
    * of every chunk. */
  private case class Case(version: String, dictionary: Boolean, codec: String,
      claims: Map[String, Seq[Int]], pageType: Int) {
    def name: String = s"$version ${if (dictionary) "dict" else "plain"} $codec"
  }

  private val v1 = 0
  private val v2 = 3
  // `l` turns from 10 values to one per row at row 1000: its first chunk
  // starts with a dictionary, outgrows the dictionary page-size cap and
  // falls back to the plain encoding mid-chunk
  private val cases = Seq(
    Case("PARQUET_1_0", dictionary = true, "snappy",
      Map("i" -> Seq(PqEncoding.PlainDictionary),
        "s" -> Seq(PqEncoding.PlainDictionary),
        "l" -> Seq(PqEncoding.PlainDictionary, PqEncoding.Plain)), v1),
    Case("PARQUET_1_0", dictionary = false, "gzip",
      Map("l" -> Seq(PqEncoding.Plain), "s" -> Seq(PqEncoding.Plain)), v1),
    Case("PARQUET_2_0", dictionary = true, "zstd",
      Map("i" -> Seq(PqEncoding.RleDictionary),
        "s" -> Seq(PqEncoding.RleDictionary),
        "l" -> Seq(PqEncoding.RleDictionary, PqEncoding.DeltaBinaryPacked)), v2),
    Case("PARQUET_2_0", dictionary = false, "snappy",
      Map("i" -> Seq(PqEncoding.DeltaBinaryPacked),
        "l" -> Seq(PqEncoding.DeltaBinaryPacked),
        "s" -> Seq(PqEncoding.DeltaByteArray), "bin" -> Seq(PqEncoding.DeltaByteArray),
        "b" -> Seq(PqEncoding.Rle)), v2),
    Case("PARQUET_1_0", dictionary = true, "lz4_raw",
      Map("i" -> Seq(PqEncoding.PlainDictionary),
        "l" -> Seq(PqEncoding.PlainDictionary, PqEncoding.Plain)), v1))

  /** Write `df` as one parquet-mr file under `dir`; small pages and row
    * groups so every chunk spans several pages and the file several row
    * groups. Returns the file's path. */
  private def write(df: DataFrame, dir: String, c: Case): String = {
    df.coalesce(1).write
      .option("compression", c.codec)
      .option("parquet.writer.version", c.version)
      .option("parquet.enable.dictionary", c.dictionary.toString)
      .option("parquet.page.size", "2048")
      .option("parquet.dictionary.page.size", "1024")
      .option("parquet.block.size", "16384")
      .parquet(dir)
    GraftParquetFormat.listFiles(dir).ensuring(_.size == 1).head
  }

  /** Comparable form of an external value (byte arrays by content). */
  private def canon(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) -> canon(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(canon).toVector
    case x => x
  }

  private def rowsById(rows: Seq[Row]): Seq[Any] =
    rows.sortBy(_.getLong(0)).map(canon)

  private def assertSameRows(what: String, got: Seq[Any], exp: Seq[Any]): Unit = {
    assert(got.size == exp.size, s"$what: ${got.size} rows, parquet-mr ${exp.size}")
    got.zip(exp).foreach { case (g, e) => assert(g == e, s"$what:\n  ours=$g\n  mr  =$e") }
  }

  /** Per-row external values of one typed column decode. */
  private def typedRows(vec: ColVec, defs: Array[Int], maxDef: Int,
      dt: DataType): IndexedSeq[Any] = {
    var vi = -1
    val rows = if (defs != null) defs.length else vec.length
    (0 until rows).map { r =>
      if (defs != null && defs(r) != maxDef) null
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
        if (dt == StringType) new String(v.asInstanceOf[Array[Byte]], UTF_8)
        else ParquetSource.externalValue(v, dt)
      }
    }
  }

  private def checkFooter(c: Case, path: String): Unit = {
    val meta = ParquetFileReader.readFooterOnly(path)
    assert(meta.rowGroups.size > 1, s"${c.name}: one row group only")
    val chunks = meta.rowGroups.flatMap(_.columns)
    assert(chunks.forall(_.codec == PqCodec.parse(c.codec)),
      s"${c.name}: codecs ${chunks.map(_.codec).distinct}")
    c.claims.foreach { case (colName, encs) =>
      val listed = chunks.filter(_.pathInSchema.head == colName)
        .flatMap(_.encodings).distinct
      encs.foreach(enc => assert(listed.contains(enc), s"${c.name}: $colName " +
        s"lists ${listed.map(PqEncoding.name)}, not ${PqEncoding.name(enc)}"))
    }
    val fetch = new ParquetFileReader.ChunkFetcher(path)
    try chunks.foreach { cm =>
      val colName = cm.pathInSchema.head
      if (colName == "ts") assert(cm.typ == PqType.Int96, s"${c.name}: ts not INT96")
      val (b, rcm) = fetch.fetch(cm)
      val (_, spans) = ParquetFileReader.pageSpans(b, rcm)
      assert(spans.nonEmpty && spans.forall(_.header.pageType == c.pageType),
        s"${c.name}: $colName pages ${spans.map(_.header.pageType)}")
    } finally fetch.close()
  }

  /** Record assembly and the DSv2 scan, whole and with a pushed `id`
    * range, over the one file in `dir`, against Spark's native read. */
  private def checkRowReads(name: String, dir: String, path: String): Unit = {
    val lo = n / 3L
    val hi = lo + 137
    val native = spark.read.parquet(dir)
    val schema = native.schema
    val exp = rowsById(native.collect().toSeq)

    // record assembly
    val (names, recs) = ParquetFileReader.readFileRows(path)
    assert(names == schema.fieldNames.toSeq)
    assertSameRows(s"$name readFileRows $dir",
      rowsById(recs.map(g => Row.fromSeq(schema.fields.toSeq.map(f =>
        ParquetSource.externalValue(g(f.name), f.dataType))))), exp)

    // the DSv2 scan, whole, projected to `id` and with a pushed range
    // filter; every scan columnar, whatever the file's shape
    val ours = spark.read.format(GraftParquetFormat.Name).load(dir)
    assertSameRows(s"$name DSv2 $dir", rowsById(ours.collect().toSeq), exp)
    assertColumnar(s"$name DSv2 $dir", ours)
    val ids = ours.select("id")
    assertSameRows(s"$name DSv2 id $dir", rowsById(ids.collect().toSeq),
      rowsById(native.select("id").collect().toSeq))
    assertColumnar(s"$name DSv2 id $dir", ids)
    val filtered = ours.where(col("id").between(lo, hi))
    assert(filtered.queryExecution.executedPlan.toString.contains("ranges="),
      s"$name: range filter not pushed")
    assertSameRows(s"$name DSv2 filtered $dir",
      rowsById(filtered.collect().toSeq),
      rowsById(native.where(col("id").between(lo, hi)).collect().toSeq))
    assertColumnar(s"$name DSv2 filtered $dir", filtered)
  }

  /** Every DSv2 scan `df` ran (it must have run) was columnar. */
  private def assertColumnar(what: String, df: DataFrame): Unit = {
    val scans = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar), s"$what: $scans")
  }

  /** The typed column decode on every flat column of every row group of
    * the one file in `dir`, against Spark's native read. */
  private def checkTypedReads(name: String, dir: String, path: String): Unit = {
    val meta = ParquetFileReader.readFooterOnly(path)
    val schema = spark.read.parquet(dir).schema
    val fetch = new ParquetFileReader.ChunkFetcher(path)
    val typed =
      try meta.rowGroups.indices.flatMap { rg =>
        val cols = ParquetFileReader.flatColumns(meta, rg).map { col =>
          val (b, rc) = fetch.fetchColumn(col)
          val (vec, defs) = ParquetFileReader.readColumnVec(b, rc)
          typedRows(vec, defs, rc.maxDef, schema(col.name).dataType)
        }
        cols.head.indices.map(r => Row.fromSeq(cols.map(_(r))))
      } finally fetch.close()
    assertSameRows(s"$name readColumnVec", rowsById(typed),
      rowsById(spark.read.parquet(dir).collect().toSeq))
  }

  cases.zipWithIndex.foreach { case (c, k) =>
    test(s"parquet-mr ${c.name}: readFileRows, readColumnVec and the DSv2 " +
        "scan equal Spark's native read") {
      val flatDir = s"$tmp/c$k/flat"
      val nestedDir = s"$tmp/c$k/nested"
      val flatPath = write(flatInput, flatDir, c)
      val nestedPath = write(nestedInput, nestedDir, c)
      checkFooter(c, flatPath)
      checkRowReads(c.name, flatDir, flatPath)
      checkRowReads(c.name, nestedDir, nestedPath)
      checkTypedReads(c.name, flatDir, flatPath)
    }
  }

  test("parquet-mr BYTE_STREAM_SPLIT floats and doubles: readFileRows, " +
      "readColumnVec and the DSv2 scan equal Spark's native read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = s"$tmp/bss"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val path = s"$dir/part-0.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional float f; optional double d; }")
    val w = ExampleParquetWriter.builder(
        new LocalOutputFile(java.nio.file.Paths.get(path)))
      .withType(schema)
      .withByteStreamSplitEncoding(true)
      .withDictionaryEncoding(false)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withPageSize(2048)
      .withRowGroupSize(16384L)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until n).foreach { i =>
      val g = groups.newGroup().append("id", i.toLong)
      if (i % 7 != 0) g.append("f", (i % 1000) * 0.37f - 100f)
      if (i % 5 != 0) g.append("d", i * 1.0000001 - 2500.0)
      w.write(g)
    } finally w.close()
    val meta = ParquetFileReader.readFooterOnly(path)
    assert(meta.rowGroups.size > 1, "one row group only")
    val chunks = meta.rowGroups.flatMap(_.columns)
    assert(chunks.forall(_.codec == PqCodec.Snappy))
    Seq("f", "d").foreach { c =>
      assert(chunks.filter(_.pathInSchema.head == c)
        .forall(_.encodings.contains(PqEncoding.ByteStreamSplit)),
        s"$c is not BYTE_STREAM_SPLIT")
    }
    // Spark's vectorized reader rejects BYTE_STREAM_SPLIT; its parquet-mr
    // record reader is the native read here
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(vectorized, "false")
    try {
      checkRowReads("BYTE_STREAM_SPLIT", dir, path)
      checkTypedReads("BYTE_STREAM_SPLIT", dir, path)
    } finally spark.conf.unset(vectorized)
  }
}
