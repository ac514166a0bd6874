package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BlockCodec, ChunkCodec, IntVec}
import graft.operators.{ChunkRow, DecodeJob, EncodeJob}

/** The one Parquet file reader: every DSv2 task decodes columnar through
  * [[GraftColumnVector.build]], whatever the file's shape, and reads equal
  * Spark's native reader's. */
class NestedScanSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  @transient private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("graft-nested-scan").toString
  private val n = 3000

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def ours(dir: String): DataFrame =
    spark.read.format(GraftParquetFormat.Name).load(dir)

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

  private def sorted(rows: Seq[Row]): Seq[String] =
    rows.map(r => canon(r).toString).sorted

  /** The executed plan's DSv2 scans. */
  private def scans(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }

  /** `q` over our scan of `dir` equals `q` over Spark's native read, and
    * every scan it ran was columnar. */
  private def sameAsNative(what: String, dir: String)(q: DataFrame => DataFrame): Unit = {
    val got = q(ours(dir))
    val rows = got.collect().toSeq
    assert(sorted(rows) == sorted(q(spark.read.parquet(dir)).collect().toSeq), what)
    val s = scans(got)
    assert(s.nonEmpty && s.forall(_.supportsColumnar), s"$what: $s")
  }

  /** The library's record assembly of the one file in `dir` equals Spark's
    * native read (the row API shares the scan's footer walk). */
  private def assembledAsNative(dir: String): Unit = {
    val native = spark.read.parquet(dir)
    val (names, recs) = ParquetFileReader.readFileRows(GraftParquetFormat.listFiles(dir).head)
    assert(names == native.columns.toSeq)
    assert(sorted(recs.map(g => Row.fromSeq(native.schema.fields.toSeq.map(f =>
      ParquetSource.externalValue(g(f.name), f.dataType))))) == sorted(native.collect().toSeq))
  }

  /** One Spark-written file of `n` rows (several row groups and pages). */
  private def sparkFile(dir: String, df: DataFrame): String = {
    df.coalesce(1).write.option("parquet.block.size", "4096")
      .option("parquet.page.size", "2048").parquet(dir)
    GraftParquetFormat.listFiles(dir).ensuring(_.size == 1).head
  }

  private val shapes = Seq(
    ("array<array<int>>",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE transform(sequence(0, id % 3), i -> " +
        "CASE WHEN (id + i) % 5 = 0 THEN NULL ELSE transform(filter(sequence(0, (id + i) % 4), " +
        "x -> x > 0), x -> IF(x = 2, NULL, CAST(id * x AS INT))) END) END", None),
    ("array<struct<a,b>>",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE transform(filter(sequence(0, id % 4), x -> x > 0), " +
        "x -> IF(x = 3, NULL, named_struct('a', CAST(id + x AS INT), " +
        "'b', IF(x = 2, NULL, concat('b', id))))) END", Some("v.a")),
    ("map<string,array<bigint>>",
      "CASE WHEN id % 9 = 0 THEN NULL ELSE map_from_arrays(" +
        "transform(sequence(0, id % 3), x -> concat('k', x)), " +
        "transform(sequence(0, id % 3), x -> CASE WHEN x = 1 THEN NULL " +
        "WHEN x = 2 THEN CAST(array() AS ARRAY<BIGINT>) " +
        "ELSE array(id, IF(id % 2 = 0, NULL, id * 2)) END)) END", None),
    ("struct<s:struct<x>>",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE named_struct('s', IF(id % 3 = 0, NULL, " +
        "named_struct('x', IF(id % 4 = 0, NULL, CAST(id AS INT)), 'y', concat('y', id)))) END",
      Some("v.s.x")),
    ("array with required elements",
      "CASE WHEN id % 6 = 0 THEN NULL ELSE filter(sequence(0, id % 4), x -> x > 0) END", None))

  shapes.zipWithIndex.foreach { case ((name, sql, nestedCol), k) =>
    test(s"Spark-written $name reads columnar and equals Spark's native read") {
      val dir = s"$tmp/shape$k"
      val path = sparkFile(dir, spark.range(0, n).selectExpr("id", s"$sql AS v"))
      assert(ParquetFileReader.readFooterOnly(path).rowGroups.size > 1)
      sameAsNative(s"$name whole", dir)(identity)
      assembledAsNative(dir)
      sameAsNative(s"$name id only", dir)(_.select("id"))
      sameAsNative(s"$name filtered", dir)(_.where(col("id").between(1000, 1100)))
      nestedCol.foreach(c => sameAsNative(s"$name $c", dir)(_.select(col("id"), col(c))))
    }
  }

  test("our writer's LIST, MAP and STRUCT columns read columnar and equal Spark's native read") {
    val sp = spark
    import sp.implicits._
    val df = (0 until n).map { i =>
      (i.toLong,
        if (i % 10 == 0) null else Seq.tabulate(i % 4)(j => if (j == 2) null else Int.box(i + j)),
        if (i % 9 == 0) null else (0 until i % 3).map(j => s"k$j" -> Long.box(i * j)).toMap,
        if (i % 7 == 0) null else (s"s$i", i % 100, i * 0.5))
    }.toDF("id", "arr", "m", "st")
    val dir = s"$tmp/ours"
    ParquetSink.write(df.coalesce(1), dir, rowGroupRows = 700).count()
    sameAsNative("ours whole", dir)(identity)
    sameAsNative("ours id only", dir)(_.select("id"))
    sameAsNative("ours st._2", dir)(_.select(col("id"), col("st._2")))
    sameAsNative("ours filtered", dir)(_.where(col("id") < 500L))
  }

  test("legacy and bare repeated shapes (parquet-mr) read columnar and equal Spark's native read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = s"$tmp/legacy"
    Files.createDirectories(Paths.get(dir))
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  repeated int32 r;
        |  repeated group g { required int32 a; optional binary b (UTF8); }
        |  optional group l2 (LIST) { repeated int32 element; }
        |  optional group la (LIST) { repeated group array { required int32 x; } }
        |  optional group mkv (MAP) {
        |    repeated group map (MAP_KEY_VALUE) { required binary key (UTF8); optional int32 value; }
        |  }
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(s"$dir/part-0.parquet")))
      .withType(schema).withPageSize(1024).withRowGroupSize(8192L).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until n).foreach { i =>
      val g = groups.newGroup().append("id", i.toLong)
      (0 until i % 3).foreach(j => g.append("r", i + j))
      (0 until i % 4).foreach { j =>
        val e = g.addGroup("g").append("a", j)
        if (j != 1) e.append("b", s"b$i")
      }
      if (i % 5 != 0) {
        val l = g.addGroup("l2")
        (0 until i % 3).foreach(j => l.append("element", i * j))
      }
      if (i % 6 != 0) {
        val l = g.addGroup("la")
        (0 until i % 2 + 1).foreach(j => l.addGroup("array").append("x", j - i))
      }
      if (i % 4 != 0) {
        val m = g.addGroup("mkv")
        (0 until i % 3).foreach { j =>
          val kv = m.addGroup("map").append("key", s"k$j")
          if (j != 1) kv.append("value", i + j)
        }
      }
      w.write(g)
    } finally w.close()
    assert(ParquetFileReader.readFooterOnly(s"$dir/part-0.parquet").rowGroups.size > 1)
    // Spark's parquet-mr record reader is the native read of these shapes
    val vectorized = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(vectorized, "false")
    try {
      assert(ours(dir).schema.catalogString == spark.read.parquet(dir).schema.catalogString)
      sameAsNative("legacy whole", dir)(identity)
      assembledAsNative(dir)
      sameAsNative("legacy id only", dir)(_.select("id"))
      sameAsNative("legacy g.b", dir)(_.select(col("id"), col("g.b")))
    } finally spark.conf.unset(vectorized)
  }

  test("a footer shape the reader cannot map fails schema inference naming the column") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = s"$tmp/unmappable"
    Files.createDirectories(Paths.get(dir))
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional group bad (LIST) { optional int32 x; } }")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(Paths.get(s"$dir/part-0.parquet")))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("id", 1L)) finally w.close()
    val e = intercept[Exception](ours(dir).schema)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("column bad")), e)
  }

  /** `df` as the one Spark-written file `dir/name.parquet`. */
  private def place(dir: String, df: DataFrame, name: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val src = sparkFile(s"$dir-$name", df)
    Files.move(Paths.get(src), Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a directory of one flat and one nested file reads through one columnar scan") {
    val dir = s"$tmp/mixed"
    val base = spark.range(0, n).selectExpr("id", "concat('s', id) AS s")
    place(dir, base, "a-flat")
    place(dir, base.selectExpr("id + 100000 AS id", "s",
      "IF(id % 4 = 0, NULL, sequence(0, id % 3)) AS arr"), "b-nested")
    sameAsNative("mixed id, s", dir)(_.select("id", "s"))
    assert(ours(dir).columns.toSeq == Seq("id", "s"))
    val all = ours(dir).select("*")
    assert(sorted(all.collect().toSeq) ==
      sorted(spark.read.parquet(dir).select("id", "s").collect().toSeq))
    assert(scans(all).forall(_.supportsColumnar))
    assert(all.count() == 2L * n)
  }

  test("a directory whose later file lacks a column reads nulls there, as Spark's native reader does") {
    val dir = s"$tmp/missing"
    val base = spark.range(0, n).selectExpr("id")
    place(dir, base.selectExpr("id", "IF(id % 4 = 0, NULL, sequence(0, id % 3)) AS arr"), "a-nested")
    place(dir, base.selectExpr("id + 100000 AS id"), "b-flat")
    assert(ours(dir).columns.toSeq == Seq("id", "arr"))
    sameAsNative("missing whole", dir)(identity)
    sameAsNative("missing arr only", dir)(_.select("arr"))
    sameAsNative("missing filtered", dir)(_.where(col("id") > 99990L))
    assert(ours(dir).where(col("arr").isNull).count() == n + n / 4)
  }

  test("a STRUCT lacking a nested field in a later file reads nulls there, as Spark's native reader does") {
    val dir = s"$tmp/missing-nested"
    val base = spark.range(0, n).selectExpr("id")
    place(dir, base.selectExpr("id",
      "IF(id % 4 = 0, NULL, named_struct('a', id, 'b', IF(id % 5 = 0, NULL, concat('s', id)), " +
        "'c', named_struct('x', id * 2, 'y', IF(id % 6 = 0, NULL, array(id))))) AS st"), "a-full")
    place(dir, base.selectExpr("id + 100000 AS id",
      "IF(id % 3 = 0, NULL, named_struct('a', id, 'c', named_struct('x', id * 3))) AS st"),
      "b-lacking")
    val schema = ours(dir).schema
    val native = spark.read.schema(schema).parquet(dir)
    Seq[DataFrame => DataFrame](identity, _.select("st.b"), _.select("st.c.y", "id"),
        _.where(col("st.b").isNull).select("id")).foreach { q =>
      assert(sorted(q(ours(dir)).collect().toSeq) == sorted(q(native).collect().toSeq),
        q(ours(dir)).queryExecution.executedPlan)
    }
    assert(ours(dir).where(col("st.b").isNull && col("st").isNotNull).count() ==
      (n - n / 3) + (n / 5 - n / 20))
    // a field the read requires fails as Spark's reader does
    val required = StructType(schema.fields.map(f => if (f.name != "st") f else
      f.copy(dataType = StructType(f.dataType.asInstanceOf[StructType].fields.map(g =>
        if (g.name == "b") g.copy(nullable = false) else g)))))
    val e = intercept[Exception](spark.read.schema(required).format(GraftParquetFormat.Name)
      .load(dir).select("st.b").collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("no field b, which the read requires")), e)
  }

  test("a partition-only projection and a count read columnar batches without vectors") {
    val dir = s"$tmp/parted"
    spark.range(0, n).selectExpr("id", "id % 3 AS p",
      "IF(id % 5 = 0, NULL, named_struct('a', id, 'b', array(id, id + 1))) AS st")
      .coalesce(1).write.partitionBy("p").parquet(dir)
    sameAsNative("partition only", dir)(_.selectExpr("CAST(p AS BIGINT) AS p"))
    sameAsNative("partition and nested", dir)(_.selectExpr("CAST(p AS BIGINT) AS p", "st"))
    assert(ours(dir).count() == n)
    assert(ours(dir).where(col("p") === 1L).count() == n / 3)
  }

  test("a whole-file partition (the shape past FooterPlanLimit) reads through the columnar reader") {
    val dir = s"$tmp/wholefile"
    val path = sparkFile(dir, spark.range(0, n).selectExpr("id",
      "IF(id % 4 = 0, NULL, map(concat('k', id), array(id, NULL))) AS m",
      "IF(id % 3 = 0, NULL, concat('s', id)) AS s"))
    val schema = ours(dir).schema
    val factory = new GraftReaderFactory(schema)
    intercept[UnsupportedOperationException](factory.createReader(GraftFilePartition(path)))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val reader = factory.createColumnarReader(GraftFilePartition(path))
    val rows =
      try Iterator.continually(reader.next()).takeWhile(identity).flatMap { _ =>
        reader.get().rowIterator().asScala.map(r => toRow(r.copy()).asInstanceOf[Row])
      }.toList
      finally reader.close()
    assert(sorted(rows) == sorted(spark.read.parquet(dir).collect().toSeq))
  }

  test("a null slot reads as its type's default, so Spark copies batch rows holding null elements") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.vectorized.ColumnarBatch
    import graft.core.{BytesVec, LongVec}
    import GraftColumnVector.{Prim, Repeated}
    // [1, null, 3], null, [], [null]: an optional list of optional bigint
    val longs = ParquetFileReader.DecodedChunk(LongVec(Array(1L, 3L)),
      Array(3, 2, 3, 0, 1, 2), Array(0, 1, 1, 0, 0, 0))
    val arr = GraftColumnVector.build(
      Repeated(ArrayType(LongType), 1, 2, 1, Seq(Prim(LongType, 3, 0))), _ => longs, 4)
    // "a", null, null, "d": an optional string
    val strs = ParquetFileReader.DecodedChunk(
      BytesVec("ad".getBytes("UTF-8"), Array(0, 1, 2)), Array(1, 0, 0, 1), null)
    val str = GraftColumnVector.build(Prim(StringType, 1, 0), _ => strs, 4)
    val el = arr.getChild(0)
    assert(el.isNullAt(1) && !el.isNullAt(2) && el.getLong(1) == 0L && el.getLong(2) == 3L)
    assert(str.isNullAt(1) && str.getUTF8String(1) == null && str.getBinary(2) == null)
    val schema = StructType(Seq(StructField("a", ArrayType(LongType)), StructField("s", StringType)))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val batch = new ColumnarBatch(Array(arr, str), 4)
    assert((0 until 4).map(i => toRow(batch.getRow(i).copy())) == Seq(
      Row(Seq(1L, null, 3L), "a"), Row(null, null), Row(Seq(), null), Row(Seq(null), "d")))
  }

  test("ChunkTool parquet-read prints our writer's LIST, MAP and STRUCT rows, nulls included") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(StructField("s", StringType), StructField("n", IntegerType))))))
    val rows = Seq(
      Row(0L, Seq(1, null, 3), Map[String, java.lang.Long]("a" -> 1L, "b" -> null), Row("x", 7)),
      Row(1L, null, Map.empty[String, Long], Row(null, null)),
      Row(2L, Seq.empty[Int], null, null),
      Row(3L, Seq(4), Map("c" -> 3L), Row("y", 8)))
    val path = s"$tmp/tool.parquet"
    ParquetFileWriter.writeFile(path, schema, rows.iterator)
    val out = new java.io.ByteArrayOutputStream
    Console.withOut(out)(graft.ChunkTool.main(Array("parquet-read", path, "3")))
    assert(out.toString("UTF-8").linesIterator.toSeq == Seq(
      "id\tarr\tm\tst",
      "0\t[1, null, 3]\t[a -> 1, b -> null]\t{s: x, n: 7}",
      "1\tnull\t[]\t{s: null, n: null}",
      "2\t[]\tnull\tnull"))
  }

  test("runtime (DPP) join-key bounds reach the tasks and narrow a row group to its pages") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // one 400,000-row group of sorted ids: several 1 MiB pages of `doc_id`
    val dir = s"$tmp/dpp-fact"
    ParquetSink.write(spark.range(0, 400000, 1, 1)
      .selectExpr("id AS doc_id", "CAST(id % 13 AS INT) AS lang"),
      dir, rowGroupRows = 1 << 20).count()
    val path = GraftParquetFormat.listFiles(dir).head
    val meta = ParquetFileReader.readFooterOnly(path)
    assert(meta.rowGroups.size == 1)
    val cm = meta.rowGroups.head.columns.head
    val fetch = new ParquetFileReader.ChunkFetcher(path)
    val (pages, overlapping) =
      try {
        val (b, rcm) = fetch.fetch(cm)
        (ParquetFileReader.pageSpans(b, rcm)._2.size,
          ParquetFileReader.pageRowRanges(b, rcm,
            ParquetFileReader.statsOverlap(cm.typ, _, 42L, 57L)).map(r => r._2 - r._1).sum)
      } finally fetch.close()
    assert(pages >= 3 && overlapping < 400000L, s"$pages pages, $overlapping rows overlap")
    val dimDir = s"$tmp/dpp-dim"
    spark.createDataFrame(Seq((42L, "keep"), (57L, "keep"), (999999999L, "drop")))
      .toDF("k", "tag").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val fact = ours(dir)
    val joined = fact.join(dim, fact("doc_id") === dim("k"))
      .where(col("tag") === "keep").select("doc_id", "lang")
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq == Seq(42L, 57L))
    val exec = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val factScan = scans(joined).find(_.scan.isInstanceOf[GraftScan])
      .getOrElse(fail(s"no GraftScan: $exec"))
    assert(factScan.scan.asInstanceOf[GraftScan].runtimeFilteredColumns == Seq("doc_id"))
    val read = factScan.metrics("numOutputRows").value
    assert(read > 0 && read <= overlapping, s"read $read rows, $overlapping overlap the keys")
  }

  test("a version 3 chunk whose levels disagree with its leaf fails with an IllegalArgumentException") {
    val df = spark.range(0, 200, 1, 1).selectExpr("id",
      "IF(id % 5 = 0, NULL, transform(sequence(0, id % 3), x -> CAST(id + x AS INT))) AS arr")
    val chunks = EncodeJob.encode(df, 0, Seq.empty, Seq("id"), chunkRows = 100).collect().toSeq
    val enc = Encoders.product[ChunkRow]
    def read(rows: Seq[ChunkRow]) =
      DecodeJob.decodeLocal(spark.createDataset(rows)(enc), df.schema)
    assert(sorted(read(chunks).collect().toSeq) == sorted(df.collect().toSeq))
    val forged = chunks.map { c =>
      if (c.column != "arr") c
      else {
        val d = ChunkCodec.decodeRepeatedChunk(BlockCodec.maybeUnwrap(c.blob))
        val short = IntVec(d.leaves(0).asInstanceOf[IntVec].values.dropRight(1))
        c.copy(blob = ChunkCodec.encodeRepeatedChunk(Array(short), d.rep, d.defs, d.numRows).blob)
      }
    }
    val e = intercept[Exception](read(forged).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("values")), e)
  }
}
