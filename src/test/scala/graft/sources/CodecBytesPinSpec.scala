package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.operators.EncodeJob

/** Byte pins for every encode path: a seeded nullable table written by
  * [[ParquetFileWriter]] under five writer configurations, and the same
  * column vectors encoded as `GC` chunk blobs (the auto-selector, every
  * codec the column's type allows, and each blob wrapped with every
  * [[BlockCodec]]); plus nested LIST / MAP / struct rows as files and as
  * `GC` array and map chunks, both from hand-shredded levels and from the
  * chunk encoder's own builders. The SHA-256 of every file and blob must match the
  * pinned value, so a refactor of the value codecs, the dictionary builder
  * or the block codec cannot change a written byte unnoticed.
  *
  * The table has a high-cardinality string column whose first row group
  * outgrows the 1 MiB dictionary limit and whose PLAIN / delta chunk
  * passes the 1 MiB page size, so pages get cut. */
class CodecBytesPinSpec extends AnyFunSuite {

  private val n = 40000
  private val rowGroupRows = 25000

  /** One nullable column: its Spark type, per-row values (null = null) and
    * the non-null values as the vector the chunk encoder takes. */
  private case class Col(name: String, dt: DataType, rows: Array[Any],
      vec: ColVec, codecs: Seq[Int]) {
    def defLevels: Array[Byte] =
      if (rows.forall(_ != null)) null
      else rows.map(v => if (v == null) 0.toByte else 1.toByte)
  }

  private lazy val cols: Seq[Col] = {
    val rnd = new scala.util.Random(20261017L)
    def nullable[A](p: Double)(gen: Int => A): Array[Any] =
      Array.tabulate[Any](n)(i => if (rnd.nextDouble() < p) null else gen(i))
    def present(rows: Array[Any]): Array[Any] = rows.filter(_ != null)
    val alnum = ('a' to 'z') ++ ('0' to '9')
    var flag = false
    val b = nullable(0.05) { _ =>
      if (rnd.nextDouble() < 0.05) flag = !flag
      flag
    }
    val i = nullable(0.1)(_ => rnd.nextInt(200) - 100)
    var acc = 0L
    val l = nullable(0.1) { _ => acc += rnd.nextInt(1000); acc }
    val f = nullable(0.1)(_ =>
      if (rnd.nextDouble() < 0.01) Float.NaN else rnd.nextFloat() * 1000f)
    val d = nullable(0.1)(_ => rnd.nextInt(50) * 0.5)
    val s = nullable(0.1)(_ => s"repo-${rnd.nextInt(300)}")
    val hc = nullable(0.1)(k =>
      f"path/$k%08d/" + Seq.fill(48)(alnum(rnd.nextInt(alnum.size))).mkString)
    val bin = nullable(0.1)(_ =>
      Array.fill[Byte](rnd.nextInt(25))(rnd.nextInt(256).toByte))
    def bytes(rows: Array[Any]): BytesVec = BytesVec.of(present(rows).map {
      case s: String => s.getBytes("UTF-8")
      case a: Array[Byte] => a
    })
    val intCodecs = Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaBinaryPacked)
    val floatCodecs = Seq(CodecId.Plain, CodecId.Dict)
    val byteCodecs = Seq(CodecId.Plain, CodecId.Dict,
      CodecId.DeltaLengthByteArray, CodecId.DeltaByteArray, CodecId.Fsst)
    Seq(
      Col("b", BooleanType, b,
        BoolVec(present(b).map(_.asInstanceOf[Boolean])),
        Seq(CodecId.Plain, CodecId.RleBool)),
      Col("i", IntegerType, i, IntVec(present(i).map(_.asInstanceOf[Int])),
        intCodecs),
      Col("l", LongType, l, LongVec(present(l).map(_.asInstanceOf[Long])),
        intCodecs),
      Col("f", FloatType, f, FloatVec(present(f).map(_.asInstanceOf[Float])),
        floatCodecs),
      Col("d", DoubleType, d,
        DoubleVec(present(d).map(_.asInstanceOf[Double])), floatCodecs),
      Col("s", StringType, s, bytes(s), byteCodecs),
      Col("hc", StringType, hc, bytes(hc), byteCodecs),
      Col("bin", BinaryType, bin, bytes(bin), byteCodecs))
  }

  private def sha(bytes: Array[Byte]): String =
    BitUtil.hexLower(
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes))

  /** name -> (page version, encoding policy, codec, bloom columns) */
  private val fileConfigs = Seq(
    "v1-plain-gzip" -> ((1, EncPolicy.Plain, PqCodec.Gzip, Set.empty[String])),
    "v2-auto-snappy-bloom" -> ((2, EncPolicy.Auto, PqCodec.Snappy, Set("s"))),
    "v2-v2default-zstd" ->
      ((2, EncPolicy.V2Default, PqCodec.Zstd, Set.empty[String])),
    "v1-auto-lz4raw" -> ((1, EncPolicy.Auto, PqCodec.Lz4Raw, Set.empty[String])),
    "v1-auto-brotli" -> ((1, EncPolicy.Auto, PqCodec.Brotli, Set.empty[String])))

  /** Hashes taken from the writer and chunk encoder before the value
    * codecs, dictionary builder and block codec moved into one core
    * layer; the two `Auto` files whose `f` chunks were BYTE_STREAM_SPLIT
    * were re-pinned when `Auto` began writing floats and doubles PLAIN. */
  private val pinned: Map[String, String] = Map(
    "chunk/b" -> "2c9c1ffed075219c28060fa6dd1c14ca9f3afa893f1e0354e34f61cf103decb4",
    "chunk/bin" -> "10e7f226165c7e6d7114ac3f682bffc36354e28041beecaecb3d800fe22462fd",
    "chunk/d" -> "6e3a995e96beeb312d6bf7842d69b6f497abe3bbc0774765bbb3e4d31228792c",
    "chunk/f" -> "e27b086a030eaed258cb05d617023a0c7f24b76d5a54e22fc0cdbfd974772a4d",
    "chunk/hc" -> "5f331204711093343a384a2ac8fa92a6144125e0f39510c62d8bfe10e18f14d0",
    "chunk/i" -> "db94046ca28558860ea7242230cb8eb21756ca40f28904a53f68570f45d04804",
    "chunk/l" -> "ff9c98d0c948db9f1e3b2b2cb6de0d25c5d0bbe1e9269e4aea0595397c9e728a",
    "chunk/s" -> "1762a4160e317262a98ec91c17eaede9ec7e3f820af5af758f53d35654e8af9f",
    "file/v1-auto-brotli" -> "bb53b72a1ddd6b8b3efdde51e5cdf02f74c1800159b07e66aef2fcbe1085248a",
    "file/v1-auto-lz4raw" -> "93e8dd2824df2b6667aea5775227e217dde325f2fb7994138b50cf2fd8ad319a",
    "file/v1-plain-gzip" -> "08bd5b2d7b1d446ce76b701434ae9340a13cd20c98be0b433b50cf061adf0f49",
    "file/v2-auto-snappy-bloom" -> "188adcb725ffd81f9dc9b257b4e59dc1a7c3f60e6525d91e2704fb55f18e78be",
    "file/v2-v2default-zstd" -> "100872872e27298a955d9adb0e8f4faa205fff112566b7a0d79d5c3933a9c00f",
    "nested/gc-array" -> "56a7ea527d9cc7456c7056cd8a0f7478a3e6a7c20b83c2f8d5c59e011832876c",
    "nested/gc-map" -> "31fd98edefbe11c64c3be25e531b2f853ad1b6b9102fbc6818dfb715d12cb7e7",
    "nested/v1-snappy" -> "57658fad084eeff227f39cdc10e3662269228afc503c62af0add50661750a4b9",
    "nested/v2-auto-zstd" -> "bf6dbec022fa5dd88ebcdff32ef7af1ece50c6b3871337d8d8e9b37b9226b8df")

  private def fileHashes(): Map[String, String] = {
    val dir = Files.createTempDirectory("codecpin")
    val schema = StructType(cols.map(c => StructField(c.name, c.dt)))
    fileConfigs.map { case (name, (version, policy, codec, blooms)) =>
      val path = dir.resolve(s"$name.parquet").toString
      ParquetFileWriter.writeFile(path, schema,
        (0 until n).iterator.map(r => Row.fromSeq(cols.map(_.rows(r)))),
        rowGroupRows = rowGroupRows, codec = codec, pageVersion = version,
        bloomCols = blooms, encPolicy = policy)
      val bytes = Files.readAllBytes(Paths.get(path))
      checkCoverage(name, bytes)
      s"file/$name" -> sha(bytes)
    }.toMap
  }

  /** The table reaches the paths it pins: the first `hc` chunk outgrows the
    * dictionary and is cut into pages. */
  private def checkCoverage(name: String, bytes: Array[Byte]): Unit = {
    val hc = ParquetFileReader.flatColumns(ParquetFileReader.readFooter(bytes), 0)
      .find(_.name == "hc").get.meta
    assert(hc.dictionaryPageOffset < 0, s"$name: hc kept its dictionary")
    assert(ParquetFileReader.pageSpans(bytes, hc)._2.size > 1,
      s"$name: hc is one page")
  }

  /** One hash per column over its auto-selected blob, that blob under
    * every block codec, and one blob per codec its type allows. */
  private def chunkHashes(): Map[String, String] = cols.map { c =>
    val defs = c.defLevels
    val auto = ChunkCodec.encodeAuto(c.vec, defLevels = defs).blob
    val blobs = auto +:
      (BlockCodec.names.keys.toSeq.sorted.map(BlockCodec.wrap(auto, _)) ++
        c.codecs.map(ChunkCodec.encodeWith(c.vec, _, defs)))
    s"chunk/${c.name}" -> sha(blobs.map(sha).mkString(",").getBytes("UTF-8"))
  }.toMap

  /** Nested rows: a LIST of nullable ints, a MAP of string to nullable
    * long and a struct, each null in some rows; as written by the file
    * writer and as `GC` array and map chunks (their rep/def shredding). */
  private lazy val nested: (StructType, Seq[Row], EncodedChunk, EncodedChunk) = {
    val rnd = new scala.util.Random(7L)
    val m = 6000
    val arrs = Seq.fill(m)(
      if (rnd.nextInt(10) == 0) null
      else Seq.fill(rnd.nextInt(4))(
        if (rnd.nextInt(6) == 0) null else Integer.valueOf(rnd.nextInt(50))))
    val maps = Seq.fill(m)(
      if (rnd.nextInt(9) == 0) null
      else (0 until rnd.nextInt(3)).map(k => s"k$k" ->
        (if (rnd.nextInt(5) == 0) null else java.lang.Long.valueOf(rnd.nextLong()))).toMap)
    val rows = (0 until m).map { r =>
      Row(arrs(r), maps(r),
        if (r % 7 == 0) null else Row(r % 100, if (r % 3 == 0) null else s"v$r"))
    }
    val schema = StructType(Seq(
      StructField("arr", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType),
        StructField("b", StringType))))))
    // shredding: def 0 null, 1 empty, 2 null element / value, 3 present
    def shred[A](slots: Seq[Seq[A]]): (Array[Byte], Array[Byte]) = {
      val rep = Array.newBuilder[Byte]
      val defs = Array.newBuilder[Byte]
      slots.foreach { s =>
        if (s == null) { rep += 0; defs += 0 }
        else if (s.isEmpty) { rep += 0; defs += 1 }
        else s.zipWithIndex.foreach { case (v, i) =>
          rep += (if (i == 0) 0 else 1).toByte
          defs += (if (v == null) 2 else 3).toByte
        }
      }
      (rep.result(), defs.result())
    }
    val (aRep, aDef) = shred(arrs)
    val elems = IntVec(arrs.filter(_ != null).flatten.filter(_ != null).map(_.intValue).toArray)
    val mapSlots = maps.map(mp => if (mp == null) null else mp.toSeq.sortBy(_._1))
    val (mRep, mDef) = shred(mapSlots.map(s => if (s == null) null else s.map(_._2)))
    val present = mapSlots.filter(_ != null).flatten
    val keys = BytesVec.of(present.map(_._1.getBytes("UTF-8")))
    val vals = LongVec(present.map(_._2).filter(_ != null).map(_.longValue).toArray)
    (schema, rows, ChunkCodec.encodeRepeatedChunk(Array(elems), aRep, aDef, m),
      ChunkCodec.encodeRepeatedChunk(Array(keys, vals), mRep, mDef, m))
  }

  private def nestedHashes(): Map[String, String] = {
    val (schema, rows, arrChunk, mapChunk) = nested
    val dir = Files.createTempDirectory("codecpin-nested")
    val files = Seq("v1-snappy" -> ((1, EncPolicy.Plain, PqCodec.Snappy)),
      "v2-auto-zstd" -> ((2, EncPolicy.Auto, PqCodec.Zstd))).map {
      case (name, (version, policy, codec)) =>
        val path = dir.resolve(s"$name.parquet").toString
        ParquetFileWriter.writeFile(path, schema, rows.iterator, codec = codec,
          pageVersion = version, encPolicy = policy)
        s"nested/$name" -> sha(Files.readAllBytes(Paths.get(path)))
    }
    (files ++ Seq("nested/gc-array" -> sha(arrChunk.blob),
      "nested/gc-map" -> sha(mapChunk.blob))).toMap
  }

  test("the chunk encoder's own LIST/MAP shredding gives the pinned blobs") {
    val (schema, rows, _, _) = nested
    val listAndMap = StructType(schema.fields.take(2))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(listAndMap)
    val in = rows.iterator.map(r =>
      toCatalyst(Row(r.get(0), r.get(1))).asInstanceOf[InternalRow])
    val out = EncodeJob.encodePartition(0, listAndMap, in,
      chunkRows = rows.size, chunkRawBytes = Long.MaxValue).toSeq
    assert(out.map(c => (c.chunkIdx, c.column)) == Seq((0, "arr"), (0, "m")))
    assert(out.map(c => sha(c.blob)) ==
      Seq(pinned("nested/gc-array"), pinned("nested/gc-map")))
  }

  test("writer files and chunk blobs are byte-identical to the pinned hashes") {
    val got = fileHashes() ++ chunkHashes() ++ nestedHashes()
    val diff = got.keys.toSeq.sorted.filter(k => !pinned.get(k).contains(got(k)))
    assert(diff.isEmpty && pinned.keySet == got.keySet,
      "hashes differ from the pins:\n" + got.toSeq.sorted.map { case (k, v) =>
        s"""    "$k" -> "$v","""
      }.mkString("\n"))
  }
}
