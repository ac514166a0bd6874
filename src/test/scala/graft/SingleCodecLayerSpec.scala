package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.sources.{ParquetFileReader, ParquetFileWriter, PqCodec}

/** Guard: `graft.core` is the engine's only value-codec layer. Both
  * containers (`GC` chunk blobs and Parquet files) compress through
  * `BlockCodec` and encode and decode values through `ValueCodec`; a
  * compression-library call or a value-codec call anywhere else is a
  * second codec layer that can drift from the first. */
class SingleCodecLayerSpec extends AnyFunSuite {

  private lazy val mainLines: Seq[(String, String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (p.getFileName.toString, s"$p:${i + 1}", l) })
  }

  private def listing(sites: Seq[(String, String, String)]): String =
    sites.map { case (_, at, l) => s"$at: ${l.trim}" }.mkString("\n")

  test("compression libraries are called only from BlockCodec") {
    val calls = Seq("Snappy.compress", "Snappy.uncompress", "Zstd.compress",
      "Zstd.decompress", "GZIPOutputStream", "GZIPInputStream", "LZ4Factory",
      "LZ4Frame", "Brotli.compress", "Brotli.decompress")
    calls.foreach { call =>
      val sites = mainLines.filter(l => l._3.contains(call) && l._1 != "BlockCodec.scala")
      assert(sites.isEmpty, s"$call outside BlockCodec.scala:\n${listing(sites)}")
    }
    assert(mainLines.exists(l => l._1 == "BlockCodec.scala" && l._3.contains("LZ4Factory")))
  }

  test("each value-codec entry point is called from one place") {
    val codecFiles = Set("Delta.scala", "Fsst.scala", "ByteStreamSplit.scala",
      "RleHybrid.scala")
    val calls = Seq("RleBoolCodec.encode", "RleBoolCodec.decode",
      "DeltaBinaryPackedDecoder.decode", "new DeltaBinaryPackedEncoder",
      "DeltaLengthByteArrayCodec.encode", "DeltaLengthByteArrayCodec.decode",
      "DeltaByteArrayCodec.encode", "DeltaByteArrayCodec.decode",
      "ByteStreamSplitCodec.encode", "ByteStreamSplitCodec.decode")
    calls.foreach { call =>
      val sites = mainLines.filter(l => l._3.contains(call) && !codecFiles(l._1))
      assert(sites.size <= 1, s"$call appears ${sites.size} times:\n${listing(sites)}")
    }
  }

  test("GC byte chunks decode in one pass, with no page join") {
    def lines(file: String) = mainLines.filter(_._1 == file)
    // FSST expands codes straight into the arena: no sizing pass, and the
    // length stream is walked once by the shared delta decoder
    Seq("decompressedSize", "skipDeltaStream").foreach { name =>
      val sites = lines("Fsst.scala").filter(_._3.contains(name))
      assert(sites.isEmpty, s"$name in Fsst.scala:\n${listing(sites)}")
    }
    // every page of a chunk lands in one accumulator: no per-page join
    val joins = lines("ChunkCodec.scala").filter(_._3.contains("concat("))
    assert(joins.isEmpty, s"a page join in ChunkCodec.scala:\n${listing(joins)}")
    assert(lines("ChunkCodec.scala").exists(_._3.contains("values.decodePage(")))
  }

  test("float and double dictionaries keep every NaN payload bit-exactly") {
    // two quiet NaNs that differ only in payload, repeated so both
    // containers pick the dictionary path
    val f1 = java.lang.Float.intBitsToFloat(0x7fc00001)
    val f2 = java.lang.Float.intBitsToFloat(0x7fc00002)
    val d1 = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val d2 = java.lang.Double.longBitsToDouble(0x7ff8000000000002L)
    val n = 200
    val fs = Array.tabulate(n)(i => if (i % 2 == 0) f1 else f2)
    val ds = Array.tabulate(n)(i => if (i % 2 == 0) d1 else d2)
    def fbits(a: Array[Float]) = a.map(java.lang.Float.floatToRawIntBits).toSeq
    def dbits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    def same[A](what: String, got: Seq[A], exp: Seq[A]): Unit =
      assert(got.sameElements(exp), s"$what: payloads ${got.distinct} for ${exp.distinct}")

    // GC chunk
    val fChunk = ChunkCodec.decode(ChunkCodec.encodeWith(FloatVec(fs), CodecId.Dict))
    same("GC float", fbits(fChunk.asInstanceOf[FloatVec].values), fbits(fs))
    val dChunk = ChunkCodec.decode(ChunkCodec.encodeWith(DoubleVec(ds), CodecId.Dict))
    same("GC double", dbits(dChunk.asInstanceOf[DoubleVec].values), dbits(ds))

    // Parquet file
    val path = Files.createTempDirectory("nanpayload").resolve("n.parquet").toString
    ParquetFileWriter.writeFile(path,
      StructType(Seq(StructField("f", FloatType), StructField("d", DoubleType))),
      (0 until n).iterator.map(i => Row(fs(i), ds(i))), codec = PqCodec.Snappy)
    val bytes = Files.readAllBytes(Paths.get(path))
    val cols = ParquetFileReader.flatColumns(ParquetFileReader.readFooter(bytes), 0)
    assert(cols.forall(_.meta.dictionaryPageOffset >= 0), "not dictionary-encoded")
    val (fv, _) = ParquetFileReader.readColumnVec(bytes, cols(0))
    same("file float", fbits(fv.asInstanceOf[FloatVec].values), fbits(fs))
    val (dv, _) = ParquetFileReader.readColumnVec(bytes, cols(1))
    same("file double", dbits(dv.asInstanceOf[DoubleVec].values), dbits(ds))
  }
}
