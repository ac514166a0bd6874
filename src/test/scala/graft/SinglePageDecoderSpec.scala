package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: the Parquet sources decode pages in ONE place
  * (`ParquetFileReader.decodeChunk`). A second call to any Parquet value
  * decoder, or a second page-header loop, under `graft/sources` is a
  * second page decoder that can drift from the first. */
class SinglePageDecoderSpec extends AnyFunSuite {

  test("one Parquet page decoder: each value decoder and the page walk appear once") {
    val root = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val lines = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (s"$p:${i + 1}", l) })
    val calls = Seq("DeltaBinaryPackedDecoder.decode",
      "DeltaLengthByteArrayCodec.decode", "DeltaByteArrayCodec.decode",
      "ByteStreamSplitCodec.decodeFloats", "ParquetMeta.parsePageHeader(")
    calls.foreach { call =>
      val sites = lines.filter(_._2.contains(call))
      assert(sites.size <= 1, s"$call appears ${sites.size} times:\n" +
        sites.map { case (at, l) => s"$at: ${l.trim}" }.mkString("\n"))
    }
    assert(lines.exists(_._2.contains("ParquetMeta.parsePageHeader(")))
  }
}
