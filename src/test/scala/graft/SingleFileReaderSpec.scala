package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: Parquet data files are read in ONE way, columnar, and rep/def
  * levels become vectors in ONE place (`GraftColumnVector.build`), shared by
  * the file scan, the `GC` chunk scan and the library's row API. A row
  * reader over data files, a per-file flatness gate, a one-level
  * nested-vector copy or a second record assembler under the main sources
  * is a second read path that can drift from the first. */
class SingleFileReaderSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

  private def files: Seq[(Path, String)] = {
    assert(Files.isDirectory(main), s"${main.toAbsolutePath} not found")
    Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.map(p => (p, new String(Files.readAllBytes(p), "UTF-8")))
  }

  private def sites(name: String): Seq[String] = files.flatMap { case (p, text) =>
    text.linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains(name) => s"$p:${i + 1}: ${l.trim}"
    }
  }

  test("no row reader serves data files: the aggregate reader is the one PartitionReader[InternalRow]") {
    val rowReaders = files.flatMap { case (_, text) =>
      "class (\\w+)(?:(?!class )[^{])*?extends PartitionReader\\[InternalRow\\]".r
        .findAllMatchIn(text).map(_.group(1))
    }
    assert(rowReaders == Seq("GraftAggPartitionReader"), rowReaders)
    assert(sites("new PartitionReader[InternalRow]").isEmpty)
    Seq("flatOk", "isFlat", "GraftPartitionReader", "shredded(").foreach { name =>
      val at = sites(name)
      assert(at.isEmpty, s"$name is back:" + at.mkString("\n", "\n", ""))
    }
  }

  test("one nested-vector builder, called by the chunk scan and the file reader") {
    val builder = Paths.get("src/main/scala/graft/sources/GraftColumnVector.scala")
    // vectors are constructed, and Spark's array/map views built, only there
    Seq("new GraftColumnVector(", "new ColumnarArray(", "new ColumnarMap(").foreach { name =>
      val outside = files.filter { case (p, t) => p != builder && t.contains(name) }
      assert(outside.isEmpty, s"$name outside the builder: ${outside.map(_._1)}")
    }
    assert(sites("def build(").count(_.startsWith(builder.toString)) == 1)
    val callers = files.filter(_._2.contains("GraftColumnVector.build(")).map(_._1.getFileName.toString)
    assert(callers.sorted ==
      Seq("ChunkScan.scala", "GraftParquetFormat.scala", "ParquetFileIO.scala"), callers)
  }

  test("one record assembler: the row API boxes GraftColumnVector.build's vectors") {
    Seq("RReader", "buildReader", "rowValues").foreach { name =>
      val at = sites(name)
      assert(at.isEmpty, s"$name is back:" + at.mkString("\n", "\n", ""))
    }
  }
}
