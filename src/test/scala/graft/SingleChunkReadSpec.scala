package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: chunk tables are read in ONE place, the columnar `ChunkScanExec`.
  * A boxed-row assembly or a `groupByKey` shuffle in `DecodeJob` is a
  * second read path that decodes every column of every group. */
class SingleChunkReadSpec extends AnyFunSuite {

  test("DecodeJob builds no boxed rows and no groupByKey path") {
    val file = Paths.get("src/main/scala/graft/operators/DecodeJob.scala")
    assert(Files.isRegularFile(file), s"${file.toAbsolutePath} not found")
    val lines = Files.readAllLines(file).asScala.zipWithIndex
    Seq("Row.fromSeq", "groupByKey", "Encoders.row").foreach { call =>
      val sites = lines.filter(_._1.contains(call))
      assert(sites.isEmpty, s"$call in DecodeJob:\n" +
        sites.map { case (l, i) => s"${i + 1}: ${l.trim}" }.mkString("\n"))
    }
    assert(lines.exists(_._1.contains("ChunkScan.dataFrame")))
  }
}
