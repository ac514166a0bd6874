package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: LIST and MAP columns take one repeated-column path — one set of
  * leaf buffers (the flat builders), one repeated builder, one nested chunk
  * codec, one hash and one vector factory. A LIST-only or MAP-only copy of
  * any of them under the main sources is a second shredding that can drift
  * from the first. */
class SingleShredSpec extends AnyFunSuite {

  private def lines(root: Path): Seq[(Path, Int, String)] = {
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (p, i + 1, l) })
  }

  private def show(sites: Seq[(Path, Int, String)]) =
    sites.map { case (p, i, l) => s"$p:$i: ${l.trim}" }.mkString("\n", "\n", "")

  test("one repeated-column path for LIST and MAP") {
    val main = lines(Paths.get("src/main/scala"))
    Seq("ElemBuf", "buildArray(", "buildMap(",
      "encodeArrayChunk", "encodeMapChunk", "decodeArrayChunk",
      "decodeMapChunk", "DecodedArray", "DecodedMap", "isArrayChunk",
      "isMapChunk", "sha256HexPair", "GraftColumnVector.list(",
      "GraftColumnVector.map(").foreach { name =>
      val sites = main.filter(_._3.contains(name))
      assert(sites.isEmpty, s"$name is back:" + show(sites))
    }
    val contract = main.filter(_._3.contains("\"LIST element\""))
    assert(contract.map(_._1).distinct.size == 1,
      "the LIST element type contract is not defined in exactly one file:" +
        show(contract))
  }
}
