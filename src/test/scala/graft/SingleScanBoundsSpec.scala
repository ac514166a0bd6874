package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: the Parquet file scan carries its pushed predicate in one
  * `graft.sources.ScanBounds`. A second bound map, a second V1 filter
  * parser or a second stats adapter under the main sources is a second
  * pushdown path that can drift from the first. */
class SingleScanBoundsSpec extends AnyFunSuite {

  private def lines(root: Path): Seq[(Path, Int, String)] = {
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .toSeq.flatMap(p => Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (p, i + 1, l) })
  }

  private def show(sites: Seq[(Path, Int, String)]) =
    sites.map { case (p, i, l) => s"$p:$i: ${l.trim}" }.mkString("\n", "\n", "")

  test("one pushed-predicate type: one bounds map, one parser, one stats adapter") {
    val main = lines(Paths.get("src/main/scala"))
    Seq("strRanges", "eqProbes", "intStatsOverlap", "rowGroupsInRange(").foreach { name =>
      val sites = main.filter(_._3.contains(name))
      assert(sites.isEmpty, s"$name is back:" + show(sites))
    }
    val v1 = main.filter(s => "\\b(EqualTo|In)\\(".r.findFirstIn(s._3).isDefined)
    assert(v1.nonEmpty, "no V1 filter parser found")
    assert(v1.forall(_._1.endsWith("ScanBounds.scala")),
      "V1 EqualTo/In matched outside ScanBounds:" + show(v1))
    val overlaps = lines(Paths.get("src/main/scala/graft/sources"))
      .filter(_._3.contains("MinMax.overlaps("))
    assert(overlaps.size <= 1, "more than one stats adapter:" + show(overlaps))
  }
}
