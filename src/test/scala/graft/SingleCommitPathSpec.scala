package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guard: every writer commits through `graft.sources.TaskCommit`. A stage
  * name (`.inprogress`) or a rename anywhere else in the main sources is a
  * second commit path. `GraftIO.scala` implements the rename primitive
  * itself over the JDK and Hadoop filesystems, so its renames are allowed. */
class SingleCommitPathSpec extends AnyFunSuite {

  test("the commit protocol lives only in TaskCommit") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def lines(p: Path) = Files.readAllLines(p).asScala.zipWithIndex
    val others = files.filterNot(_.endsWith("TaskCommit.scala"))
    val offenders = others.flatMap { p =>
      lines(p).collect {
        case (l, i) if l.contains(".inprogress") ||
            (l.contains(".rename(") && !p.endsWith("GraftIO.scala")) =>
          s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    val commit = files.find(_.endsWith("TaskCommit.scala"))
    assert(commit.exists(p => lines(p).exists(_._1.contains(".inprogress"))))
  }
}
