package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval: `parent` is the id of the enclosing span (-1 at top
  * level) and `op` the operation the span belongs to (-1 outside any). */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the driver thread. Spans nest by call
  * structure (a span opened inside another becomes its child) and are only
  * written out when the run ends, so recording costs two clock reads and
  * one buffer append. With `enabled = false` nothing is kept, but
  * [[timed]] still returns the elapsed time, so untraced runs measure the
  * same calls the traced ones do. */
final class SpanRecorder(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var curOp = -1L

  /** Run `f` as operation `opId`; spans opened inside carry that id. */
  def op[A](opId: Long)(f: => A): A = {
    val prev = curOp
    curOp = opId
    try f finally curOp = prev
  }

  /** Run `f` under span `name`; returns its result and elapsed seconds. */
  def timed[A](name: String)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    if (enabled) open = id :: open
    val t0 = System.nanoTime()
    val a = try f finally {
      val t1 = System.nanoTime()
      if (enabled) {
        open = open.tail
        buf += Span(id, name, parent, curOp, t0, t1)
      }
    }
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def apply[A](name: String)(f: => A): A = timed(name)(f)._1

  def spans: IndexedSeq[Span] = buf.toIndexedSeq

  /** Per span name: (spans, summed duration in s, summed self time in s). */
  def summary: Map[String, (Int, Double, Double)] = {
    val kids = buf.groupBy(_.parent)
    buf.groupBy(_.name).map { case (name, ss) =>
      val self = ss.iterator.map(s => SpanRecorder.selfNs(s, kids.getOrElse(s.id, Nil).toSeq)).sum
      name -> ((ss.size, ss.iterator.map(_.durNs).sum / 1e9, self / 1e9))
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = buf.iterator.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines)
  }
}

object SpanRecorder {

  /** Self time of `parent`: its duration minus the part of its interval
    * that the union of its children covers. Children may overlap each
    * other (work started on several threads) or stick out of the parent;
    * each covered nanosecond is subtracted once. */
  def selfNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children.iterator
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (s, e) => e > s }
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    parent.durNs - covered
  }
}
