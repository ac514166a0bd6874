package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.operators.{ChunkRow, DecodeJob}
import graft.sources.{ParquetFileReader, PqColumnMeta, PqFileMeta, PqRowGroup,
  PqStats, PqType}

/** Property test of the one stats-range predicate, [[MinMax.overlaps]],
  * through every adapter over it: the `GC` chunk test
  * (`DecodeJob.statsOverlap`), the page-level file tests
  * (`statsOverlap`, `byteStatsOverlap`) and the row-group file tests
  * (`rowGroupsOverlapping`, `rowGroupsInRangeBytes`).
  *
  * Seeded random vectors with nulls, all-null chunks, ±0.0, NaN, empty
  * stats, open bounds and byte values long enough to have truncated stats
  * are summarized by [[MinMax.compute]] and checked against a naive oracle,
  * "some value lies in [lo, hi]", both ways: an adapter never prunes a
  * vector that holds an in-range value, and it prunes whenever the exact
  * min/max are disjoint from the bounds (for byte vectors, whenever the
  * stats are exact: untruncated, with a max other than ""). */
class StatsOverlapSpec extends AnyFunSuite {

  private val rnd = new scala.util.Random(20261019L)
  private val Trials = 3000

  /** A chunk row carrying only what the chunk adapter reads. */
  private def chunk(pt: Int, nonNull: Int, nulls: Int,
      st: (Array[Byte], Array[Byte])): ChunkRow =
    ChunkRow(0, 0, 0, "c", pt, "", nonNull + nulls.toLong, nulls.toLong, 0L,
      0L, 0L, 0, st._1, st._2, "", Array.emptyByteArray)

  /** One-column footer whose row groups carry `stats` (None = no stats). */
  private def footer(typ: Int, stats: Seq[Option[PqStats]]): PqFileMeta =
    PqFileMeta(1, Nil, 0L, stats.map(s => PqRowGroup(Seq(PqColumnMeta(typ,
      Nil, Seq("c"), 0, 0L, 0L, 0L, 0L, stats = s)), 0L, 0L)), "")

  private def maybe[A](p: Double)(a: => A): Option[A] =
    if (rnd.nextDouble() < p) None else Some(a)

  test("numeric adapters: never prune an in-range value, prune disjoint stats") {
    val types = Seq(PhysicalType.Int32, PhysicalType.Int64, PhysicalType.Float,
      PhysicalType.Double)
    var pruned = 0
    (0 until Trials).foreach { t =>
      val pt = types(t % types.size)
      val span = if (rnd.nextBoolean()) 20 else 2000
      def draw(): Double = pt match {
        case PhysicalType.Int32 => (rnd.nextInt(span) - span / 2).toDouble
        case PhysicalType.Int64 =>
          (rnd.nextInt(span) - span / 2).toLong * 3000000007L.toDouble
        case _ => rnd.nextInt(8) match {
          case 0 => -0.0
          case 1 => 0.0
          case 2 => Double.NaN
          case _ => (rnd.nextDouble() - 0.5) * span
        }
      }
      val n = if (rnd.nextInt(10) == 0) 0 else 1 + rnd.nextInt(30)
      val nulls = if (n == 0 || rnd.nextBoolean()) rnd.nextInt(5) else 0
      val vs = Array.fill(n)(draw()).map(v =>
        if (pt == PhysicalType.Float) v.toFloat.toDouble else v)
      val vec: ColVec = pt match {
        case PhysicalType.Int32 => IntVec(vs.map(_.toInt))
        case PhysicalType.Int64 => LongVec(vs.map(_.toLong))
        case PhysicalType.Float => FloatVec(vs.map(_.toFloat))
        case _ => DoubleVec(vs)
      }
      val exact = MinMax.compute(vec)
      val st = if (rnd.nextInt(20) == 0) {
        // one stat side omitted
        if (rnd.nextBoolean()) (Array.emptyByteArray, exact._2)
        else (exact._1, Array.emptyByteArray)
      } else exact
      val lo = maybe(0.15)(draw()).filterNot(_.isNaN)
      val hi = maybe(0.15)(draw()).filterNot(_.isNaN)
      def bound(b: Option[Double]): Any = b.map { v =>
        pt match {
          case PhysicalType.Int32 | PhysicalType.Int64 => java.lang.Long.valueOf(v.toLong)
          case _ => java.lang.Double.valueOf(v)
        }
      }.orNull
      val (loB, hiB) = (bound(lo), bound(hi))
      def num(b: Any, open: Double): Double =
        if (b == null) open else b.asInstanceOf[Number].doubleValue()
      val (l, h) = (num(loB, Double.NegativeInfinity), num(hiB, Double.PositiveInfinity))
      val real = vs.filterNot(_.isNaN)
      val inRange = real.exists(v => v >= l && v <= h)
      val stated = st._1.nonEmpty && st._2.nonEmpty
      val disjoint = stated && real.nonEmpty && (real.max < l || real.min > h)
      val c = chunk(pt, n, nulls, st)
      val keepChunk = DecodeJob.statsOverlap(c, loB, hiB)
      val ctx = s"type $pt values ${vs.toSeq} nulls $nulls bounds [$loB, $hiB]"
      if (inRange) assert(keepChunk, s"chunk pruned an in-range value: $ctx")
      if (n == 0) assert(!keepChunk, s"all-null chunk kept: $ctx")
      if (disjoint) assert(!keepChunk, s"disjoint chunk kept: $ctx")
      if (!keepChunk) pruned += 1
      // the file adapters: INT32/INT64 stats with long bounds, open ends
      // as the scan passes them (null)
      if (pt == PhysicalType.Int32 || pt == PhysicalType.Int64) {
        val pst = PqStats(st._1, st._2, nulls.toLong)
        val typ = if (pt == PhysicalType.Int32) PqType.Int32 else PqType.Int64
        val keepPage = ParquetFileReader.statsOverlap(typ, pst, loB, hiB)
        // an end at the type's extreme reads like an open one
        assert(keepPage == ParquetFileReader.statsOverlap(typ, pst,
          if (loB == null) Long.MinValue else loB,
          if (hiB == null) Long.MaxValue else hiB), s"extreme bound: $ctx")
        val meta = footer(typ, Seq(Some(pst), None, Some(PqStats(
          Array.emptyByteArray, Array.emptyByteArray, 1L))))
        val rgs = ParquetFileReader.rowGroupsOverlapping(meta, "c", loB, hiB)
        assert(rgs.contains(1) && rgs.contains(2), s"stat-less group pruned: $ctx")
        if (inRange) assert(keepPage && rgs.contains(0), s"file pruned an in-range value: $ctx")
        if (disjoint) assert(!keepPage && !rgs.contains(0), s"disjoint file stats kept: $ctx")
      }
    }
    assert(pruned > Trials / 10, s"only $pruned of $Trials chunks pruned")
  }

  test("byte adapters: truncated stats stay sound, exact stats prune") {
    val alphabet = "abcéÿ".getBytes("UTF-8") // includes bytes >= 0x80
    def draw(long: Boolean): Array[Byte] = {
      val len = if (long) 60 + rnd.nextInt(30) else rnd.nextInt(6)
      val prefix = if (long) Array.fill[Byte](56)(0xFF.toByte) else Array.emptyByteArray
      prefix ++ Array.fill(math.max(0, len - prefix.length))(
        alphabet(rnd.nextInt(alphabet.length)))
    }
    var pruned = 0
    (0 until Trials).foreach { _ =>
      val long = rnd.nextInt(4) == 0
      val n = if (rnd.nextInt(10) == 0) 0 else 1 + rnd.nextInt(20)
      val nulls = if (n == 0 || rnd.nextBoolean()) rnd.nextInt(5) else 0
      val vs = Array.fill(n)(draw(long))
      val st = MinMax.compute(BytesVec.of(vs))
      // exact: untruncated, and a max other than "" (an empty stat reads
      // as absent, so a chunk of empty strings has no usable max)
      val exactStats = vs.forall(_.length <= MinMax.MaxByteStat) && st._2.nonEmpty
      val lo = maybe(0.15)(draw(long && rnd.nextBoolean()))
      val hi = maybe(0.15)(draw(long && rnd.nextBoolean()))
      def ge(a: Array[Byte], b: Array[Byte]) = MinMax.compareBytes(a, b) >= 0
      val inRange = vs.exists(v => lo.forall(ge(v, _)) && hi.forall(ge(_, v)))
      val min = vs.reduceOption((a, b) => if (ge(b, a)) a else b)
      val max = vs.reduceOption((a, b) => if (ge(a, b)) a else b)
      val disjoint = exactStats && min.nonEmpty &&
        (hi.exists(h => !ge(h, min.get)) || lo.exists(l => !ge(max.get, l)))
      val (loB, hiB) = (lo.orNull, hi.orNull)
      val ctx = s"values ${vs.map(_.toSeq).toSeq} nulls $nulls bounds " +
        s"[${lo.map(_.toSeq)}, ${hi.map(_.toSeq)}]"
      // chunk adapter
      val keepChunk = DecodeJob.statsOverlap(chunk(PhysicalType.Bytes, n, nulls, st), loB, hiB)
      if (inRange) assert(keepChunk, s"chunk pruned an in-range value: $ctx")
      if (disjoint) assert(!keepChunk, s"disjoint chunk kept: $ctx")
      if (n == 0) assert(!keepChunk, s"all-null chunk kept: $ctx")
      if (!keepChunk) pruned += 1
      // page and row-group adapters
      val pst = PqStats(st._1, st._2, nulls.toLong)
      val keepPage = ParquetFileReader.byteStatsOverlap(pst, loB, hiB)
      val meta = footer(PqType.ByteArray, Seq(Some(pst), None))
      val rgs = ParquetFileReader.rowGroupsInRangeBytes(meta, "c", loB, hiB)
      assert(rgs.contains(1), s"stat-less group pruned: $ctx")
      if (inRange) assert(keepPage && rgs.contains(0), s"file pruned an in-range value: $ctx")
      if (disjoint) assert(!keepPage && !rgs.contains(0), s"disjoint file stats kept: $ctx")
    }
    assert(pruned > Trials / 10, s"only $pruned of $Trials chunks pruned")
    // String bounds are their UTF-8 bytes
    val st = MinMax.compute(BytesVec.of(Array("m".getBytes("UTF-8"), "p".getBytes("UTF-8"))))
    val c = chunk(PhysicalType.Bytes, 2, 0, st)
    assert(DecodeJob.statsOverlap(c, "n", "o"))
    assert(!DecodeJob.statsOverlap(c, "q", null))
    assert(!DecodeJob.statsOverlap(c, null, "l"))
  }
}
