package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.MinMax

/** The pushed predicate of one Parquet file scan, read by every pruning
  * tier (Hive directories, row-group stats, bloom filters, page stats).
  * `ranges`: one inclusive `[lo, hi]` per column as [[MinMax.overlaps]]
  * takes it: a `java.lang.Long` for INT32/INT64 columns, UTF-8 bytes for
  * strings, `null` when open. `probes`: the candidates of each equality/IN
  * conjunct, for the bloom tier. Every filter also stays a Spark residual,
  * so the bounds need only be a superset. */
final case class ScanBounds(ranges: Map[String, (Any, Any)] = Map.empty,
    probes: Seq[(String, Seq[Any])] = Nil) {
  import ScanBounds.{cmp, literal, step}

  /** `col` further limited to `[lo, hi]` (null = open). */
  def narrow(col: String, lo: Any, hi: Any): ScanBounds = {
    val (l0, h0) = ranges.getOrElse(col, (null, null))
    val l = if (l0 == null || (lo != null && cmp(lo, l0) > 0)) lo else l0
    val h = if (h0 == null || (hi != null && cmp(hi, h0) < 0)) hi else h0
    copy(ranges = ranges.updated(col, (l, h)))
  }

  /** An equality/IN conjunct: its `[min, max]` envelope (a gap inside it
    * costs only a missed skip) plus one bloom probe. */
  def in(col: String, values: Seq[Any]): ScanBounds =
    narrow(col, values.reduce((a, b) => if (cmp(a, b) <= 0) a else b),
      values.reduce((a, b) => if (cmp(a, b) >= 0) a else b))
      .copy(probes = probes :+ ((col, values)))

  /** Values starting with `prefix`: up to the smallest string above all
    * its extensions, open when the prefix is all 0xFF bytes. */
  def startsWith(col: String, prefix: Array[Byte]): ScanBounds = {
    val i = prefix.lastIndexWhere(_ != 0xFF.toByte)
    narrow(col, prefix, if (i < 0) null
      else prefix.take(i + 1).updated(i, (prefix(i) + 1).toByte))
  }

  /** The same bounds without `cols` (partition columns, resolved against
    * directory names at planning). */
  def withoutColumns(cols: Set[String]): ScanBounds =
    ScanBounds(ranges -- cols, probes.filterNot(p => cols(p._1)))

  /** May a Hive partition directory whose `col` value is `raw` match? */
  def admitsPartition(col: String, raw: String): Boolean =
    ranges.get(col).forall { case (lo, hi) =>
      val v: Any = (if (lo != null) lo else hi) match {
        case _: java.lang.Long => raw.toLongOption.map(Long.box).orNull
        case _ => raw.getBytes(UTF_8)
      }
      v == null || ((lo == null || cmp(v, lo) >= 0) && (hi == null || cmp(v, hi) <= 0))
    }

  /** These bounds plus one V1 filter, or None when its shape, its
    * column's type or a literal cannot prune. `>`/`<` on integers tighten
    * by one; string bounds stay inclusive. */
  def push(schema: StructType, f: Filter): Option[ScanBounds] = {
    def lit(c: String, v: Any) = literal(schema, c, v)
    f match {
      case EqualTo(c, v) => inLiterals(schema, c, Seq(v))
      case In(c, vs) => inLiterals(schema, c, vs.toSeq)
      case GreaterThan(c, v) => lit(c, v).map(x => narrow(c, step(x, 1), null))
      case GreaterThanOrEqual(c, v) => lit(c, v).map(narrow(c, _, null))
      case LessThan(c, v) => lit(c, v).map(x => narrow(c, null, step(x, -1)))
      case LessThanOrEqual(c, v) => lit(c, v).map(narrow(c, null, _))
      case StringStartsWith(c, p) => lit(c, p).collect {
        case b: Array[Byte] => startsWith(c, b)
      }
      case _ => None
    }
  }

  /** These bounds plus one runtime (DPP join-key) `=`/`IN` predicate, or
    * None; a child that is no literal stays an expression, which
    * [[ScanBounds.literal]] refuses. */
  def pushRuntime(schema: StructType, p: Predicate): Option[ScanBounds] =
    (p.name(), p.children().toSeq) match {
      case ("IN" | "=", (c: NamedReference) +: vs) if c.fieldNames.length == 1 =>
        inLiterals(schema, c.fieldNames()(0), vs.map {
          case l: Literal[_] => l.value
          case e => e
        })
      case _ => None
    }

  private def inLiterals(schema: StructType, col: String, vs: Seq[Any]): Option[ScanBounds] = {
    val xs = vs.map(literal(schema, col, _))
    if (xs.nonEmpty && xs.forall(_.isDefined)) Some(in(col, xs.flatten)) else None
  }

  /** Plan text: ` ranges=col:[lo,hi],...` and ` probes=col(count),...`. */
  def describe: String = {
    def show(b: Any): String = b match {
      case null => "*"
      case a: Array[Byte] => new String(a, UTF_8)
      case x => x.toString
    }
    ranges.map { case (c, (l, h)) => s"$c:[${show(l)},${show(h)}]" }
      .mkString(if (ranges.isEmpty) "" else " ranges=", ",", "") +
      probes.map(p => s"${p._1}(${p._2.size})")
        .mkString(if (probes.isEmpty) "" else " probes=", ",", "")
  }
}

object ScanBounds {
  val empty: ScanBounds = ScanBounds()

  /** A filter literal as a bound of `col`, the one conversion for planning
    * (V1) and runtime (V2) values: Byte/Short/Int/Long become a
    * `java.lang.Long` on an INT32/INT64 column, String and UTF8String
    * become UTF-8 bytes on a string column; anything else is None. */
  def literal(schema: StructType, col: String, v: Any): Option[Any] =
    (schema.find(_.name == col).map(_.dataType), v) match {
      case (Some(LongType | IntegerType), n: Long) => Some(n)
      case (Some(LongType | IntegerType), n @ (_: Int | _: Short | _: Byte)) =>
        Some(n.asInstanceOf[Number].longValue)
      case (Some(StringType), s: String) => Some(s.getBytes(UTF_8))
      case (Some(StringType), u: UTF8String) => Some(u.getBytes)
      case _ => None
    }

  /** The column types [[literal]] converts: INT32/INT64 and strings. */
  def pushable(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == StringType

  /** An integer bound moved by `d` unless that would wrap (a superset
    * still); byte bounds stay as they are. */
  private def step(b: Any, d: Long): Any = b match {
    case l: java.lang.Long if l != (if (d > 0) Long.MaxValue else Long.MinValue) => l + d
    case other => other
  }

  /** Order of two bounds of one column: Longs, or byte strings unsigned
    * lexicographic like the footer's byte stats. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
    case (x: Array[Byte], y: Array[Byte]) => MinMax.compareBytes(x, y)
    case _ => throw new IllegalArgumentException(s"incomparable bounds $a, $b")
  }
}
