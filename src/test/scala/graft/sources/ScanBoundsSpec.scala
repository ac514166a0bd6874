package graft.sources

import org.apache.spark.sql.connector.expressions.{Expression, Expressions, Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BytesVec, LongVec, MinMax}

/** The one pushed predicate of the Parquet file scan: the literal parser
  * both pushdown paths share, the bound arithmetic at the integer
  * extremes, and prefix bounds that cannot close. */
class ScanBoundsSpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("n", IntegerType), StructField("lang", StringType)))

  /** Bounds with byte arrays as sequences, so equal bounds compare equal. */
  private def norm(b: ScanBounds) = {
    def v(x: Any): Any = x match {
      case a: Array[Byte] => a.toSeq
      case o => o
    }
    (b.ranges.map { case (c, (l, h)) => c -> (v(l), v(h)) },
      b.probes.map { case (c, vs) => (c, vs.map(v)) })
  }

  /** A runtime literal as Spark hands it over: catalyst values. */
  private def lit(x: Any, dt: DataType): Literal[Any] = new Literal[Any] {
    override def value(): Any = x
    override def dataType(): DataType = dt
  }

  private def pred(name: String, col: String, vs: Literal[Any]*) =
    new Predicate(name, (Expressions.column(col) +: vs).toArray[Expression])

  /** A one-column footer whose row groups carry `stats`. */
  private def footer(typ: Int, stats: Seq[(Array[Byte], Array[Byte])]): PqFileMeta =
    PqFileMeta(1, Nil, 0L, stats.map(s => PqRowGroup(Seq(PqColumnMeta(typ,
      Nil, Seq("c"), 0, 0L, 0L, 0L, 0L, stats = Some(PqStats(s._1, s._2, 0L)))),
      0L, 0L)), "")

  test("planning and runtime pushdown parse one conjunct into equal bounds") {
    val builder = new GraftScanBuilder("unused", schema)
    val residual = builder.pushFilters(Array(EqualTo("id", 5L),
      In("lang", Array[Any]("de", "fr")), In("n", Array[Any](3, 1)), IsNotNull("id")))
    assert(residual.length == 4) // every filter stays a residual
    assert(builder.pushedFilters().length == 3)
    val planned = builder.build().asInstanceOf[GraftScan].scanBounds

    val scan = new GraftScan("unused", schema)
    scan.filter(Array(pred("=", "id", lit(5L, LongType)),
      pred("IN", "lang", lit(UTF8String.fromString("de"), StringType),
        lit(UTF8String.fromString("fr"), StringType)),
      pred("IN", "n", lit(3, IntegerType), lit(1, IntegerType)),
      new Predicate("IS_NOT_NULL", Array[Expression](Expressions.column("id")))))
    assert(norm(scan.scanBounds) == norm(planned))
    assert(scan.runtimeFilteredColumns == Seq("id", "lang", "n"))
    assert(norm(planned) == ((Map("id" -> ((5L, 5L)), "lang" -> (("de".getBytes.toSeq,
      "fr".getBytes.toSeq)), "n" -> ((1L, 3L))),
      Seq(("id", Seq(5L)), ("lang", Seq("de".getBytes.toSeq, "fr".getBytes.toSeq)),
        ("n", Seq(3L, 1L))))))
    // a literal of the wrong type, or a non-literal child, does not push
    assert(ScanBounds.empty.push(schema, EqualTo("id", "5")).isEmpty)
    assert(ScanBounds.empty.push(schema, In("lang", Array[Any]("de", null))).isEmpty)
    assert(ScanBounds.empty.pushRuntime(schema, new Predicate("IN",
      Array[Expression](Expressions.column("id"), Expressions.column("n")))).isEmpty)
  }

  test("exclusive integer bounds at the extremes never prune a matching row group") {
    val s = StructType(Seq(StructField("c", LongType)))
    val values = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
      Long.MaxValue - 1, Long.MaxValue)
    // one row group per value
    val meta = footer(PqType.Int64, values.map(v => MinMax.compute(LongVec(Array(v)))))
    val ops: Seq[(Long => Filter, (Long, Long) => Boolean)] = Seq(
      (GreaterThan("c", _), _ > _), (GreaterThanOrEqual("c", _), _ >= _),
      (LessThan("c", _), _ < _), (LessThanOrEqual("c", _), _ <= _))
    for (v <- values; (filter, holds) <- ops) {
      val b = ScanBounds.empty.push(s, filter(v)).get
      val kept = GraftFlatScan.pruneRowGroups(meta, null, b).toSet
      values.indices.foreach { rg =>
        if (holds(values(rg), v))
          assert(kept(rg), s"${filter(v)} pruned a group holding ${values(rg)}")
      }
    }
    // the tightening saturates instead of wrapping to the other end
    def range(f: Filter) = ScanBounds.empty.push(s, f).get.ranges("c")
    assert(range(GreaterThan("c", Long.MaxValue)) == ((Long.MaxValue, null)))
    assert(range(GreaterThan("c", Long.MaxValue - 1)) == ((Long.MaxValue, null)))
    assert(range(LessThan("c", Long.MinValue)) == ((null, Long.MinValue)))
    assert(range(LessThan("c", Long.MinValue + 1)) == ((null, Long.MinValue)))
    assert(range(GreaterThan("c", 41L)) == ((42L, null)))
  }

  test("a startsWith prefix of all 0xFF bytes stays open above") {
    val ff = Array(0xFF.toByte, 0xFF.toByte)
    val (lo, hi) = ScanBounds.empty.startsWith("c", ff).ranges("c")
    assert(lo.asInstanceOf[Array[Byte]].toSeq == ff.toSeq && hi == null)
    // a group of values that extend the prefix is kept
    val meta = footer(PqType.ByteArray, Seq(MinMax.compute(BytesVec.of(Seq(
      ff :+ 1.toByte, ff ++ ff))), MinMax.compute(BytesVec.of(Seq(Array[Byte](1))))))
    assert(GraftFlatScan.pruneRowGroups(meta, null,
      ScanBounds.empty.startsWith("c", ff)) == Seq(0))
    // an ordinary prefix closes at its successor; a trailing 0xFF carries
    val up = ScanBounds.empty.push(schema, StringStartsWith("lang", "ab")).get
      .ranges("lang")._2.asInstanceOf[Array[Byte]]
    assert(new String(up, "UTF-8") == "ac")
    val carried = ScanBounds.empty.startsWith("c", Array('a'.toByte, 0xFF.toByte))
      .ranges("c")._2.asInstanceOf[Array[Byte]]
    assert(carried.toSeq == Seq('b'.toByte))
  }
}
