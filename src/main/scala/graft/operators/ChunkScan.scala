package graft.operators

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeSet, If, In, Literal}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan,
  SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.core.{BlockCodec, ChunkCodec}
import graft.sources.GraftColumnVector

/** Stats range of a chunk read: keep the row ranges whose `colIdx` chunk
  * may hold a value in [lower, upper] (bounds as [[graft.core.MinMax]]
  * takes them; null = open). */
final case class ChunkRange(colIdx: Int, lower: Any, upper: Any)

/** Read of a chunk table (the child, a `Dataset[ChunkRow]`) as rows of the
  * flat schema `output`, optionally pruned by a stats range. The node
  * reads every chunk field of its child, so column pruning stops above it;
  * [[ChunkScanStrategy]] does the pruning instead. */
final case class ChunkScan(output: Seq[Attribute], range: Option[ChunkRange],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override lazy val references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): ChunkScan =
    copy(child = newChild)
}

object ChunkScan {
  /** The chunk fields the scan reads. */
  val Fields: Seq[String] = Seq("partId", "chunkIdx", "colIdx", "physicalType",
    "numValues", "numNulls", "minStat", "maxStat", "blob")

  /** `chunks` read as rows of `schema`, under [[DecodeJob.decodeLocal]]'s
    * same-partition contract. */
  def dataFrame(chunks: Dataset[ChunkRow], schema: StructType,
      range: Option[ChunkRange]): DataFrame = {
    val spark = chunks.sparkSession
    ChunkScanStrategy.install(spark)
    val rows = chunks.queryExecution.analyzed
    val child = Project(Fields.map(f => rows.output.find(_.name == f).getOrElse(
      throw new IllegalArgumentException(s"chunk table has no $f column"))), rows)
    new org.apache.spark.sql.classic.Dataset[Row](spark,
      ChunkScan(DataTypeUtils.toAttributes(schema), range, child), Encoders.row(schema))
  }
}

/** Plans [[ChunkScan]] as `FileSourceStrategy` plans a file relation: the
  * projections and filters above the scan stay Spark operators, and the
  * exec gets only the columns they reference. */
object ChunkScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, scan: ChunkScan) =>
      val used = AttributeSet((projects ++ filters).flatMap(_.references))
      val cols = scan.output.filter(used.contains)
      val fields = cols.map(scan.output.indexOf)
      // the child passes on only the blobs of required columns: the rest
      // would be copied out of the cache and into batches for nothing
      val colIdx = scan.child.output.find(_.name == "colIdx").get
      val none = Literal(null, BinaryType)
      val masked = scan.child.output.map {
        case b if b.name == "blob" => Alias(if (fields.isEmpty) none
          else If(In(colIdx, fields.map(Literal(_))), b, none), "blob")()
        case a => a
      }
      val exec = ChunkScanExec(cols, fields, scan.output.length, scan.range,
        ProjectExec(masked, planLater(scan.child)))
      val filtered = filters.reduceOption(And).fold[SparkPlan](exec)(FilterExec(_, exec))
      (if (projects.map(_.toAttribute) == cols) filtered
       else ProjectExec(projects, filtered)) :: Nil
    case _ => Nil
  }

  /** Add the strategy to `spark` once (Pathling's `SqlStrategy.setup` pattern). */
  def install(spark: SparkSession): Unit = synchronized {
    val s = spark.experimental
    if (!s.extraStrategies.contains(this)) s.extraStrategies = this +: s.extraStrategies
  }
}

/** Columnar chunk read. Inside each partition of the child it groups the
  * chunk rows by (partId, chunkIdx), requires every group complete (the
  * same-partition contract), drops the groups whose range-column stats
  * rule the range out, and decodes only the `fields` columns of the rest
  * into one [[ColumnarBatch]] of [[GraftColumnVector]]s per group. With no
  * column required (`count()`), a group answers from its `numValues`.
  *
  * @param fields schema ordinal of each `output` column
  * @param numColumns width of the chunk table's schema */
final case class ChunkScanExec(output: Seq[Attribute], fields: Seq[Int],
    numColumns: Int, range: Option[ChunkRange], child: SparkPlan)
    extends UnaryExecNode {

  override def supportsColumnar: Boolean = true

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "groups" -> SQLMetrics.createMetric(sparkContext, "chunk groups seen"),
    "pruned" -> SQLMetrics.createMetric(sparkContext, "chunk groups pruned by stats"),
    "decoded" -> SQLMetrics.createMetric(sparkContext, "column chunks decoded"),
    "decodeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "decode time"))

  override def simpleString(maxFields: Int): String =
    s"ChunkScanExec ${output.mkString("[", ",", "]")}" + range.fold("")(r => s" range=$r")

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(s"$nodeName is columnar only")

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val m = metrics
    val ords = ChunkScan.Fields.map(f => child.output.indexWhere(_.name == f)).toArray
    val cols = fields.toArray
    val types = output.map(_.dataType).toArray
    val (n, keep) = (numColumns, range)
    child.executeColumnar().mapPartitions { batches =>
      val groups = ChunkScanExec.readGroups(batches, ords, keep)
      groups.foreach { case (at, g) => ChunkScanExec.requireComplete(at, g, n) }
      groups.iterator.flatMap { case (_, g) =>
        ChunkScanExec.scanGroup(g, cols, types, keep, m)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ChunkScanExec =
    copy(child = newChild)
}

object ChunkScanExec {

  /** One chunk row, as far as pruning and decoding need it. The blob is
    * present only for required columns (the child masks the others), the
    * stats only for the range column. */
  private final class Chunk(val colIdx: Int, val physicalType: Int,
      val numValues: Long, val numNulls: Long, val minStat: Array[Byte],
      val maxStat: Array[Byte], val blob: Array[Byte])

  /** The partition's chunk rows grouped by (partId, chunkIdx), in first-
    * seen order. Each batch is copied out before the next is pulled (a
    * row-to-columnar child reuses its vectors). */
  private def readGroups(batches: Iterator[ColumnarBatch], ords: Array[Int],
      range: Option[ChunkRange]): Seq[((Int, Int), mutable.ArrayBuffer[Chunk])] = {
    val statCol = range.fold(-1)(_.colIdx)
    val groups = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[Chunk]]
    batches.foreach { b =>
      val v = ords.map(b.column)
      def bytes(c: ColumnVector, r: Int): Array[Byte] =
        if (c.isNullAt(r)) null else c.getBinary(r)
      var r = 0
      while (r < b.numRows) {
        val ci = v(2).getInt(r)
        val stats = ci == statCol
        groups.getOrElseUpdate((v(0).getInt(r), v(1).getInt(r)),
          mutable.ArrayBuffer.empty[Chunk]) += new Chunk(ci, v(3).getInt(r),
          v(4).getLong(r), v(5).getLong(r), if (stats) bytes(v(6), r) else null,
          if (stats) bytes(v(7), r) else null, bytes(v(8), r))
        r += 1
      }
    }
    groups.toSeq
  }

  /** One chunk per column, all of one row count, or the same-partition
    * contract is broken. */
  private def requireComplete(at: (Int, Int), g: mutable.ArrayBuffer[Chunk],
      n: Int): Unit = {
    val where = s"partId=${at._1}, chunkIdx=${at._2}"
    require(g.map(_.colIdx).sorted == (0 until n),
      s"expected $n column chunks, got colIdx ${g.map(_.colIdx).sorted.mkString(",")} " +
        s"($where — for decodeLocal all columns of a row range must share a partition)")
    require(g.forall(_.numValues == g.head.numValues),
      s"row-count mismatch in chunk group ($where)")
  }

  /** The group's batch, or nothing when its stats rule the range out. */
  private def scanGroup(g: mutable.ArrayBuffer[Chunk], cols: Array[Int],
      types: Array[DataType], range: Option[ChunkRange],
      m: Map[String, SQLMetric]): Iterator[ColumnarBatch] = {
    m("groups") += 1
    val kept = range.forall { r =>
      val c = g.find(_.colIdx == r.colIdx).get
      DecodeJob.statsOverlap(c.numValues, c.numNulls, c.physicalType,
        c.minStat, c.maxStat, r.lower, r.upper)
    }
    if (!kept) { m("pruned") += 1; return Iterator.empty }
    val rows = g.head.numValues.toInt
    val t0 = System.nanoTime()
    val vectors = cols.indices.map { i =>
      decodeColumn(types(i), g.find(_.colIdx == cols(i)).get.blob, rows): ColumnVector
    }.toArray
    m("decoded") += cols.length
    m("decodeTime") += System.nanoTime() - t0
    Iterator.single(new ColumnarBatch(vectors, rows))
  }

  /** One column chunk as a vector of `rows` rows. */
  private def decodeColumn(dt: DataType, stored: Array[Byte],
      rows: Int): GraftColumnVector = {
    require(stored != null, s"$dt chunk without a blob")
    val blob = BlockCodec.maybeUnwrap(stored)
    val (vec, n) = dt match {
      case at: ArrayType if ChunkCodec.isArrayChunk(blob) =>
        val d = ChunkCodec.decodeArrayChunk(blob)
        (GraftColumnVector.list(at, d.elems, d.rep, d.defs, d.numRows), d.numRows)
      case mt: MapType if ChunkCodec.isMapChunk(blob) =>
        val d = ChunkCodec.decodeMapChunk(blob)
        (GraftColumnVector.map(mt, d.keys, d.vals, d.rep, d.defs, d.numRows), d.numRows)
      case _: ArrayType | _: MapType =>
        throw new IllegalArgumentException(s"$dt column without a nested chunk")
      case _ =>
        val d = ChunkCodec.decodeWithLevels(blob)
        val defs = if (d.defLevels == null) null else d.defLevels.map(_.toInt)
        (new GraftColumnVector(dt, d.vec, defs, 1), d.numRows)
    }
    require(n == rows, s"row-count mismatch in chunk group: $dt chunk has $n, expected $rows")
    vec
  }
}
