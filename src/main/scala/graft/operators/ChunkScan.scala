package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, RowToColumnarExec,
  SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

import graft.core.{BlockCodec, ChunkCodec}
import graft.sources.GraftColumnVector
import graft.sources.GraftColumnVector.{Prim, Repeated}
import graft.sources.ParquetFileReader.DecodedChunk

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
    "numValues", "numNulls", "rawBytes", "minStat", "maxStat", "blob")

  /** `chunks` read as rows of `schema`, under [[DecodeJob.decodeLocal]]'s
    * same-partition contract. */
  def dataFrame(chunks: Dataset[ChunkRow], schema: StructType,
      range: Option[ChunkRange]): DataFrame = {
    val spark = chunks.sparkSession
    GraftStrategies.install(spark)
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
      val exec = ChunkScanExec(cols, fields, scan.output.length, scan.range,
        planLater(scan.child))
      val filtered = filters.reduceOption(And).fold[SparkPlan](exec)(FilterExec(_, exec))
      (if (projects.map(_.toAttribute) == cols) filtered
       else ProjectExec(projects, filtered)) :: Nil
    case _ => Nil
  }
}

/** Columnar chunk read. Inside each partition of the child it groups the
  * chunk rows by (partId, chunkIdx), requires every group complete (the
  * same-partition contract), drops the groups whose range-column stats
  * rule the range out, and decodes only the `fields` columns of the rest
  * into one [[ColumnarBatch]] of [[GraftColumnVector]]s per group. With no
  * column required (`count()`), a group answers from its `numValues`.
  *
  * The decoded partitions are then packed into at most one task per slot
  * (`spark.sql.leafNodeDefaultParallelism`, else the default
  * parallelism): a lookup whose groups are mostly pruned costs a few
  * tasks, not one per child partition.
  *
  * The child's chunk rows are read in whichever form it produces them:
  * rows (a cached chunk table's `InMemoryTableScanExec`) or batches (a
  * stored one's vectorized parquet scan), and a blob is copied out only
  * for a required column of a group not already pruned.
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
    "blobBytes" -> SQLMetrics.createSizeMetric(sparkContext, "blob bytes read"),
    "rawBytes" -> SQLMetrics.createSizeMetric(sparkContext, "decoded raw bytes"),
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
    val rows =
      if (child.supportsColumnar)
        child.executeColumnar().mapPartitions(_.flatMap(_.rowIterator().asScala))
      else child.execute()
    val batches = rows.mapPartitions { chunkRows =>
      val groups = ChunkScanExec.readGroups(chunkRows, ords, cols.toSet, keep, m)
      groups.foreach { case (at, g) => ChunkScanExec.requireComplete(at, g.chunks, n) }
      groups.iterator.flatMap { case (_, g) => ChunkScanExec.scanGroup(g, cols, types, m) }
    }
    // packed after grouping, so the same-partition check still sees each
    // child partition on its own
    val slots = conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
      .getOrElse(sparkContext.defaultParallelism)
    if (batches.getNumPartitions > slots) batches.coalesce(slots) else batches
  }

  /** Spark's columnar transitions put a `RowToColumnarExec` over a row
    * child, copying every chunk row into column vectors; this node reads
    * rows itself, so it keeps the row child instead. */
  override protected def withNewChildInternal(newChild: SparkPlan): ChunkScanExec =
    copy(child = newChild match {
      case r: RowToColumnarExec => r.child
      case c => c
    })
}

object ChunkScanExec {

  /** One chunk row, as far as decoding needs it. The blob is present only
    * for required columns of groups not known to be pruned when it was
    * read. */
  private final class Chunk(val colIdx: Int, val numValues: Long,
      val numNulls: Long, val rawBytes: Long, val blob: Array[Byte])

  /** The chunk rows of one (partId, chunkIdx) range, and whether the
    * range column's stats keep it (known once that chunk row is read). */
  private final class Group {
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    var kept: Option[Boolean] = None
  }

  /** The partition's chunk rows grouped by (partId, chunkIdx), in first-
    * seen order. Each row is copied out before the next is pulled (row
    * and batch children alike reuse their buffers). */
  private def readGroups(rows: Iterator[InternalRow], ords: Array[Int],
      required: Set[Int], range: Option[ChunkRange],
      m: Map[String, SQLMetric]): Seq[((Int, Int), Group)] = {
    val groups = mutable.LinkedHashMap.empty[(Int, Int), Group]
    rows.foreach { row =>
      def bytes(o: Int): Array[Byte] = if (row.isNullAt(o)) null else row.getBinary(o)
      val g = groups.getOrElseUpdate((row.getInt(ords(0)), row.getInt(ords(1))), new Group)
      val ci = row.getInt(ords(2))
      val (numValues, numNulls) = (row.getLong(ords(4)), row.getLong(ords(5)))
      range.filter(_.colIdx == ci).foreach { r =>
        g.kept = Some(DecodeJob.statsOverlap(numValues, numNulls, row.getInt(ords(3)),
          bytes(ords(7)), bytes(ords(8)), r.lower, r.upper))
      }
      val blob =
        if (required(ci) && !g.kept.contains(false)) bytes(ords(9)) else null
      if (blob != null) m("blobBytes") += blob.length
      g.chunks += new Chunk(ci, numValues, numNulls, row.getLong(ords(6)), blob)
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
  private def scanGroup(g: Group, cols: Array[Int], types: Array[DataType],
      m: Map[String, SQLMetric]): Iterator[ColumnarBatch] = {
    m("groups") += 1
    if (g.kept.contains(false)) { m("pruned") += 1; return Iterator.empty }
    val rows = g.chunks.head.numValues.toInt
    val t0 = System.nanoTime()
    val vectors = cols.indices.map { i =>
      val c = g.chunks.find(_.colIdx == cols(i)).get
      m("rawBytes") += c.rawBytes
      decodeColumn(types(i), c, rows): ColumnVector
    }.toArray
    m("decoded") += cols.length
    m("decodeTime") += System.nanoTime() - t0
    Iterator.single(new ColumnarBatch(vectors, rows))
  }

  /** One column chunk as a vector of `rows` rows. */
  private def decodeColumn(dt: DataType, c: Chunk, rows: Int): GraftColumnVector = {
    require(c.blob != null, s"$dt chunk without a blob")
    val blob = BlockCodec.maybeUnwrap(c.blob)
    dt match {
      case _: ArrayType | _: MapType =>
        require(ChunkCodec.isRepeatedChunk(blob), s"$dt column without a nested chunk")
        val d = ChunkCodec.decodeRepeatedChunk(blob)
        val shape = repeatedShape(dt)
        require(d.leaves.length == shape.children.size, s"$dt column without a nested chunk")
        require(d.numRows == rows,
          s"row-count mismatch in chunk group: $dt chunk has ${d.numRows}, expected $rows")
        val (defs, reps) = (d.defs.map(_.toInt), d.rep.map(_.toInt))
        GraftColumnVector.build(shape, d.leaves.map(DecodedChunk(_, defs, reps)), rows)
      case _ =>
        // a flat chunk's raw size counts 4 length bytes per non-null value
        val d = ChunkCodec.decodeWithLevels(blob, c.rawBytes - 4 * (c.numValues - c.numNulls))
        val defs = if (d.defLevels == null) null else d.defLevels.map(_.toInt)
        GraftColumnVector.build(Prim(dt, 1, 0), Array(DecodedChunk(d.vec, defs, null)), rows)
    }
  }

  /** The shape of a version 3 (LIST) or 4 (MAP) chunk's shared levels
    * ([[ChunkCodec.DecodedRepeated]]): a MAP's key is present from def 2. */
  private def repeatedShape(dt: DataType): Repeated = dt match {
    case ArrayType(et, _) => Repeated(dt, 1, 2, 1, Seq(Prim(et, 3, 0)))
    case MapType(kt, vt, _) => Repeated(dt, 1, 2, 1, Seq(Prim(kt, 2, 0), Prim(vt, 3, 1)))
  }
}
