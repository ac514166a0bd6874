package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnVector

import graft.core.{IntVec, LongVec}
import graft.operators.GraftStrategies

/** DataSource V2 front-end for [[ParquetSource]]:
  * `spark.read.format("graft.sources.GraftParquetFormat").load(dir)`.
  *
  * Catalyst drives the pushdown instead of manual parameters: column
  * pruning arrives via SupportsPushDownRequiredColumns (only requested
  * leaf chunks are decoded). Filters arrive via SupportsPushDownFilters
  * at planning and, as join keys, via runtime filtering (DPP); both fold
  * into one [[ScanBounds]]. `=`, `IN`, `<`, `<=`, `>` and `>=` push on
  * INT32/INT64 and string columns, `startsWith` on string columns. The
  * bounds drop Hive partition directories and row groups (by footer stats,
  * then bloom filters) at planning, and pages by page stats inside each
  * task. All filters are also RETURNED as residuals, so
  * Spark re-applies them exactly — pruning stays a sound superset, never
  * a semantic change.
  *
  * The reference's read surface (`SerializedFileReader` + projection,
  * `/root/reference/src/file/reader.rs:258-283`) expressed the Spark-native
  * way; its row-group-filter TODO (reader.rs:198) is what the pushed
  * ranges realize.
  */
class GraftParquetFormat extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = GraftParquetFormat.pathOf(options)
    val fps = GraftParquetFormat.listFilesPartitioned(dir)
    // planning-time schema inference reads only the footer tail; Hive-style
    // k=v directory segments become trailing partition columns
    val base = ParquetSource.sparkSchema(
      ParquetFileReader.readFooterOnly(fps.head._1))
    StructType(base.fields ++ GraftParquetFormat.partitionFields(fps))
  }

  /** Every read resolves its table here, with an inferred schema or a
    * given one, so this is where the session gets the Graft strategies. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(GraftStrategies.install)
    new GraftParquetTable(properties.get("path"), schema)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object GraftParquetFormat {
  /** The format name usable in `spark.read.format(...)`. */
  val Name: String = classOf[GraftParquetFormat].getName

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft parquet source requires .load(<path>)")
    p
  }

  private[sources] def listFiles(dir: String): Seq[String] =
    listFilesPartitioned(dir).map(_._1)

  /** Every `.parquet` file under `dir` (recursive, via [[GraftIO]] — local
    * paths and `scheme://` DFS paths alike) with the partition values
    * carried by its Hive-style `k=v` path segments plus the listed file
    * size. The coarsest pruning tier at scale: a partition-column predicate
    * drops whole directories before any footer is read. */
  private[sources] def listFilesPartitioned(dir: String):
      Seq[(String, Seq[(String, String)])] =
    listFilesPartitionedSized(dir).map { case (p, kvs, _) => (p, kvs) }

  /** Every data file under a (possibly hive-partitioned) parquet
    * directory with its on-disk size — the same walk the DSv2 scan uses
    * (arbitrary depth, `_`/`.` entries skipped, single-file inputs
    * accepted). Public for tools that size work from file listings
    * (e.g. EncodeMain's footer-driven partition auto-sizing). */
  def listDataFilesSized(dir: String): Seq[(String, Long)] =
    listFilesPartitionedSized(dir).map { case (p, _, len) => (p, len) }

  private[sources] def listFilesPartitionedSized(dir: String):
      Seq[(String, Seq[(String, String)], Long)] = {
    val io = GraftIO.forPath(dir)
    val out = Seq.newBuilder[(String, Seq[(String, String)], Long)]
    def walk(e: GraftIO.Entry, kvs: List[(String, String)]): Unit =
      if (!e.isDir) {
        if (e.name.endsWith(".parquet")) out += ((e.path, kvs.reverse, e.len))
      } else {
        io.list(e.path).foreach { c =>
          val n = c.name
          // skip metadata dirs/files (_lineage, _SUCCESS, .crc) — the same
          // convention Spark's own listing applies
          if (n.startsWith("_") || n.startsWith(".")) ()
          else {
            val i = n.indexOf('=')
            val kv =
              if (c.isDir && i > 0)
                Some((n.take(i), PartitionPath.unescape(n.drop(i + 1))))
              else None
            walk(c, kv.fold(kvs)(_ :: kvs))
          }
        }
      }
    val root = io.status(dir).getOrElse(
      throw new IllegalArgumentException(s"no such path: $dir"))
    if (!root.isDir) out += ((root.path, Nil, root.len)) else walk(root, Nil)
    val files = out.result()
    require(files.nonEmpty, s"no parquet files under $dir")
    val cols = files.head._2.map(_._1)
    require(files.forall(_._2.map(_._1) == cols),
      s"inconsistent partition directories under $dir")
    files
  }

  /** Trailing partition StructFields: LongType when every directory value
    * parses as a long, StringType otherwise. */
  private[sources] def partitionFields(
      fps: Seq[(String, Seq[(String, String)])]): Seq[StructField] = {
    val cols = fps.head._2.map(_._1)
    cols.zipWithIndex.map { case (c, i) =>
      val allLong = fps.forall(f => f._2(i)._2.matches("-?\\d{1,18}"))
      StructField(c,
        if (allLong) LongType else org.apache.spark.sql.types.StringType,
        nullable = false)
    }
  }

  /** Partition column names of `dir` (empty for a flat directory). */
  private[sources] def partitionColsOf(dir: String): Seq[String] =
    listFilesPartitioned(dir).head._2.map(_._1)
}

final class GraftParquetTable(dir: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-parquet $dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(dir, tableSchema)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(dir, info.schema(), info.options())
}

/** DSv2 write path: each task streams its rows through one
  * [[ParquetFileWriter.IncrementalFileWriter]] into a uniquely-named part
  * file; `truncate` (SaveMode.Overwrite) clears existing part files first.
  * Options: `codec` (snappy|gzip|zstd|lz4_raw|uncompressed), `pageVersion`
  * (1|2), `rowGroupRows`, plus per-COLUMN overrides (the reference's
  * WriterProperties surface, properties.rs:101-210) as dotted option
  * keys — `enc.<col>=delta|deltalen|deltabyte|plain|rle|bss` pins that
  * column's fallback encoding, `dict.<col>=false` disables its
  * dictionary, `codec.<col>=gzip` overrides its block codec,
  * `stats.<col>=false` drops its statistics. Unknown column paths fail
  * the write up front (see [[WriterProps]]). */
final class GraftWriteBuilder(dir: String, schema: StructType,
    options: CaseInsensitiveStringMap)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new GraftBatchWrite(dir, schema,
      doTruncate,
      options.getOrDefault("codec", "snappy"),
      options.getInt("pageversion", 1),
      options.getInt("rowgrouprows", 1 << 16),
      // comma-separated flat columns to stamp split-block bloom filters for
      options.getOrDefault("bloomcols", "").split(',').map(_.trim)
        .filter(_.nonEmpty).toSet,
      // fallback value-encoding policy: plain | v2 | auto (EncPolicy)
      EncPolicy.parse(options.getOrDefault("enc", "plain")),
      {
        import scala.jdk.CollectionConverters._
        WriterProps.fromOptions(options.asScala)
      })
  }
}

final class GraftBatchWrite(dir: String, schema: StructType,
    truncate: Boolean, codecName: String, pageVersion: Int,
    rowGroupRows: Int, bloomCols: Set[String] = Set.empty,
    encPolicy: Int = EncPolicy.Plain,
    props: WriterProps = WriterProps.empty) extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val io = GraftIO.forPath(dir)
    io.mkdirs(dir)
    val codec = PqCodec.parse(codecName)
    // fail unsupported column types and misconfigured per-column props at
    // the DRIVER, before any task — and BEFORE the Overwrite truncation
    // below: validating after the delete would destroy the existing table
    // on a typo'd column path
    graft.operators.ColBuilder.check(schema)
    if (!props.isEmpty) props.resolveFor(schema, codec)
    if (truncate)
      io.list(dir).filter(e => !e.isDir && e.name.endsWith(".parquet"))
        .foreach(e => io.delete(e.path))
    new GraftWriterFactory(dir, schema, codec, pageVersion, rowGroupRows,
      bloomCols, encPolicy, props)
  }
  // Task output is published through [[TaskCommit]] only at task commit —
  // Spark's commit coordinator guarantees a single winning attempt, so a
  // lost executor or mid-write crash leaves only staging garbage (swept
  // here), never a duplicate or truncated `.parquet`.
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    TaskCommit.sweep(dir)
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val io = GraftIO.forPath(dir)
    messages.foreach {
      case GraftCommit(p, _) => io.delete(p)
      case _ => ()
    }
    TaskCommit.sweep(dir)
  }
}

final class GraftWriterFactory(dir: String, schema: StructType, codec: Int,
    pageVersion: Int, rowGroupRows: Int,
    bloomCols: Set[String] = Set.empty,
    encPolicy: Int = EncPolicy.Plain,
    props: WriterProps = WriterProps.empty) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(dir,
      f"part-$partitionId%05d-$taskId.parquet",
      schema, codec, pageVersion, rowGroupRows, bloomCols, encPolicy, props)
}

final case class GraftCommit(path: String, rows: Long)
  extends WriterCommitMessage

final class GraftDataWriter(dir: String, fileName: String,
    schema: StructType, codec: Int,
    pageVersion: Int, rowGroupRows: Int,
    bloomCols: Set[String] = Set.empty,
    encPolicy: Int = EncPolicy.Plain,
    props: WriterProps = WriterProps.empty) extends DataWriter[InternalRow] {
  private val finalPath = s"$dir/$fileName"
  private val stagePath = TaskCommit.stagePath(finalPath)
  private val w = new ParquetFileWriter.IncrementalFileWriter(stagePath,
    schema, rowGroupRows, codec, pageVersion, bloomCols,
    encPolicy = encPolicy, props = props)
  // catalyst rows feed the writer directly — the builders copy every value
  // out inside add(), so Spark's row reuse is safe (no per-row external
  // conversion, which round 2 paid here)
  override def write(r: InternalRow): Unit = w.add(r)
  override def commit(): WriterCommitMessage = {
    val rows = w.close()
    TaskCommit.publish(finalPath)
    GraftCommit(finalPath, rows)
  }
  override def abort(): Unit = {
    try w.close() catch { case _: Throwable => () }
    GraftIO.forPath(stagePath).delete(stagePath)
  }
  override def close(): Unit = ()
}

final class GraftScanBuilder(dir: String, fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var bounds: ScanBounds = ScanBounds.empty
  private var limit: Int = -1
  private var sawFilters = false
  private var aggSpecs: Option[Seq[GraftAggSpec]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands a subset of fullSchema (possibly reordered)
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    sawFilters ||= filters.nonEmpty
    pushed = filters.filter { f =>
      val b = bounds.push(fullSchema, f)
      b.foreach(bounds = _)
      b.isDefined
    }
    // every filter stays a residual: stats pruning is a superset filter
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Limit pushdown (partial): each task stops decoding once it has
    * produced `limit` rows — whole trailing row groups are skipped. Spark
    * still applies the global limit on top. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** Footer-stats aggregate pushdown: `count(*)` is answered from row-group
    * row counts and `min`/`max` over INT32/INT64 columns from footer
    * statistics — no page is decompressed or decoded. Partial pushdown
    * (one row per file; Spark merges), refused whenever any filter is
    * present: we keep all filters as residuals, so a filtered aggregate
    * must see the raw rows. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (sawFilters || agg.groupByExpressions.nonEmpty) return false
    // partition columns live in directory names, not footers — refuse
    lazy val partCols = GraftParquetFormat.partitionColsOf(dir).toSet
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression):
        Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        fullSchema.fields.find(_.name == nr.fieldNames()(0)).collect {
          case f if (f.dataType == LongType || f.dataType == IntegerType) &&
            !partCols(f.name) => f.name
        }
      case _ => None
    }
    val specs = agg.aggregateExpressions.map {
      case _: CountStar => Some(GraftAggSpec(GraftAggSpec.CountStar, null))
      case m: Min => colOf(m.column).map(GraftAggSpec(GraftAggSpec.Min, _))
      case m: Max => colOf(m.column).map(GraftAggSpec(GraftAggSpec.Max, _))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) false
    else { aggSpecs = Some(specs.toSeq.map(_.get)); true }
  }

  override def build(): Scan = aggSpecs match {
    case Some(specs) => new GraftAggScan(dir, fullSchema, specs)
    case None => new GraftScan(dir, required, bounds, limit)
  }
}

/** One pushed aggregate: `kind` ∈ {CountStar, Min, Max}, `col` null for
  * CountStar. */
final case class GraftAggSpec(kind: Int, col: String)

object GraftAggSpec {
  val CountStar = 0
  val Min = 1
  val Max = 2
}

/** Scan for pushed aggregates: one output row per file, computed entirely
  * from the footer (row counts + column statistics). If a row group lacks
  * stats for a min/max column, only that column of that row group is
  * decoded as the fallback. At 100 TB this turns `SELECT count(*)` into a
  * footer-tail read per file. */
final class GraftAggScan(dir: String, fullSchema: StructType,
    specs: Seq[GraftAggSpec]) extends Scan with Batch {

  private val outSchema = StructType(specs.map { s =>
    s.kind match {
      case GraftAggSpec.CountStar => StructField("count(*)", LongType, nullable = false)
      case k =>
        val f = fullSchema.fields.find(_.name == s.col).get
        val name = if (k == GraftAggSpec.Min) s"min(${s.col})" else s"max(${s.col})"
        StructField(name, f.dataType, nullable = true)
    }
  })

  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"GraftParquetAggScan[$dir] ${outSchema.fieldNames.mkString(",")}"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    GraftParquetFormat.listFiles(dir)
      .map(p => GraftFilePartition(p): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory(fullSchema, specs, outSchema)
}

final class GraftAggReaderFactory(fullSchema: StructType,
    specs: Seq[GraftAggSpec], outSchema: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftAggPartitionReader(
      p.asInstanceOf[GraftFilePartition].path, fullSchema, specs, outSchema)
}

final class GraftAggPartitionReader(path: String, fullSchema: StructType,
    specs: Seq[GraftAggSpec], outSchema: StructType)
    extends PartitionReader[InternalRow] {

  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    done = true
    val meta = ParquetFileReader.readFooterOnly(path)
    def extreme(col: String, wantMax: Boolean): Option[Long] = {
      val perGroup = meta.rowGroups.indices.flatMap { rg =>
        val cm = meta.rowGroups(rg).columns.find(
          _.pathInSchema.headOption.contains(col))
        cm.flatMap(_.stats) match {
          case Some(st) if st.min.nonEmpty && st.max.nonEmpty =>
            Some(graft.core.MinMax.leToLong(if (wantMax) st.max else st.min))
          case _ => // stats missing (rare): read + decode ONLY this chunk
            val lc = ParquetFileReader.leafColumns(meta, rg)
              .find(_.path == Seq(col)).get
            val fetch = new ParquetFileReader.ChunkFetcher(path)
            // the typed decode readColumnVec makes, on the leaf itself so a
            // legacy repeated top-level field keeps its rep levels
            val vec =
              try {
                val (b, l2) = fetch.fetchLeaf(lc)
                ParquetFileReader.decodeChunk(b, l2).values
              } finally fetch.close()
            val vs: Array[Long] = vec match {
              case IntVec(is) => is.map(_.toLong)
              case v => v.asInstanceOf[LongVec].values
            }
            if (vs.isEmpty) None
            else Some(if (wantMax) vs.max else vs.min)
        }
      }
      if (perGroup.isEmpty) None
      else Some(if (wantMax) perGroup.max else perGroup.min)
    }
    val values: Seq[Any] = specs.zip(outSchema.fields).map { case (s, f) =>
      s.kind match {
        case GraftAggSpec.CountStar => meta.numRows
        case k =>
          val v = extreme(s.col, wantMax = k == GraftAggSpec.Max)
          if (f.dataType == IntegerType) v.map(_.toInt).orNull else v.orNull
      }
    }
    row = CatalystTypeConverters.createToCatalystConverter(outSchema)(
      org.apache.spark.sql.Row.fromSeq(values)).asInstanceOf[InternalRow]
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

object GraftScan {
  /** Above this many files, planning skips the per-file footer-tail reads
    * (row-group split + driver-side pruning) to keep the driver O(listing). */
  val FooterPlanLimit = 4096
}

/** A summed DSv2 driver metric of [[GraftScan]]'s planning. Spark builds
  * each subclass by name, hence one no-argument class per metric. */
sealed abstract class PlanMetric(key: String, desc: String) extends CustomSumMetric {
  override def name(): String = key
  override def description(): String = desc
  def value(v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = key
    override def value(): Long = v
  }
}
final class RowGroupsListed extends PlanMetric("rowGroupsListed", "row groups listed")
final class RowGroupsStatsPruned
    extends PlanMetric("rowGroupsStatsPruned", "row groups pruned by stats")
final class RowGroupsBloomPruned
    extends PlanMetric("rowGroupsBloomPruned", "row groups pruned by bloom")

final class GraftScan(dir: String, schema: StructType,
    bounds: ScanBounds = ScanBounds.empty, limit: Int = -1)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  // Planning-time pushdown, possibly narrowed further at RUNTIME: when this
  // scan is the probe side of a DPP-eligible join, Spark executes the
  // (filtered, broadcast) build side first and hands its join-key values
  // here via filter() before planInputPartitions() runs — so a dim-table
  // predicate prunes fact-table directories, row groups, and bloom-filtered
  // pages it never named directly. The 100 TB shape: a 1000-file fact scan
  // joined to a 5-row dim schedules only the matching keys' row groups.
  private var rt = bounds

  /** Columns runtime join-key filters may prune on (every scalar column —
    * the envelope + bloom machinery works for int and string alike). */
  override def filterAttributes(): Array[NamedReference] =
    schema.fields.collect {
      case f if ScanBounds.pushable(f.dataType) => Expressions.column(f.name)
    }

  /** Runtime narrowing: IN/= predicates over declared attributes tighten
    * the stat envelopes and join the bloom-probe set; anything unparseable
    * is ignored (over-inclusive = sound — Spark still applies the join). */
  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach(p => rt.pushRuntime(schema, p).foreach(rt = _))

  /** The pushed bounds, runtime narrowing included. */
  def scanBounds: ScanBounds = rt

  /** Columns runtime filter() actually narrowed on (test/observability). */
  def runtimeFilteredColumns: Seq[String] =
    rt.probes.drop(bounds.probes.size).map(_._1).distinct

  // row groups listed, after stats and after blooms in the last planning
  private var planned = (0L, 0L, 0L)
  private val planMetrics =
    Array[PlanMetric](new RowGroupsListed, new RowGroupsStatsPruned, new RowGroupsBloomPruned)

  override def supportedCustomMetrics(): Array[CustomMetric] = planMetrics.toArray[CustomMetric]
  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val (listed, afterStats, afterBloom) = planned
    planMetrics.zip(Seq(listed, listed - afterStats, afterStats - afterBloom))
      .map { case (m, v) => m.value(v) }
  }

  override def readSchema(): StructType = schema
  override def description(): String =
    s"GraftParquetScan[$dir] cols=${schema.fieldNames.mkString(",")}" +
      rt.describe + (if (limit >= 0) s" limit=$limit" else "")
  override def toBatch: Batch = this

  /** Row-group-granular scheduling with PLANNING-time pruning: one
    * footer-tail read per file on the driver turns each row group that
    * survives the pushed ranges and then the pushed `=`/`IN` probes' bloom
    * filters into its own task, so (a) a single huge file parallelizes
    * across executors instead of serializing into one task, and (b) files
    * and row groups excluded by pushed bounds never get a task at all.
    * Past [[GraftScan.FooterPlanLimit]] files the driver skips the footer
    * reads (planning stays O(listing) on huge directories) and falls back
    * to per-file tasks with the same pruning done task-side. */
  // ONE recursive listing per scan, shared by planInputPartitions and
  // estimateStatistics — at million-file scale every extra walk is one
  // RPC per directory on a remote filesystem. (A Scan instance is
  // per-query, so this can never serve a stale listing across queries.)
  private lazy val listingSized
      : Seq[(String, Seq[(String, String)], Long)] =
    GraftParquetFormat.listFilesPartitionedSized(dir)

  override def planInputPartitions(): Array[InputPartition] = {
    // Hive-style partition pruning first — the coarsest tier: a pushed
    // range on a partition column drops whole directories before any
    // footer is touched
    val files = listingSized.map { case (p, kvs, _) => (p, kvs) }.filter {
      case (_, kvs) => kvs.forall { case (k, v) => rt.admitsPartition(k, v) }
    }
    planned = (0L, 0L, 0L)
    // each task carries the bounds on its file's own columns, runtime
    // narrowing included: Spark plans partitions after filter()
    def fileBounds(kvs: Seq[(String, String)]) = rt.withoutColumns(kvs.map(_._1).toSet)
    if (files.length > GraftScan.FooterPlanLimit)
      files.map { case (p, kvs) =>
        GraftFilePartition(p, bounds = fileBounds(kvs), partValues = kvs): InputPartition
      }.toArray
    else files.flatMap { case (p, kvs) =>
      val meta = ParquetFileReader.readFooterOnly(p)
      val bounds = fileBounds(kvs)
      val stats = GraftFlatScan.pruneRowGroups(meta, null, bounds)
      val rgs = GraftFlatScan.bloomPrune(p, meta, stats, bounds.probes)
      val (l, s, b) = planned
      planned = (l + meta.rowGroups.size, s + stats.size, b + rgs.size)
      rgs.map(rg => GraftFilePartition(p, Seq(rg), bounds, kvs): InputPartition)
    }.toArray
  }

  /** Every file, flat or nested, reads through the one columnar reader. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(schema, limit)

  /** Exact row count + uncompressed byte size from footer tails only —
    * feeds Catalyst's join planning (a small graft-parquet table becomes
    * broadcast-joinable without a manual hint). Capped like
    * [[planInputPartitions]]: past [[GraftScan.FooterPlanLimit]] files the
    * driver reads only a bounded SAMPLE of footers to learn the
    * uncompressed/on-disk expansion ratio and extrapolates over the listing
    * sizes — a directory of a million files must never cost a million
    * driver RPCs, but the estimate must stay in UNCOMPRESSED bytes on both
    * sides of the cap (summed on-disk sizes of a zstd table under-estimate
    * several-fold and could flip Catalyst into broadcasting a table that
    * explodes in memory). */
  override def estimateStatistics(): Statistics = {
    val files = listingSized
    if (files.length > GraftScan.FooterPlanLimit) {
      val onDisk = files.map(_._3).sum
      // a directory this large is plausibly being written concurrently:
      // an in-flight/zero-byte/corrupt sample file must degrade the
      // ESTIMATE (skip it), not fail query planning — stats here are
      // advisory, and the pre-sampling fallback never did file I/O at all
      // EVENLY-SPACED sample, not a prefix: listings are name-sorted, so
      // the first 64 files are typically one Hive partition — if that
      // partition happens to hold incompressible data its ratio ~1 would
      // under-estimate the whole table and flip Catalyst into broadcasting
      // something that explodes in memory. Striding the listing samples
      // every partition range.
      val n = files.length
      val sample = Array.tabulate(64)(i => files((i.toLong * n / 64).toInt))
      val (sUnc, sDisk) = sample.foldLeft((0L, 0L)) {
        case ((u, d), (f, _, sz)) =>
          scala.util.Try(ParquetFileReader.readFooterOnly(f)) match {
            case scala.util.Success(m) =>
              (u + m.rowGroups.map(_.totalByteSize).sum, d + sz)
            case scala.util.Failure(_) => (u, d)
          }
      }
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          // no readable sample (e.g. the table is mid-write): report NO
          // estimate rather than a ratio-1.0 guess — Spark then falls back
          // to defaultSizeInBytes, which never triggers a broadcast
          if (sDisk > 0)
            java.util.OptionalLong.of(
              math.max(onDisk, (onDisk * (sUnc.toDouble / sDisk)).toLong))
          else java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    } else {
      var rows = 0L
      var bytes = 0L
      files.foreach { case (f, _, _) =>
        val m = ParquetFileReader.readFooterOnly(f)
        rows += m.numRows
        bytes += m.rowGroups.map(_.totalByteSize).sum
      }
      val (r, b) = (rows, bytes)
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(b)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(r)
      }
    }
  }
}

/** One scan task of [[GraftColumnarPartitionReader]], flat or nested file
  * alike: a file, or a slice of its row groups (`rgs == null` ⇒ all, with
  * stats and bloom pruning done task-side, as planned past
  * [[GraftScan.FooterPlanLimit]] files). `bounds` are the pushed bounds on
  * the file's own columns, runtime (DPP) narrowing included. */
final case class GraftFilePartition(path: String, rgs: Seq[Int] = null,
    bounds: ScanBounds = ScanBounds.empty,
    partValues: Seq[(String, String)] = Nil) extends InputPartition

/** Shared scan core: row-group + page-level pruning resolved into
  * column-major batches — each projected field's leaves straight from the
  * one page decoder ([[ParquetFileReader.decodeChunk]]), restricted to the
  * kept row ranges, and assembled zero-copy by [[GraftColumnVector.build]]. */
private[sources] object GraftFlatScan {

  /** Row groups surviving the pushed ranges (planning-time list reused
    * when present — re-filtering stat ranges is a no-op). */
  def pruneRowGroups(meta: PqFileMeta, plannedRgs: Seq[Int],
      bounds: ScanBounds): Seq[Int] =
    bounds.ranges.foldLeft(if (plannedRgs != null) plannedRgs else meta.rowGroups.indices) {
      case (rgs, (col, (lo, hi))) =>
        rgs.intersect(ParquetFileReader.rowGroupsOverlapping(meta, col, lo, hi))
    }

  /** One task's footer and the row groups it reads. Planned row groups
    * already passed the footer stats and the bloom filters on the driver;
    * a whole-file task (past [[GraftScan.FooterPlanLimit]]) applies both
    * here. */
  def taskRowGroups(fp: GraftFilePartition): (PqFileMeta, Seq[Int]) = {
    val meta = ParquetFileReader.readFooterOnly(fp.path)
    val rgs = pruneRowGroups(meta, fp.rgs, fp.bounds)
    (meta, if (fp.rgs != null) rgs else bloomPrune(fp.path, meta, rgs, fp.bounds.probes))
  }

  /** Bloom-filter row-group pruning for pushed equality/IN conjuncts:
    * drops a surviving row group when some conjunct's bloom filter rules
    * out every candidate value. Planning runs it on the driver, after the
    * stats, so a probe's pruned row groups never get a task; each bloom
    * is one small ranged read. Whole-file tasks past
    * [[GraftScan.FooterPlanLimit]] run it task-side instead.
    * Chunks without a filter (or with an unparseable one) always survive;
    * residual Spark filters keep semantics exact either way. */
  def bloomPrune(path: String, meta: PqFileMeta, rgs: Seq[Int],
      probes: Seq[(String, Seq[Any])]): Seq[Int] = {
    if (probes.isEmpty || rgs.isEmpty) return rgs
    val anyBloom = rgs.exists(rg => probes.exists { case (c, _) =>
      ParquetFileReader.chunkFor(meta, rg, c).exists(_.bloomOffset >= 0)
    })
    if (!anyBloom) return rgs
    val in = GraftIO.forPath(path).open(path)
    try {
      rgs.filter { rg =>
        probes.forall { case (col, values) =>
          ParquetFileReader.chunkFor(meta, rg, col) match {
            case Some(cm) if cm.bloomOffset >= 0 =>
              val hashes = values.flatMap(v => Sbbf.hashForType(cm.typ, v))
              // any unhashable candidate ⇒ the conjunct can't be decided
              // by the bloom ⇒ keep the group
              hashes.length != values.length ||
                Sbbf.readFromFile(in, cm).forall(f =>
                  hashes.exists(f.mightContainHash))
            case _ => true
          }
        }
      }
    } finally in.close()
  }

  /** The projected fields' vectors for one row group and its kept row
    * count; only their leaves are fetched and decoded, and a field the
    * file lacks reads as nulls, as in Spark's native reader. When all those
    * leaves are flat, page statistics of the filter columns narrow the rows
    * (a repeated leaf cannot be cut to row ranges). Residual Spark-side
    * filters re-apply afterwards, so a stat-less page surviving is only a
    * missed skip, never a wrong row. */
  def columnBatch(fetch: ParquetFileReader.ChunkFetcher, meta: PqFileMeta,
      rg: Int, fields: Array[StructField], bounds: ScanBounds):
      (Array[ColumnVector], Int) = {
    // fetched (buffer, rebased meta) per chunk: a filter column that is
    // also projected reads its byte range once, not twice
    val cache = scala.collection.mutable.Map.empty[Seq[String],
      (Array[Byte], PqColumnMeta)]
    def fetched(cm: PqColumnMeta): (Array[Byte], PqColumnMeta) =
      cache.getOrElseUpdate(cm.pathInSchema, fetch.fetch(cm))
    val byName = ParquetSource.fields(meta).map { case (f, s) => f.name -> s }.toMap
    val shapes = fields.map(f => byName.get(f.name).fold[GraftColumnVector.Shape](
      GraftColumnVector.missing(f))(GraftColumnVector.project(_, f.dataType)))
    val leaves = ParquetFileReader.leafColumns(meta, rg)
    val used = shapes.flatMap(_.leaves)
    val nRows = meta.rowGroups(rg).numRows
    var keep: Seq[(Long, Long)] = Seq((0L, nRows))
    // page row ranges passing `keepFn` for one filter column: from the
    // footer-side ColumnIndex/OffsetIndex when the writer stamped them
    // (two tiny ranged reads, NO chunk bytes — a filter-only column's
    // chunk is then never fetched at all), else by walking page headers
    // inside the fetched chunk
    def colRanges(cm: PqColumnMeta, keepFn: PqStats => Boolean): Seq[(Long, Long)] =
      if (cm.columnIndexOffset >= 0 && cm.columnIndexLength > 0 &&
          cm.offsetIndexOffset >= 0 && cm.offsetIndexLength > 0) {
        val ci = ParquetMeta.parseColumnIndex(
          fetch.range(cm.columnIndexOffset, cm.columnIndexLength), 0)
        val oi = ParquetMeta.parseOffsetIndex(
          fetch.range(cm.offsetIndexOffset, cm.offsetIndexLength), 0)
        ParquetFileReader.indexRowRanges(ci, oi, nRows, keepFn)
      } else {
        val (b, rcm) = fetched(cm)
        ParquetFileReader.pageRowRanges(b, rcm, keepFn)
      }
    if (used.forall(leaves(_).maxRep == 0))
      bounds.ranges.foreach { case (c, (lo, hi)) =>
        ParquetFileReader.chunkFor(meta, rg, c).foreach { cm =>
          keep = ParquetFileReader.intersectRowRanges(keep,
            colRanges(cm, ParquetFileReader.statsOverlap(cm.typ, _, lo, hi)))
        }
      }
    if (keep.isEmpty) return (Array.empty, 0)
    val kept = keep.map(r => r._2 - r._1).sum.toInt
    val rowRanges = if (keep == Seq((0L, nRows))) null else keep
    val decoded = new Array[ParquetFileReader.DecodedChunk](leaves.size)
    used.foreach { i =>
      val (b, rcm) = fetched(leaves(i).meta)
      decoded(i) = ParquetFileReader.decodeChunk(b, leaves(i).copy(meta = rcm), rowRanges)
    }
    (shapes.map(GraftColumnVector.build(_, decoded, kept): ColumnVector), kept)
  }
}

final class GraftReaderFactory(schema: StructType, limit: Int = -1)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("the graft parquet scan is columnar only")

  override def createColumnarReader(p: InputPartition):
      PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarPartitionReader(p.asInstanceOf[GraftFilePartition], schema, limit)
}

/** Vectorized scan output: one ColumnarBatch per (pruned) row group, with
  * or without pushed filters. Each projected chunk decodes straight to a
  * ColVec (only the kept row ranges) and is handed to Spark ZERO-COPY
  * behind a [[GraftColumnVector]] — no external Row, no per-value boxing,
  * and string bytes never materialize a java.lang.String. Partition
  * columns become constant vectors. */
final class GraftColumnarPartitionReader(fp: GraftFilePartition,
    schema: StructType, limit: Int)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val partMap = fp.partValues.toMap
  private val fileFields = schema.fields.filter(f => !partMap.contains(f.name))
  private val (meta, rgs) = GraftFlatScan.taskRowGroups(fp)
  private val rgIt = rgs.iterator
  private var remaining = if (limit >= 0) limit else Int.MaxValue
  private var batch: ColumnarBatch = _

  override def next(): Boolean = {
    if (batch != null) { batch.close(); batch = null }
    while (rgIt.hasNext && remaining > 0) {
      val fetch = new ParquetFileReader.ChunkFetcher(fp.path)
      val (cols, n0) =
        try GraftFlatScan.columnBatch(fetch, meta, rgIt.next(), fileFields, fp.bounds)
        finally fetch.close()
      val n = math.min(n0, remaining)
      if (n > 0) {
        var fi = -1
        batch = new ColumnarBatch(schema.fields.map { f =>
          if (partMap.contains(f.name)) constVec(f.dataType, partMap(f.name), n)
          else { fi += 1; cols(fi) }
        }, n)
        remaining -= n
        return true
      }
    }
    false
  }

  /** Constant vector for a partition column (value from the directory). */
  private def constVec(dt: org.apache.spark.sql.types.DataType,
      raw: String, n: Int): ColumnVector = {
    val v = new OnHeapColumnVector(n, dt)
    if (dt == LongType) v.putLongs(0, n, raw.toLong)
    else {
      val b = raw.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < n) { v.putByteArray(i, b, 0, b.length); i += 1 }
    }
    v
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = if (batch != null) batch.close()
}
