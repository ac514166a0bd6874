package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.core._

/** One encoded column chunk, the engine's unit of storage.
  * `(partId, chunkIdx)` identifies a row range; every column of that range
  * appears as one ChunkRow, so rows re-assemble by zipping columns. */
final case class ChunkRow(
    partId: Int,
    chunkIdx: Int,
    colIdx: Int,
    column: String,
    physicalType: Int,
    codec: String,
    numValues: Long,
    numNulls: Long,
    rawBytes: Long,
    encodedBytes: Long,
    refPolicyBytes: Long,
    dictEntries: Int,
    /** min/max statistics over the chunk's non-null values, PLAIN-encoded
      * without length prefix (the reference's Statistics byte convention,
      * `/root/reference/src/file/statistics.rs:116-119`); byte values are
      * truncated to 64 bytes (min stays a valid lower bound, max is padded
      * 0xFF so it stays an upper bound). Empty arrays when numValues ==
      * numNulls. Drives metadata-level chunk pruning in
      * [[DecodeJob.decodeWhere]]. */
    minStat: Array[Byte],
    maxStat: Array[Byte],
    sha256: String,
    blob: Array[Byte])

/** Per-(partition, column) lineage row — the north rule's resumability and
  * metrics record (partition id, codec chosen, input/output bytes, sha256
  * manifest). */
final case class LineageRow(
    partId: Int,
    column: String,
    codecs: String,
    numChunks: Long,
    numValues: Long,
    inputBytes: Long,
    outputBytes: Long,
    refPolicyBytes: Long,
    sha256Manifest: String)

/** Encodes ANY flat-schema DataFrame into per-column compressed chunks.
  *
  * Spark-first design: the input stays a Dataset end to end; the only
  * shuffle is one explicit `repartition` on user-chosen keys plus a salt
  * (defusing mega-repo skew per the north rule), after which all codec work
  * is per-partition CPU with NO further exchange. Chunk contents are a pure
  * function of (input, partitionCount) — independent of executor count —
  * so manifests are reproducible at any parallelism (the scaling-law
  * evidence relies on this).
  */
object EncodeJob {

  val DefaultChunkRows = 16384
  val DefaultChunkRawBytes: Long = 32L * 1024 * 1024

  /** Fail fast on the driver for what a task would otherwise crash on
    * mid-encode: a column the chunk pipeline doesn't cover (STRUCT is
    * supported by the parquet FILE writer only), a type the builders
    * refuse, and a forced codec the encoder would not apply — one for an
    * unknown column, or for a MAP column, whose key and value leaves can
    * differ in physical type. */
  private def checkEncodable(schema: StructType,
      forcedCodecs: Map[String, Int]): Unit = {
    schema.fields.foreach(f => f.dataType match {
      case st: StructType => throw new IllegalArgumentException(
        s"unsupported column type $st (flat + LIST/MAP schemas only)")
      case _ =>
    })
    ColBuilder.check(schema)
    forcedCodecs.keys.foreach { name =>
      val dt = schema.find(_.name == name).map(_.dataType)
      require(dt.isDefined, s"forcedCodecs names unknown column $name")
      require(!dt.get.isInstanceOf[MapType], s"forcedCodecs cannot force " +
        s"MAP column $name: its key and value leaves can differ in physical type")
    }
  }

  /** Salted repartition + deterministic in-partition sort, then
    * per-partition chunked encode of every column.
    *
    * @param partitionKeys shuffle keys (e.g. repo, lang); a salt derived
    *   from the remaining columns is always appended so one hot key spreads
    *   over `saltBuckets` partitions instead of one.
    */
  def encode(df: DataFrame, numPartitions: Int, partitionKeys: Seq[String],
      sortKeys: Seq[String], saltBuckets: Int = 16,
      chunkRows: Int = DefaultChunkRows,
      chunkRawBytes: Long = DefaultChunkRawBytes,
      skipPartitions: Set[Int] = Set.empty,
      forcedCodecs: Map[String, Int] = Map.empty,
      blockCodec: Int = BlockCodec.None): Dataset[ChunkRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    val schema = df.schema
    checkEncodable(schema, forcedCodecs)
    // Spark forbids hashing MAP columns (same map, different hashcode), so
    // the salt derives from every hashable column; a row's map values still
    // land with it.
    val saltCols = schema.fields.filter(f =>
      !f.dataType.isInstanceOf[MapType]).map(_.name).toSeq
    val saltExpr =
      if (saltCols.isEmpty) pmod(spark_partition_id().cast("long"), lit(saltBuckets))
      else pmod(xxhash64(saltCols.map(col): _*), lit(saltBuckets))
    val salt = saltExpr.as("__salt")
    // Resume pruning BEFORE the exchange: `repartition(n, exprs)` routes a
    // row to pmod(murmur3(exprs, seed 42), n) — the same hash chain
    // `functions.hash` computes — so a row's target partition is knowable
    // at the scan. Filtering there means rows bound for already-completed
    // partitions never enter the shuffle (nor the per-partition sort): a
    // 95%-done resume shuffles ~5% of the input instead of 100%. (The
    // mapPartitions-level skip below still guards the numPartitions <= 0
    // and MAP-salt cases, where the target isn't expressible pre-shuffle.)
    val preFiltered =
      if (skipPartitions.isEmpty || numPartitions <= 0 || saltCols.isEmpty) df
      else {
        val exprs = if (partitionKeys.isEmpty) Seq(saltExpr)
          else partitionKeys.map(col) :+ saltExpr
        val tgt = pmod(hash(exprs: _*), lit(numPartitions))
        // emit whichever literal set is smaller: `pending` on a mostly-done
        // resume, `skip` on a mostly-fresh one
        val pending = (0 until numPartitions).filterNot(skipPartitions)
        if (pending.isEmpty) df.where(lit(false))
        else if (pending.size <= skipPartitions.size) df.where(tgt.isin(pending: _*))
        else df.where(!tgt.isin(skipPartitions.toSeq: _*))
      }
    // numPartitions <= 0 keeps the caller's partitioning (e.g. a
    // repartitionByRange whose clustering makes min/max chunk stats tight)
    val keyed =
      if (numPartitions <= 0) preFiltered
      else if (partitionKeys.isEmpty) preFiltered.repartition(numPartitions, salt)
      else preFiltered.repartition(numPartitions, (partitionKeys.map(col) :+ salt): _*)
    val sorted =
      if (sortKeys.isEmpty) keyed
      else keyed.sortWithinPartitions(sortKeys.map(col): _*)
    val skip = spark.sparkContext.broadcast(skipPartitions)
    // The terminal operator consumes CATALYST rows (queryExecution.toRdd):
    // string columns are read as UTF8String views and copied once straight
    // into the column arenas — no per-row external Row materialization, no
    // per-field boxing, no intermediate byte-array per string. Measured at
    // local[1] the external-Row deserialization was ~20% of total encode
    // wall time.
    val chunkRdd = sorted.queryExecution.toRdd.mapPartitions { rows =>
      val partId = TaskContext.getPartitionId()
      if (skip.value.contains(partId)) Iterator.empty
      else encodePartition(partId, schema, rows, chunkRows, chunkRawBytes,
        forcedCodecs, blockCodec)
    }
    spark.createDataset(chunkRdd)
  }

  /** Pure per-partition encode: buffer up to chunkRows/chunkRawBytes rows,
    * then run the codec auto-selector per column. Typed per-column builders
    * keep the buffering boxing-free (primitive arrays end to end).
    *
    * LAZY: returns an iterator that cuts and yields one chunk's ChunkRows at
    * a time, so task memory is O(one chunk), not O(partition encoded bytes)
    * — a partition far larger than executor memory streams straight through
    * (round-1 review flagged the previous whole-partition ArrayBuffer as the
    * first OOM at 100x). Chunk cut points are unchanged: a chunk closes the
    * first time the post-add row/byte condition trips, so manifests stay
    * byte-identical to the eager version. */
  def encodePartition(partId: Int, schema: StructType,
      rows: Iterator[InternalRow],
      chunkRows: Int, chunkRawBytes: Long,
      forcedCodecs: Map[String, Int] = Map.empty,
      blockCodec: Int = BlockCodec.None): Iterator[ChunkRow] = {
    val fields = schema.fields
    val nCols = fields.length
    val builders: Array[ColBuilder] = fields.map(f => ColBuilder(f.dataType))

    new Iterator[ChunkRow] {
      private var chunkIdx = 0
      private var pending: Array[ChunkRow] = null
      private var pendingPos = 0

      /** Pull rows until this chunk is full (or input ends), then encode
        * every column. The zero-copy BytesVec arena invariant holds: each
        * vec is FULLY consumed (encode + stats + hash) inside this call,
        * before any further builder.add() can overwrite arena bytes. */
      private def fillChunk(): Unit = {
        var bufferedRaw = 0L
        var buffered = 0
        while (rows.hasNext && buffered < chunkRows && bufferedRaw < chunkRawBytes) {
          val row = rows.next()
          var c = 0
          while (c < nCols) {
            bufferedRaw += builders(c).add(row, c)
            c += 1
          }
          buffered += 1
        }
        if (buffered == 0) { pending = null; return }
        val out = new Array[ChunkRow](nCols)
        var c = 0
        while (c < nCols) {
          val nRows = builders(c).rowCount
          val nNulls = builders(c).numNulls
          val forced = forcedCodecs.getOrElse(fields(c).name, -1)
          // (the vec the stats and manifest type read, the hash, the encoded
          // chunk); a repeated column's vec is its first leaf, for a MAP the
          // key (the prunable side)
          val (vec, hashHex, chunk) = builders(c) match {
            case rb: ColBuilder.RepeatedBuilder =>
              val (leaves, rep, defs) = rb.buildRepeated()
              rb.clear()
              // hash identity = rep stream + def stream + each leaf's values
              (leaves(0), ColVecHash.sha256Hex(leaves.toSeq, rep ++ defs),
                ChunkCodec.encodeRepeatedChunk(leaves, rep, defs, nRows, forced))
            case b =>
              val v = b.build()
              val levels = b.defLevels
              b.clear()
              (v, ColVecHash.sha256Hex(v, levels),
                ChunkCodec.encodeChunk(v, forced, levels))
          }
          // optional general-purpose block compression on top of the chunk
          // encoding (reference compression.rs); kept only when it shrinks,
          // so the <= reference-policy ceiling is never violated
          val blob =
            if (blockCodec == BlockCodec.None) chunk.blob
            else {
              val wrapped = BlockCodec.wrap(chunk.blob, blockCodec)
              if (wrapped.length < chunk.blob.length) wrapped else chunk.blob
            }
          val (mnStat, mxStat) = MinMax.compute(vec)
          out(c) = ChunkRow(partId, chunkIdx, c, fields(c).name, vec.physicalType,
            chunk.codecName, nRows.toLong, nNulls.toLong, chunk.rawSize,
            blob.length.toLong, chunk.refPolicySize, chunk.dictEntries,
            mnStat, mxStat, hashHex, blob)
          c += 1
        }
        chunkIdx += 1
        pending = out
        pendingPos = 0
      }

      private var released = false
      /** Safe only once every emitted ChunkRow is self-contained (blobs are
        * fresh arrays; the zero-copy vecs are fully consumed inside
        * fillChunk), i.e. at terminal exhaustion. */
      private def releaseBuilders(): Unit = if (!released) {
        released = true
        builders.foreach(_.release())
      }

      def hasNext: Boolean = {
        if (pending != null && pendingPos < pending.length) true
        else {
          pending = null
          if (!rows.hasNext) { releaseBuilders(); false }
          else {
            fillChunk()
            if (pending == null) { releaseBuilders(); false } else true
          }
        }
      }

      def next(): ChunkRow = {
        if (!hasNext) throw new NoSuchElementException("encodePartition")
        val r = pending(pendingPos)
        pendingPos += 1
        r
      }
    }
  }

  /** Per-(partition, column) lineage with a deterministic sha256 manifest
    * (chunk hashes concatenated in chunk order). Pure DataFrame aggregation
    * — map-side combinable, one shuffle on (partId, column). */
  def lineage(chunks: Dataset[ChunkRow]): Dataset[LineageRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    chunks
      .groupBy($"partId", $"column")
      .agg(
        concat_ws("+", array_sort(collect_set($"codec"))).as("codecs"),
        count(lit(1)).as("numChunks"),
        sum($"numValues").as("numValues"),
        sum($"rawBytes").as("inputBytes"),
        sum($"encodedBytes").as("outputBytes"),
        sum($"refPolicyBytes").as("refPolicyBytes"),
        sha2(concat_ws(",",
          transform(array_sort(collect_list(struct($"chunkIdx", $"sha256"))),
            x => x.getField("sha256"))), 256).as("sha256Manifest"))
      .as[LineageRow]
  }

  /** Checkpoint-resumable encode: chunks + lineage land under `outDir`; a
    * re-run after partial failure skips partitions that have a lineage
    * sidecar.
    *
    * Runs on [[graft.sources.TaskCommit.runResumable]]: each task streams
    * its partition's ChunkRows into `chunks/part-<partId>.parquet` through
    * the engine's own parquet writer, then commits
    * `lineage/part-<partId>.parquet` — a per-partition sidecar with the
    * same rows [[lineage]] computes. Spark's output committer only
    * publishes a job's files at job END, so routing this through
    * `DataFrame.write` would lose the WHOLE run to a mid-run driver kill;
    * with per-task commits a kill loses only the tasks in flight, and the
    * next invocation — via the pre-shuffle target-partition filter in
    * [[encode]] — re-shuffles only the missing partitions' rows. Around
    * the driver, this method pins the routing config in `_encode_meta` and
    * marks zero-row partitions done. */
  def encodeResumable(df: DataFrame, outDir: String, numPartitions: Int,
      partitionKeys: Seq[String], sortKeys: Seq[String],
      blockCodec: Int = BlockCodec.None): Unit = {
    import graft.sources.{GraftIO, TaskCommit}
    val spark = df.sparkSession
    val io = GraftIO.forPath(outDir)
    val chunksDir = s"$outDir/chunks"
    val lineageDir = s"$outDir/lineage"
    io.mkdirs(outDir)
    // the routing marker stages in outDir itself
    TaskCommit.sweep(outDir)
    // fail fast on a checkpoint dir from the pre-task-durable layout
    // (Hive `partId=N/` subdirectories): mixing flat task-committed files
    // into it would break partition discovery and double-count lineage
    require(!io.list(chunksDir).exists(e =>
        e.isDir && e.name.startsWith("partId=")),
      s"$chunksDir uses the legacy partId=N layout — re-encode into " +
        "a fresh directory (task-durable resume writes flat part files)")
    // the resume contract is "same job, same routing": a different
    // numPartitions (or partition/sort keys) re-routes every row, so
    // partIds completed under the OLD layout would silently mask NEW-layout
    // partitions (e.g. a 1024-partition checkpoint resumed at 1005 looks
    // 100% complete and skips everything). Pin the routing config in a
    // marker file on first run; refuse a mismatched resume.
    val metaPath = s"$outDir/_encode_meta"
    val metaNow = routingMeta(numPartitions, partitionKeys, sortKeys,
      blockCodec, df.schema.fieldNames.toSeq)
    TaskCommit.readMarker(metaPath) match {
      case Some(prev) => require(prev == metaNow,
        s"resume config mismatch for $outDir\n  checkpoint: $prev\n" +
          s"  this run:   $metaNow\nRe-run with the checkpoint's settings," +
          " or encode into a fresh outDir")
      case None =>
        // no marker + existing lineage = a checkpoint from before routing
        // markers existed (or a hand-pruned dir). Proceeding would PIN this
        // run's config as the checkpoint's truth with no way to know it
        // matches — the silent-mask bug with extra steps — so refuse and
        // tell the user how to assert the original settings themselves.
        require(!io.list(lineageDir).exists(e =>
            !e.isDir && e.name.startsWith("part-") && e.name.endsWith(".parquet")),
          s"$outDir has lineage rows but no _encode_meta routing marker " +
            "(checkpoint predates the marker, or it was deleted). If this " +
            s"run's settings match the original encode, create the marker " +
            s"yourself:\n  echo '$metaNow' > $metaPath\nOtherwise encode " +
            "into a fresh outDir")
        writeRoutingMarker(outDir, metaNow)
    }
    TaskCommit.runResumable[ChunkRow, LineageRow](spark, chunksDir, lineageDir)(
      done => encode(df, numPartitions, partitionKeys, sortKeys,
        skipPartitions = done, blockCodec = blockCodec).rdd)(
      (_, it, stage) => writeChunkFile(it, stage))
    // the job completed, so any partition still without a sidecar received
    // zero rows (hash gaps — e.g. few distinct (keys, salt) combinations).
    // Mark them done with numChunks=0 rows, otherwise they stay pending
    // forever and every no-op rerun re-scans the input instead of hitting
    // the where(lit(false)) fast path. Covered partIds come from lineage
    // CONTENT, not filenames: any valid sidecar regardless of name means
    // the partition is accounted for.
    if (numPartitions > 0) {
      val have = TaskCommit.lineageReadOrEmpty(spark, lineageDir)
      val lineageSchema = Encoders.product[LineageRow].schema
      (0 until numPartitions).filterNot(have).foreach { pid =>
        TaskCommit.writeSidecar(TaskCommit.partPath(lineageDir, pid),
          lineageSchema, df.schema.fieldNames.toSeq.map(c =>
            LineageRow(pid, c, "", 0L, 0L, 0L, 0L, 0L, "")))
      }
    }
  }

  /** Canonical routing-config line pinned in a checkpoint's `_encode_meta`
    * marker. The column set is included because the salt hashes every
    * non-map column — a different projection re-routes rows too. */
  private[graft] def routingMeta(numPartitions: Int,
      partitionKeys: Seq[String], sortKeys: Seq[String], blockCodec: Int,
      columns: Seq[String]): String =
    s"v1 numPartitions=$numPartitions" +
      s" partitionKeys=${partitionKeys.mkString(",")}" +
      s" sortKeys=${sortKeys.mkString(",")} blockCodec=$blockCodec" +
      s" columns=${columns.mkString(",")}"

  /** Write (or overwrite) a checkpoint's routing marker. */
  private[graft] def writeRoutingMarker(outDir: String, meta: String): Unit =
    graft.sources.TaskCommit.writeMarker(s"$outDir/_encode_meta", meta)

  private lazy val chunkSchema = Encoders.product[ChunkRow].schema

  /** One partition's chunk file, the per-partition writer of every chunk
    * table: stream its chunks into `stage` and return its lineage rows,
    * byte-equal to [[lineage]]'s: codecs = sorted distinct joined '+',
    * manifest = sha256 hex of the chunk sha256 hex strings joined ',' in
    * chunkIdx order. */
  private[graft] def writeChunkFile(it: Iterator[ChunkRow],
      stage: String): Seq[LineageRow] = {
    // zstd-1 pages: 23% smaller than snappy on chunk blobs (the
    // lightweight encodings leave entropy slack) at equal write speed,
    // measured warm at local[32] on the 21 GB table
    val w = new graft.sources.ParquetFileWriter.IncrementalFileWriter(stage,
      chunkSchema, codec = graft.sources.PqCodec.Zstd)
    // per-column lineage accumulation, mirroring lineage()'s aggregation
    final class Acc {
      val codecs = scala.collection.mutable.Set.empty[String]
      val shas = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      var numValues = 0L; var inputBytes = 0L
      var outputBytes = 0L; var refPolicyBytes = 0L
    }
    val accs = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
    var partId = -1
    it.foreach { c =>
      partId = c.partId
      w.addRow(org.apache.spark.sql.Row(c.partId, c.chunkIdx, c.colIdx,
        c.column, c.physicalType, c.codec, c.numValues, c.numNulls,
        c.rawBytes, c.encodedBytes, c.refPolicyBytes, c.dictEntries,
        c.minStat, c.maxStat, c.sha256, c.blob))
      val a = accs.getOrElseUpdate(c.column, new Acc)
      a.codecs += c.codec
      a.shas += ((c.chunkIdx, c.sha256))
      a.numValues += c.numValues
      a.inputBytes += c.rawBytes
      a.outputBytes += c.encodedBytes
      a.refPolicyBytes += c.refPolicyBytes
    }
    w.close()
    accs.toSeq.map { case (column, a) =>
      val joined = a.shas.sortBy(_._1).map(_._2).mkString(",")
      val manifest = BitUtil.hexLower(java.security.MessageDigest
        .getInstance("SHA-256").digest(joined.getBytes("UTF-8")))
      LineageRow(partId, column, a.codecs.toSeq.sorted.mkString("+"),
        a.shas.length.toLong, a.numValues, a.inputBytes, a.outputBytes,
        a.refPolicyBytes, manifest)
    }
  }
}

/** Boxing-free per-column row buffer: `add` pulls the typed value straight
  * off the CATALYST row (InternalRow / ArrayData — anything implementing
  * SpecializedGetters) into a primitive array; string bytes copy once from
  * the row buffer into the column arena. Consuming internal rows avoids the
  * per-row external-Row materialization entirely (no boxed fields, no
  * UTF8String -> String -> bytes round trip). Values are fully copied out
  * inside `add`, so the caller may reuse the row instance (UnsafeRow
  * iterators do). Returns the raw-size delta used for chunk-cut accounting.
  * Nulls are tracked as definition levels (0 = null, 1 = present); the
  * value buffer holds only non-null values, mirroring Parquet page
  * semantics. Nested columns buffer their leaves in these same flat
  * builders: LIST and MAP through one [[ColBuilder.RepeatedBuilder]],
  * STRUCT through [[ColBuilder.StructBuilder]], each over the
  * [[ColBuilder.nestedLeaf]] types. */
sealed abstract class ColBuilder {
  private var levels = new Array[Byte](1024)
  private var nRows = 0
  private var nNulls = 0

  // overridable (not final): the nested builders replace the whole row
  // protocol with their own level tracking
  def add(row: SpecializedGetters, i: Int): Long = {
    if (nRows == levels.length) levels = java.util.Arrays.copyOf(levels, nRows << 1)
    if (row.isNullAt(i)) {
      levels(nRows) = 0; nRows += 1; nNulls += 1
      0L
    } else {
      levels(nRows) = 1; nRows += 1
      addValue(row, i)
    }
  }

  /** Number of buffered rows (incl. nulls). */
  def rowCount: Int = nRows
  def numNulls: Int = nNulls
  /** One 0/1 byte per row, or null when the buffer has no nulls. */
  def defLevels: Array[Byte] =
    if (nNulls == 0) null else java.util.Arrays.copyOf(levels, nRows)

  def clear(): Unit = { nRows = 0; nNulls = 0; clearValues() }

  /** Return any pooled backing arrays to the per-thread pool; the builder
    * must not be used afterwards. Called once per builder when its
    * partition's rows are exhausted. Default: nothing pooled. */
  def release(): Unit = ()

  protected def addValue(row: SpecializedGetters, i: Int): Long
  protected def clearValues(): Unit
  def build(): ColVec
}

object ColBuilder {
  /** Per-thread FIFO pool of byte arenas. Builders are created (schema
    * order) and released (same order) once per PARTITION, while chunk-sized
    * arenas take growth-doubling copies totaling ~2x their final size to
    * warm up — unamortized when a partition holds only a few chunks. Tasks
    * run sequentially per thread, so FIFO pairing hands column c the arena
    * column c released in the previous partition: the second partition
    * onward starts full-sized with zero growth copies. Bounded: at most
    * [[MaxPooled]] arenas of at most [[ArenaRetainLimit]] bytes per thread. */
  private val ArenaRetainLimit = 48 << 20
  private val MaxPooledBytes = 96L << 20 // per-thread cap on TOTAL pooled bytes
  private final class ArenaQueue {
    val dq = new java.util.ArrayDeque[Array[Byte]]()
    var bytes = 0L
  }
  private val arenaPool: ThreadLocal[ArenaQueue] =
    ThreadLocal.withInitial(() => new ArenaQueue)

  private[operators] def borrowArena(min: Int): Array[Byte] = {
    val q = arenaPool.get()
    val a = q.dq.pollFirst()
    if (a != null) q.bytes -= a.length
    if (a != null && a.length >= min) a else new Array[Byte](min)
  }

  private[operators] def giveArena(a: Array[Byte]): Unit = {
    val q = arenaPool.get()
    if (a != null && a.length <= ArenaRetainLimit &&
        q.bytes + a.length <= MaxPooledBytes) {
      q.dq.addLast(a)
      q.bytes += a.length
    }
  }
  /** Minimal FIXED_LEN_BYTE_ARRAY width for a DECIMAL(p): smallest n with
    * 10^p - 1 representable in signed 8n-bit two's complement (public
    * parquet logical-types rule). */
  def decimalFlbaLen(precision: Int): Int =
    (java.math.BigInteger.TEN.pow(precision)
      .subtract(java.math.BigInteger.ONE).bitLength + 1 + 7) / 8

  /** Big-endian two's-complement, sign-extended to exactly `len` bytes. */
  def decimalToFlba(unscaled: java.math.BigInteger, len: Int): Array[Byte] = {
    val raw = unscaled.toByteArray
    require(raw.length <= len, s"decimal overflows FLBA($len)")
    if (raw.length == len) raw
    else {
      val out = new Array[Byte](len)
      if (unscaled.signum < 0) java.util.Arrays.fill(out, 0, len - raw.length,
        0xFF.toByte)
      System.arraycopy(raw, 0, out, len - raw.length, raw.length)
      out
    }
  }

  def apply(dt: DataType): ColBuilder = dt match {
    // null conv = direct UTF8String arena copy (one copy, no intermediate
    // per-string array)
    case StringType => new BytesBuilder(null)
    case BinaryType => new BytesBuilder((r, i) => r.getBinary(i))
    // catalyst already stores DATE as epoch days and TIMESTAMP[_NTZ] as
    // epoch/local micros — exactly our physical representation
    case IntegerType | DateType => new IntBuilder(null)
    case LongType | TimestampType | TimestampNTZType => new LongBuilder(null)
    case FloatType => new FloatBuilder
    case DoubleType => new DoubleBuilder
    case BooleanType => new BoolBuilder
    case dt: DecimalType if dt.precision <= 18 => new LongBuilder((r, i) =>
      r.getDecimal(i, dt.precision, dt.scale).toUnscaledLong)
    case dt: DecimalType => { // p > 18: FIXED_LEN_BYTE_ARRAY path
      val len = decimalFlbaLen(dt.precision)
      new BytesBuilder((r, i) => decimalToFlba(
        r.getDecimal(i, dt.precision, dt.scale)
          .toJavaBigDecimal.unscaledValue(), len))
    }
    case ArrayType(et, _) =>
      new RepeatedBuilder(Array(ColBuilder(nestedLeaf(et, "LIST element"))))
    case MapType(kt, vt, _) =>
      new RepeatedBuilder(Array(ColBuilder(nestedLeaf(kt, "MAP key")),
        ColBuilder(nestedLeaf(vt, "MAP value"))))
    case st: StructType => new StructBuilder(st)
    case other => throw new IllegalArgumentException(
      s"unsupported column type $other (flat + LIST/MAP/STRUCT schemas only)")
  }

  /** The leaf types a nested column can hold (LIST element, MAP key or
    * value, STRUCT field): single-level nesting, primitive/string leaves.
    * Returns `dt`, or throws naming `what`. */
  def nestedLeaf(dt: DataType, what: String): DataType = dt match {
    case IntegerType | LongType | FloatType | DoubleType | BooleanType |
         StringType | BinaryType => dt
    case other => throw new IllegalArgumentException(
      s"unsupported $what type $other (primitive/string leaves only)")
  }

  /** Driver-side check of a schema against [[apply]]: throws the
    * IllegalArgumentException a task would otherwise throw mid-write. */
  def check(schema: StructType): Unit =
    schema.fields.foreach(f => ColBuilder(f.dataType).release())

  /** LIST or MAP column buffer, the one repeated-column shredding (the
    * write direction of the reference's record shredding, its
    * `src/record/`). A row becomes entries that share one
    * rep/def stream: rep 0 = first entry of the row, 1 = continuation;
    * def 0 = null row, 1 = empty row, 2 = entry whose last leaf is null,
    * 3 = entry with every leaf present. `leaves` are flat builders: a LIST
    * has one optional leaf (its elements); a MAP has a required key leaf,
    * which appends at every entry, and an optional value leaf. A leaf
    * buffers only its non-null values. MAP entry order is whatever the
    * incoming map iterates; MAP semantics are unordered, and the roundtrip
    * contract is key-set + per-key-value equality, not entry order. */
  final class RepeatedBuilder(leaves: Array[ColBuilder]) extends ColBuilder {
    private var rep = new Array[Byte](1024)
    private var defs = new Array[Byte](1024)
    private var nSlots = 0
    private var nR = 0
    private var nN = 0

    private def slot(r: Byte, d: Byte): Unit = {
      if (nSlots == rep.length) {
        rep = java.util.Arrays.copyOf(rep, nSlots << 1)
        defs = java.util.Arrays.copyOf(defs, nSlots << 1)
      }
      rep(nSlots) = r; defs(nSlots) = d; nSlots += 1
    }

    override def add(row: SpecializedGetters, i: Int): Long = {
      nR += 1
      if (row.isNullAt(i)) { nN += 1; slot(0, 0); return 4L }
      // the last leaf's array sets the entry count; a MAP's keys precede it
      val map = if (leaves.length == 1) null else row.getMap(i)
      val keys = if (map == null) null else map.keyArray()
      val last = if (map == null) row.getArray(i) else map.valueArray()
      val m = last.numElements()
      if (m == 0) { slot(0, 1); return 4L }
      var delta = 4L
      var j = 0
      while (j < m) {
        val r: Byte = if (j == 0) 0 else 1
        val d: Byte = if (last.isNullAt(j)) 2 else 3
        slot(r, d)
        if (keys != null) delta += leaves(0).add(keys, j)
        delta += leaves(leaves.length - 1).add(last, j)
        j += 1
      }
      delta
    }

    override def rowCount: Int = nR
    override def numNulls: Int = nN
    override def defLevels: Array[Byte] =
      throw new UnsupportedOperationException("use buildRepeated for LIST/MAP columns")
    override def clear(): Unit = { nSlots = 0; nR = 0; nN = 0; leaves.foreach(_.clear()) }
    override def release(): Unit = leaves.foreach(_.release())

    /** (each leaf's non-null values, rep levels, def levels). */
    def buildRepeated(): (Array[ColVec], Array[Byte], Array[Byte]) =
      (leaves.map(_.build()), java.util.Arrays.copyOf(rep, nSlots),
        java.util.Arrays.copyOf(defs, nSlots))

    protected def addValue(row: SpecializedGetters, i: Int): Long =
      throw new UnsupportedOperationException
    protected def clearValues(): Unit = ()
    def build(): ColVec = throw new UnsupportedOperationException(
      "use buildRepeated for LIST/MAP columns")
  }

  /** STRUCT column buffer: a non-repeated nested group. Every subfield
    * becomes its own leaf chunk with max def level 2 (optional group +
    * optional field): per-row def 0 = struct null, 1 = field null,
    * 2 = present — the write direction of the reference's group shredding
    * for flat groups (`/root/reference/src/record/`, no rep levels needed
    * because nothing repeats). Subfields are [[nestedLeaf]] types. */
  final class StructBuilder(val st: StructType) extends ColBuilder {
    private val n = st.fields.length
    private val bufs: Array[ColBuilder] =
      st.fields.map(f => ColBuilder(nestedLeaf(f.dataType, "STRUCT field")))
    private var defs: Array[Array[Byte]] = Array.fill(n)(new Array[Byte](1024))
    private var nR = 0
    private var nN = 0

    override def add(row: SpecializedGetters, i: Int): Long = {
      if (nR == defs(0).length) {
        var j = 0
        while (j < this.n) {
          defs(j) = java.util.Arrays.copyOf(defs(j), nR << 1); j += 1
        }
      }
      nR += 1
      if (row.isNullAt(i)) {
        nN += 1
        var j = 0
        while (j < this.n) { defs(j)(nR - 1) = 0; j += 1 }
        n.toLong
      } else {
        val inner = row.getStruct(i, this.n)
        var delta = 0L
        var j = 0
        while (j < this.n) {
          defs(j)(nR - 1) = if (inner.isNullAt(j)) 1 else 2
          delta += bufs(j).add(inner, j)
          j += 1
        }
        delta + n
      }
    }

    override def rowCount: Int = nR
    override def numNulls: Int = nN
    override def defLevels: Array[Byte] =
      throw new UnsupportedOperationException("use buildStruct for STRUCT columns")
    override def clear(): Unit = {
      nR = 0; nN = 0; bufs.foreach(_.clear())
    }
    override def release(): Unit = bufs.foreach(_.release())

    /** Per-subfield (values, def levels); def arrays are `rowCount` long. */
    def buildStruct(): Array[(ColVec, Array[Byte])] =
      Array.tabulate(n)(j =>
        (bufs(j).build(), java.util.Arrays.copyOf(defs(j), nR)))

    protected def addValue(row: SpecializedGetters, i: Int): Long =
      throw new UnsupportedOperationException
    protected def clearValues(): Unit = ()
    def build(): ColVec = throw new UnsupportedOperationException(
      "use buildStruct for STRUCT columns")
  }

  /** `conv == null` means the column is a STRING: its UTF8String view is
    * copied ONCE from the catalyst row buffer straight into the arena (no
    * intermediate per-string byte array at all). */
  private final class BytesBuilder(conv: (SpecializedGetters, Int) => Array[Byte])
      extends ColBuilder {
    // arena: the row-boundary copy lands directly in one contiguous buffer;
    // borrowed from the per-thread pool so repeat partitions skip the
    // growth-doubling warmup (see ColBuilder.borrowArena)
    private var data = ColBuilder.borrowArena(1 << 16)
    private var offsets = new Array[Int](1024)
    private var n = 0
    offsets(0) = 0
    protected def addValue(row: SpecializedGetters, i: Int): Long = {
      if (n + 1 == offsets.length) offsets = java.util.Arrays.copyOf(offsets, offsets.length << 1)
      val end = offsets(n)
      var len = 0
      if (conv == null) {
        val u = row.getUTF8String(i)
        len = u.numBytes()
        if (end + len > data.length) grow(end + len)
        u.writeToMemory(data, Platform.BYTE_ARRAY_OFFSET + end)
      } else {
        val v = conv(row, i)
        len = v.length
        if (end + len > data.length) grow(end + len)
        System.arraycopy(v, 0, data, end, len)
      }
      n += 1
      offsets(n) = end + len
      4L + len
    }
    private def grow(need: Int): Unit = {
      var cap = data.length << 1
      while (cap < need) cap <<= 1
      data = java.util.Arrays.copyOf(data, cap)
    }
    // zero-copy: the returned vec shares the arena. Safe because flushChunk
    // fully consumes the vec (encode + stats + hash) before the next add()
    // can overwrite arena bytes; BytesVec reads are offset-bounded, so the
    // arena's unused tail is never observed. Copying here would move 32 MB
    // per content chunk for nothing.
    def build(): ColVec = BytesVec(data, java.util.Arrays.copyOf(offsets, n + 1))
    protected def clearValues(): Unit = { n = 0; offsets(0) = 0 }
    override def release(): Unit = { ColBuilder.giveArena(data); data = null }
  }

  private class IntBuilder(get: (SpecializedGetters, Int) => Int) extends ColBuilder {
    private var a = new Array[Int](1024)
    private var n = 0
    protected def addValue(row: SpecializedGetters, i: Int): Long = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
      a(n) = if (get == null) row.getInt(i) else get(row, i)
      n += 1
      4L
    }
    def build(): ColVec = IntVec(java.util.Arrays.copyOf(a, n))
    protected def clearValues(): Unit = n = 0
  }

  private class LongBuilder(get: (SpecializedGetters, Int) => Long) extends ColBuilder {
    private var a = new Array[Long](1024)
    private var n = 0
    protected def addValue(row: SpecializedGetters, i: Int): Long = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
      a(n) = if (get == null) row.getLong(i) else get(row, i)
      n += 1
      8L
    }
    def build(): ColVec = LongVec(java.util.Arrays.copyOf(a, n))
    protected def clearValues(): Unit = n = 0
  }

  private final class FloatBuilder extends ColBuilder {
    private var a = new Array[Float](1024)
    private var n = 0
    protected def addValue(row: SpecializedGetters, i: Int): Long = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
      a(n) = row.getFloat(i)
      n += 1
      4L
    }
    def build(): ColVec = FloatVec(java.util.Arrays.copyOf(a, n))
    protected def clearValues(): Unit = n = 0
  }

  private final class DoubleBuilder extends ColBuilder {
    private var a = new Array[Double](1024)
    private var n = 0
    protected def addValue(row: SpecializedGetters, i: Int): Long = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
      a(n) = row.getDouble(i)
      n += 1
      8L
    }
    def build(): ColVec = DoubleVec(java.util.Arrays.copyOf(a, n))
    protected def clearValues(): Unit = n = 0
  }

  private final class BoolBuilder extends ColBuilder {
    private var a = new Array[Boolean](1024)
    private var n = 0
    protected def addValue(row: SpecializedGetters, i: Int): Long = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length << 1)
      a(n) = row.getBoolean(i)
      n += 1
      1L
    }
    def build(): ColVec = BoolVec(java.util.Arrays.copyOf(a, n))
    protected def clearValues(): Unit = n = 0
  }
}

/** Incremental sha256 of a column vector's canonical value bytes
  * (4-byte LE length + bytes per value — PLAIN-equivalent, so the manifest
  * is decodable-side reproducible). For chunks with nulls the 0/1 def-level
  * bytes are hashed before the values, so validity is part of identity. */
object ColVecHash {
  def sha256Hex(vec: ColVec, defLevels: Array[Byte] = null): String =
    sha256Hex(Seq(vec), defLevels)

  /** The level bytes (when non-null), then each vector's values in order:
    * a repeated chunk's identity is its rep + def streams and its leaves. */
  def sha256Hex(vecs: Seq[ColVec], levels: Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    if (levels != null) md.update(levels)
    vecs.foreach(updateWith(md, _))
    other2hex(md.digest())
  }

  private def updateWith(md: java.security.MessageDigest, vec: ColVec): Unit = {
    val lenBuf = new Array[Byte](4)
    def putLen(n: Int): Unit = {
      lenBuf(0) = n.toByte; lenBuf(1) = (n >>> 8).toByte
      lenBuf(2) = (n >>> 16).toByte; lenBuf(3) = (n >>> 24).toByte
      md.update(lenBuf)
    }
    vec match {
      case v: BytesVec =>
        var i = 0
        while (i < v.length) {
          val len = v.len(i)
          putLen(len)
          md.update(v.data, v.start(i), len)
          i += 1
        }
      case other => md.update(PlainCodec.encode(other))
    }
  }
  private def other2hex(d: Array[Byte]): String = BitUtil.hexLower(d)
}
