package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.core._
import graft.operators.{ColBuilder, ColVecHash, DecodeJob, EncodeJob}
import graft.sources._

/** The traced run's per-layer measurements. Each layer is timed from the
  * outside, around calls to its public functions, on the same seeded input
  * the workloads use: one partition's rows (exactly the rows `EncodeJob`
  * hands that partition) for the single-threaded layers, the whole table
  * for the exact counts. Every figure is a median over [[Reps]] repetitions
  * unless it is a count. */
final class Layers(ctx: Ctx) {
  import Layers._
  private val spark = ctx.spark
  private val tr = ctx.tr
  private val out = mutable.LinkedHashMap.empty[String, Double]

  def run(): Map[String, Double] = {
    val input = spark.read.parquet(ctx.work.resolve("input").toString)
    val raw = Inputs.rawBytesByColumn(input)
    val schema = input.schema
    val pid = (java.lang.Math.floorMod(ctx.seed, ChunkStore.Partitions.toLong)).toInt
    val rows = tr("layers.partition_rows")(partitionRows(input, pid))
    val partRaw = encodeLayers(pid, rows, schema)
    kernelLayers(chunkTable(input, raw))
    fileLayers(rows, input, raw, partRaw)
    lookupLayers(input)
    out.toMap
  }

  private def put(name: String, v: Double): Unit = out(name) = v

  private def medianOf(reps: Int)(f: => Unit): Double =
    Stats.median((0 until reps).map(_ => tr.timed("rep")(f)._2))

  /** The rows `EncodeJob.encode` gives partition `pid`: the same salted
    * exchange on (repo, lang) and the same sort, collected to the driver. */
  private def partitionRows(input: DataFrame, pid: Int): Array[InternalRow] = {
    val salt = pmod(xxhash64(input.columns.map(col).toSeq: _*), lit(16))
    val sorted = input
      .repartition(ChunkStore.Partitions,
        (ChunkStore.PartitionKeys.map(col) :+ salt): _*)
      .sortWithinPartitions(ChunkStore.SortKeys.map(col): _*)
    sorted.queryExecution.toRdd.mapPartitionsWithIndex((i, it) =>
      if (i == pid) it.map(_.copy()) else Iterator.empty).collect()
  }

  // ------------------------------------------------------------ encode

  /** `encodePartition` timed directly, and its steps repeated one by one
    * through their public functions with the same chunk cuts and the same
    * selector rule as `ChunkCodec.encodeAuto`, alternating so both see the
    * same JIT state. The replica must produce the same codec and sha256
    * for every chunk; its steps should add up to the direct time.
    * Returns the partition's raw bytes. */
  private def encodeLayers(pid: Int, rows: Array[InternalRow],
      schema: StructType): Long = {
    def direct() = EncodeJob.encodePartition(pid, schema, rows.iterator,
      EncodeJob.DefaultChunkRows, EncodeJob.DefaultChunkRawBytes)
      .map(c => (c.chunkIdx, c.colIdx, c.codec, c.sha256)).toList
    val reps = (0 to Reps).map { _ =>
      val (d, s) = tr.timed("encodejob.partition")(direct())
      val (replica, acc) = tracedEncode(rows, schema)
      Check(replica == d, "traced encode steps chose other codecs or hashes than encodePartition")
      (s, acc)
    }.tail // the first pair warms up
    val accs = reps.map(_._2)
    def med(key: String): Double = Stats.median(accs.map(_.getOrElse(key, 0.0)))
    put("encodejob.partition_s", Stats.median(reps.map(_._1)))
    Steps.foreach(s => put(s + "_s", med(s)))
    put("encodejob.traced_steps_s", Stats.median(accs.map(a => Steps.map(a.getOrElse(_, 0.0)).sum)))
    put("selector.trials", accs.head("trials"))
    put("selector.trial_kept_ratio", accs.head("trials_kept") / math.max(1.0, accs.head("trials")))
    val partRaw = Inputs.Columns.map(c => accs.head(s"raw/$c")).sum
    put("hash.sha256_mbps", partRaw / 1e6 / med("hash.sha256"))
    Inputs.Columns.foreach { c =>
      put(s"selector.${c}_mbps", accs.head(s"raw/$c") / 1e6 / med(s"selector/$c"))
    }
    partRaw.toLong
  }

  /** One pass of the traced replica: (chunkIdx, colIdx, codec, sha256) per
    * chunk, and seconds per step, per column ("selector/<col>") and raw
    * bytes per column ("raw/<col>"). */
  private def tracedEncode(rows: Array[InternalRow], schema: StructType):
      (Seq[(Int, Int, String, String)], Map[String, Double]) = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def step[A](name: String, col: String = null)(f: => A): A = {
      val (a, s) = tr.timed(name)(f)
      acc(name) += s
      if (col != null) acc(s"selector/$col") += s
      a
    }
    val fields = schema.fields
    val builders = fields.map(f => ColBuilder(f.dataType))
    val chunks = mutable.ArrayBuffer.empty[(Int, Int, String, String)]
    var pos = 0
    var chunkIdx = 0
    while (pos < rows.length) {
      step("colbuilder.fill") {
        var buffered = 0
        var bufferedRaw = 0L
        while (pos < rows.length && buffered < EncodeJob.DefaultChunkRows &&
            bufferedRaw < EncodeJob.DefaultChunkRawBytes) {
          var c = 0
          while (c < fields.length) { bufferedRaw += builders(c).add(rows(pos), c); c += 1 }
          buffered += 1
          pos += 1
        }
      }
      fields.indices.foreach { c =>
        val name = fields(c).name
        val b = builders(c)
        val (v, levels) = step("colbuilder.fill")((b.build(), b.defLevels))
        val stats = step("chunkstats.compute", name)(ChunkStats.compute(v))
        val refCodec = ChunkCodec.referencePolicyCodec(v)
        val best = step("selector.rank", name)(CodecSelector.chooseScored(v.physicalType, stats))
        val lazyRef = levels == null && refCodec == CodecId.Dict &&
          best.nonEmpty && !best.exists(_._2 == refCodec)
        var chosenId = refCodec
        var chosenBlob: Array[Byte] =
          if (lazyRef) null
          else step("selector.refsize", name)(ChunkCodec.encodeWith(v, refCodec, levels))
        val refSize =
          if (lazyRef) step("selector.refsize", name)(ChunkCodec.refPolicySizeOnly(v))
          else chosenBlob.length.toLong
        val cutoff = if (best.isEmpty) Long.MaxValue
          else math.min(Long.MaxValue / 2, best.head._1) * 7 / 5
        var fromTrial = false
        best.zipWithIndex.foreach { case ((est, cand), rank) =>
          if (cand != refCodec && (rank == 0 || est <= cutoff)) {
            acc("trials") += 1
            val blob = step("selector.trial", name)(ChunkCodec.encodeWith(v, cand, levels))
            if (chosenBlob == null || blob.length < chosenBlob.length) {
              chosenId = cand
              chosenBlob = blob
              fromTrial = true
            }
          }
        }
        if (chosenBlob == null || refSize < chosenBlob.length) {
          chosenId = refCodec
          fromTrial = false
          chosenBlob = step("selector.refsize", name)(ChunkCodec.encodeWith(v, refCodec, levels))
        }
        if (fromTrial) acc("trials_kept") += 1
        val sha = step("hash.sha256")(ColVecHash.sha256Hex(v, levels))
        step("minmax.compute")(MinMax.compute(v))
        acc(s"raw/$name") += v.rawSize
        chunks += ((chunkIdx, c, CodecId.names(chosenId), sha))
        b.clear()
      }
      chunkIdx += 1
    }
    builders.foreach(_.release())
    (chunks.toSeq, acc.toMap)
  }

  // ----------------------------------------------------------- kernels

  /** Each codec that chunks choose, timed on every chunk that chose it:
    * values come from decoding the stored blob, then `encodeWith` and
    * `decodeWithLevels` run over them; raw MB/s. */
  private def kernelLayers(chunks: Seq[(String, Array[Byte])]): Unit =
    KernelCodecs.foreach { codec =>
      val name = CodecId.names(codec)
      val blobs = chunks.filter(_._1 == name).map(_._2)
      Check(blobs.nonEmpty, s"no chunk chose $name")
      val decoded = blobs.map(ChunkCodec.decodeWithLevels)
      val rawMb = decoded.map(_.vec.rawSize).sum / 1e6
      val enc = medianOf(Reps)(decoded.foreach(d => ChunkCodec.encodeWith(d.vec, codec, d.defLevels)))
      val dec = medianOf(Reps)(blobs.foreach(ChunkCodec.decodeWithLevels))
      put(s"kernel.${name.toLowerCase}_encode_mbps", rawMb / enc)
      put(s"kernel.${name.toLowerCase}_decode_mbps", rawMb / dec)
    }

  // -------------------------------------------------- whole chunk table

  /** Exact per-column ratios and codec counts over the whole table, then
    * `DecodeJob` timed as a job and per column through its kernel. */
  private def chunkTable(input: DataFrame,
      raw: Map[String, Long]): Seq[(String, Array[Byte])] = {
    val chunks = EncodeJob.encode(input, ChunkStore.Partitions,
      ChunkStore.PartitionKeys, ChunkStore.SortKeys).persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = tr("layers.chunk_table")(chunks.select("column", "codec",
        "rawBytes", "encodedBytes", "blob").collect())
      chunkCounts(rows.toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))))
        .foreach { case (k, v) => put(k, v) }

      val trace = new SparkTrace
      spark.sparkContext.addSparkListener(trace)
      val jobS = medianOf(Reps)(Inputs.digest(DecodeJob.decodeLocal(chunks, input.schema)))
      SparkTrace.drain(spark)
      spark.sparkContext.removeSparkListener(trace)
      put("decodejob.job_s", jobS)
      var kernelS = 0.0
      Inputs.Columns.foreach { c =>
        val blobs = rows.filter(_.getString(0) == c).map(_.getAs[Array[Byte]](4))
        val s = medianOf(Reps)(blobs.foreach(ChunkCodec.decodeWithLevels))
        kernelS += s
        put(s"decode.${c}_mbps", raw(c) / 1e6 / s)
      }
      put("decodejob.assembly_s", trace.runMs / 1e3 / Reps - kernelS)
      rows.map(r => (r.getString(1), r.getAs[Array[Byte]](4))).toSeq
    } finally chunks.unpersist(blocking = true)
  }

  // ------------------------------------------------------- file layers

  /** The file writer on one partition's catalyst rows (the
    * `IncrementalFileWriter.add` path `ParquetSink` drives, with file_scan's
    * settings), then footers, chunk fetches and per-column page decode on
    * the whole table written as file_scan writes it. */
  private def fileLayers(rows: Array[InternalRow], input: DataFrame,
      raw: Map[String, Long], partRaw: Long): Unit = {
    val schema = input.schema
    val one = ctx.work.resolve("layer-file.parquet").toString
    put("pqwriter.file_mbps", partRaw / 1e6 / medianOf(Reps) {
      val w = new ParquetFileWriter.IncrementalFileWriter(one, schema,
        codec = PqCodec.Snappy, pageVersion = 2, bloomCols = Set("commit"),
        encPolicy = EncPolicy.Auto)
      rows.foreach(w.add)
      w.close()
    })
    val dir = ctx.dir("layer-files")
    val paths = FileScan.write(input, dir).map(_._1)
    // freshly written: the first footer read of each file misses the cache
    val cold = paths.map(p => tr.timed("pqreader.footer")(ParquetFileReader.readFooterOnly(p))._2)
    val metas = paths.map(ParquetFileReader.readFooterOnly)
    val warmUs = Stats.median((0 until 200).map { i =>
      tr.timed("pqreader.footer")(ParquetFileReader.readFooterOnly(paths(i % paths.size)))._2
    }) * 1e6
    put("pqreader.footer_cold_ms", Stats.median(cold) * 1e3)
    put("pqreader.footer_warm_us", warmUs)
    writerCounts(metas, raw).foreach { case (k, v) => put(k, v) }
    val chunks = for ((p, m) <- paths.zip(metas); rg <- m.rowGroups.indices;
                      c <- ParquetFileReader.flatColumns(m, rg)) yield (p, c)

    var fetched: Seq[(String, Array[Byte], ParquetFileReader.Column)] = Nil
    val fetchS = medianOf(Reps) {
      fetched = chunks.groupBy(_._1).toSeq.flatMap { case (p, cs) =>
        val f = new ParquetFileReader.ChunkFetcher(p)
        try cs.map { case (_, c) => val (b, rc) = f.fetchColumn(c); (c.name, b, rc) }
        finally f.close()
      }
    }
    put("pqreader.fetch_mbps", fetched.map(_._2.length.toLong).sum / 1e6 / fetchS)
    Inputs.Columns.foreach { c =>
      val mine = fetched.filter(_._1 == c)
      val s = medianOf(Reps)(mine.foreach { case (_, b, rc) => ParquetFileReader.readColumnVec(b, rc) })
      put(s"pqreader.${c}_decode_mbps", raw(c) / 1e6 / s)
    }
  }

  // ----------------------------------------------------- lookup layers

  /** Planning time and pruning counts over the point-lookup mix, on a
    * fresh copy of the point-lookup table, through the same public
    * `ParquetFileReader` / `Sbbf` calls the scan makes. */
  private def lookupLayers(input: DataFrame): Unit = {
    val table = LookupTable.build(ctx, input, "lookup-table")
    val mix = Lookup.mix(ctx, input, LookupTable.MixSize)
    val plan = mix.map { k =>
      val df = spark.read.format(GraftParquetFormat.Name).load(table.dir)
        .where(k.predicate).select("repo", "path", "commit")
      tr.timed("scan.plan")(df.queryExecution.executedPlan)._2
    }
    put("scan.plan_ms", Stats.median(plan) * 1e3)
    val p = Layers.prune(tr, table.dir, mix)
    put("prune.rg_total", p.total.toDouble)
    put("prune.rg_after_stats", p.afterStats.toDouble)
    put("prune.rg_after_bloom", p.afterBloom.toDouble)
    put("prune.rows_after_page_index", p.pageRows.toDouble)
    put("prune.rg_useful_ratio", p.useful.toDouble / math.max(1L, p.afterBloom))
    put("bloom.probe_us", Stats.median(p.probeS) * 1e6)
  }
}

object Layers {
  val Reps = 5

  /** Exact chunk-table counts from (column, codec, rawBytes, encodedBytes)
    * per chunk: each column's stored/raw ratio and each codec's chunk
    * count. */
  def chunkCounts(chunks: Seq[(String, String, Long, Long)]): Map[String, Double] = {
    val unknown = chunks.map(_._2).distinct.filterNot(ChunkCodecs.contains)
    if (unknown.nonEmpty) System.err.println(s"graftbench: unlisted chunk codecs ${unknown.mkString(",")}")
    Inputs.Columns.map { c =>
      val mine = chunks.filter(_._1 == c)
      s"chunk.${c}_bytes_ratio" -> mine.map(_._4).sum.toDouble / mine.map(_._3).sum
    }.toMap ++ ChunkCodecs.map(k =>
      s"chunk.codec.${k.toLowerCase}" -> chunks.count(_._2 == k).toDouble)
  }

  /** Exact counts from written footers: each column's compressed bytes over
    * its raw bytes, and how many column chunks list each encoding. */
  def writerCounts(metas: Seq[PqFileMeta], raw: Map[String, Long]): Map[String, Double] = {
    val cms = metas.flatMap(_.rowGroups.flatMap(_.columns))
    val encs = cms.flatMap(_.encodings)
    val unknown = encs.distinct.filterNot(PqEncodings.contains)
    if (unknown.nonEmpty) System.err.println(s"graftbench: unlisted encodings ${unknown.mkString(",")}")
    Inputs.Columns.map { c =>
      s"pqwriter.${c}_bytes_ratio" ->
        cms.filter(_.pathInSchema.headOption.contains(c)).map(_.totalCompressedSize).sum.toDouble / raw(c)
    }.toMap ++ PqEncodings.map { case (id, n) => s"pqwriter.enc.$n" -> encs.count(_ == id).toDouble }
  }

  /** Row groups and rows left after each pruning tier, summed over a lookup
    * mix, through the public `ParquetFileReader` / `Sbbf` calls the scan
    * itself makes: footer stats, then bloom filters, then page indexes.
    * `useful` counts surviving row groups that hold a match. */
  final case class Prune(total: Long, afterStats: Long, afterBloom: Long,
      pageRows: Long, useful: Long, probeS: Seq[Double]) {
    def counts: (Long, Long, Long, Long, Long) = (total, afterStats, afterBloom, pageRows, useful)
  }

  def prune(tr: SpanRecorder, dir: String, mix: Seq[Lookup.Key]): Prune = {
    val files = GraftParquetFormat.listDataFilesSized(dir).map(_._1)
    var total, afterStats, afterBloom, useful = 0L
    var pageRows = 0L
    val probeS = mutable.ArrayBuffer.empty[Double]
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    for (k <- mix; path <- files) {
      val meta = ParquetFileReader.readFooterOnly(path)
      val eq: Seq[(String, Array[Byte])] =
        if (k.byCommit) Seq("commit" -> utf8(k.commit))
        else Seq("repo" -> utf8(k.repo), "path" -> utf8(k.path))
      total += meta.rowGroups.size
      var rgs: Seq[Int] = meta.rowGroups.indices
      eq.foreach { case (c, v) =>
        rgs = rgs.filter(ParquetFileReader.rowGroupsInRangeBytes(meta, c, v, v).toSet)
      }
      afterStats += rgs.size
      val fetch = new ParquetFileReader.ChunkFetcher(path)
      val in = GraftIO.forPath(path).open(path)
      try {
        rgs = rgs.filter { rg =>
          eq.forall { case (c, v) =>
            ParquetFileReader.chunkFor(meta, rg, c) match {
              case Some(cm) if cm.bloomOffset >= 0 =>
                val (hit, s) = tr.timed("bloom.probe") {
                  Sbbf.readFromFile(in, cm).forall(f =>
                    Sbbf.hashForType(cm.typ, v).forall(f.mightContainHash))
                }
                probeS += s
                hit
              case _ => true
            }
          }
        }
        afterBloom += rgs.size
        rgs.foreach { rg =>
          val nRows = meta.rowGroups(rg).numRows
          var keep: Seq[(Long, Long)] = Seq((0L, nRows))
          eq.foreach { case (c, v) =>
            ParquetFileReader.chunkFor(meta, rg, c).foreach { cm =>
              if (cm.columnIndexOffset >= 0 && cm.offsetIndexOffset >= 0) {
                val ci = ParquetMeta.parseColumnIndex(
                  fetch.range(cm.columnIndexOffset, cm.columnIndexLength), 0)
                val oi = ParquetMeta.parseOffsetIndex(
                  fetch.range(cm.offsetIndexOffset, cm.offsetIndexLength), 0)
                keep = ParquetFileReader.intersectRowRanges(keep,
                  ParquetFileReader.indexRowRanges(ci, oi, nRows,
                    st => ParquetFileReader.byteStatsOverlap(st, v, v)))
              }
            }
          }
          pageRows += keep.map(r => r._2 - r._1).sum
          val cols = ParquetFileReader.flatColumns(meta, rg).map(c => c.name -> c).toMap
          val values = eq.map { case (c, _) =>
            val (b, rc) = fetch.fetchColumn(cols(c))
            ParquetFileReader.readColumn(b, rc)
          }
          val hit = values.head.indices.exists(i => eq.indices.forall { j =>
            java.util.Arrays.equals(values(j)(i).asInstanceOf[Array[Byte]], eq(j)._2)
          })
          if (hit) useful += 1
        }
      } finally { in.close(); fetch.close() }
    }
    Prune(total, afterStats, afterBloom, pageRows, useful, probeS.toSeq)
  }

  /** Encode steps, in `encodeAuto`'s order; their sum stands in for
    * `encodePartition`. */
  val Steps: Seq[String] = Seq("colbuilder.fill", "chunkstats.compute",
    "selector.rank", "selector.refsize", "selector.trial", "hash.sha256",
    "minmax.compute")

  /** The codecs the selector picks on this table (any seed). */
  val KernelCodecs: Seq[Int] = Seq(CodecId.Dict, CodecId.DeltaBinaryPacked,
    CodecId.DeltaByteArray, CodecId.Fsst)

  /** The same codecs as `ChunkRow.codec` spells them. */
  val ChunkCodecs: Seq[String] = KernelCodecs.map(CodecId.names)

  /** The parquet.thrift `Encoding` ids the file writer uses on this table
    * (any seed), by name. */
  val PqEncodings: Map[Int, String] = Map(0 -> "plain", 3 -> "rle",
    6 -> "delta_length_byte_array", 8 -> "rle_dictionary")

  /** Every per-layer metric of a traced run, with its unit. */
  val Units: Seq[(String, String)] = {
    val cols = Inputs.Columns
    Seq("spark.task_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "bytes",
      "spark.shuffle_write_s" -> "s", "spark.fetch_wait_s" -> "s",
      "spark.tasks" -> "count", "spark.sched_delay_ms" -> "ms",
      "traced.write_mbps" -> "MB/s", "traced.read_mbps" -> "MB/s",
      "traced.lookup_p50_ms" -> "ms", "traced.lookup_tail_ms" -> "ms",
      "encodejob.partition_s" -> "s", "encodejob.traced_steps_s" -> "s") ++
    Steps.map(_ + "_s" -> "s") ++
    Seq("selector.trials" -> "count", "selector.trial_kept_ratio" -> "ratio",
      "hash.sha256_mbps" -> "MB/s") ++
    cols.map(c => s"selector.${c}_mbps" -> "MB/s") ++
    KernelCodecs.map(CodecId.names(_).toLowerCase).flatMap(k =>
      Seq(s"kernel.${k}_encode_mbps" -> "MB/s", s"kernel.${k}_decode_mbps" -> "MB/s")) ++
    cols.map(c => s"chunk.${c}_bytes_ratio" -> "ratio") ++
    ChunkCodecs.map(k => s"chunk.codec.${k.toLowerCase}" -> "count") ++
    Seq("decodejob.job_s" -> "s", "decodejob.assembly_s" -> "s") ++
    cols.map(c => s"decode.${c}_mbps" -> "MB/s") ++
    Seq("pqwriter.file_mbps" -> "MB/s") ++
    cols.map(c => s"pqwriter.${c}_bytes_ratio" -> "ratio") ++
    PqEncodings.values.toSeq.sorted.map(n => s"pqwriter.enc.$n" -> "count") ++
    Seq("pqreader.fetch_mbps" -> "MB/s") ++
    cols.map(c => s"pqreader.${c}_decode_mbps" -> "MB/s") ++
    Seq("pqreader.footer_cold_ms" -> "ms", "pqreader.footer_warm_us" -> "us",
      "scan.plan_ms" -> "ms", "prune.rg_total" -> "count",
      "prune.rg_after_stats" -> "count", "prune.rg_after_bloom" -> "count",
      "prune.rows_after_page_index" -> "count", "prune.rg_useful_ratio" -> "ratio",
      "bloom.probe_us" -> "us")
  }
}
