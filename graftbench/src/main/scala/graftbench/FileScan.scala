package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.sources.{EncPolicy, GraftParquetFormat, ParquetSink, PqCodec}

/** The Parquet file container. One operation is `ParquetSink.write` (Auto
  * encodings, v2 pages, snappy, a bloom filter on `commit`) into a fresh
  * directory, a full columnar scan of every column through
  * `GraftParquetFormat`, then [[FileScan.LookupsPerOp]] point lookups from
  * the seeded mix against the lookup table built at set-up. The write and
  * scan exercise page assembly, `selectEnc`, snappy, bloom build and page
  * decode; the lookups exercise DSv2 planning, the footer cache and
  * stats/bloom/page-index pruning and decode only a few pages. Nothing
  * here touches the chunk selector, FSST or sha256. */
final class FileScan(ctx: Ctx) extends Workload {
  import FileScan._
  private val spark = ctx.spark
  private val tr = ctx.tr

  private var input: DataFrame = _
  private var source: Inputs.Digest = _
  private var table: LookupTable.Table = _
  private var mix: Seq[Lookup.Key] = Nil
  private var fileDigest: String = _
  private var fileCount = 0
  private var lookups = 0L

  def setup(): Unit = {
    val inputs = InputCopy.write(ctx)
    input = inputs.df
    source = inputs.digest
    rawBytes = Inputs.rawBytesByColumn(input).values.sum
    table = LookupTable.build(ctx, input, "lookup-table")
    Check(Inputs.digest(spark.read.format(GraftParquetFormat.Name).load(table.dir)) == source,
      "the lookup table does not read back as the source")
    mix = Lookup.mix(ctx, input, LookupTable.MixSize)
  }

  def op(i: Long): Unit = {
    val dir = ctx.dir("files")
    val (files, wS) = tr.timed("file.write")(write(input, dir))
    Check(files.map(_._2).sum == source.rows,
      s"op $i: wrote ${files.map(_._2).sum} rows, source has ${source.rows}")
    val (digest, bytes) = digestFiles(files.map(_._1))
    if (fileDigest == null) {
      fileDigest = digest
      // the reference reader, once: later operations must write these
      // exact bytes, so the comparison carries over to them
      val ref = Inputs.digest(spark.read.parquet(dir))
      Check(ref == source, s"parquet-mr reads $ref from our files, source is $source")
    }
    Check(digest == fileDigest, s"op $i: file bytes differ from the first operation's")
    storedBytes = bytes
    fileCount = files.size
    val (scanned, rS) = tr.timed("file.scan") {
      Inputs.digest(spark.read.format(GraftParquetFormat.Name).load(dir))
    }
    Check(scanned == source, s"op $i: GraftParquetFormat read $scanned, source is $source")
    val lms = (0 until LookupsPerOp).map { _ =>
      lookups += 1
      Lookup.run(ctx, table.dir, mix((lookups % mix.size).toInt))
    }
    record(i, wS, rS, lms)
  }

  protected def facts: Map[String, Any] = Map("files" -> fileCount,
    "lookup_table_files" -> Option(table).map(_.files).getOrElse(0),
    "lookup_table_row_groups" -> Option(table).map(_.rowGroups).getOrElse(0),
    "lookup_mix" -> mix.groupBy(_.kind).map { case (k, v) => k -> v.size })
}

object FileScan {
  val LookupsPerOp = 6

  /** The file-container write under test; returns (path, rows) per file. */
  def write(df: DataFrame, dir: String): Seq[(String, Long)] =
    ParquetSink.write(df, dir, codec = PqCodec.Snappy, pageVersion = 2,
      bloomCols = Seq("commit"), encPolicy = EncPolicy.Auto)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** (sha256 over the files' names and bytes in name order, total bytes). */
  def digestFiles(paths: Seq[String]): (String, Long) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var total = 0L
    paths.sorted.foreach { p =>
      val b = Files.readAllBytes(Paths.get(p))
      md.update(Paths.get(p).getFileName.toString.getBytes("UTF-8"))
      md.update(b)
      total += b.length
    }
    (graft.core.BitUtil.hexLower(md.digest()), total)
  }
}
