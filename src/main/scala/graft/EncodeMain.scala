package graft

import org.apache.spark.sql.SparkSession

import graft.core.BlockCodec
import graft.operators.{ChunkRow, DecodeJob, EncodeJob, Verifier}

/** spark-submit job driver for the encode pipeline — the north rule's
  * "encoding runs … launched via spark-submit on multi-executor clusters,
  * resumable from checkpoint" as a first-class binary. `Bench`/`Verify`
  * embed the same `EncodeJob` calls for measurement; this is the
  * user-facing run-my-table entry point.
  *
  * {{{
  * spark-submit --master <cluster> --class graft.EncodeMain app.jar \
  *   <inputDir> <outDir> \
  *   [--partitions N|auto]       encode partitions (default 256). Size to
  *                               ~100 MB RAW bytes per partition
  *                               (rawBytes / 100e6): per-task memory scales
  *                               with raw partition size (sort buffers +
  *                               codec arenas), and the 100 GB soak OOM'd
  *                               at 400 MB/partition x 32 tasks on a 24 GB
  *                               heap while ~100 MB/partition fit easily.
  *                               `auto` applies that rule from the input
  *                               footers' uncompressed byte totals
  *                               (metadata-only, no data read)
  *   [--partition-keys a,b]      salted repartition keys (default: the
  *                               input's (repo, lang) columns when present)
  *   [--sort-keys a,b,c]         within-partition sort (default: present
  *                               members of (repo, path, commit))
  *   [--columns a,b,...]         project the input first
  *   [--block-codec none|snappy|zstd|lz4|gzip|brotli]
  *   [--no-resume]               full re-encode (default resumes from the
  *                               outDir/lineage checkpoint; every completed
  *                               TASK is durable, so a crash loses only
  *                               in-flight partitions — a killed
  *                               --no-resume run resumes the same way)
  *   [--verify k1,k2,...]        decode chunks back and compare per-row
  *                               sha256 of every non-key column against the
  *                               input, joined on the (unique) key columns;
  *                               exit 1 on any mismatch
  * }}}
  *
  * One run per `outDir` at a time: the startup sweep deletes stale
  * staging files on the assumption that no other attempt is
  * alive (a second concurrent run would sweep the first's in-flight
  * stages — its tasks then fail fast on the missing stage file rather
  * than corrupt anything, but the pair of runs wastes work; serialize
  * runs or use distinct outDirs).
  *
  * `inputDir` is any Spark-readable parquet directory; on a classpath with
  * an Iceberg runtime the same pipeline runs off `spark.table(...)` —
  * nothing below the DataFrame boundary changes (SURVEY.md §7.8). Output is
  * `outDir/chunks/part-<partId>.parquet` (one task-committed file per
  * partition, written by the engine's own parquet writer) +
  * `outDir/lineage/part-<partId>.parquet` sidecars (per-(partition,
  * column) codec, byte, and sha256-manifest rows — the resume
  * checkpoint, committed per TASK so a crash loses only in-flight
  * partitions). Reruns re-encode only partitions whose lineage rows are
  * missing or incomplete.
  */
object EncodeMain {

  private def fail(msg: String): Nothing = {
    System.err.println(s"error: $msg")
    System.err.println(
      "usage: EncodeMain <inputDir> <outDir> [--partitions N|auto]" +
        " [--partition-keys a,b] [--sort-keys a,b,c] [--columns a,b,...]" +
        " [--block-codec none|snappy|zstd|lz4|gzip|brotli] [--no-resume]" +
        " [--verify k1,k2,...]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) fail("inputDir and outDir are required")
    val inputDir = args(0)
    val outDir = args(1)
    var partitions = 256
    var partitionsAuto = false
    var partitionKeys: Seq[String] = null
    var sortKeys: Seq[String] = null
    var columns: Seq[String] = Seq.empty
    var blockCodec = BlockCodec.None
    var resume = true
    var verifyKeys: Seq[String] = Seq.empty
    var i = 2
    while (i < args.length) {
      // every option except --no-resume takes a value
      if (args(i) != "--no-resume" && i + 1 >= args.length)
        fail(s"option ${args(i)} needs a value")
      args(i) match {
        case "--partitions" =>
          // last-wins like every other repeated option: a numeric value
          // must clear a sticky `auto` from earlier on the command line
          if (args(i + 1).toLowerCase == "auto") partitionsAuto = true
          else { partitions = args(i + 1).toInt; partitionsAuto = false }
          i += 2
        case "--partition-keys" =>
          partitionKeys = args(i + 1).split(",").toSeq.filter(_.nonEmpty); i += 2
        case "--sort-keys" =>
          sortKeys = args(i + 1).split(",").toSeq.filter(_.nonEmpty); i += 2
        case "--columns" =>
          columns = args(i + 1).split(",").toSeq.filter(_.nonEmpty); i += 2
        case "--block-codec" =>
          blockCodec = args(i + 1).toLowerCase match {
            case "none" => BlockCodec.None
            case "snappy" => BlockCodec.Snappy
            case "zstd" => BlockCodec.Zstd
            case "lz4" => BlockCodec.Lz4
            case "gzip" => BlockCodec.Gzip
            case "brotli" => BlockCodec.Brotli
            case other => fail(s"unknown block codec $other")
          }
          i += 2
        case "--no-resume" => resume = false; i += 1
        case "--verify" =>
          verifyKeys = args(i + 1).split(",").toSeq.filter(_.nonEmpty); i += 2
        case other => fail(s"unknown option $other")
      }
    }

    // inherit the spark-submit master/conf; reuse (and never stop) a session
    // someone else owns — the test suite drives main() in-process
    val ownSession = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isEmpty
    val spark = SparkSession.builder()
      .appName("graft-encode")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    if (ownSession) spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val raw = spark.read.parquet(inputDir)
    val df = if (columns.isEmpty) raw else raw.select(columns.map(raw(_)): _*)
    val present = df.schema.fieldNames.toSet
    val pKeys = Option(partitionKeys)
      .getOrElse(Seq("repo", "lang").filter(present))
    val sKeys = Option(sortKeys)
      .getOrElse(Seq("repo", "path", "commit").filter(present))
    pKeys.foreach(k => if (!present(k)) fail(s"partition key $k not in input"))
    sKeys.foreach(k => if (!present(k)) fail(s"sort key $k not in input"))

    // --partitions auto: size from the input's parquet FOOTERS so each
    // partition holds ~100 MB raw (the measured per-task memory sweet
    // spot — see the --partitions scaladoc). Footer reads are O(footer)
    // per file, no data pages touched; row-group totalByteSize is the
    // standard uncompressed accounting every parquet writer populates.
    // The file walk is the SAME one the DSv2 scan uses (arbitrary hive
    // depth, `_`/`.` entries skipped); a file with an unreadable footer is
    // extrapolated from its on-disk size share rather than aborting —
    // dropping its bytes would shrink the estimate, the memory-UNSAFE
    // direction. A projection (--columns) doesn't shrink the estimate
    // either: it errs toward MORE partitions, the safe direction.
    if (partitionsAuto) {
      scala.util.Try(
          graft.sources.GraftParquetFormat.listDataFilesSized(inputDir)) match {
        case scala.util.Failure(e) =>
          println(s"auto partitions: cannot list $inputDir " +
            s"(${e.getMessage}), keeping default $partitions")
        case scala.util.Success(files) =>
          var okBytes = 0L; var okLen = 0L; var totLen = 0L; var skipped = 0
          files.foreach { case (p, len) =>
            totLen += len
            scala.util.Try(graft.sources.ParquetFileReader.readFooterOnly(p)
                .rowGroups.map(_.totalByteSize).foldLeft(0L)(_ + _)) match {
              case scala.util.Success(b) => okBytes += b; okLen += len
              case scala.util.Failure(_) => skipped += 1
            }
          }
          if (okBytes <= 0 || okLen <= 0)
            println(s"auto partitions: no readable footers under $inputDir," +
              s" keeping default $partitions")
          else {
            val rawEst = math.ceil(okBytes.toDouble * totLen / okLen).toLong
            partitions = math.max(32, math.ceil(rawEst / 100e6).toLong.toInt)
            println(s"auto partitions: ${files.length} files" +
              (if (skipped > 0) s" ($skipped unreadable footers," +
                " size-extrapolated)" else "") +
              s", $rawEst estimated raw bytes -> $partitions partitions " +
              "(~100 MB raw each)")
          }
      }
    }

    val t0 = System.nanoTime()
    if (!resume) {
      // delete the routing marker BEFORE clearing: a kill mid-clear then
      // leaves leftover lineage WITHOUT a marker, which the resumable path
      // refuses (no-marker guard) instead of matching the stale marker
      // against a half-cleared checkpoint. Chunks go before lineage for
      // the same reason.
      graft.sources.GraftIO.forPath(outDir).delete(s"$outDir/_encode_meta")
      graft.sources.TaskCommit.clear(s"$outDir/chunks")
      graft.sources.TaskCommit.clear(s"$outDir/lineage")
    }
    EncodeJob.encodeResumable(df, outDir, partitions, pKeys, sKeys,
      blockCodec = blockCodec)
    val secs = (System.nanoTime() - t0) / 1e9

    val lin = spark.read.parquet(s"$outDir/lineage")
    val agg = lin.agg(
      org.apache.spark.sql.functions.sum("inputBytes"),
      org.apache.spark.sql.functions.sum("outputBytes")).collect()(0)
    // sum() over zero lineage rows (empty input) yields null, not 0
    val rawBytes = if (agg.isNullAt(0)) 0L else agg.getLong(0)
    val encBytes = if (agg.isNullAt(1)) 0L else agg.getLong(1)
    println(f"encoded $rawBytes%d raw bytes -> $encBytes%d" +
      f" (ratio ${encBytes.toDouble / math.max(1L, rawBytes)}%.4f)" +
      f" in $secs%.1f s (${rawBytes / secs / 1e9}%.3f GB/s)")

    if (verifyKeys.nonEmpty) {
      verifyKeys.foreach(k => if (!present(k)) fail(s"verify key $k not in input"))
      val chunks = spark.read.parquet(s"$outDir/chunks").as[ChunkRow]
      val decoded = DecodeJob.decode(chunks, df.schema)
      // every non-key column participates in the sha256 equality check —
      // ONE join/aggregation for all of them (verifyAll scaladoc: caching
      // the decoded frame and joining per column OOM-killed the 100 GB
      // soak; hashes ride the shuffle, the payload never does)
      var bad = 0L
      val dataCols = df.schema.fieldNames.filterNot(verifyKeys.contains).toSeq
      // every column a key -> nothing to hash-compare; keep the old loop's
      // benign-no-op behavior instead of tripping verifyAll's require
      if (dataCols.isEmpty)
        println("verify: all columns are keys, nothing to compare")
      else Verifier.verifyAll(df, decoded, verifyKeys, dataCols).foreach {
        case (c, (ns, nd, mismatched)) =>
          println(s"verify $c: source=$ns decoded=$nd mismatched=$mismatched")
          bad += mismatched
      }
      if (bad > 0) {
        System.err.println(s"VERIFY FAILED: $bad mismatched rows")
        if (ownSession) spark.stop()
        sys.exit(1)
      }
      println("verify OK: all columns bit-identical")
    }
    if (ownSession) spark.stop()
  }
}
