package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.operators.{DecodeJob, EncodeJob}
import graft.sources.CodeTableGen

/** Benchmark main. Prints ONE JSON line:
  *   - end-to-end encode throughput (GB/s) on the synthesized code table at
  *     TWO parallelism levels (local[N/4] vs local[N] — the in-sandbox proxy
  *     for N vs 4N executors, BASELINE.md) + scaling efficiency,
  *   - compression ratio vs raw and vs the reference policy ceiling,
  *   - decode throughput,
  *   - per-query wall seconds on SPARK_GRAFT_SF_DIR (headline queries).
  *
  * Methodology: the input Dataset is generated deterministically, cached and
  * materialized before any timing, so the timed span covers exactly the
  * engine's work (salted repartition shuffle + per-partition chunked
  * encode). Each parallelism level is timed `reps` times in alternation
  * (lo, hi, lo, hi, ...) and the BEST run per level is kept — the sandbox
  * host has multi-second noise windows that best-of-N with interleaving
  * averages out. Chunk contents are a pure function of (input, encParts),
  * so both levels do byte-identical work.
  */
object Bench {

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      // Shuffle block compression: measured BOTH ways on tmpfs shuffle
      // dirs. LZ4-off is faster at low parallelism (scan->repartition->sort
      // dropped 14.0 -> 9.6 s at local[1]: the compressor is pure CPU cost
      // on a RAM disk) but ~20% SLOWER at local[32] (p32 1.79 -> 2.14 s:
      // fully parallel the box is memory-bandwidth-bound and uncompressed
      // shuffle doubles the bytes moving through tmpfs, starving the codec
      // kernels). Peak single-box throughput is the headline, so Spark's
      // default (true) stays; the env knob preserves the A/B.
      .config("spark.shuffle.compress",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"))
      .config("spark.shuffle.spill.compress",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Shuffle files on tmpfs when available: the scaling runs measure the
    * engine, not the sandbox's virtual disk. */
  private lazy val localDir: String = {
    val shm = new java.io.File("/dev/shm/spark-local")
    if (shm.isDirectory || shm.mkdirs()) shm.getAbsolutePath
    else System.getProperty("java.io.tmpdir")
  }

  private val start = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"[bench +${(System.nanoTime() - start) / 1e9}%.1fs] $msg")

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Best-of-2 wall seconds per query (second run skipped above 10 s to
    * bound the section): the per-round regression gate diffs these
    * numbers, and r4's "streaming 2x regression" turned out to be a
    * single-shot window artifact — a same-window jar A/B showed the r4 jar
    * at or under r3's times. A query that throws is a failure, never a
    * time: its name lands in the second list, not among the timings. */
  private[graft] def timeQueries(queries: Seq[(String, () => Long)])
      : (Seq[(String, Double)], Seq[String]) =
    queries.partitionMap { case (name, run) =>
      progress(s"query $name")
      try {
        val (_, s1) = time(run())
        Left(name -> (if (s1 < 10.0) math.min(s1, time(run())._2) else s1))
      } catch {
        case scala.util.control.NonFatal(e) =>
          progress(s"query $name FAILED: $e")
          Right(name)
      }
    }

  private def codeDf(spark: SparkSession, rows: Long, parts: Int): DataFrame =
    CodeTableGen.generate(spark, rows, parts).toDF()
      .withColumn("content_len", octet_length(col("content")))
      .withColumn("line_count", TextOps.lineCount(col("content")).cast("int"))

  /** One timed encode over a pre-cached input; returns
    * (rawBytes, encodedBytes, refBytes, secs). */
  private def encodeRun(df: DataFrame, encParts: Int): (Long, Long, Long, Double) = {
    val (agg, secs) = time {
      EncodeJob.encode(df, numPartitions = encParts,
          partitionKeys = Seq("repo", "lang"), sortKeys = Seq("repo", "path", "commit"))
        .toDF()
        .agg(sum("rawBytes"), sum("encodedBytes"), sum("refPolicyBytes"))
        .collect()(0)
    }
    (agg.getLong(0), agg.getLong(1), agg.getLong(2), secs)
  }

  /** Best-of-reps encode timing at one parallelism level; a fresh session
    * per call so `local[cores]` really bounds the thread pool. The input is
    * a parquet table on tmpfs (the north rule's table scan), so every run
    * does the same scan -> shuffle -> encode work with no driver-side
    * cache in the way. */
  private def levelRun(cores: Int, inputPath: String, encParts: Int,
      reps: Int): (Long, Long, Long, Double) = {
    val s = session(cores)
    try {
      val df = s.read.parquet(inputPath)
      encodeRun(df.limit(2000), 8) // warm JIT/codegen, excluded
      var best: (Long, Long, Long, Double) = null
      var r = 0
      while (r < reps) {
        val run = encodeRun(df, encParts)
        progress(s"encode local[$cores] rep$r: ${run._4}s")
        if (best == null || run._4 < best._4) best = run
        r += 1
      }
      best
    } finally s.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val smallCpus = math.max(1, cpus / 8)
    val benchRows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "1000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    val encParts = 256 // fixed: chunk contents identical at every parallelism

    // --- materialize the input table once (tmpfs parquet) -----------------
    val inputPath = s"$localDir/bench-input-$benchRows"
    locally {
      val s0 = session(cpus)
      try codeDf(s0, benchRows, encParts).write.mode("overwrite").parquet(inputPath)
      finally s0.stop()
    }
    progress(s"input table written: $inputPath")

    // --- scaling law: same job, same input, three parallelism levels ------
    // (tiny=1, N=4, full) interleaved. The headline N->4N pair is 1->4:
    // on ONE VM, higher thread counts share a memory bus, a GC, and an OS
    // in ways separate cluster nodes do not, so the lowest-parallelism pair
    // is the faithful proxy for adding executors (each of which brings its
    // own bus and heap). The full level documents peak single-box
    // throughput and the saturated pair for transparency.
    val tinyCpus = math.max(1, cpus / 32)
    val levels = Seq(tinyCpus, smallCpus, cpus)
    val best = scala.collection.mutable.Map.empty[Int, (Long, Long, Long, Double)]
    // Per-round best-of-reps per level -> one scaling-efficiency SAMPLE per
    // round. The headline is the MEDIAN of those samples (not the ratio of
    // global bests): a single favorable pairing of noisy runs can't set the
    // headline, and the full sample list ships in the JSON.
    val effSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val effSatSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    var round = 0
    while (round < rounds) {
      val roundBest = scala.collection.mutable.Map.empty[Int, (Long, Long, Long, Double)]
      levels.foreach { c =>
        progress(s"round $round: local[$c]")
        // the single-thread level gets an extra first-round rep: its
        // best-of-N converges slowest (one noise window inflates a whole
        // ~50 s run), and an inflated p1 floor reads as fake super-linear
        // 1->4 efficiency. Only round 0, to bound total runtime.
        val levelReps = if (c == tinyCpus && round == 0) reps + 1 else reps
        val run = levelRun(c, inputPath, encParts, levelReps)
        roundBest(c) = run
        if (!best.contains(c) || run._4 < best(c)._4) best(c) = run
      }
      val gTiny = roundBest(tinyCpus)._1 / roundBest(tinyCpus)._4 / 1e9
      val gLo = roundBest(smallCpus)._1 / roundBest(smallCpus)._4 / 1e9
      val gHi = roundBest(cpus)._1 / roundBest(cpus)._4 / 1e9
      effSamples += gLo / ((smallCpus.toDouble / tinyCpus) * gTiny)
      effSatSamples += gHi / ((cpus.toDouble / smallCpus) * gLo)
      round += 1
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) 0.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val (rawTiny, _, _, secsTiny) = best(tinyCpus)
    val (rawLo, _, refLo, secsLo) = best(smallCpus)
    val (rawHi, encHi, _, secsHi) = best(cpus)
    // Encode-only mode for controlled codec experiments: print the scaling
    // levels + deterministic compression ratio and skip the decode/scan/
    // query sections (SPARK_GRAFT_BENCH_ENCODE_ONLY=1).
    if (sys.env.get("SPARK_GRAFT_BENCH_ENCODE_ONLY").contains("1")) {
      println(f"""{"encode_gbps_p$cpus":${rawHi / secsHi / 1e9}%.4f,"encode_sec_p$tinyCpus":$secsTiny%.2f,"encode_sec_p$smallCpus":$secsLo%.2f,"encode_sec_p$cpus":$secsHi%.2f,"scaling_efficiency":${median(effSamples.toSeq)}%.3f,"compression_ratio":${encHi.toDouble / rawHi}%.4f,"ref_policy_ratio":${refLo.toDouble / rawLo}%.4f}""")
      return
    }
    val gbpsTiny = rawTiny / secsTiny / 1e9
    val gbpsLo = rawLo / secsLo / 1e9
    val gbpsHi = rawHi / secsHi / 1e9
    val scalingEff = median(effSamples.toSeq)
    val scalingEffSaturated = median(effSatSamples.toSeq)

    // --- decode throughput + headline queries on one local[cpus] session --
    val sHi = session(cpus)
    val df = codeDf(sHi, benchRows / 2, encParts)
    val chunks = EncodeJob.encode(df, encParts,
      Seq("repo", "lang"), Seq("repo", "path", "commit")).cache()
    val decRaw = chunks.toDF().agg(sum("rawBytes")).collect()(0).getLong(0)
    chunks.count() // materialize cache so decode timing excludes encode

    // --- decode (interleaved with our scan), then a FAIR scan A/B ---------
    // Decode must not be timed back-to-back (r4's driver run measured 33%
    // under the builder's on the same jar — both samples inside one
    // degraded window), so its reps interleave with our-scan reps. The
    // ours-vs-native A/B then runs in its own interleaved loop AFTER the
    // chunk cache is dropped: holding ~1 GB of cached chunk blocks during
    // the native leg pressured Spark's reader in the first two
    // interleaved-protocol runs (native 4.0/5.3 GB/s vs its 5.9-7.5
    // historical band) — both sides of the A/B now see identical memory
    // conditions.
    progress("scan table write")
    val scanPath = s"$localDir/bench-scan-$benchRows"
    graft.sources.ParquetSink.write(df.repartition(cpus), scanPath).count()
    def scanAgg(d: DataFrame): Unit =
      d.agg(sum(octet_length(col("content"))), sum(octet_length(col("path"))),
        sum(col("content_len")), sum(col("line_count")),
        count(col("repo")), count(col("commit")), count(col("lang")))
        .collect()
    val ourScan = sHi.read
      .format(graft.sources.GraftParquetFormat.Name).load(scanPath)
    val sparkScan = sHi.read.parquet(scanPath)
    scanAgg(ourScan); scanAgg(sparkScan) // warm JIT/codegen, excluded
    progress("decode bench (interleaved with our scan)")
    var decSecs = Double.MaxValue
    (0 until 3).foreach { r =>
      val (_, d) = time {
        // chunks are cached straight off EncodeJob -> co-partitioned -> the
        // shuffle-free local decode path applies; the hash reads every
        // value of every column (a count() would decode nothing)
        DecodeJob.decodeLocal(chunks, df.schema)
          .agg(bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).collect()
      }
      val (_, a) = time(scanAgg(ourScan))
      progress(f"rep$r decode=$d%.2fs ours(warm-spread)=$a%.2fs")
      decSecs = math.min(decSecs, d)
    }
    val decGbps = decRaw / decSecs / 1e9
    chunks.unpersist(blocking = true)
    progress("scan A/B bench (interleaved, cache dropped)")
    var scanSecs = Double.MaxValue
    var scanSparkSecs = Double.MaxValue
    (0 until 3).foreach { r =>
      val (_, a) = time(scanAgg(ourScan))
      val (_, b) = time(scanAgg(sparkScan))
      progress(f"rep$r ours=$a%.2fs spark=$b%.2fs")
      scanSecs = math.min(scanSecs, a)
      scanSparkSecs = math.min(scanSparkSecs, b)
    }
    // decRaw is the raw byte size of this same df per the encoder's
    // accounting, so both scans are normalized identically
    val scanGbps = decRaw / scanSecs / 1e9
    val scanSparkGbps = decRaw / scanSparkSecs / 1e9
    progress(f"scan ours=$scanSecs%.2fs spark=$scanSparkSecs%.2fs")

    // --- auto codec selection on real parquet files: same table written
    // with the plain policy (scanPath above) vs the stats-driven Auto
    // policy; both snappy, so the delta/BSS encodings carry the difference
    progress("auto-policy write")
    val autoPath = s"$localDir/bench-scan-auto-$benchRows"
    graft.sources.ParquetSink.write(df.repartition(cpus), autoPath,
      pageVersion = 2, encPolicy = graft.sources.EncPolicy.Auto).count()
    def dirBytes(p: String): Long = new java.io.File(p)
      .listFiles((_, n) => n.endsWith(".parquet")).map(_.length).sum
    val plainFileBytes = dirBytes(scanPath)
    val autoFileBytes = dirBytes(autoPath)
    progress(f"parquet bytes plain=$plainFileBytes auto=$autoFileBytes " +
      f"(${autoFileBytes.toDouble / plainFileBytes}%.4f)")

    // queries allocate fresh temp dirs per invocation, so reruns are
    // side-effect-safe
    val (results, failed) = timeQueries(SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => name -> (() => fn(sHi, sfDir).count()) })
    val qJson = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val totalQ = results.map(_._2).sum
    sHi.stop()

    val effJson = effSamples.map(e => f"$e%.3f").mkString("[", ",", "]")
    val effSatJson = effSatSamples.map(e => f"$e%.3f").mkString("[", ",", "]")
    val json =
      f"""{"metric":"encode_throughput_gbps","value":$gbpsHi%.4f,"unit":"GB/s","queries":$qJson,"failed":$failedJson,"sf":"$sfDir","total_query_sec":$totalQ%.2f,"bench_rows":$benchRows,"raw_gb":${rawHi / 1e9}%.3f,"encode_gbps_p$tinyCpus":$gbpsTiny%.4f,"encode_gbps_p$smallCpus":$gbpsLo%.4f,"encode_gbps_p$cpus":$gbpsHi%.4f,"encode_sec_p$tinyCpus":$secsTiny%.2f,"encode_sec_p$smallCpus":$secsLo%.2f,"encode_sec_p$cpus":$secsHi%.2f,"scaling_efficiency":$scalingEff%.3f,"scaling_samples_p${tinyCpus}_p$smallCpus":$effJson,"scaling_efficiency_p${smallCpus}_p$cpus":$scalingEffSaturated%.3f,"scaling_samples_p${smallCpus}_p$cpus":$effSatJson,"compression_ratio":${encHi.toDouble / rawHi}%.4f,"ref_policy_ratio":${refLo.toDouble / rawLo}%.4f,"decode_gbps":$decGbps%.4f,"scan_gbps":$scanGbps%.4f,"scan_gbps_spark_native":$scanSparkGbps%.4f,"parquet_plain_bytes":$plainFileBytes,"parquet_auto_bytes":$autoFileBytes,"parquet_auto_vs_plain":${autoFileBytes.toDouble / plainFileBytes}%.4f}"""
    println(json)
    // Survive any invocation style (sbt log prefixes, stdout capture bugs):
    // the same line lands in BENCH_RESULT.json in the working directory.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_RESULT.json"), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_RESULT.json write failed: $e")
    }
    if (failed.nonEmpty) sys.exit(1)
  }
}
