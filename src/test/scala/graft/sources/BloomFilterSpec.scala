package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BytesVec, LongVec}

/** Split-block bloom filters: bit-compatibility against parquet-mr's own
  * implementation (on the Spark classpath), file-level interop both ways
  * (Spark-written blooms parsed by us, our blooms read by parquet-mr), and
  * the DSv2 scan's bloom row-group pruning — including an I/O proof that
  * pruned groups are never read. */
class BloomFilterSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-bloom-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name).toFile
    d.deleteOnExit()
    d.getPath
  }

  // ------------------------------------------------------ kernel vs parquet-mr

  test("sbbf hashes match parquet-mr's XxHash over plain-encoded values") {
    val mr = new org.apache.parquet.column.values.bloomfilter
      .BlockSplitBloomFilter(1024)
    val rnd = new scala.util.Random(42)
    (0 until 200).foreach { _ =>
      val l = rnd.nextLong()
      assert(Sbbf.hashLong(l) == mr.hash(l), s"long hash mismatch for $l")
      val i = rnd.nextInt()
      assert(Sbbf.hashInt(i) == mr.hash(i), s"int hash mismatch for $i")
      val d = rnd.nextDouble()
      assert(Sbbf.hashDouble(d) == mr.hash(d))
      val f = rnd.nextFloat()
      assert(Sbbf.hashFloat(f) == mr.hash(f))
      val s = rnd.nextString(rnd.nextInt(40))
      assert(Sbbf.hashBytes(s.getBytes("UTF-8")) ==
        mr.hash(org.apache.parquet.io.api.Binary.fromString(s)))
    }
  }

  test("sbbf bitset is bit-identical to parquet-mr after the same inserts") {
    val numBytes = 2048
    val ours = new Sbbf(new Array[Int](numBytes / 4))
    val mr = new org.apache.parquet.column.values.bloomfilter
      .BlockSplitBloomFilter(numBytes)
    val rnd = new scala.util.Random(7)
    val hashes = Array.fill(5000)(rnd.nextLong())
    hashes.foreach { h => ours.insertHash(h); mr.insertHash(h) }
    val bos = new java.io.ByteArrayOutputStream()
    mr.writeTo(bos)
    assert(java.util.Arrays.equals(ours.toBytes, bos.toByteArray),
      "serialized bitsets differ")
    // membership agrees on members and (deterministic) probes
    hashes.foreach(h => assert(ours.mightContainHash(h)))
    (0 until 5000).foreach { _ =>
      val h = rnd.nextLong()
      assert(ours.mightContainHash(h) == mr.findHash(h))
    }
  }

  test("optimal sizing is a power of two and fpp stays near target") {
    val f = Sbbf.sized(10000, 0.01)
    assert(Integer.bitCount(f.numBytes) == 1)
    val rnd = new scala.util.Random(11)
    val members = Array.fill(10000)(rnd.nextLong())
    members.foreach(f.insertHash)
    members.foreach(h => assert(f.mightContainHash(h))) // no false negatives
    val fp = (0 until 20000).count(_ => f.mightContainHash(rnd.nextLong()))
    assert(fp < 20000 * 0.03, s"false-positive rate too high: $fp/20000")
  }

  test("bloom header round-trips through our thrift writer/parser") {
    val h = Sbbf.writeHeader(4096)
    val (numBytes, len) = Sbbf.parseHeader(h, 0)
    assert(numBytes == 4096)
    assert(len == h.length)
  }

  // ------------------------------------------------------------ file interop

  test("spark-written bloom filters are parsed and probed by our reader") {
    val dir = tmpDir("spark-bloom")
    val ss = spark
    import ss.implicits._
    val df = (0 until 2000)
      .map(i => (i.toLong, f"commit-$i%04d-${i * 2654435761L}%x"))
      .toDF("id", "commit")
    df.coalesce(1).write
      .option("parquet.bloom.filter.enabled#commit", "true")
      .option("parquet.bloom.filter.expected.ndv#commit", "2000")
      .mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getPath
    val meta = ParquetFileReader.readFooterOnly(file)
    val cm = ParquetFileReader.chunkFor(meta, 0, "commit").get
    assert(cm.bloomOffset >= 0, "spark wrote no bloom_filter_offset")
    val raf = GraftIO.forPath(file).open(file)
    try {
      val f = Sbbf.readFromFile(raf, cm)
      assert(f.nonEmpty, "our parser failed on a parquet-mr bloom filter")
      // every present value must probe positive; absent probes mostly not
      (0 until 2000).foreach { i =>
        val v = f"commit-$i%04d-${i * 2654435761L}%x".getBytes("UTF-8")
        assert(f.get.mightContainHash(Sbbf.hashBytes(v)))
      }
      val absentHits = (0 until 1000).count { i =>
        f.get.mightContainHash(Sbbf.hashBytes(s"nope-$i".getBytes("UTF-8")))
      }
      assert(absentHits < 100, s"absent-probe hit rate $absentHits/1000")
    } finally raf.close()
  }

  test("our bloom filters are read back by parquet-mr") {
    val dir = tmpDir("graft-bloom")
    val path = s"$dir/blooms.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("commit", StringType, nullable = false)))
    val rows = (0 until 3000).iterator.map(i =>
      org.apache.spark.sql.Row(i.toLong, f"c$i%05d-${i * 40503L}%x"))
    ParquetFileWriter.writeFile(path, schema, rows, rowGroupRows = 1024,
      codec = PqCodec.Snappy, bloomCols = Set("id", "commit"))

    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks
      assert(blocks.size() == 3) // 3000 rows / 1024-row groups
      (0 until blocks.size()).foreach { b =>
        val cols = blocks.get(b).getColumns
        (0 until cols.size()).foreach { c =>
          val cmd = cols.get(c)
          val bloom = reader.readBloomFilter(cmd)
          assert(bloom != null,
            s"parquet-mr found no bloom for ${cmd.getPath}")
          // spot-check membership through parquet-mr's own hash
          val base = b * 1024
          if (cmd.getPath.toDotString == "id")
            assert(bloom.findHash(bloom.hash(base.toLong)))
          else {
            val s = f"c$base%05d-${base * 40503L}%x"
            assert(bloom.findHash(
              bloom.hash(org.apache.parquet.io.api.Binary.fromString(s))))
          }
        }
      }
    } finally reader.close()
    // and Spark's own reader still reads the file fine with blooms present
    assert(spark.read.parquet(path).count() == 3000)
  }

  // ----------------------------------------------------------- scan pruning

  test("bloomPrune keeps groups containing the probe and drops the rest") {
    val dir = tmpDir("bloom-prune")
    val path = s"$dir/p.parquet"
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("commit", StringType, nullable = false)))
    // 4 row groups of 500; commits unique per group
    val rows = (0 until 2000).iterator.map(i =>
      org.apache.spark.sql.Row(i.toLong, f"g${i / 500}-v$i%04d"))
    ParquetFileWriter.writeFile(path, schema, rows, rowGroupRows = 500,
      codec = PqCodec.Uncompressed, bloomCols = Set("commit", "id"))
    val meta = ParquetFileReader.readFooterOnly(path)
    assert(meta.rowGroups.size == 4)
    val all = meta.rowGroups.indices

    // present value: only its group survives (plus possible false positives)
    val present = GraftFlatScan.bloomPrune(path, meta, all,
      Seq(("commit", Seq[Any]("g2-v1200".getBytes("UTF-8")))))
    assert(present.contains(2))
    assert(present.size <= 2, s"unexpected bloom false positives: $present")

    // absent value: everything pruned
    val absent = GraftFlatScan.bloomPrune(path, meta, all,
      Seq(("commit", Seq[Any]("not-there".getBytes("UTF-8")))))
    assert(absent.isEmpty)

    // int column probes work through the INT64 hash
    val absentId = GraftFlatScan.bloomPrune(path, meta, all,
      Seq(("id", Seq[Any](999999L))))
    assert(absentId.isEmpty)
    val presentId = GraftFlatScan.bloomPrune(path, meta, all,
      Seq(("id", Seq[Any](750L))))
    assert(presentId.contains(1))

    // IN-set semantics: survives when ANY candidate might be present
    val inSet = GraftFlatScan.bloomPrune(path, meta, all,
      Seq(("commit", Seq[Any]("zzz".getBytes("UTF-8"),
        "g0-v0001".getBytes("UTF-8")))))
    assert(inSet.contains(0))
  }

  test("DSv2 equality scan over bloom files never touches pruned pages") {
    val dir = tmpDir("bloom-e2e")
    val ss = spark
    import ss.implicits._
    val df = (0 until 4000)
      .map(i => (i.toLong, f"sha-${i * 2654435761L}%016x", s"payload-$i"))
      .toDF("id", "commit", "body")
    df.coalesce(1).write.format(GraftParquetFormat.Name)
      .option("bloomcols", "commit")
      .option("rowgrouprows", "1000")
      .option("codec", "uncompressed")
      .mode("overwrite").save(dir)

    // sanity: equality hit returns exactly its row through the DSv2 scan
    val hit = spark.read.format(GraftParquetFormat.Name).load(dir)
      .where($"commit" === f"sha-${1234L * 2654435761L}%016x")
      .select($"id").collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(1234L))

    // verify the absent probe is bloom-negative in every group (so the
    // corruption proof below is deterministic), then obliterate all data
    // pages, keeping footer + blooms intact
    val file = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val meta = ParquetFileReader.readFooterOnly(file.getPath)
    val probe = "sha-doesnotexist"
    assert(GraftFlatScan.bloomPrune(file.getPath, meta,
      meta.rowGroups.indices,
      Seq(("commit", Seq[Any](probe.getBytes("UTF-8"))))).isEmpty)
    val raf = new java.io.RandomAccessFile(file, "rw")
    try {
      meta.rowGroups.foreach(_.columns.foreach { cm =>
        val (s, e) = ParquetFileReader.chunkByteRange(cm)
        raf.seek(s)
        raf.write(Array.fill((e - s).toInt)(0x5A.toByte))
      })
    } finally raf.close()
    // the bloom-pruned query still answers (empty) — pages were never read
    val miss = spark.read.format(GraftParquetFormat.Name).load(dir)
      .where($"commit" === probe).collect()
    assert(miss.isEmpty)
  }

  /** One file of 8 row groups of 500 rows: `id` ascending, `commit`
    * (bloom-filtered) and `tag` (no bloom) scattered, so every group's
    * min/max spans nearly their whole domain and stats cannot prune. */
  private def plantedScatter(): (String, String, StructType, Int => String) = {
    val dir = tmpDir("bloom-plan")
    val path = s"$dir/p.parquet"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("commit", StringType, nullable = false),
      StructField("tag", StringType, nullable = false)))
    def commit(i: Int) = f"c${i * 2654435761L % 1000003}%07d"
    val w = new ParquetFileWriter.IncrementalFileWriter(path, schema,
      rowGroupRows = 500, codec = PqCodec.Uncompressed, bloomCols = Set("commit"),
      bloomFpp = 1e-4)
    (0 until 4000).foreach(i => w.addRow(Row(i.toLong, commit(i), f"t${i * 40503L % 9973}%04d")))
    w.close()
    (dir, path, schema, commit)
  }

  test("planning probes blooms: a row group gets a task only if its bloom admits the value") {
    val (dir, path, schema, commit) = plantedScatter()
    val meta = ParquetFileReader.readFooterOnly(path)
    assert(meta.rowGroups.size == 8)
    def bytes(v: String): Array[Byte] = v.getBytes("UTF-8")
    def planned(b: ScanBounds): Seq[Int] =
      new GraftScan(dir, schema, b).planInputPartitions().toSeq
        .flatMap(_.asInstanceOf[GraftFilePartition].rgs)
    def byStats(b: ScanBounds): Seq[Int] = GraftFlatScan.pruneRowGroups(meta, null, b)
    // an `=` probe: exactly the row group holding the value, where the
    // stats alone keep all eight
    Seq(7, 1234, 2600, 3999).foreach { i =>
      val b = ScanBounds.empty.in("commit", Seq(bytes(commit(i))))
      assert(byStats(b) == (0 until 8), i)
      assert(planned(b) == Seq(i / 500), i)
    }
    // a missing value: no task at all
    val missing = ScanBounds.empty.in("commit", Seq(bytes("c0500000x")))
    assert(byStats(missing) == (0 until 8))
    assert(planned(missing).isEmpty)
    // a probe on a column without a bloom plans what the stats plan
    val tag = ScanBounds.empty.in("tag", Seq(bytes("t5000")))
    assert(byStats(tag).size > 1)
    assert(planned(tag) == byStats(tag))
    // a whole-file task (past FooterPlanLimit) probes the blooms itself;
    // a planned task reads its row groups without probing them again
    val hit = ScanBounds.empty.in("commit", Seq(bytes(commit(1234))))
    assert(GraftFlatScan.taskRowGroups(GraftFilePartition(path, bounds = hit))._2 == Seq(2))
    assert(GraftFlatScan.taskRowGroups(GraftFilePartition(path, 0 until 8, hit))._2 ==
      (0 until 8))
    // the rows equal Spark's own reader's
    val ours = spark.read.format(GraftParquetFormat.Name).load(dir)
    val native = spark.read.parquet(dir)
    def ids(df: DataFrame, p: Column): Seq[Long] =
      df.where(p).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(ours, col("commit") === commit(1234)) == Seq(1234L))
    Seq(col("commit") === commit(1234), col("commit") === "c0500000x",
        col("tag") === "t5000", col("commit").isin(commit(7), commit(3999)))
      .foreach(p => assert(ids(ours, p) == ids(native, p), p))
  }

  test("the scan reports its planning as driver metrics") {
    val (dir, _, _, commit) = plantedScatter()
    val df = spark.read.format(GraftParquetFormat.Name).load(dir)
      .where(col("commit") === commit(1234)).select("id")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    val scans = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    val m = scans.head.metrics.map { case (k, v) => k -> v.value }
    assert(m("rowGroupsListed") == 8 && m("rowGroupsStatsPruned") == 0 &&
      m("rowGroupsBloomPruned") == 7, m)
  }

  test("hashVec covers every vector type with distinct-value dedup") {
    val lv = Sbbf.hashVec(LongVec(Array(1L, 2L, 2L, 3L)))
    assert(lv.length == 3)
    val bv = Sbbf.hashVec(BytesVec.of(Seq("a".getBytes, "b".getBytes,
      "a".getBytes)))
    assert(bv.length == 2)
  }
}
