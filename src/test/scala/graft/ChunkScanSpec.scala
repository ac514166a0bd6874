package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{BlockCodec, ChunkCodec, IntVec, LongVec}
import graft.functions.TextOps
import graft.operators._
import graft.sources.CodeTableGen

/** The chunk read path: [[ChunkScanExec]] decodes only the referenced
  * columns of the groups its stats range keeps, and counts what it did in
  * its SQL metrics. */
class ChunkScanSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Run `df` and return its one ChunkScanExec's metric values. */
  private def scanMetrics(df: DataFrame): (Seq[String], Map[String, Long]) = {
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) { case s: ChunkScanExec => s }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    (scans.head.output.map(_.name),
      scans.head.metrics.map { case (k, m) => k -> m.value })
  }

  /** (blob bytes, raw bytes) of the chunk rows of `column` that `keep` holds. */
  private def bytesOf(rows: Seq[ChunkRow], column: String)(
      keep: Array[Long] => Boolean): (Long, Long) = {
    val kept = rows.filter(c => c.column == column && keep(ChunkCodec.decode(
      BlockCodec.maybeUnwrap(c.blob)) match {
        case LongVec(vs) => vs
        case IntVec(vs) => vs.map(_.toLong)
        case other => fail(s"$other")
      }))
    (kept.map(_.blob.length.toLong).sum, kept.map(_.rawBytes).sum)
  }

  test("scan metrics count groups, stats pruning and decoded column chunks") {
    // two partitions [0,200) and [200,400), 100-row chunks: four groups
    val df = spark.range(0, 400, 1, 2)
      .select(col("id"), (col("id") * 3).cast("int").as("x"))
    val chunks = EncodeJob.encode(df, 0, Seq.empty, Seq("id"), chunkRows = 100).cache()
    val rows = chunks.collect().toSeq
    assert(rows.size == 8)
    // ids 50..120 live in groups [0,100) and [100,200); only `id` is read,
    // and only those two groups' `id` blobs are copied out
    val (cols, m) = scanMetrics(DecodeJob.decodeWhere(chunks, df.schema, "id", 50L, 120L)
      .where(col("id").between(50, 120)).agg(count(lit(1))))
    assert(cols == Seq("id"))
    assert(m("groups") == 4 && m("pruned") == 2 && m("decoded") == 2, m)
    assert(m("decodeTime") > 0, m)
    val idBytes = bytesOf(rows, "id")(_.exists(id => id >= 50 && id <= 120))
    assert(idBytes._2 == 2 * 100 * 8)
    assert((m("blobBytes"), m("rawBytes")) == idBytes, m)
    // one projected column of every group
    val (cols2, m2) = scanMetrics(DecodeJob.decodeLocal(chunks, df.schema).select("x"))
    assert(cols2 == Seq("x"))
    assert(m2("groups") == 4 && m2("pruned") == 0 && m2("decoded") == 4, m2)
    val xBytes = bytesOf(rows, "x")(_ => true)
    assert(xBytes._2 == 4 * 100 * 4)
    assert((m2("blobBytes"), m2("rawBytes")) == xBytes, m2)
    // count() answers from the chunk metadata: nothing is read or decoded
    val (cols3, m3) = scanMetrics(DecodeJob.decodeLocal(chunks, df.schema).agg(count(lit(1))))
    assert(cols3.isEmpty && m3("decoded") == 0, m3)
    assert(m3("blobBytes") == 0 && m3("rawBytes") == 0, m3)
    assert(DecodeJob.decodeLocal(chunks, df.schema).count() == 400)
    chunks.unpersist()
  }

  test("a chunk read runs one task per slot, with the same rows and metrics") {
    // twelve partitions of 100 rows, one 100-row group each
    val df = spark.range(0, 1200, 1, 12)
      .select(col("id"), (col("id") * 3).cast("int").as("x"))
    val chunks = EncodeJob.encode(df, 0, Seq.empty, Seq("id"), chunkRows = 100).cache()
    assert(chunks.rdd.getNumPartitions == 12)
    val stored = chunks.collect().toSeq
    /** `q`'s sorted rows, its chunk scan's task count and its metrics
      * other than the decode time, at `slots` leaf-node parallelism. */
    def run(slots: Int, q: () => DataFrame): (Seq[String], Int, Map[String, Long]) = {
      spark.conf.set("spark.sql.leafNodeDefaultParallelism", slots.toString)
      try {
        val df = q()
        val rows = df.collect().map(_.toString).sorted.toSeq
        val scan = collect(df.queryExecution.executedPlan) { case s: ChunkScanExec => s }.head
        val m = scan.metrics.map { case (k, v) => k -> v.value }
        assert(m("decodeTime") > 0, m)
        (rows, scan.executeColumnar().getNumPartitions, m - "decodeTime")
      } finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
    }
    def metrics(groups: Long, pruned: Long, decoded: Long, bytes: (Long, Long)) =
      Map("groups" -> groups, "pruned" -> pruned, "decoded" -> decoded,
        "blobBytes" -> bytes._1, "rawBytes" -> bytes._2)
    val idBytes = bytesOf(stored, "id")(_.exists(id => id >= 50 && id <= 120))
    assert(idBytes._2 == 2 * 100 * 8)
    val xBytes = bytesOf(stored, "x")(_ => true)
    Seq(
      (() => DecodeJob.decodeWhere(chunks, df.schema, "id", 50L, 120L)
        .where(col("id").between(50, 120)).select("id"),
        df.where(col("id").between(50, 120)).select("id"), metrics(12, 10, 2, idBytes)),
      (() => DecodeJob.decodeLocal(chunks, df.schema).select("x"),
        df.select("x"), metrics(12, 0, 12, xBytes))
    ).foreach { case (q, expect, want) =>
      val (rows, tasks, m) = run(3, q)
      assert(tasks == 3 && m == want, m)
      assert(rows == expect.collect().map(_.toString).sorted.toSeq)
      // unpacked, one task per chunk partition: the same rows and counts
      val (rows12, tasks12, m12) = run(12, q)
      assert(tasks12 == 12 && rows12 == rows && m12 == want, m12)
    }
    chunks.unpersist()
  }

  test("a query that never references content decodes none of it") {
    val src = CodeTableGen.generate(spark, 600L, 2).toDF()
      .withColumn("content_len", octet_length(col("content")))
      .withColumn("line_count", TextOps.lineCount(col("content")).cast("int"))
    val schema = src.schema
    val dir = java.nio.file.Files.createTempDirectory("graft-proj").toString
    EncodeJob.encode(src, 3, Seq("repo"), Seq("repo", "path", "commit"))
      .write.parquet(s"$dir/chunks")
    // every content blob of the persisted table becomes garbage
    val garbage = Array.tabulate[Byte](97)(i => (i * 31 + 7).toByte)
    val stored = spark.read.parquet(s"$dir/chunks").as[ChunkRow](Encoders.product[ChunkRow])
    stored.map(c => if (c.column == "content") c.copy(blob = garbage) else c)(
      Encoders.product[ChunkRow]).write.parquet(s"$dir/obliterated")
    val obl: Dataset[ChunkRow] = spark.read.parquet(s"$dir/obliterated")
      .as[ChunkRow](Encoders.product[ChunkRow])
    assert(obl.where(col("column") === "content").collect().forall(_.blob.sameElements(garbage)))

    val repo = src.select("repo").orderBy("repo").first().getString(0)
    val expect = src.where(col("repo") === repo).count()
    assert(expect > 0)
    assert(DecodeJob.decodeWhere(obl, schema, "repo", repo, repo)
      .where(col("repo") === repo).count() == expect)
    def rows(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rows(DecodeJob.decodeLocal(obl, schema).select("repo", "path")) ==
      rows(src.select("repo", "path")))
    val e = intercept[Exception](DecodeJob.decodeLocal(obl, schema).select("content").collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[IllegalArgumentException]), e)
  }
}
