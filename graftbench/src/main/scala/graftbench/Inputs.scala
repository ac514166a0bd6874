package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.sources.CodeTableGen

/** The benchmark's input: `CodeTableGen`'s seeded code table plus the two
  * derived integer columns `graft.Bench` adds. Every value is a pure
  * function of (seed, row id), so a seed fixes the input completely. */
object Inputs {

  val Columns: Seq[String] =
    Seq("repo", "path", "commit", "lang", "content", "content_len", "line_count")
  val StringColumns: Set[String] = Set("repo", "path", "commit", "lang", "content")

  /** The seed the benchmark is never tuned on; confirm claims with it. */
  val HeldOutSeed = 90210L

  /** The generator seed for a benchmark seed. CodeTableGen keys each row
    * by `seed ^ rowId`, so two small seeds only permute the same rows
    * (seeds 0-15 give one table at any multiple of 16 rows); a mixed
    * 64-bit seed gives every benchmark seed its own rows. */
  def genSeed(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def table(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
    CodeTableGen.generate(spark, rows, parts, genSeed(seed)).toDF()
      .withColumn("content_len", octet_length(col("content")))
      .withColumn("line_count", TextOps.lineCount(col("content")).cast("int"))

  /** CodeTableGen.generate's repo-count rule, needed to regenerate single
    * rows on the driver. */
  def numRepos(rows: Long): Int = math.max(16, (rows / 64).toInt)

  private def rowHash: Column = xxhash64(Columns.map(col): _*)

  /** Order-independent content digest of a table: (rows, Σ low 32 bits,
    * Σ high 32 bits) of each row's xxhash64 over every column. Equal
    * multisets of rows give equal digests whatever the partitioning. */
  final case class Digest(rows: Long, lo: Long, hi: Long)

  def digestCols: Seq[Column] = Seq(
    count(lit(1)),
    sum(rowHash.bitwiseAND(lit(0xFFFFFFFFL))),
    sum(shiftrightunsigned(rowHash, 32)))

  def digestOf(r: org.apache.spark.sql.Row, from: Int = 0): Digest =
    Digest(r.getLong(from),
      if (r.isNullAt(from + 1)) 0L else r.getLong(from + 1),
      if (r.isNullAt(from + 2)) 0L else r.getLong(from + 2))

  def digest(df: DataFrame): Digest =
    digestOf(df.agg(digestCols.head, digestCols.tail: _*).collect()(0))

  /** Raw bytes per column by the engine's accounting (`ColVec.rawSize`):
    * value bytes plus a 4-byte length per string, 4 bytes per int. */
  def rawBytesByColumn(df: DataFrame): Map[String, Long] = {
    val aggs = Columns.map { c =>
      if (StringColumns(c)) sum(octet_length(col(c)).cast("long") + 4L)
      else count(col(c)) * 4L
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    Columns.zipWithIndex.map { case (c, i) => c -> r.getLong(i) }.toMap
  }

  /** Seeded, distinct row ids in [0, rows). */
  def sampleRowIds(seed: Long, rows: Long, n: Int): Seq[Long] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + n)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < math.min(n.toLong, rows)) out += rnd.nextLong(rows)
    out.toSeq
  }

  def row(seed: Long, rows: Long, id: Long): graft.sources.CodeRow =
    CodeTableGen.genRow(genSeed(seed), id, numRepos(rows), 1536)
}

/** The seeded input table written once per set-up as a Parquet copy by
  * Spark's own writer, so every operation starts from the same table scan. */
object InputCopy {
  val Rows = 40000L
  val Files = 12

  final case class Written(df: DataFrame, digest: Inputs.Digest)

  def write(ctx: Ctx): Written = {
    val dir = ctx.dir("input")
    Inputs.table(ctx.spark, ctx.seed, Rows, Files).write.parquet(dir)
    val df = ctx.spark.read.parquet(dir)
    val d = Inputs.digest(df)
    Check(d.rows == Rows, s"input copy has ${d.rows} rows, expected $Rows")
    Written(df, d)
  }
}
