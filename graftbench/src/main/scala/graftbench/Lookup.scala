package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{EncPolicy, GraftParquetFormat, ParquetFileReader, ParquetSink, PqCodec}

/** The point-lookup table: the input hash-partitioned on `repo` and
  * sorted on (repo, path) into many small row groups, with bloom filters on `commit`
  * and `path` and page indexes. */
object LookupTable {
  val Files = 8
  val RowGroupRows = 1024
  val MixSize = 100

  final case class Table(dir: String, files: Int, rowGroups: Int)

  /** Write the lookup table into `name`: hash-partitioned on `repo` and
    * sorted on (repo, path) inside each file, so row-group stats on `repo`
    * are tight and page indexes can narrow. (Range partitioning would
    * sample with a seed taken from the RDD id, which changes with the
    * number of jobs run before, so the files would differ between runs.)
    * Reads every footer once, as a first lookup would. */
  def build(ctx: Ctx, input: DataFrame, name: String): Table = {
    val dir = ctx.dir(name)
    val paths = ParquetSink.write(
      input.repartition(Files, col("repo")).sortWithinPartitions("repo", "path"),
      dir, codec = PqCodec.Snappy, rowGroupRows = RowGroupRows, pageVersion = 2,
      bloomCols = Seq("commit", "path"), encPolicy = EncPolicy.Auto)
      .collect().map(_.getString(0)).toSeq
    val rgs = paths.map(p => ParquetFileReader.readFooterOnly(p).rowGroups.size).sum
    Table(dir, paths.size, rgs)
  }
}

/** One lookup as a user issues it: a fresh DataFrame over the table with an
  * equality predicate, planned, then collected. */
object Lookup {
  type Hit = (String, String, String) // (repo, path, commit)

  /** `kind` is "commit", "path", "missing_commit" or "missing_path". */
  final case class Key(kind: String, repo: String, path: String, commit: String,
      expect: Seq[Hit]) {
    def byCommit: Boolean = kind.endsWith("commit")
    def predicate: Column =
      if (byCommit) col("commit") === commit
      else col("repo") === repo && col("path") === path
  }

  /** Latency in ms; throws CheckFailed unless exactly `expect` comes back. */
  def run(ctx: Ctx, dir: String, k: Key): Double = {
    val (rows, s) = ctx.tr.timed("lookup") {
      val df = ctx.spark.read.format(GraftParquetFormat.Name).load(dir)
        .where(k.predicate).select("repo", "path", "commit")
      ctx.tr("scan.plan")(df.queryExecution.executedPlan)
      ctx.tr("scan.exec")(df.collect())
    }
    val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq.sorted
    Check(got == k.expect, s"${k.kind} lookup (${k.repo}, ${k.path}, ${k.commit}) " +
      s"returned ${got.size} rows, generator has ${k.expect.size}")
    s * 1e3
  }

  /** Rows of `input` matching each key, in one pass. */
  private def withExpected(input: DataFrame, keys: Seq[Key]): Seq[Key] = {
    val pred = keys.map(_.predicate).reduce(_ || _)
    val hits = input.where(pred).select("repo", "path", "commit").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    keys.map { k =>
      val e = hits.filter(h => if (k.byCommit) h._3 == k.commit
        else h._1 == k.repo && h._2 == k.path).sorted
      Check(e.nonEmpty != k.kind.startsWith("missing"),
        s"lookup key ${k.kind} (${k.repo}, ${k.path}, ${k.commit}) has ${e.size} rows")
      k.copy(expect = e)
    }
  }

  private def missingCommit(rnd: java.util.SplittableRandom): String =
    (0 until 5).map(_ => f"${rnd.nextInt() & 0xFFFFFFFFL}%08x").mkString

  /** The point-lookup mix, in repeating blocks of 20: 6 `commit =` (only
    * blooms prune), 10 `repo = and path =` (row-group stats and page
    * indexes prune), 1 missing commit and 3 missing paths. A `commit`
    * lookup plans a task per row group and costs several times a `path`
    * one; fixed blocks keep every run's share of each kind the same, and
    * the slow share well away from 50%, so the median stays in one mode. */
  def mix(ctx: Ctx, input: DataFrame, n: Int): Seq[Key] = {
    val rows = InputCopy.Rows
    val rnd = new java.util.SplittableRandom(ctx.seed ^ 0x10c4L)
    val ids = Inputs.sampleRowIds(ctx.seed, rows, n).iterator
    def existing(kind: String) = {
      val r = Inputs.row(ctx.seed, rows, ids.next())
      Key(kind, r.repo, r.path, r.commit, Nil)
    }
    val keys = (0 until n).map(j => BlockPattern(j % BlockPattern.length) match {
      case "missing_commit" => Key("missing_commit", "", "", missingCommit(rnd), Nil)
      case "missing_path" =>
        val k = existing("path")
        k.copy(kind = "missing_path", path = k.path + ".missing", commit = "")
      case kind => existing(kind)
    })
    withExpected(input, keys)
  }

  private val BlockPattern: Seq[String] = Seq("path", "commit", "path",
    "missing_path", "path", "commit", "path", "missing_commit", "commit",
    "path", "path", "commit", "missing_path", "path", "commit", "path",
    "path", "commit", "missing_path", "path")
}
