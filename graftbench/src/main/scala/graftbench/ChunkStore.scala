package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{DecodeJob, EncodeJob}

/** The GC chunk container: encode -> persist -> decode, then chunk-level
  * point lookups through `DecodeJob.decodeWhere`'s min/max pruning.
  * Exercises the selector, the FSST/dict/delta kernels, sha256 and the
  * salted exchange; never the Parquet file writer, reader, DSv2 scan or
  * bloom filters. */
final class ChunkStore(ctx: Ctx) extends Workload {
  import ChunkStore._
  private val spark = ctx.spark
  private val tr = ctx.tr

  private var input: DataFrame = _
  private var source: Inputs.Digest = _
  private var keys: Seq[(String, Long)] = Nil
  private var manifest: String = _

  def setup(): Unit = {
    val inputs = InputCopy.write(ctx)
    input = inputs.df
    source = inputs.digest
    keys = repoKeys(ctx, input)
  }

  def op(i: Long): Unit = {
    val chunks = EncodeJob.encode(input, Partitions, PartitionKeys, SortKeys)
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val (rows, wS) = tr.timed("chunk.encode_persist") {
        chunks.select("partId", "chunkIdx", "colIdx", "sha256", "rawBytes",
          "encodedBytes").collect()
      }
      val m = manifestOf(rows)
      if (manifest == null) manifest = m
      Check(m == manifest, s"op $i: chunk sha256 manifest differs from the first operation's")
      rawBytes = rows.map(_.getLong(4)).sum
      storedBytes = rows.map(_.getLong(5)).sum
      val (decoded, rS) = tr.timed("chunk.decode") {
        Inputs.digest(DecodeJob.decodeLocal(chunks, input.schema))
      }
      Check(decoded == source, s"op $i: decoded rows $decoded != source $source")
      val lms = keys.indices.take(LookupsPerOp).map { j =>
        val (repo, expect) = keys(((i.max(0) * LookupsPerOp + j) % keys.size).toInt)
        val (n, s) = tr.timed("chunk.lookup") {
          DecodeJob.decodeWhere(chunks, input.schema, "repo", repo, repo)
            .where(col("repo") === repo).count()
        }
        Check(n == expect, s"op $i: repo=$repo returned $n rows, generator has $expect")
        s * 1e3
      }
      record(i, wS, rS, lms)
    } finally chunks.unpersist(blocking = true)
  }

  protected def facts: Map[String, Any] = Map("encode_partitions" -> Partitions)
}

object ChunkStore {
  /** The north-rule keys: salted exchange on (repo, lang), sort on
    * (repo, path, commit) inside each partition. */
  val PartitionKeys = Seq("repo", "lang")
  val SortKeys = Seq("repo", "path", "commit")
  /** Four encode partitions per thread: ~3.3k rows, one chunk per column. */
  val Partitions = 12
  val LookupsPerOp = 2

  /** sha256 over the (partId, chunkIdx, colIdx, chunk sha256) list in key
    * order: equal iff every chunk holds the same values. */
  def manifestOf(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).sorted
      .foreach(t => md.update(t.toString.getBytes("UTF-8")))
    graft.core.BitUtil.hexLower(md.digest())
  }

  /** Seeded `repo` keys with the row counts the generator gives them. */
  def repoKeys(ctx: Ctx, input: DataFrame): Seq[(String, Long)] = {
    val repos = Inputs.sampleRowIds(ctx.seed, InputCopy.Rows, 16)
      .map(id => Inputs.row(ctx.seed, InputCopy.Rows, id).repo).distinct
    val counts = input.where(col("repo").isin(repos: _*)).groupBy("repo").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    repos.map(r => r -> counts.getOrElse(r, 0L))
  }
}
