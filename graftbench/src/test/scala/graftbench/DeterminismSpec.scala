package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EncodeJob
import graft.sources.ParquetFileReader

final case class Fingerprint(input: Inputs.Digest, manifest: String,
    files: String, mix: Seq[Lookup.Key], counts: Map[String, Double],
    prune: (Long, Long, Long, Long, Long))

/** Inputs are a pure function of the seed: the same seed gives the same
  * chunk manifest, file bytes, lookup mix and exact counts; another seed
  * gives other inputs. */
class DeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Paths.get("target", "determinism").toAbsolutePath
  private var spark: SparkSession = _
  private var runs = 0

  override def beforeAll(): Unit = {
    Ctx.deleteTree(work)
    Files.createDirectories(work)
    spark = Main.session(work, 2)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def fingerprint(seed: Long): Fingerprint = {
    runs += 1
    val ctx = new Ctx(spark, seed, work.resolve(s"run$runs"), new SpanRecorder(false))
    val in = InputCopy.write(ctx)
    val chunks = EncodeJob.encode(in.df, ChunkStore.Partitions,
      ChunkStore.PartitionKeys, ChunkStore.SortKeys)
      .select("partId", "chunkIdx", "colIdx", "sha256", "column", "codec",
        "rawBytes", "encodedBytes").collect()
    val paths = FileScan.write(in.df, ctx.dir("files")).map(_._1)
    val raw = Inputs.rawBytesByColumn(in.df)
    val counts = Layers.chunkCounts(chunks.toSeq.map(r =>
        (r.getString(4), r.getString(5), r.getLong(6), r.getLong(7)))) ++
      Layers.writerCounts(paths.map(ParquetFileReader.readFooterOnly), raw)
    val table = LookupTable.build(ctx, in.df, "lookup-table")
    val mix = Lookup.mix(ctx, in.df, LookupTable.MixSize)
    Fingerprint(in.digest, ChunkStore.manifestOf(chunks),
      FileScan.digestFiles(paths)._1, mix, counts,
      Layers.prune(ctx.tr, table.dir, mix).counts)
  }

  test("the same seed gives the same inputs, outputs and exact counts") {
    val a = fingerprint(Inputs.HeldOutSeed)
    val b = fingerprint(Inputs.HeldOutSeed)
    assert(a.input == b.input)
    assert(a.manifest == b.manifest)
    assert(a.files == b.files)
    assert(a.mix == b.mix)
    assert(a.counts == b.counts)
    assert(a.prune == b.prune)
    assert(a.mix.count(_.kind.startsWith("missing")) > 0)
    assert(a.mix.filterNot(_.kind.startsWith("missing")).forall(_.expect.nonEmpty))
  }

  test("another seed gives other inputs") {
    val a = fingerprint(1)
    val b = fingerprint(2)
    assert(a.input != b.input)
    assert(a.manifest != b.manifest)
    assert(a.files != b.files)
    assert(a.mix.map(_.commit) != b.mix.map(_.commit))
  }
}
