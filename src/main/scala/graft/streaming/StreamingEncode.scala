package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{ChunkRow, EncodeJob, LineageRow}
import graft.sources.TaskCommit

/** Continuous encode: a Structured Streaming sink that runs the chunk
  * pipeline on every micro-batch and appends chunks + lineage under
  * `outDir`.
  *
  * The reference has no streaming surface (SURVEY.md §2.13); this is the
  * Spark-native extension of its write path: `readStream -> foreachBatch ->
  * EncodeJob`. Exactly-once comes from Structured Streaming's checkpointed
  * batch ids plus idempotent per-batch output paths — a replayed batch
  * overwrites its own directory, never duplicates. Partition ids are
  * namespaced by batch id so lineage rows stay globally unique, and chunk
  * manifests remain the pure function of (batch rows, numPartitions) that
  * the batch path guarantees.
  */
object StreamingEncode {

  def partIdBase(batchId: Long, numPartitions: Int): Int =
    math.toIntExact(batchId * numPartitions)

  /** Start the streaming encode. `input` must be a streaming DataFrame with
    * a flat schema. Chunks land at `outDir/chunks/batch=<id>/`, lineage at
    * `outDir/lineage/batch=<id>/`. */
  def start(input: DataFrame, outDir: String, numPartitions: Int,
      partitionKeys: Seq[String], sortKeys: Seq[String],
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()): StreamingQuery = {
    input.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        encodeBatch(batch, batchId, outDir, numPartitions, partitionKeys, sortKeys)
      }
      .trigger(trigger)
      .start()
  }

  /** Streaming sink writing standard `.parquet` FILES through our own file
    * writer (`readStream -> foreachBatch -> ParquetSink`): each micro-batch
    * lands under `outDir/batch=<id>/`, one file per partition. Exactly-once
    * on replay: a re-attempted batch clears and rewrites ITS OWN directory,
    * so duplicates cannot survive regardless of where the failure hit. */
  def startParquetSink(input: DataFrame, outDir: String,
      codec: Int = graft.sources.PqCodec.Snappy,
      rowGroupRows: Int = 1 << 16,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      props: graft.sources.WriterProps = graft.sources.WriterProps.empty)
      : StreamingQuery = {
    input.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        parquetBatch(batch, batchId, outDir, codec, rowGroupRows, props)
      }
      .trigger(trigger)
      .start()
  }

  /** One micro-batch of the parquet-file sink (idempotent per batch id). */
  def parquetBatch(batch: DataFrame, batchId: Long, outDir: String,
      codec: Int = graft.sources.PqCodec.Snappy,
      rowGroupRows: Int = 1 << 16,
      props: graft.sources.WriterProps = graft.sources.WriterProps.empty)
      : Unit = {
    val dir = s"$outDir/batch=$batchId"
    // clear partial output from any failed earlier attempt — a replayed
    // batch must not leave stale part files from a different partitioning
    TaskCommit.clear(dir)
    graft.sources.ParquetSink.write(batch, dir, codec, rowGroupRows,
      props = props).count()
  }

  /** One micro-batch: encode, renumber partitions into the global id
    * space, and write chunks + lineage to batch-scoped paths through the
    * same task-commit driver as the batch encode. A replayed batch clears
    * and rewrites its own directories, so it never duplicates. */
  def encodeBatch(batch: DataFrame, batchId: Long, outDir: String,
      numPartitions: Int, partitionKeys: Seq[String],
      sortKeys: Seq[String]): Unit = {
    import batch.sparkSession.implicits._
    val base = partIdBase(batchId, numPartitions)
    val chunksDir = s"$outDir/chunks/batch=$batchId"
    val lineageDir = s"$outDir/lineage/batch=$batchId"
    Seq(chunksDir, lineageDir).foreach(TaskCommit.clear)
    TaskCommit.runResumable[ChunkRow, LineageRow](batch.sparkSession,
        chunksDir, lineageDir)(_ =>
      EncodeJob.encode(batch, numPartitions, partitionKeys, sortKeys)
        .map(c => c.copy(partId = base + c.partId)).rdd)(
      (_, it, stage) => EncodeJob.writeChunkFile(it, stage))
  }
}
