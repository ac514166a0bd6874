package graft.sources

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one commit protocol, shared by every sink: chunk tables,
  * Parquet files, the DSv2 writer, the streaming sinks, and the sidecars
  * and markers around them.
  *
  * A file is written under a hidden stage name next to its final path
  * (`<dir>/.<name>.<attempt>.inprogress`), then atomically renamed onto
  * that path. Dot-prefixed names are invisible to every scan listing, ours
  * and Spark's, so a task killed mid-write leaves only ignorable staging
  * garbage, never a truncated file. Speculative and retried attempts stage
  * under their own attempt ids and rename onto the same deterministic
  * final name, so commits are idempotent.
  */
object TaskCommit {

  /** Deterministic per-partition file name, shared by every writer. */
  def partPath(dir: String, pid: Int): String = f"$dir/part-$pid%05d.parquet"

  /** The stage name of `path` for the running task attempt (`driver`
    * outside a task). */
  def stagePath(path: String): String = {
    val attempt =
      Option(TaskContext.get()).fold("driver")(_.taskAttemptId().toString)
    val slash = path.lastIndexOf('/')
    s"${path.take(slash + 1)}.${path.drop(slash + 1)}.$attempt.inprogress"
  }

  /** Atomically rename this attempt's finished stage of `path` onto it. */
  def publish(path: String): Unit =
    GraftIO.forPath(path).rename(stagePath(path), path)

  /** Write `path` through a stage file: `body` writes the stage path in
    * full, then the stage is published. */
  def write[A](path: String)(body: String => A): A = {
    val a = body(stagePath(path))
    publish(path)
    a
  }

  /** Delete staging files directly under each of `dirs`. One writer per
    * directory: a run's own attempts stage under fresh ids, so whatever is
    * found at its start (or at its job commit) is a dead attempt's. */
  def sweep(dirs: String*): Unit = dirs.foreach { d =>
    val io = GraftIO.forPath(d)
    io.list(d).foreach { e =>
      if (!e.isDir && e.name.startsWith(".") && e.name.endsWith(".inprogress"))
        io.delete(e.path)
    }
  }

  /** Delete everything under `dir`, keeping `dir` itself. */
  def clear(dir: String): Unit = {
    val io = GraftIO.forPath(dir)
    io.list(dir).foreach { e =>
      if (e.isDir) { clear(e.path); io.delete(e.path) } else io.delete(e.path)
    }
  }

  /** Partition ids with a lineage sidecar under `lineageDir`. A failed read
    * is "no coverage" ONLY when a listing confirms no lineage data file
    * exists: callers act destructively on an empty answer (everything is
    * rewritten, gap sidecars REPLACE-renamed over real ones), so a
    * transient read failure with real sidecars on disk must propagate
    * instead of erasing the checkpoint. */
  def lineageReadOrEmpty(spark: SparkSession, lineageDir: String): Set[Int] =
    try spark.read.parquet(lineageDir).select("partId").distinct()
      .collect().map(_.getInt(0)).toSet
    catch {
      case scala.util.control.NonFatal(e) =>
        val hasData = GraftIO.forPath(lineageDir).list(lineageDir).exists(en =>
          !en.isDir && !en.name.startsWith(".") && !en.name.startsWith("_"))
        if (hasData) throw e
        Set.empty
    }

  /** The text of the marker file at `path`, if there is one. */
  def readMarker(path: String): Option[String] = {
    val io = GraftIO.forPath(path)
    io.status(path).map(_ =>
      new String(io.readAll(path), java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  /** Write (or overwrite) the marker file at `path` through a stage file:
    * a crash mid-write must not leave a truncated marker that blocks every
    * later resume of a healthy checkpoint. */
  def writeMarker(path: String, text: String): Unit =
    write(path) { stage =>
      val out = GraftIO.forPath(stage).create(stage)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** Commit `rows` (case-class instances of `schema`) as the lineage
    * sidecar at `path`, zstd pages. */
  def writeSidecar(path: String, schema: StructType, rows: Seq[Product]): Unit =
    write(path) { stage =>
      val w = new ParquetFileWriter.IncrementalFileWriter(stage, schema,
        codec = PqCodec.Zstd)
      rows.foreach(r => w.addRow(Row.fromTuple(r)))
      w.close()
    }

  /** The one resumable driver: every completed TASK is a durable
    * checkpoint. It sweeps staging orphans, reads the done-set from
    * `lineageDir`, and runs `plan(done)`; each task whose partition is not
    * done and has rows writes its data file `part-<pid>.parquet` under
    * `dataDir` through `writePart(pid, rows, stage)` and commits it, then
    * commits the returned rows as its sidecar `lineageDir/part-<pid>.parquet`
    * — the sidecar LAST, so a lineage row never exists without its data. A
    * killed run loses only the tasks in flight; a partition with a data
    * file but no sidecar is rewritten in place, never duplicated. */
  def runResumable[T, L <: Product : TypeTag](spark: SparkSession,
      dataDir: String, lineageDir: String)(plan: Set[Int] => RDD[T])(
      writePart: (Int, Iterator[T], String) => Seq[L]): Unit = {
    val io = GraftIO.forPath(dataDir)
    io.mkdirs(dataDir)
    io.mkdirs(lineageDir)
    sweep(dataDir, lineageDir)
    val done = lineageReadOrEmpty(spark, lineageDir)
    val schema = Encoders.product[L].schema
    plan(done).foreachPartition { (it: Iterator[T]) =>
      val pid = TaskContext.getPartitionId()
      if (!done(pid) && it.hasNext) {
        val lineage = write(partPath(dataDir, pid))(writePart(pid, it, _))
        writeSidecar(partPath(lineageDir, pid), schema, lineage)
      }
    }
  }
}
