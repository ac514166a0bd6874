package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A failed output check. It ends the run: the operation counts as failed
  * and its time is never recorded. */
final class CheckFailed(msg: String) extends Exception(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
}

/** What every workload shares: the session, the seed, the tracer and a
  * scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val tr: SpanRecorder) {
  def dir(name: String): String = {
    val p = work.resolve(name)
    Ctx.deleteTree(p)
    p.toString
  }
}

object Ctx {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

/** One benchmark workload: a closed loop of operations by one client.
  * `setup` builds the inputs from scratch (it runs several times and the
  * last build is kept); `op` runs one operation, checks its output and
  * [[record]]s its samples. */
abstract class Workload {
  def setup(): Unit
  def op(i: Long): Unit
  /** Facts about the workload that are not metrics, such as its sizes. */
  protected def facts: Map[String, Any]

  /** Raw bytes one operation writes and reads back, and the bytes it stores. */
  protected var rawBytes = 0L
  protected var storedBytes = 0L
  private val writeS = ArrayBuffer.empty[Double]
  private val readS = ArrayBuffer.empty[Double]
  private val lookupMs = ArrayBuffer.empty[Double]

  /** Keeps operation `i`'s samples; warm-up operations (i < 0) are dropped. */
  protected def record(i: Long, write: Double, read: Double, lookups: Seq[Double]): Unit =
    if (i >= 0) { writeS += write; readS += read; lookupMs ++= lookups }

  /** End-to-end metric values (name -> value) from the samples so far. */
  def endToEnd(): Map[String, Double] = Map(
    "write_mbps" -> rawBytes / 1e6 / Stats.median(writeS.toSeq),
    "read_mbps" -> rawBytes / 1e6 / Stats.median(readS.toSeq),
    "bytes_ratio" -> storedBytes.toDouble / rawBytes,
    "lookup_p50_ms" -> Stats.median(lookupMs.toSeq)) ++
    Stats.tail(lookupMs.toSeq).map(t => "lookup_tail_ms" -> t.value)

  /** Whether the samples so far support every metric; the loop runs past
    * its time until they do. */
  def enough: Boolean = writeS.size >= 3 && lookupMs.size >= Stats.MinTailSamples

  /** The facts plus the samples, their counts and the lookup tail's
    * percentile. */
  def details(): Map[String, Any] = facts ++ Map(
    "rows" -> InputCopy.Rows, "raw_bytes" -> rawBytes, "stored_bytes" -> storedBytes,
    "write_s" -> writeS.toSeq, "read_s" -> readS.toSeq, "lookup_ms" -> lookupMs.toSeq,
    "write_samples" -> writeS.size, "read_samples" -> readS.size,
    "lookup_samples" -> lookupMs.size,
    "lookup_tail_percentile" -> Stats.tail(lookupMs.toSeq).map(_.percentile).orNull)
}

object Main {
  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "write_mbps" -> "MB/s", "read_mbps" -> "MB/s",
    "bytes_ratio" -> "ratio", "lookup_p50_ms" -> "ms", "lookup_tail_ms" -> "ms")

  val SetupReps = 3
  val WarmupSeconds = 10.0

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  /** Spark threads: a fixed local[k] that leaves one core to the JIT and GC. */
  def threads: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors - 1))

  def session(work: Path, threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads * 4)
      // fixed plans: adaptive execution would re-plan between operations
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .sorted.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case null => "null"
    case other => json(other.toString)
  }

  /** Any error other than a failed check ends the JVM with code 1 (Spark's
    * non-daemon threads would otherwise keep it alive). */
  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case t: Throwable =>
        t.printStackTrace()
        System.exit(1)
    }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val trace = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    Files.createDirectories(work)
    val k = threads
    val spark = session(work, k)
    val tr = new SpanRecorder(trace)
    val ctx = new Ctx(spark, seed, work, tr)
    val w: Workload = workload match {
      case "chunk_store" => new ChunkStore(ctx)
      case "file_scan" => new FileScan(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var attempted = 0L
    var failed = 0L
    var error: String = null
    val setupS = ArrayBuffer.empty[Double]
    val sparkTrace = new SparkTrace
    var layers = Map.empty[String, Double]
    try {
      // a cold set-up, then unmeasured operations until the JIT, codegen and
      // the footer cache have settled, then the measured set-ups: set-up
      // time is reported warm, like the operations
      tr.timed("setup")(w.setup())
      val w0 = System.nanoTime()
      var warm = 0L
      while (warm == 0 || (System.nanoTime() - w0) / 1e9 < WarmupSeconds) {
        warm += 1
        tr.op(-warm)(w.op(-warm))
      }
      (0 until SetupReps).foreach(_ => setupS += tr.timed("setup")(w.setup())._2)
      if (trace) spark.sparkContext.addSparkListener(sparkTrace)
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds || !w.enough) {
        attempted += 1
        try tr.op(attempted)(w.op(attempted))
        catch { case e: CheckFailed => failed += 1; throw e }
      }
      if (trace) {
        SparkTrace.drain(spark)
        spark.sparkContext.removeSparkListener(sparkTrace)
        val ops = attempted.toDouble
        layers = Map(
          "spark.task_s" -> sparkTrace.runMs / 1e3 / ops,
          "spark.gc_s" -> sparkTrace.gcMs / 1e3 / ops,
          "spark.shuffle_bytes" -> sparkTrace.shuffleBytes / ops,
          "spark.shuffle_write_s" -> sparkTrace.shuffleWriteNs / 1e9 / ops,
          "spark.fetch_wait_s" -> sparkTrace.fetchWaitMs / 1e3 / ops,
          "spark.tasks" -> sparkTrace.tasks / ops,
          "spark.sched_delay_ms" ->
            sparkTrace.schedDelayMs.toDouble / math.max(1L, sparkTrace.tasks),
        ) ++ w.endToEnd().collect {
          case (m, v) if m != "bytes_ratio" => s"traced.$m" -> v
        } ++ new Layers(ctx).run()
      }
    } catch {
      case e: CheckFailed =>
        error = e.getMessage
        failed = math.max(failed, 1L) // a set-up or warm-up check counts too
    }
    val e2e = if (error == null) w.endToEnd() + ("setup_s" -> Stats.median(setupS.toSeq))
      else Map.empty[String, Double]
    val details = w.details() ++ Map(
      "workload" -> workload, "seed" -> seed, "threads" -> k,
      "setup_samples" -> setupS.toSeq, "error" -> error) ++
      (if (trace) Map("spans" -> tr.summary.map { case (n, (c, total, self)) =>
        n -> Map("count" -> c, "total_s" -> total, "self_s" -> self) })
      else Map.empty)
    if (trace) tr.writeJsonl(work.getParent.resolve(s"trace-$workload-$seed.jsonl"))
    spark.stop()
    println(json(Map("details" -> details)))
    val (units, values) = if (trace) (Layers.Units, layers) else (EndToEndUnits, e2e)
    val metrics = units.collect { case (m, u) if values.contains(m) =>
      m -> Map("value" -> values(m), "unit" -> u)
    }.toMap
    val missing = units.map(_._1).filterNot(metrics.contains)
    val correct = error == null && failed == 0 && missing.isEmpty
    if (missing.nonEmpty) System.err.println(s"graftbench: missing metrics ${missing.mkString(",")}")
    if (error != null) System.err.println(s"graftbench: check failed: $error")
    println(json(Map("correct" -> correct, "attempted" -> math.max(1L, attempted),
      "failed" -> failed, "metrics" -> metrics)))
    System.exit(if (correct) 0 else 1)
  }
}
