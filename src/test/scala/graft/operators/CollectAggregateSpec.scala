package graft.operators

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftParquetFormat, ParquetSink}

/** A collected global aggregate over a Graft scan runs as one stage and
  * merges its partial rows on the driver ([[CollectAggregateExec]]), with
  * the same answers as Spark's own two-stage plan over a Spark-native copy
  * of the rows. */
class CollectAggregateSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  @transient private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("graft-collect-agg").toString
  private val n = 2000

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Four partitions of int, long, double (exactly summable), decimal and
    * string columns, with nulls in `i` and `s`. */
  private def source: DataFrame = spark.range(0, n, 1, 4).selectExpr("id",
    "IF(id % 7 = 0, NULL, CAST(id % 1000 AS INT)) AS i",
    "id * 1000003 AS l",
    "id * 0.25D AS d",
    "CAST(id * 1.5 AS DECIMAL(12, 2)) AS dec",
    "IF(id % 5 = 0, NULL, concat('s', CAST(id * 7919 % 10007 AS STRING))) AS s")

  /** `df` as a cached `GC` chunk table, and its rows read from that
    * table, from Graft Parquet files and from Spark-native Parquet files. */
  private def containers(name: String,
      df: DataFrame): (Dataset[ChunkRow], Seq[(String, DataFrame)]) = {
    val chunks = EncodeJob.encode(df, 0, Seq.empty, Seq("id"), chunkRows = 250).cache()
    chunks.count()
    val files = s"$tmp/$name-graft"
    ParquetSink.write(df, files).collect()
    val native = s"$tmp/$name-native"
    df.write.parquet(native)
    (chunks, Seq("chunks" -> DecodeJob.decodeLocal(chunks, df.schema),
      "files" -> spark.read.format(GraftParquetFormat.Name).load(files),
      "native" -> spark.read.parquet(native)))
  }

  private lazy val (srcChunks, tables) = containers("src", source)

  private final class StageCounter extends SparkListener {
    @volatile var n = 0
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = n += 1
  }

  /** The stages `action` submits. */
  private def stages(action: => Any): Int = {
    val counter = new StageCounter
    val sc = spark.sparkContext
    sc.addSparkListener(counter)
    try {
      action
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      counter.n
    } finally sc.removeSparkListener(counter)
  }

  private def collectAggs(df: DataFrame): Seq[CollectAggregateExec] =
    collect(df.queryExecution.executedPlan) { case c: CollectAggregateExec => c }

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  /** The bench's order-independent content digest. */
  private def digest(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.toSeq.map(col): _*)
    df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32)))
  }

  /** `q` over each Graft container plans a [[CollectAggregateExec]] and
    * answers as `q` over the Spark-native copy does. */
  private def sameAsNative(what: String, ts: Seq[(String, DataFrame)])(
      q: DataFrame => DataFrame): Unit = {
    val want = q(ts.last._2).collect().toSeq
    ts.init.foreach { case (c, t) =>
      val got = q(t)
      assert(got.collect().toSeq == want, s"$what over $c")
      assert(collectAggs(got).nonEmpty, s"$what over $c:\n${got.queryExecution.executedPlan}")
    }
  }

  test("collected global aggregates over both containers answer as Spark's plan does") {
    val aggs: Seq[(String, Seq[Column])] = Seq(
      "count(*)" -> Seq(count(lit(1))),
      "count(col) with nulls" -> Seq(count("i"), count("s"), count(lit(1))),
      "sum/avg int, long, double, decimal" -> Seq("i", "l", "d", "dec")
        .flatMap(c => Seq(sum(c), avg(c))),
      "min/max strings" -> Seq(min("s"), max("s"), min("i"), max("l")))
    aggs.foreach { case (what, cs) =>
      sameAsNative(what, tables)(_.agg(cs.head, cs.tail: _*))
      sameAsNative(s"$what, filtered", tables)(_.where(col("l") % 3 === 1)
        .agg(cs.head, cs.tail: _*))
    }
    sameAsNative("digest", tables)(digest)
    sameAsNative("expression over aggregates", tables)(
      _.agg((sum("l") + max("i") * 2).as("x"), (count("s") / 3).as("y")))
    // no row survives the filter, and every task still reports a buffer
    sameAsNative("empty input", tables)(_.where(col("l") === -1L)
      .agg(count(lit(1)), sum("l"), avg("dec"), min("s")))
    tables.init.foreach { case (c, t) => assert(t.count() == n, c) }
  }

  test("a fully pruned input answers as an empty one") {
    val pruned = Seq(
      "chunks" -> DecodeJob.decodeWhere(srcChunks, source.schema, "id", -5L, -5L),
      tables(1), tables(2))
    sameAsNative("fully pruned", pruned)(_.where(col("id") === -5L)
      .agg(count(lit(1)), sum("l"), max("s")))
    val q0 = pruned.head._2.where(col("id") === -5L).agg(count(lit(1)))
    assert(q0.collect().head.getLong(0) == 0L)
    val scan = collect(q0.queryExecution.executedPlan) { case s: ChunkScanExec => s }.head
    val Seq(groups, prunedGroups) = Seq("groups", "pruned").map(scan.metrics(_).value)
    assert(groups > 0 && prunedGroups == groups, scan.metrics)
    // an empty chunk table: no task, no partial row
    val none = source.where(lit(false))
    val empty = DecodeJob.decodeLocal(
      EncodeJob.encode(none, 0, Seq.empty, Seq("id")), none.schema)
    val q = empty.agg(count(lit(1)), sum("l"), min("s"))
    assert(q.collect().toSeq == Seq(Row(0L, null, null)))
    assert(collectAggs(q).size == 1)
  }

  /** `body` planned without [[CollectAggregateStrategy]]: Spark's own
    * aggregate plan over the same scan. */
  private def withSparkPlan[T](body: => T): T = {
    val e = spark.experimental
    val saved = e.extraStrategies
    e.extraStrategies = saved.filterNot(_ == CollectAggregateStrategy)
    try body finally e.extraStrategies = saved
  }

  test("an overflowing merge fails or wraps as Spark's plan does") {
    // each task's partial sum fits a long; the merge of the four does not
    val big = spark.range(0, 4, 1, 4).selectExpr("id", s"${Long.MaxValue / 3} AS l",
      "CAST(9 AS DECIMAL(38, 0)) * CAST(1e37 AS DECIMAL(38, 0)) AS dec")
    val (_, ts) = containers("big", big)
    /** The rows, or the condition of the arithmetic error it failed with. */
    def run(q: => DataFrame): Either[String, Seq[Row]] =
      try Right(q.collect().toSeq)
      catch {
        case e @ (_: SparkException | _: ArithmeticException) =>
          Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
            case a: ArithmeticException with org.apache.spark.SparkThrowable => a.getCondition
          }.getOrElse(throw e))
      }
    Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try {
        Seq[Column](sum("l"), sum("dec"), avg("dec")).foreach { c =>
          val what = s"ansi=$ansi $c"
          val native = run(ts.last._2.agg(c))
          ts.init.foreach { case (name, t) =>
            val ours = run(t.agg(c))
            // where an overflow is caught depends on how rows fall into
            // tasks, so the error condition is compared on the same scan
            assert(ours == withSparkPlan(run(t.agg(c))), s"$what over $name")
            assert(ours.isLeft == (ansi == "true"), s"$what over $name: $ours")
            if (ours.isRight) assert(ours == native, s"$what over $name")
            assert(collectAggs(t.agg(c)).size == 1, s"$what over $name")
          }
        }
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("a collected global aggregate runs one stage; Spark's plan keeps two") {
    val Seq((_, chunkRead), (_, fileRead), _) = tables
    val lookup = DecodeJob.decodeWhere(srcChunks, source.schema, "id", 100L, 600L)
      .where(col("id").between(100L, 600L))
    assert(stages(assert(lookup.count() == 501)) == 1)
    Seq(lookup.groupBy().count(), digest(chunkRead), digest(fileRead)).foreach { q =>
      assert(stages(q.collect()) == 1, q.queryExecution.executedPlan)
      assert(collectAggs(q).size == 1 && exchanges(q).isEmpty, q.queryExecution.executedPlan)
    }
    Seq(chunkRead.groupBy("i").count(), fileRead.groupBy("i").count(),
        chunkRead.agg(approx_count_distinct("l")), fileRead.agg(collect_list("s"))).foreach { q =>
      assert(stages(q.collect()) == 2, q.queryExecution.executedPlan)
      assert(collectAggs(q).isEmpty, q.queryExecution.executedPlan)
    }
  }

  test("an aggregate another operator consumes merges in a second stage, with Spark's answer") {
    val one = spark.range(1).toDF("k")
    val q: DataFrame => DataFrame = _.agg(sum("l").as("sl"), count("s").as("cs"),
      max("dec").as("md")).crossJoin(one)
    sameAsNative("cross join", tables)(q)
    sameAsNative("union", tables)(t => q(t).union(q(t)))
  }
}
