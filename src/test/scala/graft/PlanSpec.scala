package graft

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter,
  RowToColumnarExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextOps
import graft.operators._

/** Physical-plan quality gates: the properties that make these operators
  * viable at 100 TB — scan-level column pruning, predicate pushdown, and
  * broadcast (not shuffle) joins for metadata-sized sides — asserted on
  * the optimizer's output so they cannot silently regress. */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  @transient private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("aggregations prune the parquet scan to referenced columns only") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(docs.groupBy("lang")
      .agg(sum(TextOps.wsTokenCount(col("text")))))
    assert(plan.contains("ReadSchema: struct<text:string,lang:string>"), plan)
  }

  test("filters push down to the parquet scan") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(docs.where(col("n_chars") > 500).select("doc_id"))
    assert(plan.contains("GreaterThan(n_chars,500)"), plan)
  }

  test("decodeWhere prunes inside each partition: no exchange, no join") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber")
      .repartitionByRange(2, col("l_orderkey"))
    val out = java.nio.file.Files.createTempDirectory("graft-plan").toString
    EncodeJob.encode(li, 0, Seq.empty, Seq("l_orderkey"))
      .write.parquet(s"$out/chunks")
    val stored = spark.read.parquet(s"$out/chunks").as[ChunkRow](
      org.apache.spark.sql.Encoders.product[ChunkRow])
    val pruned = DecodeJob.decodeWhere(stored, li.schema, "l_orderkey", 10L, 50L)
    val plan = planOf(pruned.where(col("l_orderkey") > 20L).select("l_orderkey"))
    // one pass over the stored chunk table: each chunk row is read once,
    // grouped and pruned inside its partition, and only the referenced
    // column reaches the scan
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.split("Scan parquet").length == 2, plan)
    val scan = plan.linesIterator.filter(_.contains("ChunkScanExec")).toSeq
    assert(scan.size == 1, plan)
    assert(scan.head.contains("[l_orderkey#") && !scan.head.contains("l_linenumber"), plan)
    // and it still returns the right rows
    assert(pruned.where(col("l_orderkey").between(10, 50)).count() ==
      li.where(col("l_orderkey").between(10, 50)).count())
  }

  test("a chunk read takes its child's chunk rows as rows or as batches, never via RowToColumnar") {
    val df = spark.range(0, 3000, 1, 2)
      .select(col("id"), (col("id") % 7).cast("string").as("s"))
    val chunks = EncodeJob.encode(df, 0, Seq.empty, Seq("id"), chunkRows = 500)
    val expect = df.where(col("id").between(100, 1200)).orderBy("id").collect().toSeq
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case q: QueryStageExec => unwrap(q.plan)
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case other => other
    }
    def childOf(table: Dataset[ChunkRow]): SparkPlan = {
      val read = DecodeJob.decodeWhere(table, df.schema, "id", 100L, 1200L)
        .where(col("id").between(100, 1200)).orderBy("id")
      assert(read.collect().toSeq == expect)
      val plan = read.queryExecution.executedPlan
      assert(collect(plan) { case r: RowToColumnarExec => r }.isEmpty, plan)
      val scans = collect(plan) { case c: ChunkScanExec => c }
      assert(scans.size == 1, plan)
      unwrap(scans.head.child)
    }
    // a persisted chunk table: the cache scan's rows, read as rows
    val cached = chunks.cache()
    val rowChild = childOf(cached)
    assert(rowChild.isInstanceOf[InMemoryTableScanExec] && !rowChild.supportsColumnar,
      rowChild)
    // a parquet-stored one: the vectorized scan's batches, read as batches
    val dir = java.nio.file.Files.createTempDirectory("graft-shape").toString
    cached.write.parquet(s"$dir/chunks")
    val stored = spark.read.parquet(s"$dir/chunks").as[ChunkRow](Encoders.product[ChunkRow])
    val batchChild = childOf(stored)
    assert(batchChild.isInstanceOf[FileSourceScanExec] && batchChild.supportsColumnar,
      batchChild)
    cached.unpersist()
  }

  test("encode pipeline has exactly one exchange (the salted repartition)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val chunks = EncodeJob.encode(docs, 4, Seq("lang"), Seq("doc_id"))
    // the encode terminal consumes the physical plan via toRdd, so the
    // shuffle count lives in the RDD lineage (one ShuffledRowRDD = the
    // salted repartition), and the resulting chunk Dataset itself must add
    // no further exchange
    val shuffles = chunks.rdd.toDebugString.linesIterator
      .count(_.contains("ShuffledRowRDD"))
    assert(shuffles == 1,
      s"expected 1 shuffle in lineage:\n${chunks.rdd.toDebugString}")
    val plan = planOf(chunks.toDF())
    assert(!plan.contains("Exchange"), s"chunk dataset added an exchange:\n$plan")
  }

  test("brute-force ANN plan is shuffle-free (broadcast corpus + map)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, "vec_id", "embedding", k = 2)
    val plan = planOf(bf)
    assert(!plan.contains("Exchange"), plan)
  }

  test("exactTopK shuffles only the per-partition top-k partials") {
    // corpus side: scan -> mapPartitions with NO exchange below it; the
    // single exchange in the plan is the probes x partitions x k partial
    // merge (window), whose volume is independent of corpus size
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val probes = emb.where(col("vec_id") % 50 === 0)
    val plan = planOf(Similarity.exactTopK(emb, probes,
      "vec_id", "embedding", k = 2))
    // node-boundary count: "ReusedExchange"/"BroadcastExchange" must not
    // satisfy (or mask) the single-SHUFFLE-exchange property
    assert("(?<!Reused)(?<!Broadcast)Exchange".r
      .findAllMatchIn(plan).length == 1, plan)
  }

  test("LSH dedup ops compute their banding once (ReusedExchange)") {
    // minhash/simhash/embedding candidate joins feed both sides from one
    // capped frame; the expensive signature/banding work sits BELOW the
    // window's (bucket-keyed) exchange, so the planner must collapse the
    // second side to a ReusedExchange — recomputing the banding per side
    // doubles the dominant scan+hash term at scale.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val mh = planOf(Dedup.minhashLsh(docs, "doc_id", "text",
        numHashes = 16, bands = 4))
      assert(mh.contains("ReusedExchange"), mh)
      val sh = planOf(Dedup.simhashNearDups(docs, "doc_id", "text",
        maxDist = 3))
      assert(sh.contains("ReusedExchange"), sh)
      val en = planOf(Dedup.embeddingNearDups(emb, "vec_id", "embedding"))
      assert(en.contains("ReusedExchange"), en)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("lshTopK computes the banded projection once (ReusedExchange)") {
    // both candidate-join sides must come off ONE (tbl, bucket) exchange —
    // the 8-table hyperplane projection is the expensive child, and a
    // non-identical second subtree would recompute it per side. AQE defers
    // reuse to runtime stages, so pin the property on the static planner.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(
        Similarity.lshTopK(emb, "vec_id", "embedding", k = 3, planes = 6))
      assert(plan.contains("ReusedExchange"), plan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("ngram jaccard computes the shingle frame once (ReusedExchange)") {
    // the shingle frame feeds FOUR subtrees (both exploded candidate sides
    // + both payload join-backs); the operator's explicit (block, key)
    // repartition must be the single Exchange the other three reuse —
    // without it the full shingle projection (read + shingle + hash +
    // sort) recomputes once per reference, measured 13.6s -> 8.5s at sf0.1
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // disable broadcast so the tiny test corpus plans like the at-scale
    // shape (shuffle joins); broadcast payload joins don't consume the
    // exchange at all
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        blockCols = Seq("lang"), n = 3, threshold = 0.4))
      // one real Exchange carrying the shingle arrays, three reuses
      assert(plan.contains("ReusedExchange"), plan)
      assert("ReusedExchange".r.findAllIn(plan).size >= 3, plan)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
