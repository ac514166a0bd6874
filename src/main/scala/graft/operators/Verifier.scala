package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end bit-identity verification (the north rule's per-row sha256
  * equality on content): encode -> decode -> join back to the source on the
  * row key and compare content hashes. */
object Verifier {

  /** Returns (sourceRows, decodedRows, mismatchedOrMissing). */
  def verify(source: DataFrame, decoded: DataFrame, keyCols: Seq[String],
      contentCol: String): (Long, Long, Long) =
    verifyAll(source, decoded, keyCols, Seq(contentCol)).head._2

  /** Verify EVERY column in `contentCols` with ONE full-outer join and ONE
    * aggregation; returns per-column (sourceRows, decodedRows,
    * mismatchedOrMissing) in `contentCols` order.
    *
    * Why one pass: the hashes are projected BEFORE the join, so the shuffle
    * carries (keys, one 64-char hash per column) instead of the payload,
    * and the encode+decode pipelines execute exactly once regardless of
    * column count. The previous caller-side shape — cache the decoded frame
    * and join once per column — re-read the cache N times and, at the
    * 100 GB soak, spilled the whole decoded corpus through the local dir
    * (tmpfs): the OS killed the JVM before any result. Nothing here is
    * cached or collected; peak task memory is one sort-merge join partition
    * of hash rows. (ONE aggregation, not count()s per side: round-1 review
    * #7. With unique keys — the verify contract — the join has exactly one
    * row per key, and row counts come from presence markers, since a NULL
    * content value hashes to null and count(__h_*) would skip the row.
    * Equality uses <=>, so a correctly roundtripped null is not a
    * mismatch.) */
  def verifyAll(source: DataFrame, decoded: DataFrame, keyCols: Seq[String],
      contentCols: Seq[String]): Seq[(String, (Long, Long, Long))] = {
    require(contentCols.nonEmpty, "verifyAll needs at least one content column")
    def hashed(df: DataFrame, side: String) = df.select(
      (keyCols.map(col) ++ contentCols.zipWithIndex.map { case (c, i) =>
        sha2(col(c).cast("string"), 256).as(s"__h${i}_$side")
      } :+ lit(1).as(s"__p_$side")): _*)
    val joined = hashed(source, "src")
      .join(hashed(decoded, "dec"), keyCols, "full_outer")
    val missing = col("__p_src").isNull || col("__p_dec").isNull
    val aggs =
      count(col("__p_src")).as("ns") +: count(col("__p_dec")).as("nd") +:
        contentCols.indices.map { i =>
          sum(when(missing ||
            !(col(s"__h${i}_src") <=> col(s"__h${i}_dec")), 1L)
            .otherwise(0L)).as(s"bad$i")
        }
    val row = joined.agg(aggs.head, aggs.tail: _*).collect()(0)
    val (ns, nd) = (row.getLong(0), row.getLong(1))
    contentCols.zipWithIndex.map { case (c, i) =>
      c -> ((ns, nd, if (row.isNullAt(2 + i)) 0L else row.getLong(2 + i)))
    }
  }
}
