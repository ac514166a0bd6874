package graft.functions

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, count, explode, split}
import org.apache.spark.sql.types.LongType

/** Merge-table byte-pair encoding — the PUBLIC BPE algorithm (iterative
  * lowest-rank pair merging over a learned merge list, the tokenizer shape
  * every LLM data pipeline runs): repeatedly find the lowest-rank adjacent
  * symbol pair present in the sequence and merge every (leftmost,
  * non-overlapping) occurrence, until no listed pair remains. This replaces
  * the round-3 "BPE-ish" regex pre-tokenizer ([[TextOps.tokenCount]]) with
  * the real merge loop; the regex one stays as the cheap approximation.
  *
  * Scale shape: a per-partition kernel (broadcast merge table, primitive
  * loops, one pass per document) — no shuffle, no UDF-registry round trip,
  * linear in corpus size like every other TextOps signal. The round-5
  * encoder is the indexed heap+linked-list merge loop (O(len log len) per
  * document, independent of table size), so real 10k-50k-rule vocabularies
  * are practical; [[Table.learn]] trains such a table from a word-frequency
  * list with the standard incremental pair-count algorithm.
  *
  * ORACLE EQUIVALENCE (why DuckDB can replay this in plain SQL): for a
  * CREATION-ORDERED table — every merge's operands are base symbols or
  * outputs of strictly earlier merges, which is true of any actually
  * learned BPE table — priority merging equals applying the merges in rank
  * order, each exhaustively, exactly once: merging pair k only creates new
  * adjacencies involving k's output symbol, and that symbol cannot be an
  * operand of any rank < k, so no earlier pair ever reappears. With
  * single-character symbol names a rank's exhaustive leftmost application
  * is one non-overlapping left-to-right `replace(seq, l || r, out)`, and
  * the final token count is `length(seq)` — which is how the q_token_bpe_merge
  * oracle replays [[SyntheticTable]] (built from the SAME [[Table.merges]]
  * list, so the two engines cannot drift). Learned tables have multi-char
  * symbol names, where the replace() replay no longer holds — those are
  * verified differentially instead (q_token_bpe_learned pins the indexed
  * encoder against [[Table.encodeReference]], the independent rescan twin).
  */
object Bpe {

  /** One merge rule: adjacent (left, right) fuse into `out`. */
  final case class Merge(left: String, right: String, out: String)

  /** Rank-ordered merge table (rank = position in `merges`). */
  final class Table(val merges: Seq[Merge]) extends Serializable {
    require(merges.nonEmpty, "empty merge table")
    // (left NUL right) -> rank; NUL cannot appear in symbols
    private val rank = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case (m, i) =>
      require(!m.left.contains('\u0000') && !m.right.contains('\u0000'),
        "NUL in merge operand")
      val k = m.left + "\u0000" + m.right
      require(!rank.containsKey(k), s"duplicate merge (${m.left},${m.right})")
      rank.put(k, i)
    }
    // each output names one merge: a symbol two merges produce lets a later
    // merge recreate an operand of an earlier rank, which the indexed
    // encoder's equivalence with the rescan loop rests on never happening
    merges.groupBy(_.out).foreach { case (o, ms) =>
      require(ms.size == 1, s"two merges produce the symbol $o")
    }
    private val byRank = merges.toArray

    /** Priority-BPE over a symbol sequence — the indexed merge loop that
      * makes 10k+-rule vocabularies practical: a doubly-linked list over
      * positions plus a lazily-revalidated min-heap of (rank, pos)
      * candidates, O(len log len) per document instead of the rescan
      * loop's O(appliedMerges x len) ([[encodeReference]], kept as the
      * differential twin). Heap order (rank, then position) reproduces the
      * rescan loop's "lowest rank first, leftmost first within a rank"
      * semantics exactly: merging a pair only creates adjacencies involving
      * its output symbol — a FRESH symbol in any learned/creation-ordered
      * table — so no merge ever recreates an equal-or-lower-(rank, pos)
      * candidate to the left of one the heap already passed. [[BpeSpec]]
      * pins the equivalence property on randomized tables and inputs. */
    def encode(symbols: Array[String]): Array[String] = {
      val n = symbols.length
      if (n < 2) return symbols
      val sym = symbols.clone()
      val next = Array.tabulate(n)(_ + 1) // n == list end
      val prev = Array.tabulate(n)(_ - 1) // -1 == list head
      // candidate = (rank << 32 | leftPos); both halves are non-negative
      // ints, so Long ordering IS (rank, pos) ordering
      val pq = new java.util.PriorityQueue[java.lang.Long]
      def push(i: Int): Unit = if (i >= 0) {
        val j = next(i)
        if (j < n) {
          val r = rank.get(sym(i) + "\u0000" + sym(j))
          if (r != null) pq.add((r.longValue << 32) | i.toLong)
        }
      }
      var i = 0
      while (i + 1 < n) { push(i); i += 1 }
      var remaining = n
      while (!pq.isEmpty) {
        val e = pq.poll().longValue
        val r = (e >>> 32).toInt
        val p = (e & 0xffffffffL).toInt
        // revalidate: stale entries (either side already merged away, or
        // the pair at p changed) are recognized by recomputing the rank —
        // rank keys are unique per pair, so rank equality implies the pair
        // is still exactly (byRank(r).left, byRank(r).right)
        if (sym(p) != null) {
          val q = next(p)
          if (q < n) {
            val rr = rank.get(sym(p) + "\u0000" + sym(q))
            if (rr != null && rr.intValue == r) {
              sym(p) = byRank(r).out
              sym(q) = null
              next(p) = next(q)
              if (next(q) < n) prev(next(q)) = p
              remaining -= 1
              push(prev(p))
              push(p)
            }
          }
        }
      }
      val out = new Array[String](remaining)
      var k = 0
      i = 0
      while (i < n) {
        if (sym(i) != null) { out(k) = sym(i); k += 1 }
        i += 1
      }
      out
    }

    /** The round-4 rescan loop, kept verbatim as the independent twin for
      * differential verification (q_token_bpe_learned pins indexed ==
      * rescan over the corpus): find the lowest-rank present pair by full
      * scan, merge all leftmost non-overlapping occurrences, repeat. */
    private[graft] def encodeReference(symbols: Array[String]): Array[String] = {
      var syms = symbols
      var done = false
      while (!done && syms.length > 1) {
        var best = Int.MaxValue
        var i = 0
        while (i + 1 < syms.length) {
          val r = rank.get(syms(i) + "\u0000" + syms(i + 1))
          if (r != null && r < best) best = r
          i += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          val m = byRank(best)
          val buf = new ArrayBuffer[String](syms.length)
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == m.left &&
                syms(j + 1) == m.right) {
              buf += m.out; j += 2
            } else { buf += syms(j); j += 1 }
          }
          syms = buf.toArray
        }
      }
      syms
    }

    private def charSymbols(s: String): Array[String] = {
      val base = new Array[String](s.length)
      var i = 0
      while (i < s.length) { base(i) = String.valueOf(s.charAt(i)); i += 1 }
      base
    }

    /** Encode a string whose base symbols are its characters. */
    def encodeChars(s: String): Array[String] = encode(charSymbols(s))

    def countTokens(s: String): Long =
      if (s == null || s.isEmpty) 0L else encodeChars(s).length.toLong

    private[graft] def countTokensReference(s: String): Long =
      if (s == null || s.isEmpty) 0L
      else encodeReference(charSymbols(s)).length.toLong
  }

  /** Deterministic synthetic table over [a-z ] text: common English
    * bigram/trigram merges, creation-ordered, single-char (capital) output
    * names so the oracle can replay it with `replace`/`length` (see the
    * object scaladoc). Space is never an operand, so merges cannot cross
    * word boundaries. */
  val SyntheticTable: Table = new Table(Seq(
    Merge("t", "h", "H"),   // th
    Merge("H", "e", "E"),   // the
    Merge("i", "n", "I"),   // in
    Merge("a", "n", "A"),   // an
    Merge("A", "d", "D"),   // and
    Merge("e", "r", "R"),   // er
    Merge("o", "n", "O"),   // on
    Merge("r", "e", "Q"),   // re
    Merge("a", "t", "T"),   // at
    Merge("e", "n", "N")))  // en

  /** Train a merge table from a word-frequency list — the standard public
    * BPE training algorithm (count adjacent symbol pairs over the weighted
    * vocabulary, merge the most frequent, repeat) with the standard
    * incremental bookkeeping: pair counts live in a hash map, the argmax
    * comes from a lazily-revalidated max-heap, and a merge re-counts only
    * the words that actually contain its pair. Deterministic end to end:
    * count ties break toward the lexicographically smallest (left, right),
    * and every structure iterated is index- or heap-ordered. Output symbol
    * names are left+right concatenations (the learned analogue of
    * subword vocabularies), named by [[outName]] so that two merges of
    * different pairs with one concatenation ((a,bc) and (ab,c)) still
    * produce distinct symbols.
    *
    * Stops early (returning fewer merges) when no adjacent pair remains.
    * Training is driver-side over the BOUNDED vocab list — the corpus
    * itself never leaves the cluster; callers aggregate word frequencies
    * with one groupBy and cap the vocab (see q_token_bpe_learned). */
  def learn(wordFreq: Seq[(String, Long)], numMerges: Int): Table = {
    require(numMerges > 0, "numMerges must be positive")
    // words as mutable symbol arrays (nulls mark merged-away slots between
    // compactions), weighted by frequency
    val words: Array[Array[String]] =
      wordFreq.map(w => w._1.toCharArray.map(String.valueOf)).toArray
    val freq: Array[Long] = wordFreq.map(_._2).toArray
    final case class P(l: String, r: String)
    val counts = mutable.HashMap.empty[P, Long]
    val where = mutable.HashMap.empty[P, mutable.LinkedHashSet[Int]]
    def addPairs(wi: Int, sign: Long): Unit = {
      val w = words(wi)
      var i = 0
      while (i + 1 < w.length) {
        val p = P(w(i), w(i + 1))
        val c = counts.getOrElse(p, 0L) + sign * freq(wi)
        if (c <= 0L) counts.remove(p) else counts.update(p, c)
        if (sign > 0) where.getOrElseUpdate(p,
          mutable.LinkedHashSet.empty[Int]) += wi
        i += 1
      }
    }
    words.indices.foreach(addPairs(_, 1L))
    // max-heap of (count, left, right) snapshots; stale entries are
    // recognized by comparing against the live count on pop
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](
      // max count first; among equal counts the lexicographically SMALLEST
      // pair must win, so the string components are reversed
      Ordering.by[(Long, String, String), (Long, String, String)](
        t => (t._1, t._2, t._3))(Ordering.Tuple3(Ordering.Long,
        Ordering.String.reverse, Ordering.String.reverse)))
    counts.foreach { case (p, c) => heap.enqueue((c, p.l, p.r)) }
    val out = ArrayBuffer.empty[Merge]
    val taken = mutable.HashSet.empty[String]
    while (out.length < numMerges && heap.nonEmpty) {
      val (c, l, r) = heap.dequeue()
      val p = P(l, r)
      if (counts.getOrElse(p, 0L) == c) {
        // live entry: this IS the current (max count, min pair) argmax —
        // any pair with a higher live count has a live heap entry above
        val merged = outName(l, r, taken)
        taken += merged
        out += Merge(l, r, merged)
        val touched = where.getOrElse(p, mutable.LinkedHashSet.empty[Int])
        touched.foreach { wi =>
          val w = words(wi)
          var has = false
          var i = 0
          while (!has && i + 1 < w.length) {
            if (w(i) == l && w(i + 1) == r) has = true
            i += 1
          }
          if (has) {
            addPairs(wi, -1L) // retract the old adjacencies
            val buf = new ArrayBuffer[String](w.length)
            var j = 0
            while (j < w.length) {
              if (j + 1 < w.length && w(j) == l && w(j + 1) == r) {
                buf += merged; j += 2
              } else { buf += w(j); j += 1 }
            }
            words(wi) = buf.toArray
            addPairs(wi, 1L) // add the new ones
            // re-seed the heap at the live count of every pair whose count
            // changed in this word: the retracted ones (a pair that left
            // the word dropped, and its old entry is now stale) and the
            // added ones
            Iterator(w, words(wi)).foreach { sw =>
              var k2 = 0
              while (k2 + 1 < sw.length) {
                val np = P(sw(k2), sw(k2 + 1))
                counts.get(np).foreach(nc => heap.enqueue((nc, np.l, np.r)))
                k2 += 1
              }
            }
          }
        }
        counts.remove(p)
        where.remove(p)
      }
    }
    new Table(out.toSeq)
  }

  /** The output symbol [[learn]] gives the merge of (l, r): `l + r`, or,
    * when an earlier merge already took that name, the first free
    * `l + r + "#" + k`. A base symbol is one character and every name has
    * at least two, so names never meet base symbols either. */
  private[graft] def outName(l: String, r: String, taken: String => Boolean): String = {
    val s = l + r
    if (!taken(s)) s
    else Iterator.from(1).map(k => s"$s#$k").find(n => !taken(n)).get
  }

  /** Deterministic filler vocabulary for exercising large merge tables on
    * small-vocab synthetic corpora (the driver's documents table has ~31
    * distinct words — nowhere near enough adjacent-pair diversity to learn
    * 10k merges). Pseudo-words of 6-12 lowercase letters from a Knuth-hash
    * mix of the index, frequency 1 each so they rank after every real
    * corpus pair, deterministically. */
  def syntheticVocab(n: Int): Seq[(String, Long)] =
    (0 until n).map { i =>
      var x = (i.toLong * 2654435761L + 0x9e3779b9L) & 0x7fffffffL
      val len = 6 + (x % 7).toInt
      val sb = new java.lang.StringBuilder(len)
      var k = 0
      while (k < len) {
        x = (x * 6364136223846793005L + 1442695040888963407L) >>> 1
        sb.append(('a' + (x % 26).toInt).toChar)
        k += 1
      }
      (sb.toString, 1L)
    }

  /** Word frequencies of `textCol` (pre-normalized, space-separated), capped
    * at the `maxVocab` most frequent words (ties toward the smaller word) —
    * the one distributed aggregation BPE training needs; the merge loop
    * itself runs driver-side over this bounded list. */
  def wordFrequencies(df: DataFrame, textCol: String,
      maxVocab: Int): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.lit
    df.select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= lit(""))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocab)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
  }

  /** Per-partition token-count kernel: appends `outCol` (bigint) holding
    * the BPE token count of `textCol` under `table`. The table is
    * broadcast once; rows stream through primitive loops. `reference`
    * switches the kernel to the rescan twin for differential checks. */
  def tokenCount(df: DataFrame, textCol: String, table: Table,
      outCol: String = "bpe_tokens", reference: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val idx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema.add(outCol, LongType, nullable = false)
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(outSchema)
    val bc = spark.sparkContext.broadcast(table)
    df.mapPartitions { it =>
      val t = bc.value
      it.map { r =>
        val s = if (r.isNullAt(idx)) null else r.getString(idx)
        val n = if (reference) t.countTokensReference(s) else t.countTokens(s)
        Row.fromSeq(r.toSeq :+ n)
      }
    }
  }
}
