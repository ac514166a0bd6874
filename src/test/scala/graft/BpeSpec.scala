package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Bpe

/** Pure-JVM checks of the merge-table BPE kernel: hand-computed
  * tokenizations, the priority rule, and the oracle-equivalence property
  * (priority BPE == rank-ordered replace() replay for creation-ordered
  * single-char tables) that q_token_bpe_merge's DuckDB SQL relies on. */
class BpeSpec extends AnyFunSuite {

  private val t = Bpe.SyntheticTable

  test("hand-computed tokenizations") {
    assert(t.encodeChars("the").toSeq == Seq("E"))
    assert(t.encodeChars("and").toSeq == Seq("D"))
    assert(t.encodeChars("thin").toSeq == Seq("H", "I"))
    assert(t.encodeChars("then").toSeq == Seq("E", "n")) // th->H, He->E wins before en
    assert(t.encodeChars("the and").toSeq == Seq("E", " ", "D"))
    assert(t.encodeChars("").isEmpty)
    assert(t.countTokens(null) == 0L)
    assert(t.countTokens("xyz") == 3L) // no merge applies
  }

  test("priority beats textual order: lowest rank merges first") {
    // "ath": pairs (a,t) rank 8 and (t,h) rank 0 -> th merges first,
    // leaving [a, H]; a greedy left-to-right scan would have taken (a,t)
    assert(t.encodeChars("ath").toSeq == Seq("a", "H"))
  }

  test("leftmost non-overlapping merge within one rank") {
    val tbl = new Bpe.Table(Seq(Bpe.Merge("a", "a", "A")))
    assert(tbl.encodeChars("aaa").toSeq == Seq("A", "a"))
    assert(tbl.encodeChars("aaaa").toSeq == Seq("A", "A"))
    assert(tbl.encodeChars("aaaaa").toSeq == Seq("A", "A", "a"))
  }

  test("rank-key ambiguity is impossible: NUL operands and dup pairs rejected") {
    intercept[IllegalArgumentException] {
      new Bpe.Table(Seq(Bpe.Merge("a\u0000", "b", "X")))
    }
    intercept[IllegalArgumentException] { // duplicate pair
      new Bpe.Table(Seq(Bpe.Merge("a", "b", "X"), Bpe.Merge("a", "b", "Y")))
    }
    // multi-char (and space-containing) operands are legal — the rank key
    // separator is NUL, not space
    val multi = new Bpe.Table(Seq(Bpe.Merge("a", "b", "ab"),
      Bpe.Merge("ab", "ab", "abab")))
    assert(multi.encodeChars("abab").toSeq == Seq("abab"))
  }

  test("two merges never produce one symbol") {
    // (a,bc) and (ab,c) both concatenate to "abc"; with (abc,ab) ranked
    // between them the indexed encoder and the rescan loop part ways on
    // ab|c|ab|c ([abcab, c] against [abc, abc]), so the table is refused
    val e = intercept[IllegalArgumentException] {
      new Bpe.Table(Seq(Bpe.Merge("a", "bc", "abc"),
        Bpe.Merge("abc", "ab", "abcab"), Bpe.Merge("ab", "c", "abc")))
    }
    assert(e.getMessage.contains("abc"), e.getMessage)
    // the same merges named the way learn() names them stay apart, and the
    // two encoders agree
    val taken = scala.collection.mutable.Set.empty[String]
    val tbl = new Bpe.Table(Seq(("a", "b"), ("b", "c"), ("a", "bc"),
      ("abc", "ab"), ("ab", "c")).map { case (l, r) =>
      val out = Bpe.outName(l, r, taken)
      taken += out
      Bpe.Merge(l, r, out)
    })
    assert(tbl.merges.map(_.out) == Seq("ab", "bc", "abc", "abcab", "abc#1"))
    val in = Array("ab", "c", "ab", "c")
    assert(tbl.encode(in).toSeq == tbl.encodeReference(in).toSeq)
    assert(tbl.encode(in).toSeq == Seq("abc#1", "abc#1"))
  }

  test("indexed encoder == rescan reference on randomized learned-shape tables") {
    // the differential property q_token_bpe_learned relies on: the heap+
    // linked-list encoder and the round-4 full-rescan loop agree symbol
    // for symbol on creation-ordered tables (fresh concatenated outputs —
    // the shape every learned table has) for arbitrary inputs
    val rng = new scala.util.Random(20260821L)
    (0 until 50).foreach { trial =>
      val alphabet = "abcdef"
      val syms = scala.collection.mutable.ArrayBuffer[String](
        alphabet.map(String.valueOf): _*)
      val seen = scala.collection.mutable.Set.empty[(String, String)]
      val merges = scala.collection.mutable.ArrayBuffer.empty[Bpe.Merge]
      var guard = 0
      while (merges.length < 30 && guard < 500) {
        val l = syms(rng.nextInt(syms.length))
        val r = syms(rng.nextInt(syms.length))
        if (!seen((l, r)) && (l + r).length <= 8) {
          seen += ((l, r))
          val out = Bpe.outName(l, r, syms.contains)
          merges += Bpe.Merge(l, r, out)
          syms += out
        }
        guard += 1
      }
      val tbl = new Bpe.Table(merges.toSeq)
      (0 until 40).foreach { _ =>
        val s = Seq.fill(1 + rng.nextInt(60))(
          alphabet(rng.nextInt(alphabet.length))).mkString
        assert(tbl.encodeChars(s).toSeq ==
          tbl.encodeReference(s.toCharArray.map(String.valueOf)).toSeq,
          s"trial $trial input '$s'")
      }
    }
  }

  test("learn: hand-checked merges, determinism, and encode consistency") {
    // "abab" x3 + "abc" x2: pair counts ab=8, ba=3, bc=2 -> first merge
    // (a,b)->ab; then (ab,ab)=3 vs (ab,c)=2 -> second merge (ab,ab)
    val wf = Seq(("abab", 3L), ("abc", 2L))
    val t1 = Bpe.learn(wf, 3)
    assert(t1.merges.take(2) == Seq(Bpe.Merge("a", "b", "ab"),
      Bpe.Merge("ab", "ab", "abab")), t1.merges.toString)
    // determinism: same inputs, same table
    assert(Bpe.learn(wf, 3).merges == t1.merges)
    // the learned table tokenizes its own training words maximally
    assert(t1.countTokens("abab") == 1L)
    // early stop when pairs run dry, never an error
    assert(Bpe.learn(Seq(("ab", 1L)), 100).merges.size == 1)
  }

  /** Reference trainer: recount every adjacent pair over the weighted
    * vocabulary each round and merge the argmax (max count, then the
    * smallest (left, right)) left to right in every word. */
  private def naiveLearn(wordFreq: Seq[(String, Long)], numMerges: Int): Seq[Bpe.Merge] = {
    var words: Seq[(Seq[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(String.valueOf).toSeq, f) }
    val out = scala.collection.mutable.ArrayBuffer.empty[Bpe.Merge]
    var done = false
    while (!done && out.length < numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (w, f) =>
        w.indices.dropRight(1).foreach { i =>
          counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), _) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += Bpe.Merge(l, r, l + r)
        words = words.map { case (w, f) =>
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < w.length) {
            if (j + 1 < w.length && w(j) == l && w(j + 1) == r) { b += l + r; j += 2 }
            else { b += w(j); j += 1 }
          }
          (b.toSeq, f)
        }
      }
    }
    out.toSeq
  }

  test("learn re-seeds a pair whose count drops in a word it leaves") {
    // (x,a)=9 merges first; "xab" loses (a,b), whose count falls 8 -> 3,
    // and (a,b) must still be learned at its live count after (xa,b)=5
    val wf = Seq(("xab", 5L), ("xa", 4L), ("ab", 3L))
    val expect = Seq(Bpe.Merge("x", "a", "xa"), Bpe.Merge("xa", "b", "xab"),
      Bpe.Merge("a", "b", "ab"))
    assert(naiveLearn(wf, 3) == expect)
    assert(Bpe.learn(wf, 3).merges == expect)
  }

  test("learn == naive argmax trainer on seeded random vocabularies") {
    val rng = new scala.util.Random(20261019L)
    (0 until 60).foreach { trial =>
      val wf = Seq.fill(2 + rng.nextInt(12)) {
        (Seq.fill(2 + rng.nextInt(7))("abcd"(rng.nextInt(4))).mkString,
          1L + rng.nextInt(9))
      }.groupBy(_._1).map { case (w, fs) => (w, fs.map(_._2).sum) }.toSeq.sorted
      val k = 1 + rng.nextInt(12)
      assert(Bpe.learn(wf, k).merges == naiveLearn(wf, k), s"trial $trial: $wf, $k merges")
    }
  }

  test("learn at 10k merges over synthetic vocab; indexed == rescan") {
    val vocab = Bpe.syntheticVocab(4000)
    assert(vocab == Bpe.syntheticVocab(4000)) // deterministic
    val t = Bpe.learn(vocab ++ Seq(("the", 50L), ("and", 30L)), 10000)
    assert(t.merges.size == 10000, s"only ${t.merges.size} merges learned")
    val rng = new scala.util.Random(7L)
    (0 until 30).foreach { _ =>
      val s = Seq.fill(1 + rng.nextInt(80))(
        ('a' + rng.nextInt(26)).toChar).mkString
      assert(t.countTokens(s) == t.countTokensReference(s), s"input '$s'")
    }
  }

  test("oracle equivalence: priority BPE == rank-ordered replace() replay") {
    // the exact transformation the DuckDB oracle runs: one global
    // non-overlapping replace per merge, in rank order; token count is
    // the final string length (single-char symbol names)
    def replay(s: String): String =
      t.merges.foldLeft(s)((acc, m) => acc.replace(m.left + m.right, m.out))
    val rng = new scala.util.Random(20260820L)
    val alphabet = "athenirdo "
    (0 until 2000).foreach { _ =>
      val s = Seq.fill(1 + rng.nextInt(40))(
        alphabet(rng.nextInt(alphabet.length))).mkString
      val viaBpe = t.encodeChars(s).mkString
      assert(viaBpe == replay(s), s"input '$s'")
      assert(t.countTokens(s) == replay(s).length.toLong, s"input '$s'")
    }
  }
}
