package graft.core

/** FSST-style string compression (extension codec required by the north
  * rule; not present in the reference — design follows the published FSST
  * idea: "FSST: Fast Random Access String Compression", Boncz, Neumann,
  * Leis, VLDB 2018).
  *
  * A per-chunk symbol table of up to 255 symbols (1..8 bytes each) is
  * trained on a sample; encoding greedily replaces the longest matching
  * symbol with its 1-byte code. Byte 255 is the escape code: it is followed
  * by one literal byte.
  *
  * Chunk stream layout (our own container — the reference pins no FSST
  * format):
  * {{{
  * vlq(numSymbols) { u8 len, bytes }*   -- the symbol table
  * vlq(numValues)
  * DELTA_BINARY_PACKED(compressedLengths)
  * concatenated compressed bytes
  * }}}
  */
object FsstCodec {
  private val Escape = 255
  private val MaxSymbols = 255
  private val MaxSymbolLen = 8

  private val HashBits = 12
  private val HashSize = 1 << HashBits // 4096 interleaved slots = 64 KiB/table

  final class SymbolTable(val symbols: Array[Array[Byte]]) {
    // O(1) match per position (the two-table idea of the FSST paper,
    // re-derived — no code consulted): a 64K "short" table resolves 1/2-byte
    // symbols by their 2-byte little-endian prefix in one load; symbols of
    // length >= 3 live in a hash table keyed on their 3-byte prefix, one
    // symbol per slot (collision losers simply never match — costs a little
    // ratio, never correctness, and keeps the probe to one masked 64-bit
    // compare)
    private[FsstCodec] val symWord: Array[Long] = symbols.map(wordOf)
    private[FsstCodec] val symLen: Array[Int] = symbols.map(_.length)
    // short(idx) = (len << 8) | code (16-bit char — the whole table is
    // 128 KB, half the int version, to stay L2-resident in the hot loop)
    // for the longest 1/2-byte symbol whose
    // prefix matches idx; 0 in the low 24 bits = no short match. Bit
    // `LongPrefixFlag` marks prefixes some PLACED length>=3 symbol starts
    // with: when it is clear the hash probes cannot hit, so the encode loop
    // resolves the position from this single load (the majority of
    // positions in escape-/short-match-heavy regions).
    private[FsstCodec] val short2: Array[Char] = new Array[Char](1 << 16)
    // 1-byte-only variant used when just one input byte remains
    private[FsstCodec] val short1: Array[Int] = new Array[Int](1 << 8)
    // two probe tables: hash4 keyed on the 4-byte prefix (symbols of length
    // >= 4, longest wins a slot), hash3 keyed on the 3-byte prefix (length-3
    // symbols, plus hash4 slot losers so they stay matchable). Each slot is
    // an interleaved [word, (len << 8) | code] Long pair so a probe touches
    // one cache line instead of two parallel arrays; packed 0 = empty (real
    // entries have len >= 3, so packed >= 0x300).
    private[FsstCodec] val hash3: Array[Long] = new Array[Long](HashSize * 2)
    private[FsstCodec] val hash4: Array[Long] = new Array[Long](HashSize * 2)

    locally {
      var c = 0
      while (c < symbols.length) { // pass 1: 1-byte symbols fill both tables
        if (symLen(c) == 1) {
          val b = symbols(c)(0) & 0xFF
          if (short1(b) == 0) {
            short1(b) = (1 << 8) | c
            var hi = 0
            while (hi < 256) {
              val idx = b | (hi << 8)
              if (short2(idx) == 0) short2(idx) = ((1 << 8) | c).toChar
              hi += 1
            }
          }
        }
        c += 1
      }
      c = 0
      while (c < symbols.length) { // pass 2: 2-byte symbols override (longer wins)
        if (symLen(c) == 2) {
          val idx = (symWord(c) & 0xFFFF).toInt
          if ((short2(idx) >>> 8) < 2) short2(idx) = ((2 << 8) | c).toChar
        }
        c += 1
      }
      // pass 3: length >= 3 symbols, longest first (so a slot loser can
      // always fall back to hash3 without ever being evicted later)
      val long3 = symbols.indices.filter(symLen(_) >= 3).sortBy(c => (-symLen(c), c))
      long3.foreach { c =>
        var placed = false
        if (symLen(c) >= 4) {
          val h = hashIdx4(symWord(c)) << 1
          if (hash4(h + 1) == 0) {
            hash4(h) = symWord(c)
            hash4(h + 1) = ((symLen(c) << 8) | c).toLong
            placed = true
          }
        }
        if (!placed) {
          val h = hashIdx(symWord(c)) << 1
          if (hash3(h + 1) == 0) {
            hash3(h) = symWord(c)
            hash3(h + 1) = ((symLen(c) << 8) | c).toLong
            placed = true
          }
        }
        // flag the 2-byte prefix only for symbols that actually hold a
        // slot — an unplaced symbol can never match, so flagging it would
        // only send its prefix down the probe path for nothing
        if (placed) {
          val idx = (symWord(c) & 0xFFFF).toInt
          short2(idx) = (short2(idx) | LongPrefixFlag).toChar
        }
      }
    }
  }

  // short2 bit marking "a placed length>=3 symbol starts with this 2-byte
  // prefix" — when clear, the encode loop skips both hash probes entirely.
  private final val LongPrefixFlag = 1 << 15

  @inline private def hashIdx(word: Long): Int =
    ((((word & 0xFFFFFFL) * 2654435761L) >>> (32 - HashBits)).toInt) & (HashSize - 1)

  @inline private def hashIdx4(word: Long): Int =
    ((((word & 0xFFFFFFFFL) * 2654435761L) >>> (32 - HashBits)).toInt) & (HashSize - 1)

  // lenMask(len) = low `len` bytes set; index by symbol length 0..8
  private val lenMask: Array[Long] =
    Array.tabulate(9)(l => if (l >= 8) -1L else (1L << (8 * l)) - 1)

  private val scratchBody: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](1 << 16))

  // reusable training gain counter (see train); null until first use so
  // threads that never train (pure decode) allocate nothing
  private val gainTL: ThreadLocal[GainCounter] = new ThreadLocal[GainCounter]()

  private val LongView = java.lang.invoke.MethodHandles.byteArrayViewVarHandle(
    classOf[Array[Long]], java.nio.ByteOrder.LITTLE_ENDIAN)

  /** Little-endian load of up to 8 bytes of `a` from [pos, end). */
  @inline private def loadWord(a: Array[Byte], pos: Int, end: Int): Long =
    if (pos + 8 <= end) (LongView.get(a, pos): Long)
    else {
      val n = end - pos
      var w = 0L
      var k = 0
      while (k < n) { w |= (a(pos + k) & 0xFFL) << (8 * k); k += 1 }
      w
    }

  @inline private def wordOf(s: Array[Byte]): Long = loadWord(s, 0, s.length)

  /** Train a symbol table on sample text via iterative pair merging: start
    * from frequent single bytes, repeatedly count adjacent (symbol, symbol)
    * concatenations under the current table and keep the highest-gain 255. */
  def train(sample: Array[Byte], iterations: Int = 4): SymbolTable = {
    if (sample.isEmpty) return new SymbolTable(Array.empty)
    // iteration 0: frequent single bytes
    val byteCount = new Array[Long](256)
    var i = 0
    while (i < sample.length) { byteCount(sample(i) & 0xFF) += 1; i += 1 }
    var table = new SymbolTable(
      (0 until 256).filter(byteCount(_) > 0)
        .sortBy(b => -byteCount(b))
        .take(MaxSymbols)
        .map(b => Array(b.toByte))
        .toArray)

    // encode the sample with the current table each iteration, counting
    // symbol usage and adjacent-pair concatenations. Candidates are <= 8
    // bytes, so the counter is an open-addressing (word, len) -> gain map
    // over primitive arrays, allocated once and cleared per iteration — the
    // boxed HashMap it replaces was the majority of training cost on small
    // chunks.
    // reuse one counter per thread: its backing arrays are ~8.5 MB for a
    // 64 KiB sample, and a fresh zeroed allocation per chunk cost more in
    // JVM page-zeroing than the hash work itself. The touched-slot clear
    // makes reuse O(occupied); the cap for any sample >= 64 KiB is the same,
    // so one max-size instance serves every chunk-sized call.
    val gain = {
      val cached = gainTL.get()
      if (cached != null && cached.cap >= GainCounter.capFor(sample.length))
        cached
      else {
        val fresh = new GainCounter(math.max(sample.length, 1 << 16))
        gainTL.set(fresh)
        fresh
      }
    }
    var it = 0
    while (it < iterations) {
      gain.clear()
      var pos = 0
      var prevStart = -1
      var prevLen = 0
      while (pos < sample.length) {
        val len = matchLen(table, sample, pos)
        val symLen = math.max(len, 1)
        // gain of keeping this symbol: bytes covered per 1 code byte
        gain.bump(loadWord(sample, pos, math.min(pos + symLen, sample.length)),
          symLen, symLen.toLong)
        // candidate: concat of previous symbol and this one (≤ 8 bytes)
        if (prevStart >= 0 && prevLen + symLen <= MaxSymbolLen) {
          val cLen = prevLen + symLen
          gain.bump(loadWord(sample, prevStart, math.min(prevStart + cLen, sample.length)),
            cLen, (cLen - 1).toLong)
        }
        prevStart = pos
        prevLen = symLen
        pos += symLen
      }
      table = new SymbolTable(gain.top(MaxSymbols))
      it += 1
    }
    table
  }

  /** Open-addressing (symbol word, symbol length) -> gain counter. */
  // private[core] so the test suite can pin the bounded top-k selection
  // against a brute-force full sort on random counters
  private[core] object GainCounter {
    /** <= 2 bumps per sample position; size to load factor <= 0.5.
      * Saturates at the 64 KiB training-sample cap, so one max-size
      * instance serves every chunk-sized call. */
    def capFor(sampleLen: Int): Int = java.lang.Integer.highestOneBit(
      math.max(1024, 4 * math.min(sampleLen, 1 << 16))) << 1
  }

  private[core] final class GainCounter(sampleLen: Int) {
    private[core] val cap = GainCounter.capFor(sampleLen)
    private val mask = cap - 1
    private val words = new Array[Long](cap)
    private val lens = new Array[Byte](cap) // 0 = empty slot
    private val gains = new Array[Long](cap)
    // dense list of occupied slot indices, appended on first insert: clear()
    // and top() then cost O(occupied), not O(cap) — the full-table scan per
    // training iteration (cap = 512K slots for a 64 KiB sample, typically
    // <20% occupied) was the largest non-match term of training cost. The
    // iteration order never affects results: `better` is a total order over
    // distinct (word, len) keys, so top-k is iteration-order-independent.
    private var touched = new Array[Int](math.max(256, cap >> 2))
    private var nTouched = 0

    /** Empty slots are lens == 0; words/gains may hold stale values from a
      * previous iteration, so a fresh insert assigns rather than adds. */
    def clear(): Unit = {
      if (nTouched < (cap >> 3)) {
        var i = 0
        while (i < nTouched) { lens(touched(i)) = 0; i += 1 }
      } else java.util.Arrays.fill(lens, 0.toByte)
      nTouched = 0
    }

    def bump(word: Long, len: Int, v: Long): Unit = {
      var h = (java.lang.Long.rotateLeft(word * -7046029254386353131L, 17).toInt ^ len) & mask
      while (lens(h) != 0 && (words(h) != word || lens(h) != len)) h = (h + 1) & mask
      if (lens(h) == 0) {
        words(h) = word
        lens(h) = len.toByte
        gains(h) = v
        if (nTouched == touched.length)
          touched = java.util.Arrays.copyOf(touched, touched.length << 1)
        touched(nTouched) = h
        nTouched += 1
      } else gains(h) += v
    }

    /** True iff entry 1 orders BEFORE entry 2: gain desc, then unsigned
      * lexicographic byte compare, equal prefix -> shorter first — the same
      * deterministic order as sorting ISO-8859-1 keyed strings. Total over
      * distinct (word, len) keys, so top-k selection is unambiguous. */
    private def better(g1: Long, w1: Long, l1: Int,
        g2: Long, w2: Long, l2: Int): Boolean = {
      if (g1 != g2) return g1 > g2
      val minLen = math.min(l1, l2)
      var b = 0
      while (b < minLen) {
        val c = (((w1 >>> (8 * b)) & 0xFF) - ((w2 >>> (8 * b)) & 0xFF)).toInt
        if (c != 0) return c < 0
        b += 1
      }
      l1 < l2
    }

    /** Top-k symbols by the `better` order. One pass with a bounded
      * worst-at-root heap (k = 255), then a sort of the survivors — same
      * result as sorting every entry, without the O(n log n) boxed sort
      * that dominated training cost on high-cardinality samples (a 64 KiB
      * commit-hash sample produces ~10^5 candidate entries per iteration
      * for 255 kept symbols). */
    def top(k: Int): Array[Array[Byte]] = {
      val hg = new Array[Long](k)
      val hw = new Array[Long](k)
      val hl = new Array[Int](k)
      var size = 0
      // heap order: parent is WORSE than children (root = worst kept)
      def siftUp(i0: Int): Unit = {
        var i = i0
        while (i > 0 && better(hg((i - 1) >> 1), hw((i - 1) >> 1), hl((i - 1) >> 1),
            hg(i), hw(i), hl(i))) {
          val p = (i - 1) >> 1
          val g = hg(i); val w = hw(i); val l = hl(i)
          hg(i) = hg(p); hw(i) = hw(p); hl(i) = hl(p)
          hg(p) = g; hw(p) = w; hl(p) = l
          i = p
        }
      }
      def siftDown(): Unit = {
        var i = 0
        var done = false
        while (!done) {
          var worst = i
          val l = 2 * i + 1
          val r = 2 * i + 2
          if (l < size && better(hg(worst), hw(worst), hl(worst), hg(l), hw(l), hl(l))) worst = l
          if (r < size && better(hg(worst), hw(worst), hl(worst), hg(r), hw(r), hl(r))) worst = r
          if (worst == i) done = true
          else {
            val g = hg(i); val w = hw(i); val ln = hl(i)
            hg(i) = hg(worst); hw(i) = hw(worst); hl(i) = hl(worst)
            hg(worst) = g; hw(worst) = w; hl(worst) = ln
            i = worst
          }
        }
      }
      var t = 0
      while (t < nTouched) {
        val i = touched(t)
        // occupied by construction: every touched index was inserted since
        // the last clear(), and clear() resets the list
        val g = gains(i); val w = words(i); val l = lens(i).toInt
        if (size < k) {
          hg(size) = g; hw(size) = w; hl(size) = l
          size += 1
          siftUp(size - 1)
        } else if (better(g, w, l, hg(0), hw(0), hl(0))) {
          hg(0) = g; hw(0) = w; hl(0) = l
          siftDown()
        }
        t += 1
      }
      // final order: best first (insertion sort — k <= 255 survivors)
      val idx = Array.range(0, size)
      var a = 1
      while (a < size) {
        val v = idx(a)
        var b = a - 1
        while (b >= 0 && better(hg(v), hw(v), hl(v), hg(idx(b)), hw(idx(b)), hl(idx(b)))) {
          idx(b + 1) = idx(b); b -= 1
        }
        idx(b + 1) = v
        a += 1
      }
      idx.map { j =>
        val bytes = new Array[Byte](hl(j))
        var b = 0
        while (b < hl(j)) { bytes(b) = ((hw(j) >>> (8 * b)) & 0xFF).toByte; b += 1 }
        bytes
      }
    }
  }

  @inline private def matchLen(t: SymbolTable, a: Array[Byte], pos: Int): Int = {
    val packed = matchPacked(t, a, pos, a.length)
    if (packed >= 0) packed >>> 8 else 0
  }

  /** Returns (len << 8) | code of the matched symbol at `pos`, or -1.
    * Same short-table fast path as the encode loop: a clear flag bit means
    * no length>=3 symbol can start here, so both hash probes are skipped —
    * this also makes TRAINING's first iteration (single-byte table, every
    * flag clear) a straight table walk. */
  @inline private def matchPacked(t: SymbolTable, a: Array[Byte], pos: Int,
      end: Int): Int = {
    val avail = end - pos
    val word = loadWord(a, pos, end)
    if (avail >= 2) {
      val sc = t.short2((word & 0xFFFF).toInt)
      if (sc < LongPrefixFlag) return if (sc != 0) sc else -1
      if (avail >= 4) {
        val h = hashIdx4(word) << 1
        val packed = t.hash4(h + 1).toInt
        if (packed != 0 && (packed >>> 8) <= avail &&
            (word & lenMask(packed >>> 8)) == t.hash4(h)) return packed
      }
      if (avail >= 3) {
        val h = hashIdx(word) << 1
        val packed = t.hash3(h + 1).toInt
        if (packed != 0 && (packed >>> 8) <= avail &&
            (word & lenMask(packed >>> 8)) == t.hash3(h)) return packed
      }
      val scm = sc & ~LongPrefixFlag
      if (scm != 0) scm else -1
    } else {
      val sc = t.short1((word & 0xFF).toInt)
      if (sc != 0) sc else -1
    }
  }

  /** Compressed size of one value under `t` (probe buffer supplied by the
    * caller; test/benchmark use). */
  private[core] def compressedSizeWith(t: SymbolTable, a: Array[Byte],
      from: Int, len: Int, probe: Array[Byte]): Int =
    compressInto(t, a, from, len, probe, 0)

  /** Compress a[from, from+len) into `out` starting at `outPos`; returns
    * new outPos. `out` must have >= 2*len headroom (worst case all
    * escapes). Symbol matches never cross the value's end boundary. */
  private def compressInto(t: SymbolTable, a: Array[Byte], from: Int, len: Int,
      out: Array[Byte], outPos0: Int): Int = {
    var outPos = outPos0
    var pos = from
    val end = from + len
    val fastEnd = end - 8 // full 8-byte word available; no avail checks needed
    val hash3 = t.hash3
    val hash4 = t.hash4
    val short2 = t.short2
    while (pos <= fastEnd) {
      val word: Long = LongView.get(a, pos)
      // one short2 load resolves the position outright unless its flag bit
      // says a length>=3 symbol could start here — only then pay the probes
      val sc = short2((word & 0xFFFF).toInt)
      if (sc < LongPrefixFlag) {
        if (sc != 0) {
          out(outPos) = (sc & 0xFF).toByte; outPos += 1
          pos += (sc >>> 8)
        } else {
          out(outPos) = Escape.toByte
          out(outPos + 1) = a(pos)
          outPos += 2
          pos += 1
        }
      } else {
        val h4 = hashIdx4(word) << 1
        val p4 = hash4(h4 + 1).toInt
        if (p4 != 0 && (word & lenMask(p4 >>> 8)) == hash4(h4)) {
          out(outPos) = (p4 & 0xFF).toByte; outPos += 1
          pos += (p4 >>> 8)
        } else {
          val h3 = hashIdx(word) << 1
          val p3 = hash3(h3 + 1).toInt
          if (p3 != 0 && (word & lenMask(p3 >>> 8)) == hash3(h3)) {
            out(outPos) = (p3 & 0xFF).toByte; outPos += 1
            pos += (p3 >>> 8)
          } else {
            val scm = sc & ~LongPrefixFlag
            if (scm != 0) {
              out(outPos) = (scm & 0xFF).toByte; outPos += 1
              pos += (scm >>> 8)
            } else {
              out(outPos) = Escape.toByte
              out(outPos + 1) = a(pos)
              outPos += 2
              pos += 1
            }
          }
        }
      }
    }
    while (pos < end) { // tail: within 8 bytes of the value end
      val packed = matchPacked(t, a, pos, end)
      if (packed >= 0) {
        out(outPos) = (packed & 0xFF).toByte; outPos += 1
        pos += (packed >>> 8)
      } else {
        out(outPos) = Escape.toByte
        out(outPos + 1) = a(pos)
        outPos += 2
        pos += 1
      }
    }
    outPos
  }

  // Adaptive sample: totalBytes/32 clamped to [16 KiB, 64 KiB]. A sweep on
  // 31 MB of sorted source text measured ratio 0.221/0.223/0.202/0.227 at
  // 16/32/64/128 KiB samples with no throughput difference — but training
  // cost is proportional to the sample, so small chunks (where it would
  // dominate) keep a small sample.
  def encode(vec: BytesVec, sampleBytes: Int = 0): Array[Byte] =
    encodeWithTable(vec, trainChunk(vec, sampleBytes))

  /** Train a symbol table for `vec` on a deterministic STRATIFIED sample:
    * 16 value-aligned windows evenly spaced through the chunk. The encode
    * pipeline sorts rows by (repo, path, commit), so an arena-prefix sample
    * sees one repo's style and the symbol table overfits — stratifying cut
    * the measured body ratio from 0.257 to 0.220 on sorted source text.
    * Callers with multiple pages per chunk train ONCE here and reuse the
    * table across pages (training is ~half the per-page FSST cost). */
  def trainChunk(vec: BytesVec, sampleBytes: Int = 0): SymbolTable = {
    val n = vec.length
    val effSampleBytes =
      if (sampleBytes > 0) sampleBytes
      else math.min(1 << 16, math.max(1 << 14, vec.totalBytes / 32))
    val arenaEnd = vec.offsets(n)
    val sample: Array[Byte] =
      if (vec.totalBytes <= effSampleBytes || n == 0)
        java.util.Arrays.copyOfRange(vec.data, vec.offsets(0), arenaEnd)
      else {
        val windows = 16
        val per = effSampleBytes / windows
        val out = new Array[Byte](effSampleBytes)
        var outPos = 0
        var wdx = 0
        while (wdx < windows) {
          val vi = (wdx.toLong * n / windows).toInt
          val off = vec.start(vi)
          val len = math.min(per, arenaEnd - off)
          System.arraycopy(vec.data, off, out, outPos, len)
          outPos += len
          wdx += 1
        }
        if (outPos == out.length) out else java.util.Arrays.copyOf(out, outPos)
      }
    train(sample)
  }

  /** Encode with an externally trained table (the stream still embeds the
    * table, so pages stay self-contained and decode is unchanged). */
  def encodeWithTable(vec: BytesVec, table: SymbolTable): Array[Byte] = {
    val n = vec.length
    // pre-size near the typical compressed size so the doubling growth path
    // never copies multi-MB buffers
    val w = new BitWriter(math.toIntExact(
      math.min(Int.MaxValue.toLong / 2, vec.totalBytes / 2 + 4096)))
    w.putVlq(table.symbols.length.toLong)
    var i = 0
    while (i < table.symbols.length) {
      w.putAligned(table.symbols(i).length.toLong, 1)
      w.putBytes(table.symbols(i))
      i += 1
    }
    w.putVlq(n.toLong)
    // single shared output buffer, worst case 2x raw (all escapes) — reused
    // across chunks per thread: a fresh 2x-raw array per chunk would cost
    // more memory-bus traffic in JVM zeroing than the compression itself
    val need = math.toIntExact(2L * vec.totalBytes + 8)
    // Retain scratch up to 2x the default 32 MiB chunk-raw cap: every
    // normally-cut chunk reuses the buffer (a fresh 64 MB alloc per chunk
    // saturates the memory bus with JVM zeroing — measured 5x encode
    // slowdown at local[32]). Only a freak single value that blows past the
    // chunk cap gets a one-off array the GC can reclaim, so a thread never
    // permanently pins more than ~64 MiB (round-2 advice).
    val RetainLimit = 2 * (32 << 20) + 8
    var body = scratchBody.get()
    if (body.length < need) {
      body = new Array[Byte](need)
      if (need <= RetainLimit) scratchBody.set(body)
    }
    val lens = new Array[Long](n)
    var bodyPos = 0
    i = 0
    while (i < n) {
      val next = compressInto(table, vec.data, vec.start(i), vec.len(i), body, bodyPos)
      lens(i) = (next - bodyPos).toLong
      bodyPos = next
      i += 1
    }
    val lenEnc = new DeltaBinaryPackedEncoder(int32 = true)
    lenEnc.put(lens)
    w.putBytes(lenEnc.result())
    w.putBytes(body, 0, bodyPos)
    w.result()
  }

  /** Every value of one FSST page (tests and tools). */
  def decode(buf: Array[Byte]): BytesVec = {
    val acc = new BytesAccum(buf.length, 16)
    decodeInto(buf, 0, buf.length, -1, acc)
    acc.toVec
  }

  /** Length-table entry of a code past the symbol table: it expands to
    * nothing and sets a bit the per-value check reports. */
  private final val PastTable = 1 << 8

  /** Append the `n` values of the FSST page `buf[off, end)` to `acc` (`n`
    * < 0: as many as the page holds). One pass: the length stream is
    * decoded once, and each value's codes expand straight into the arena,
    * whose room is checked once per value — each code stores one 8-byte
    * word, so a value of `len` code bytes writes at most `8 * len`. A
    * corrupt page fails with an `IllegalArgumentException` naming FSST. */
  def decodeInto(buf: Array[Byte], off: Int, end: Int, n: Int,
      acc: BytesAccum): Unit = {
    val r = new BitReader(buf, off, end)
    val nSyms = r.getVlq()
    require(nSyms <= MaxSymbols, s"FSST page claims $nSyms symbols, at most $MaxSymbols")
    // per code: its symbol as one little-endian word and its length
    // (escape, code 255, is never a symbol)
    val words = new Array[Long](256)
    val lens = Array.fill(256)(PastTable)
    var c = 0
    while (c < nSyms) {
      val len = (r.getAligned(1) & 0xFF).toInt
      require(len >= 1 && len <= MaxSymbolLen && len <= r.bytesLeft,
        s"FSST symbol $c has length $len, not 1..$MaxSymbolLen inside the page")
      words(c) = loadWord(buf, r.position, r.position + len)
      lens(c) = len
      r.skip(len)
      c += 1
    }
    val nValues = r.getVlq()
    require(n < 0 || nValues == n, s"FSST page holds $nValues values, its page header $n")
    val (valueLens, bodyStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, r.position, end, int32 = true)
    require(valueLens.length >= nValues,
      s"FSST length stream has ${valueLens.length} values, page holds $nValues")
    var pos = bodyStart
    var v = 0
    while (v < nValues) {
      val len = valueLens(v)
      require(len >= 0 && len <= end - pos,
        s"FSST value $v claims $len code bytes, ${end - pos} left in the page")
      val l = len.toInt
      if (8L * l <= acc.spare) {
        val o = acc.writePos
        acc.commit(expand(buf, pos, l, acc.buffer, o, words, lens, v) - o)
      } else { // the arena's tail: expand aside, then grow only by what it holds
        require(l <= (Int.MaxValue - 16) / 8, s"FSST value $v of $l code bytes")
        val tmp = new Array[Byte](8 * l)
        val got = expand(buf, pos, l, tmp, 0, words, lens, v)
        System.arraycopy(tmp, 0, acc.ensure(got), acc.writePos, got)
        acc.commit(got)
      }
      pos += l
      v += 1
    }
  }

  /** Expand the `len` code bytes of value `v` at `buf(from)` into `out`
    * from `o`, which has `8 * len` bytes of room; returns the end of the
    * expansion. The read position advances by one per code (two per
    * escape), never by a table entry, so the next code's load does not
    * wait on this one's. Checked once, after the loop: no code past the
    * symbol table was seen, and no escape was the value's last byte. */
  private def expand(buf: Array[Byte], from: Int, len: Int, out: Array[Byte],
      o0: Int, words: Array[Long], lens: Array[Int], v: Int): Int = {
    var o = o0
    var seen = 0
    var i = from
    val last = from + len - 1
    while (i < last) {
      val code = buf(i) & 0xFF
      if (code == Escape) {
        out(o) = buf(i + 1); o += 1; i += 2
      } else {
        LongView.set(out, o, words(code))
        val l = lens(code)
        o += l & 0xF
        seen |= l
        i += 1
      }
    }
    if (i == last) { // one code byte left: it cannot be an escape
      val code = buf(i) & 0xFF
      require(code != Escape, s"FSST value $v ends in an escape")
      LongView.set(out, o, words(code))
      val l = lens(code)
      o += l & 0xF
      seen |= l
    }
    require((seen & PastTable) == 0, s"FSST value $v holds a code past the symbol table")
    o
  }
}
