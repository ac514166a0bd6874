package graft.core

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** The one-pass `GC` byte-chunk decode (pages read in place, every value
  * written once into one arena) against a copy of the two-pass decoder it
  * replaced: pages copied out, one vector per page, FSST sized in a first
  * pass and filled in a second, pages joined at the end. Seeded random
  * columns through every byte codec must decode identically through both,
  * and equal to the input. */
class ChunkDecodeEquivalenceSpec extends AnyFunSuite {

  private val ByteCodecs = Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaByteArray,
    CodecId.DeltaLengthByteArray, CodecId.Fsst)

  private def strings(v: ColVec): Seq[Seq[Byte]] = {
    val b = v.asInstanceOf[BytesVec]
    (0 until b.length).map(b.valueBytes(_).toSeq)
  }

  /** Random values: text-like words, some empty, and every 100th of high
    * bytes, most of which FSST's training windows never sample. */
  private def column(rnd: scala.util.Random, n: Int, avgLen: Int): BytesVec = {
    val words = Array.fill(40)(rnd.alphanumeric.take(1 + rnd.nextInt(9)).mkString)
    BytesVec.of(Array.tabulate(n) { i =>
      if (rnd.nextInt(10) == 0) Array.emptyByteArray
      else if (i % 100 == 50)
        Array.fill(1 + rnd.nextInt(2 * avgLen))((0x80 + rnd.nextInt(128)).toByte)
      else {
        val sb = new StringBuilder
        val len = 1 + rnd.nextInt(2 * avgLen)
        while (sb.length < len) sb.append(words(rnd.nextInt(words.length))).append(' ')
        sb.result().take(len).getBytes("UTF-8")
      }
    })
  }

  private def check(vec: BytesVec, defLevels: Array[Byte], what: String): Unit =
    ByteCodecs.foreach { codec =>
      checkBlob(vec, ChunkCodec.encodeWith(vec, codec, defLevels),
        s"$what, ${CodecId.names(codec)}")
    }

  private def checkBlob(vec: BytesVec, blob: Array[Byte], label: String): Unit = {
    val legacy = TwoPassChunkDecoder.decode(blob)
    assert(strings(legacy._1) == strings(vec), s"$label: two-pass copy")
    // no hint, the exact value bytes (the last value ends at the arena's
    // last byte), and a hint far too small (the arena grows)
    Seq(-1L, vec.totalBytes.toLong, 0L).foreach { hint =>
      val d = if (hint < 0) ChunkCodec.decodeWithLevels(blob)
              else ChunkCodec.decodeWithLevels(blob, hint)
      assert(strings(d.vec) == strings(legacy._1), s"$label, hint $hint")
      assert((d.defLevels == null) == (legacy._2 == null), label)
      if (d.defLevels != null) assert(d.defLevels.toSeq == legacy._2.toSeq, label)
    }
  }

  test("small columns decode alike, empty values included") {
    val rnd = new scala.util.Random(1009L)
    (0 until 12).foreach { t =>
      val vec = column(rnd, 1 + rnd.nextInt(300), 1 + rnd.nextInt(40))
      check(vec, null, s"trial $t")
    }
    check(BytesVec.of(Array.fill(5)(Array.emptyByteArray)), null, "all empty")
  }

  test("values of bytes the symbol table never saw decode as escapes") {
    val rnd = new scala.util.Random(1511L)
    val vec = BytesVec.of(Array.tabulate(200)(i =>
      if (i % 3 == 0) Array.fill(rnd.nextInt(30))((0x80 + rnd.nextInt(128)).toByte)
      else s"plain ascii value $i".getBytes("UTF-8")))
    val table = FsstCodec.train("plain ascii value 0123456789".getBytes("UTF-8"))
    val page = FsstCodec.encodeWithTable(vec, table)
    val w = new BitWriter(page.length + 32)
    w.putAligned('G'.toLong, 1); w.putAligned('C'.toLong, 1)
    w.putAligned(1L, 1); w.putAligned(PhysicalType.Bytes.toLong, 1)
    w.putAligned(CodecId.Fsst.toLong, 1)
    w.putVlq(200L)
    w.putAligned(0L, 1) // no dictionary
    w.putVlq(1L) // one page
    w.putAligned(CodecId.Fsst.toLong, 1)
    w.putVlq(200L); w.putVlq(page.length.toLong); w.putBytes(page)
    checkBlob(vec, w.result(), "escapes")
  }

  test("multi-page chunks over 1 MiB decode alike") {
    val rnd = new scala.util.Random(2017L)
    val vec = column(rnd, 3000, 700)
    // pages are cut at 1 MiB of raw bytes: this is at least two per codec
    assert(vec.rawSize > (3 << 19), vec.rawSize)
    check(vec, null, "multi-page")
  }

  test("v2 chunks with nulls decode alike") {
    val rnd = new scala.util.Random(3023L)
    (0 until 6).foreach { t =>
      val rows = 1 + rnd.nextInt(900)
      val defs = Array.fill[Byte](rows)(if (rnd.nextInt(4) == 0) 0 else 1)
      val vec = column(rnd, defs.count(_ == 1), 1 + rnd.nextInt(60))
      check(vec, defs, s"nullable trial $t")
    }
  }
}

/** The `GC` byte-chunk decoder as it was before the one-pass arena:
  * kept as the reference the one-pass decoder is checked against. */
object TwoPassChunkDecoder {
  private val Escape = 255

  /** (values, def levels) of a version-1 or -2 byte-array chunk. */
  def decode(blob: Array[Byte]): (BytesVec, Array[Byte]) = {
    val r = new BitReader(blob)
    require(r.getAligned(1) == 'G'.toLong && r.getAligned(1) == 'C'.toLong)
    val version = r.getAligned(1)
    require(r.getAligned(1).toInt == PhysicalType.Bytes)
    r.getAligned(1)
    val numRows = r.getVlq().toInt
    var defLevels: Array[Byte] = null
    if (version == 2L) {
      val levelBytes = r.getBytes(r.getVlq().toInt)
      val tmp = new Array[Long](numRows)
      new RleHybridDecoder(1, levelBytes, 0, levelBytes.length).getExactly(tmp, 0, numRows)
      defLevels = tmp.map(_.toByte)
    }
    val dict: BytesVec =
      if (r.getAligned(1) == 1L) {
        val entries = r.getVlq().toInt
        PlainCodec.decode(PhysicalType.Bytes, r.getBytes(r.getVlq().toInt), entries)
          .asInstanceOf[BytesVec]
      } else BytesVec.empty
    val numPages = r.getVlq().toInt
    val parts = ArrayBuffer.empty[BytesVec]
    (0 until numPages).foreach { _ =>
      val codec = r.getAligned(1).toInt
      val nv = r.getVlq().toInt
      val bytes = r.getBytes(r.getVlq().toInt)
      parts += (codec match {
        case CodecId.Plain => PlainCodec.decode(PhysicalType.Bytes, bytes, nv).asInstanceOf[BytesVec]
        case CodecId.Dict => dictPage(bytes, nv, dict)
        case CodecId.DeltaLengthByteArray => deltaLength(bytes, 0)._1
        case CodecId.DeltaByteArray => deltaByteArray(bytes)
        case CodecId.Fsst => fsst(bytes)
      })
    }
    (concat(parts.toSeq), defLevels)
  }

  private def dictPage(buf: Array[Byte], n: Int, dict: BytesVec): BytesVec = {
    val ids = new Array[Long](n)
    new RleHybridDecoder(buf(0) & 0xFF, buf, 1, buf.length).getExactly(ids, 0, n)
    BytesVec.of(ids.map(id => dict.valueBytes(id.toInt)))
  }

  private def deltaLength(buf: Array[Byte], off: Int): (BytesVec, Int) = {
    val (lens, dataStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, off, buf.length, int32 = true)
    val offsets = lens.scanLeft(0L)(_ + _).map(_.toInt)
    val data = java.util.Arrays.copyOfRange(buf, dataStart, dataStart + offsets.last)
    (BytesVec(data, offsets), dataStart + offsets.last)
  }

  private def deltaByteArray(buf: Array[Byte]): BytesVec = {
    val (prefix, suffixStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, 0, buf.length, int32 = true)
    val suffixes = deltaLength(buf, suffixStart)._1
    var prev = Array.emptyByteArray
    BytesVec.of(prefix.indices.map { i =>
      val v = prev.take(prefix(i).toInt) ++ suffixes.valueBytes(i)
      prev = v
      v
    })
  }

  /** FSST: pass 1 sizes every value, pass 2 fills the exact arena. */
  private def fsst(buf: Array[Byte]): BytesVec = {
    val r = new BitReader(buf)
    val symbols = Array.fill(r.getVlq().toInt)(r.getBytes((r.getAligned(1) & 0xFF).toInt))
    val nValues = r.getVlq().toInt
    val (lens, bodyStart) =
      DeltaBinaryPackedDecoder.decodeWithEnd(buf, r.position, buf.length, int32 = true)
    val offsets = new Array[Int](nValues + 1)
    var pos = bodyStart
    (0 until nValues).foreach { i =>
      var p = pos
      var size = 0
      while (p < pos + lens(i)) {
        val code = buf(p) & 0xFF
        if (code == Escape) { size += 1; p += 2 } else { size += symbols(code).length; p += 1 }
      }
      offsets(i + 1) = offsets(i) + size
      pos += lens(i).toInt
    }
    val data = new Array[Byte](offsets(nValues))
    pos = bodyStart
    (0 until nValues).foreach { i =>
      var p = pos
      var o = offsets(i)
      while (p < pos + lens(i)) {
        val code = buf(p) & 0xFF
        if (code == Escape) { data(o) = buf(p + 1); o += 1; p += 2 }
        else {
          System.arraycopy(symbols(code), 0, data, o, symbols(code).length)
          o += symbols(code).length
          p += 1
        }
      }
      pos += lens(i).toInt
    }
    BytesVec(data, offsets)
  }

  private def concat(parts: Seq[BytesVec]): BytesVec =
    BytesVec.of(parts.flatMap(v => (0 until v.length).map(v.valueBytes)))
}
