package graft.core

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Seeded randomized roundtrips per codec x type, mirroring the reference's
  * `EncodingTester` (/root/reference/src/encodings/encoding.rs:1199-1285):
  * 1024 values, encode -> decode -> equality, repeated after flush. */
class CodecRoundtripSpec extends AnyFunSuite {

  private def randBytes(r: Random, maxLen: Int): Array[Byte] = {
    val a = new Array[Byte](r.nextInt(maxLen + 1))
    r.nextBytes(a)
    a
  }

  private def assertVecEqual(a: ColVec, b: ColVec): Unit = (a, b) match {
    case (x: BytesVec, y: BytesVec) =>
      assert(x.length == y.length)
      (0 until x.length).foreach(i =>
        assert(java.util.Arrays.equals(x.valueBytes(i), y.valueBytes(i)), s"at $i"))
    case (BoolVec(x), BoolVec(y)) => assert(x.toSeq == y.toSeq)
    case (IntVec(x), IntVec(y)) => assert(x.toSeq == y.toSeq)
    case (LongVec(x), LongVec(y)) => assert(x.toSeq == y.toSeq)
    case (FloatVec(x), FloatVec(y)) => assert(x.toSeq == y.toSeq)
    case (DoubleVec(x), DoubleVec(y)) => assert(x.toSeq == y.toSeq)
    case other => fail(s"type mismatch $other")
  }

  private def vecs(seed: Long): Seq[(String, ColVec, Seq[Int])] = {
    val r = new Random(seed)
    Seq(
      ("bool", BoolVec(Array.fill(1024)(r.nextBoolean())),
        Seq(CodecId.Plain, CodecId.RleBool)),
      ("int32", IntVec(Array.fill(1024)(r.nextInt())),
        Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaBinaryPacked)),
      ("int32-lowcard", IntVec(Array.fill(1024)(r.nextInt(10))),
        Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaBinaryPacked)),
      ("int64", LongVec(Array.fill(1024)(r.nextLong())),
        Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaBinaryPacked)),
      ("int64-monotone", LongVec(Array.iterate(r.nextLong() % 1000000, 1024)(_ + r.nextInt(100))),
        Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaBinaryPacked)),
      ("float", FloatVec(Array.fill(1024)(r.nextFloat())), Seq(CodecId.Plain, CodecId.Dict)),
      ("double", DoubleVec(Array.fill(1024)(r.nextDouble())), Seq(CodecId.Plain, CodecId.Dict)),
      ("bytes", BytesVec.of(Array.fill(1024)(randBytes(r, 127))),
        Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaLengthByteArray,
          CodecId.DeltaByteArray, CodecId.Fsst)),
      ("bytes-lowcard", BytesVec.of {
        val pool = Array.fill(12)(randBytes(r, 40))
        Array.fill(1024)(pool(r.nextInt(pool.length)))
      }, Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaLengthByteArray,
          CodecId.DeltaByteArray, CodecId.Fsst)),
      ("bytes-sorted-prefixes", BytesVec.of(
        Array.tabulate(1024)(i => s"org/example/pkg${i / 64}/File${i}.scala".getBytes)),
        Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaLengthByteArray,
          CodecId.DeltaByteArray, CodecId.Fsst)),
    )
  }

  for ((name, vec, codecs) <- vecs(42L); codec <- codecs) {
    test(s"roundtrip $name via ${CodecId.names(codec)}") {
      val blob = ChunkCodec.encodeWith(vec, codec)
      assertVecEqual(vec, ChunkCodec.decode(blob))
      // reuse path: encode the same values again -> identical bytes
      val blob2 = ChunkCodec.encodeWith(vec, codec)
      assert(java.util.Arrays.equals(blob, blob2), "encoding must be deterministic")
    }
  }

  for ((name, vec, _) <- vecs(7L)) {
    test(s"encodeAuto roundtrips and never exceeds the reference policy: $name") {
      val chunk = ChunkCodec.encodeAuto(vec)
      assertVecEqual(vec, ChunkCodec.decode(chunk.blob))
      assert(chunk.encodedSize <= chunk.refPolicySize,
        s"${chunk.codecName}: ${chunk.encodedSize} > ref ${chunk.refPolicySize}")
    }
  }

  test("empty vectors roundtrip for every codec") {
    assertVecEqual(IntVec(Array.empty),
      ChunkCodec.decode(ChunkCodec.encodeWith(IntVec(Array.empty), CodecId.Dict)))
    assertVecEqual(BytesVec.empty,
      ChunkCodec.decode(ChunkCodec.encodeWith(BytesVec.empty, CodecId.Fsst)))
    assertVecEqual(BoolVec(Array.empty),
      ChunkCodec.decode(ChunkCodec.encodeWith(BoolVec(Array.empty), CodecId.RleBool)))
  }

  test("single-value and two-value chunks roundtrip") {
    for (codec <- Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaByteArray,
        CodecId.DeltaLengthByteArray, CodecId.Fsst)) {
      val one = BytesVec.of(Array("x".getBytes))
      assertVecEqual(one, ChunkCodec.decode(ChunkCodec.encodeWith(one, codec)))
    }
    for (codec <- Seq(CodecId.Plain, CodecId.Dict, CodecId.DeltaBinaryPacked)) {
      val one = LongVec(Array(Long.MinValue))
      assertVecEqual(one, ChunkCodec.decode(ChunkCodec.encodeWith(one, codec)))
    }
  }

  test("delta wrapping arithmetic at integer boundaries") {
    val extremes = LongVec(Array(Long.MaxValue, Long.MinValue, 0L, -1L, 1L,
      Long.MaxValue, Long.MinValue))
    assertVecEqual(extremes,
      ChunkCodec.decode(ChunkCodec.encodeWith(extremes, CodecId.DeltaBinaryPacked)))
    val iext = IntVec(Array(Int.MaxValue, Int.MinValue, 0, -1, 1, Int.MaxValue))
    assertVecEqual(iext,
      ChunkCodec.decode(ChunkCodec.encodeWith(iext, CodecId.DeltaBinaryPacked)))
  }

  test("dict falls back to PLAIN past the 1 MiB dictionary limit and still roundtrips") {
    // ~1.3 MiB of distinct 24-byte strings -> fallback triggers mid-chunk
    val r = new Random(11L)
    val vs = Array.fill(60000)(f"value-${r.nextLong()}%020d".getBytes)
    val vec = BytesVec.of(vs.map(identity))
    val blob = ChunkCodec.encodeWith(vec, CodecId.Dict)
    assertVecEqual(vec, ChunkCodec.decode(blob))
  }

  test("multi-page chunks (values > 1 MiB) roundtrip for paged codecs") {
    val r = new Random(13L)
    val vs = Array.fill(3000)(randBytes(r, 1200)) // ~1.8 MiB raw
    val vec = BytesVec.of(vs)
    for (codec <- Seq(CodecId.Plain, CodecId.DeltaLengthByteArray,
        CodecId.DeltaByteArray, CodecId.Fsst)) {
      assertVecEqual(vec, ChunkCodec.decode(ChunkCodec.encodeWith(vec, codec)))
    }
  }

  test("block codecs (snappy/zstd/lz4) wrap+unwrap composes with chunk codecs") {
    val r = new Random(19L)
    val vec = BytesVec.of(Array.fill(2000)(randBytes(r, 200)))
    val blob = ChunkCodec.encodeWith(vec, CodecId.DeltaLengthByteArray)
    for (bc <- Seq(BlockCodec.Snappy, BlockCodec.Zstd, BlockCodec.Lz4)) {
      val wrapped = BlockCodec.wrap(blob, bc)
      assert(java.util.Arrays.equals(BlockCodec.maybeUnwrap(wrapped), blob),
        BlockCodec.names(bc))
      assertVecEqual(vec, ChunkCodec.decode(BlockCodec.maybeUnwrap(wrapped)))
    }
    // pass-through: unwrapped blobs come back untouched
    assert(BlockCodec.maybeUnwrap(blob) eq blob)
    // compressible text shrinks under zstd
    val text = BytesVec.of(Array.fill(500)(
      "val result = compute(input); return result + 1\n".getBytes))
    val tBlob = ChunkCodec.encodeWith(text, CodecId.Plain)
    assert(BlockCodec.wrap(tBlob, BlockCodec.Zstd).length < tBlob.length / 2)
  }

  test("map chunk (version 4) roundtrips rep/def/keys/values exactly") {
    // rows: {a:1, b:null, c:3} | null | {} | {z:9}
    val rep = Array[Byte](0, 1, 1, 0, 0, 0)
    val defs = Array[Byte](3, 2, 3, 0, 1, 3)
    val keys = BytesVec.of(Array("a", "b", "c", "z").map(_.getBytes))
    val vals = LongVec(Array(1L, 3L, 9L))
    val chunk = ChunkCodec.encodeRepeatedChunk(Array(keys, vals), rep, defs,
      numRows = 4)
    assert(ChunkCodec.isRepeatedChunk(chunk.blob))
    assert(chunk.blob(2) == 4, "a two-leaf chunk is version 4, not the LIST version 3")
    assert(chunk.encodedSize <= chunk.refPolicySize)
    val dm = ChunkCodec.decodeRepeatedChunk(chunk.blob)
    assert(dm.numRows == 4)
    assert(dm.rep.toSeq == rep.toSeq && dm.defs.toSeq == defs.toSeq)
    val Array(dKeys, dVals) = dm.leaves
    assert(dKeys.asInstanceOf[BytesVec].length == 4)
    assert((0 until 4).map(i =>
      new String(dKeys.asInstanceOf[BytesVec].valueBytes(i))) ==
      Seq("a", "b", "c", "z"))
    assert(dVals.asInstanceOf[LongVec].values.toSeq == Seq(1L, 3L, 9L))
  }

  test("fsst compresses token-pool text well below plain") {
    val r = new Random(5L)
    val tokens = Array("def ", "val ", "class ", "object ", "import org.apache.spark.",
      "return ", "match ", "case ", "extends ", "override def ")
    val vs = Array.fill(512)(
      (0 until 60).map(_ => tokens(r.nextInt(tokens.length))).mkString.getBytes)
    val vec = BytesVec.of(vs)
    val fsst = ChunkCodec.encodeWith(vec, CodecId.Fsst)
    assert(fsst.length < vec.rawSize / 2, s"fsst ${fsst.length} vs raw ${vec.rawSize}")
    assertVecEqual(vec, ChunkCodec.decode(fsst))
  }
}
