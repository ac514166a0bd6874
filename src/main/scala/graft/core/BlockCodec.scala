package graft.core

import scala.util.control.NonFatal

/** Parquet `CompressionCodec` ids (parquet.thrift): the key space of
  * [[BlockCodec.compress]] and [[BlockCodec.decompress]].
  * `graft.sources.PqCodec` is the file format's name for them. */
trait ParquetCodecIds {
  final val Uncompressed = 0
  final val Snappy = 1
  final val Gzip = 2
  final val Brotli = 4
  final val Lz4 = 5 // legacy: LZ4 frame format (what the reference's lz4 crate speaks)
  final val Zstd = 6
  final val Lz4Raw = 7 // raw LZ4 block format
}

/** The engine's only block-compression layer — the counterpart of the
  * reference's `Codec` trait and factory
  * (`/root/reference/src/compression.rs:55-80`; SNAPPY `:83-116`, ZSTD level
  * 1 `:217-247`, LZ4 `:174-215`). Every compression-library call of both
  * containers is in this object: the Parquet writer and reader call
  * [[compress]] / [[decompress]] with Parquet codec ids, and the `GC` chunk
  * wrapper goes through the same two. Spark ships snappy-java, zstd-jni and
  * lz4-java, so no new dependencies.
  *
  * Decompression fails loudly: a block that does not hold exactly the
  * declared raw length (a stream codec: at least it), and any codec library
  * error, raise an `IllegalArgumentException` that names the codec.
  *
  * Wrapped `GC` blob layout: `'G' 'Z' u8(codecId) vlq(rawLen)
  * compressedBytes`, with the one-byte ids below. [[maybeUnwrap]]
  * transparently passes through unwrapped ('G' 'C') chunk blobs, so block
  * compression composes with every chunk codec.
  */
object BlockCodec {
  val None = 0
  val Snappy = 1
  val Zstd = 2
  val Lz4 = 3
  val Gzip = 4
  val Brotli = 5

  val names: Map[Int, String] = Map(
    None -> "NONE", Snappy -> "SNAPPY", Zstd -> "ZSTD", Lz4 -> "LZ4",
    Gzip -> "GZIP", Brotli -> "BROTLI")

  def byName(name: String): Int = name.toUpperCase match {
    case "NONE" | "" => None
    case "SNAPPY" => Snappy
    case "ZSTD" => Zstd
    case "LZ4" => Lz4
    case "GZIP" => Gzip
    case "BROTLI" => Brotli
    case other => throw new IllegalArgumentException(s"unknown block codec $other")
  }

  private object Pq extends ParquetCodecIds

  /** `GC` wrapper id → Parquet codec id: the one mapping between the
    * wrapper's on-disk byte and the codec key space (the wrapper's LZ4 is
    * the raw block format). */
  private def parquetIdOf(codecId: Int): Int = codecId match {
    case Snappy => Pq.Snappy
    case Zstd => Pq.Zstd
    case Lz4 => Pq.Lz4Raw
    case Gzip => Pq.Gzip
    case Brotli => Pq.Brotli
    case other => throw new IllegalArgumentException(s"unknown block codec $other")
  }

  private def nameOf(codec: Int): String = codec match {
    case Pq.Uncompressed => "UNCOMPRESSED"
    case Pq.Snappy => "SNAPPY"
    case Pq.Gzip => "GZIP"
    case Pq.Brotli => "BROTLI"
    case Pq.Lz4 => "LZ4"
    case Pq.Zstd => "ZSTD"
    case Pq.Lz4Raw => "LZ4_RAW"
    case other => s"codec $other"
  }

  /** Compress `raw` with Parquet codec `codec`; UNCOMPRESSED returns it
    * unchanged. The legacy LZ4 frame id is read-only (ecosystems disagree
    * on its framing), so writers use LZ4_RAW. */
  def compress(raw: Array[Byte], codec: Int): Array[Byte] = codec match {
    case Pq.Uncompressed => raw
    case Pq.Snappy => org.xerial.snappy.Snappy.compress(raw)
    case Pq.Zstd => com.github.luben.zstd.Zstd.compress(raw, 1) // level 1, compression.rs:228
    case Pq.Gzip =>
      // the JDK Deflater (zlib, gzip wrapper): the reference's GZipCodec
      // (its compression.rs:119-172)
      val bos = new java.io.ByteArrayOutputStream(math.max(64, raw.length / 2))
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      bos.toByteArray
    case Pq.Lz4Raw =>
      net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor().compress(raw)
    case Pq.Brotli => graft.core.Brotli.compress(raw)
    case other => throw new IllegalArgumentException(
      s"${nameOf(other)} has no writer")
  }

  /** Decompress `bytes[off, off + len)` with Parquet codec `codec` into
    * exactly `rawLen` bytes. UNCOMPRESSED copies the region as it is. */
  def decompress(bytes: Array[Byte], off: Int, len: Int, rawLen: Int,
      codec: Int): Array[Byte] = {
    require(rawLen >= 0, s"${nameOf(codec)} block declares $rawLen raw bytes")
    def exact(produced: Long): Unit = require(produced == rawLen,
      s"${nameOf(codec)} block holds $produced raw bytes, $rawLen declared")
    def readFully(in: java.io.InputStream): Array[Byte] = {
      val out = new Array[Byte](rawLen)
      var o = 0
      var k = 0
      try while (o < rawLen && k >= 0) {
        k = in.read(out, o, rawLen - o)
        if (k > 0) o += k
      } finally in.close()
      exact(o)
      out
    }
    try codec match {
      case Pq.Uncompressed => java.util.Arrays.copyOfRange(bytes, off, off + len)
      case Pq.Snappy =>
        exact(org.xerial.snappy.Snappy.uncompressedLength(bytes, off, len))
        val out = new Array[Byte](rawLen)
        exact(org.xerial.snappy.Snappy.uncompress(bytes, off, len, out, 0))
        out
      case Pq.Zstd =>
        val out = new Array[Byte](rawLen)
        val n = com.github.luben.zstd.Zstd.decompressByteArray(out, 0, rawLen,
          bytes, off, len)
        require(!com.github.luben.zstd.Zstd.isError(n),
          s"ZSTD block does not decompress: ${com.github.luben.zstd.Zstd.getErrorName(n)}")
        exact(n)
        out
      case Pq.Gzip => readFully(new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes, off, len)))
      case Pq.Lz4 => readFully(new net.jpountz.lz4.LZ4FrameInputStream(
        new java.io.ByteArrayInputStream(bytes, off, len)))
      case Pq.Lz4Raw =>
        val out = new Array[Byte](rawLen)
        exact(net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
          .decompress(bytes, off, len, out, 0))
        out
      case Pq.Brotli => graft.core.Brotli.decompress(bytes, off, len, rawLen)
      case other => throw new IllegalArgumentException(s"${nameOf(other)} not supported")
    } catch {
      case e: IllegalArgumentException => throw e
      case NonFatal(e) => throw new IllegalArgumentException(
        s"${nameOf(codec)} block does not decompress: $e", e)
    }
  }

  /** Compress an encoded chunk blob. codecId None returns it unchanged. */
  def wrap(blob: Array[Byte], codecId: Int): Array[Byte] = {
    if (codecId == None) return blob
    val compressed = compress(blob, parquetIdOf(codecId))
    val w = new BitWriter(compressed.length + 16)
    w.putAligned('G'.toLong, 1); w.putAligned('Z'.toLong, 1)
    w.putAligned(codecId.toLong, 1)
    w.putVlq(blob.length.toLong)
    w.putBytes(compressed)
    w.result()
  }

  /** If `blob` is block-compressed, decompress it; else return it as-is. */
  def maybeUnwrap(blob: Array[Byte]): Array[Byte] = {
    if (blob.length < 2 || blob(0) != 'G'.toByte || blob(1) != 'Z'.toByte) return blob
    val r = new BitReader(blob)
    r.getAligned(2)
    val codec = parquetIdOf(r.getAligned(1).toInt)
    val rawLen = r.getVlq()
    require(rawLen >= 0 && rawLen <= Int.MaxValue,
      s"GZ blob declares $rawLen raw bytes")
    val pos = r.position
    decompress(blob, pos, blob.length - pos, rawLen.toInt, codec)
  }
}
