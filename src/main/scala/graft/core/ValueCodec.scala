package graft.core

/** Parquet `Encoding` ids (parquet.thrift): the key space of [[ValueCodec]].
  * `graft.sources.PqEncoding` is the file format's name for them. */
trait ParquetEncodingIds {
  final val Plain = 0
  final val PlainDictionary = 2
  final val Rle = 3
  final val BitPacked = 4
  final val DeltaBinaryPacked = 5
  final val DeltaLengthByteArray = 6
  final val DeltaByteArray = 7
  final val RleDictionary = 8
  final val ByteStreamSplit = 9
}

/** The engine's only value-codec layer: one encode and one decode
  * dispatch over a page's value section, shared by both containers — the
  * `GC` chunk blob ([[ChunkCodec]]) and the Parquet file writer and reader
  * (`graft.sources`). The containers keep their own framing and their own
  * encoding selectors; the bytes of every value encoding are produced and
  * parsed here, the counterpart of parquet-rs's `encoding.rs` /
  * `decoding.rs`. Keyed by Parquet encoding ids; [[ofCodecId]] maps the
  * `GC` [[CodecId]]s onto them. FSST has no Parquet id: it decodes here
  * under the `GC`-only id [[Fsst]], and encodes in [[ChunkCodec]], which
  * trains one symbol table per chunk.
  *
  * Decode guards, for every caller: a page's values are read from
  * `buf[off, end)` and never past `end`, dictionary ids must lie inside the
  * dictionary, and a delta or byte-array stream must hold at least the
  * page's value count (extra stream values are trimmed). */
object ValueCodec extends ParquetEncodingIds {

  /** FSST pages of `GC` chunks: outside the Parquet id space. */
  final val Fsst = -1

  /** `GC` codec id → Parquet encoding id: the one table between the two id
    * spaces. A `GC` dictionary page is an RLE_DICTIONARY id stream. */
  def ofCodecId(codecId: Int): Int = codecId match {
    case CodecId.Plain => Plain
    case CodecId.Dict => RleDictionary
    case CodecId.RleBool => Rle
    case CodecId.DeltaBinaryPacked => DeltaBinaryPacked
    case CodecId.DeltaLengthByteArray => DeltaLengthByteArray
    case CodecId.DeltaByteArray => DeltaByteArray
    case CodecId.Fsst => Fsst
    case other => throw new IllegalArgumentException(s"unknown codec $other")
  }

  /** Encode non-null values as one self-contained value section (delta
    * and RLE streams restart at every call, so page slices encode
    * independently). Dictionary pages come from [[DictCodec.Encoder]]. */
  def encode(vec: ColVec, encoding: Int): Array[Byte] = encoding match {
    case Plain => PlainCodec.encode(vec)
    case Rle => vec match {
      case BoolVec(vs) => RleBoolCodec.encode(vs)
      case other => throw new IllegalArgumentException(
        s"RLE values over ${other.getClass.getSimpleName}")
    }
    case DeltaBinaryPacked =>
      val e = new DeltaBinaryPackedEncoder(int32 = vec.isInstanceOf[IntVec])
      vec match {
        case IntVec(vs) => e.putInts(vs, 0, vs.length)
        case LongVec(vs) => e.put(vs)
        case other => throw new IllegalArgumentException(
          s"DELTA_BINARY_PACKED over ${other.getClass.getSimpleName}")
      }
      e.result()
    case DeltaLengthByteArray => DeltaLengthByteArrayCodec.encode(bytesOf(vec))
    case DeltaByteArray => DeltaByteArrayCodec.encode(bytesOf(vec))
    case ByteStreamSplit => ByteStreamSplitCodec.encode(vec)
    case other => throw new IllegalArgumentException(
      s"value encoding $other not supported")
  }

  private def bytesOf(vec: ColVec): BytesVec = vec match {
    case v: BytesVec => v
    case other => throw new IllegalArgumentException(
      s"byte-array encoding over ${other.getClass.getSimpleName}")
  }

  /** Decode `n` values of `physicalType` from the page `buf[off, end)`.
    * `width` > 0 marks fixed-width byte values (Parquet INT96 and
    * FIXED_LEN_BYTE_ARRAY), which PLAIN-decode as a zero-copy view of
    * `buf`; `dict` is the decoded dictionary of a dictionary-encoded
    * page. Byte-array encodings decode through [[decodeBytesInto]]. */
  def decode(encoding: Int, physicalType: Int, width: Int, buf: Array[Byte],
      off: Int, end: Int, n: Int, dict: ColVec): ColVec = encoding match {
    case Plain =>
      if (width > 0) {
        require(width.toLong * n <= end - off,
          s"$n values of $width bytes need more than ${end - off} bytes")
        BytesVec(buf, Array.tabulate(n + 1)(i => off + i * width))
      } else PlainCodec.decodeSlice(physicalType, buf, off, end - off, n)
    case PlainDictionary | RleDictionary =>
      require(dict != null, "data page references a missing dictionary")
      if (n == 0) empty(physicalType)
      else ColVec.gather(dict, dictIds(buf, off, end, n, dict.length))
    case Rle =>
      require(physicalType == PhysicalType.Bool, "RLE data pages are boolean-only")
      BoolVec(RleBoolCodec.decode(buf, off, end, n))
    case DeltaBinaryPacked =>
      val int32 = physicalType == PhysicalType.Int32
      val vs = DeltaBinaryPackedDecoder.decodeWithEnd(buf, off, end, int32)._1
      require(vs.length >= n, s"delta stream has ${vs.length} values, page needs $n")
      if (int32) {
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = vs(i).toInt; i += 1 }
        IntVec(out)
      } else LongVec(if (vs.length == n) vs else java.util.Arrays.copyOf(vs, n))
    case ByteStreamSplit =>
      ByteStreamSplitCodec.decode(physicalType, buf, off, end, n)
    case other => throw new IllegalArgumentException(
      s"value encoding $other not supported")
  }

  /** [[decode]] of byte values appended to one arena shared across a
    * chunk's pages: every byte-array encoding writes each value straight
    * in, one copy per value; fixed-width values decode as a view of the
    * page and are appended. */
  def decodeBytesInto(encoding: Int, width: Int, buf: Array[Byte], off: Int,
      end: Int, n: Int, dict: ColVec, acc: BytesAccum): Unit = encoding match {
    case Plain if width == 0 =>
      PlainCodec.decodeBytesInto(buf, off, end - off, n, acc)
    case PlainDictionary | RleDictionary =>
      require(dict != null, "data page references a missing dictionary")
      if (n > 0)
        ColVec.gatherBytesInto(bytesOf(dict), dictIds(buf, off, end, n, dict.length), acc)
    case DeltaLengthByteArray => DeltaLengthByteArrayCodec.decodeInto(buf, off, end, n, acc)
    case DeltaByteArray => DeltaByteArrayCodec.decodeInto(buf, off, end, n, acc)
    case Fsst => FsstCodec.decodeInto(buf, off, end, n, acc)
    case _ => acc.append(bytesOf(
      decode(encoding, PhysicalType.Bytes, width, buf, off, end, n, dict)))
  }

  /** Dictionary ids of one page (bit-width byte + RLE/bit-packed hybrid),
    * each checked against the dictionary size. */
  private def dictIds(buf: Array[Byte], off: Int, end: Int, n: Int,
      dictLen: Int): Array[Int] = {
    require(off < end, "dictionary id page is empty")
    val dec = new RleHybridDecoder(buf(off) & 0xFF, buf, off + 1, end)
    val ids = new Array[Long](n)
    dec.getExactly(ids, 0, n)
    val idx = new Array[Int](n)
    var i = 0
    while (i < n) {
      val id = ids(i)
      require(id >= 0 && id < dictLen, s"dict id $id out of [0,$dictLen)")
      idx(i) = id.toInt
      i += 1
    }
    idx
  }

  /** A zero-length vector of `physicalType`. */
  def empty(physicalType: Int): ColVec = physicalType match {
    case PhysicalType.Bool => BoolVec(Array.emptyBooleanArray)
    case PhysicalType.Int32 => IntVec(Array.emptyIntArray)
    case PhysicalType.Int64 => LongVec(Array.emptyLongArray)
    case PhysicalType.Float => FloatVec(Array.emptyFloatArray)
    case PhysicalType.Double => DoubleVec(Array.emptyDoubleArray)
    case PhysicalType.Bytes => BytesVec.empty
    case other => throw new IllegalArgumentException(s"physical type $other")
  }
}
