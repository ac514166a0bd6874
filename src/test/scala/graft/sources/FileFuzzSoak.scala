package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Random-schema real-file roundtrip soak (a main object, like the other
  * *Probe tools — not part of `sbt test`; run on demand:
  * `sbt "Test/runMain graft.sources.FileFuzzSoak [cases]"`).
  *
  * Per seed: a random schema (primitives + binary + LIST/MAP/STRUCT
  * columns, random nullability), random rows (empty strings, empty/null
  * containers, null elements), written through [[ParquetFileWriter]] under
  * random (codec, pageVersion, encPolicy, rowGroupRows, bloomCols), read
  * back with [[ParquetFileReader.readFileRows]] and compared value by
  * value; flat schemas are also read with the typed
  * [[ParquetFileReader.readColumnVec]] and compared with the generated
  * rows. Then a corruption pass: random byte flips anywhere in the file
  * (footer included) must either fail with a clean exception or return —
  * never hang, never exit the JVM (the AFL-fuzz-target contract of the
  * reference, fuzz/src/main.rs, applied to whole files). */
object FileFuzzSoak {

  private val leafTypes: Vector[DataType] = Vector(IntegerType, LongType,
    FloatType, DoubleType, BooleanType, StringType, BinaryType)
  private val elemTypes: Vector[DataType] = leafTypes // ColBuilder.nestedLeaf set

  private def randType(rnd: scala.util.Random): DataType =
    rnd.nextInt(10) match {
      case 7 => ArrayType(elemTypes(rnd.nextInt(elemTypes.length)),
        containsNull = rnd.nextBoolean())
      case 8 => MapType(
        // map keys are non-null by construction
        if (rnd.nextBoolean()) StringType else LongType,
        elemTypes(rnd.nextInt(elemTypes.length)),
        valueContainsNull = rnd.nextBoolean())
      case 9 => StructType((0 until 1 + rnd.nextInt(3)).map(j =>
        StructField(s"f$j", elemTypes(rnd.nextInt(elemTypes.length)))))
      case _ => leafTypes(rnd.nextInt(leafTypes.length))
    }

  private def randLeaf(rnd: scala.util.Random, dt: DataType): Any = dt match {
    case IntegerType => rnd.nextInt()
    case LongType => rnd.nextLong()
    case FloatType => rnd.nextInt(1 << 12) * 0.25f // no NaN; exact equality
    case DoubleType => rnd.nextInt(1 << 16) * 0.125
    case BooleanType => rnd.nextBoolean()
    case StringType => // small alphabet stresses dict/FSST; includes empty
      val n = rnd.nextInt(24)
      val sb = new StringBuilder
      (0 until n).foreach(_ => sb.append(('a' + rnd.nextInt(6)).toChar))
      sb.toString
    case BinaryType =>
      val b = new Array[Byte](rnd.nextInt(16)); rnd.nextBytes(b); b
    case other => throw new IllegalStateException(other.toString)
  }

  private def randValue(rnd: scala.util.Random, f: StructField): Any = {
    if (f.nullable && rnd.nextInt(5) == 0) return null
    f.dataType match {
      case ArrayType(et, cn) =>
        (0 until rnd.nextInt(5)).map { _ =>
          if (cn && rnd.nextInt(6) == 0) null else randLeaf(rnd, et)
        }
      case MapType(kt, vt, vcn) =>
        // distinct keys so the order-insensitive compare is well-defined
        (0 until rnd.nextInt(4)).map { j =>
          val k = kt match {
            case StringType => s"k${j}_${rnd.nextInt(100)}"
            case _ => j.toLong * 1000 + rnd.nextInt(100)
          }
          k -> (if (vcn && rnd.nextInt(6) == 0) null else randLeaf(rnd, vt))
        }.toMap
      case st: StructType =>
        Row.fromSeq(st.fields.toSeq.map(sf =>
          if (rnd.nextInt(6) == 0) null else randLeaf(rnd, sf.dataType)))
      case dt => randLeaf(rnd, dt)
    }
  }

  /** Canonicalize one expected external value into the reader's record
    * representation for comparison. */
  private def canon(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toSeq
    case s: Seq[_] => s.map(canon).toVector
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => (canon(k), canon(x)) }
        .sortBy(_._1.toString).toVector
    case r: Row => r.toSeq.map(canon).toVector
    case x => x
  }

  private def canonGot(v: Any): Any = v match {
    case null => null
    case b: Array[Byte] => b.toSeq
    case s: Vector[_] if s.nonEmpty && s.head.isInstanceOf[(_, _)] =>
      // MAP entries: (key, value) vector, order-insensitive compare
      s.map { case (k, x) => (canonGot(k), canonGot(x)) }
        .sortBy(_._1.toString)
    case s: Vector[_] => s.map(canonGot)
    case x => x
  }

  def main(args: Array[String]): Unit = {
    val cases = if (args.nonEmpty) args(0).toInt else 300
    val tmp = java.nio.file.Files.createTempDirectory("pqfuzz").toString
    val codecs = Seq(PqCodec.Uncompressed, PqCodec.Snappy, PqCodec.Gzip,
      PqCodec.Zstd, PqCodec.Lz4Raw)
    var corrupted = 0
    var corruptedOk = 0
    (0 until cases).foreach { c =>
      val rnd = new scala.util.Random(9000L + c)
      val nCols = 1 + rnd.nextInt(6)
      val schema = StructType((0 until nCols).map { j =>
        StructField(s"c$j", randType(rnd), nullable = rnd.nextBoolean())
      })
      val nRows = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(3) // tiny: 0, 1, 2 rows
        case _ => 1 + rnd.nextInt(700)
      }
      val rows = (0 until nRows).map(_ =>
        Row.fromSeq(schema.fields.toSeq.map(f => randValue(rnd, f))))
      val path = s"$tmp/f$c.parquet"
      val codec = codecs(rnd.nextInt(codecs.length))
      val pv = 1 + rnd.nextInt(2)
      val pol = rnd.nextInt(3) // Plain / V2 / Auto ids are 0/1/2
      val bloomCols: Set[String] =
        if (rnd.nextInt(4) == 0)
          schema.fields.filter(f => leafTypes.contains(f.dataType))
            .take(1).map(_.name).toSet
        else Set.empty
      val n = ParquetFileWriter.writeFile(path, schema, rows.iterator,
        rowGroupRows = 1 + rnd.nextInt(300), codec = codec, pageVersion = pv,
        bloomCols = bloomCols, encPolicy = pol)
      require(n == nRows, s"case $c: wrote $n of $nRows")
      val (names, got) = ParquetFileReader.readFileRows(path)
      require(names == schema.fieldNames.toSeq, s"case $c: names $names")
      require(got.size == nRows, s"case $c: read ${got.size} of $nRows")
      (0 until nRows).foreach { i =>
        schema.fields.zipWithIndex.foreach { case (f, j) =>
          val exp = canon(rows(i).get(j))
          val act = f.dataType match {
            case st: StructType => got(i)(f.name) match {
              case null => null
              case g => st.fields.map(x => canonGot(
                g.asInstanceOf[ParquetFileReader.PqGroupVal](x.name))).toVector
            }
            case _ => canonGot(got(i)(f.name))
          }
          require(exp == act,
            s"case $c row $i col ${f.name} (${f.dataType}):\n  exp=$exp\n  got=$act")
        }
      }
      // flat schemas: the TYPED column decode (the DSv2 columnar scan's
      // kernel) must reproduce the generated rows value-for-value
      if (schema.fields.forall(f => leafTypes.contains(f.dataType))) {
        val bytes0 = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path))
        val meta = ParquetFileReader.readFooter(bytes0)
        var row0 = 0
        meta.rowGroups.indices.foreach { rg =>
          ParquetFileReader.flatColumns(meta, rg).zipWithIndex.foreach { case (col, j) =>
            val (vec, defs) = ParquetFileReader.readColumnVec(bytes0, col)
            val rowsHere = meta.rowGroups(rg).numRows.toInt
            var vi = -1
            (0 until rowsHere).foreach { i =>
              val t: Any =
                if (defs != null && defs(i) != col.maxDef) null
                else {
                  vi += 1
                  vec match {
                    case graft.core.BoolVec(vs) => vs(vi)
                    case graft.core.IntVec(vs) => vs(vi)
                    case graft.core.LongVec(vs) => vs(vi)
                    case graft.core.FloatVec(vs) => vs(vi)
                    case graft.core.DoubleVec(vs) => vs(vi)
                    case b: graft.core.BytesVec =>
                      if (schema(j).dataType == StringType)
                        new String(b.valueBytes(vi), "UTF-8")
                      else b.valueBytes(vi)
                  }
                }
              val exp = canon(rows(row0 + i).get(j))
              require(canonGot(t) == exp,
                s"case $c rg$rg ${col.name} row ${row0 + i}: typed ${canonGot(t)} != $exp")
            }
          }
          row0 += meta.rowGroups(rg).numRows.toInt
        }
        require(row0 == nRows, s"case $c: typed decode read $row0 of $nRows rows")
      }
      // corruption pass: random flips must fail cleanly or read something
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      if (bytes.length > 8) {
        val bad = bytes.clone()
        (0 until 1 + rnd.nextInt(8)).foreach { _ =>
          val p = rnd.nextInt(bad.length)
          bad(p) = (bad(p) ^ (1 + rnd.nextInt(255))).toByte
        }
        val badPath = s"$tmp/bad$c.parquet"
        java.nio.file.Files.write(java.nio.file.Paths.get(badPath), bad)
        corrupted += 1
        try { ParquetFileReader.readFileRows(badPath); () }
        catch {
          case _: OutOfMemoryError | _: StackOverflowError => throw
            new AssertionError(s"case $c: corruption caused a resource blowup")
          case _: Throwable => corruptedOk += 1
        }
        java.nio.file.Files.delete(java.nio.file.Paths.get(badPath))
      }
      java.nio.file.Files.delete(java.nio.file.Paths.get(path))
      if ((c + 1) % 50 == 0) println(s"  ${c + 1}/$cases ok")
    }
    println(s"$cases roundtrips value-exact; $corrupted corrupted files " +
      s"($corruptedOk raised cleanly, rest read past the flips)")
  }
}
