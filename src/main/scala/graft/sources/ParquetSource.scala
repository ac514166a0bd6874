package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.ParquetFileReader.PqGroupVal

/** The Spark face of a Parquet footer and its assembled values, shared by
  * the DataSource V2 reader ([[GraftParquetFormat]], the one read path for
  * `.parquet` files): the Spark schema of a footer, and the external-row
  * value of an assembled Parquet value.
  */
object ParquetSource {

  /** Spark schema from a parquet footer (flat / LIST / MAP subset — the
    * shapes [[ParquetFileWriter]] emits, which is also the common shape of
    * externally-written files). */
  def sparkSchema(meta: PqFileMeta): StructType = {
    val (rootChildren, _) = ParquetFileReader.schemaTree(meta)
    StructType(rootChildren.map(n => StructField(n.elem.name, dataTypeOf(n),
      nullable = n.elem.repetition != 0)))
  }

  private def dataTypeOf(node: ParquetFileReader.SchemaNode): DataType =
    node match {
      case l: ParquetFileReader.SchemaLeaf => leafType(l.elem)
      case g: ParquetFileReader.SchemaGroup
          if g.elem.convertedType == PqConvertedType.List =>
        g.children.head match {
          case rg: ParquetFileReader.SchemaGroup if rg.children.size == 1 =>
            ArrayType(dataTypeOf(rg.children.head))
          case other => ArrayType(dataTypeOf(other))
        }
      case g: ParquetFileReader.SchemaGroup
          if g.elem.convertedType == PqConvertedType.Map ||
            g.elem.convertedType == PqConvertedType.MapKeyValue =>
        val kv = g.children.head.asInstanceOf[ParquetFileReader.SchemaGroup]
        MapType(dataTypeOf(kv.children(0)), dataTypeOf(kv.children(1)))
      case g: ParquetFileReader.SchemaGroup =>
        StructType(g.children.map(c => StructField(c.elem.name, dataTypeOf(c),
          nullable = c.elem.repetition != 0)))
    }

  private def leafType(se: PqSchemaElement): DataType = se.typ match {
    case PqType.Boolean => BooleanType
    case PqType.Int32 =>
      if (se.convertedType == PqConvertedType.Date) DateType
      else if (se.convertedType == PqConvertedType.Decimal)
        DecimalType(se.precision, se.scale)
      else IntegerType
    case PqType.Int64 =>
      if (se.convertedType == PqConvertedType.TimestampMicros) TimestampType
      else if (se.convertedType == PqConvertedType.Decimal)
        DecimalType(se.precision, se.scale)
      else LongType
    case PqType.Int96 => TimestampType
    case PqType.Float => FloatType
    case PqType.Double => DoubleType
    case PqType.ByteArray =>
      if (se.convertedType == PqConvertedType.Utf8 || se.convertedType == 4)
        StringType
      else if (se.convertedType == PqConvertedType.Decimal)
        DecimalType(se.precision, se.scale)
      else BinaryType
    case PqType.FixedLenByteArray =>
      if (se.convertedType == PqConvertedType.Decimal)
        DecimalType(se.precision, se.scale)
      else BinaryType
    case other => throw new IllegalArgumentException(s"leaf type $other")
  }

  /** Assembled parquet value -> Spark external-row value for `dt`. */
  def externalValue(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Int].toLong))
      case TimestampType =>
        val micros = v match {
          case b: Array[Byte] => ParquetFileReader.int96ToMicros(b)
          case l: Long => l
        }
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case d: DecimalType =>
        val unscaled = v match {
          case l: Long => java.math.BigInteger.valueOf(l)
          case i: Int => java.math.BigInteger.valueOf(i.toLong)
          case b: Array[Byte] => new java.math.BigInteger(b) // signed BE
        }
        new java.math.BigDecimal(unscaled, d.scale)
      case ArrayType(et, _) => v.asInstanceOf[Vector[Any]].map(externalValue(_, et))
      case MapType(kt, vt, _) =>
        v.asInstanceOf[Vector[(Any, Any)]]
          .map { case (k, vv) => externalValue(k, kt) -> externalValue(vv, vt) }.toMap
      case st: StructType =>
        val g = v.asInstanceOf[PqGroupVal]
        Row.fromSeq(st.fields.toSeq.map(f => externalValue(g(f.name), f.dataType)))
      case _ => v
    }
}
