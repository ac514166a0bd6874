package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.GraftColumnVector.{Group, Prim, Repeated, Shape}
import graft.sources.ParquetFileReader.{PqGroupVal, SchemaGroup, SchemaLeaf, SchemaNode}

/** The Spark face of a Parquet footer and its assembled values: the Spark
  * schema of a footer with each field's vector shape (what the DataSource
  * V2 reader, [[GraftParquetFormat]], reads `.parquet` files by), and the
  * external-row value of a value assembled by the library's row API.
  */
object ParquetSource {

  /** Spark schema of a parquet footer: flat, LIST (3-level and legacy
    * 2-level), MAP (and MAP_KEY_VALUE), STRUCT and bare repeated fields,
    * nested to any depth. */
  def sparkSchema(meta: PqFileMeta): StructType = StructType(fields(meta).map(_._1))

  /** Each top-level footer field as a Spark field and the shape
    * [[GraftColumnVector.build]] assembles its vector by, from one walk
    * over the footer schema, so a field's type and its vector cannot
    * disagree. A shape the walk cannot map fails with an
    * IllegalArgumentException naming the column. */
  def fields(meta: PqFileMeta): Seq[(StructField, Shape)] = {
    val (rootChildren, _) = ParquetFileReader.schemaTree(meta)
    rootChildren.map { n =>
      val s = shapeOf(n, 0, 0, n.elem.name)
      (StructField(n.elem.name, s.dt, nullable = n.elem.repetition != 0), s)
    }
  }

  /** The shape of `node` under parent def level `pdef` and rep level
    * `prep`; `path` names it in errors. */
  private def shapeOf(node: SchemaNode, pdef: Int, prep: Int, path: String): Shape = {
    val se = node.elem
    // a bare repeated field is a non-null list of itself
    if (se.repetition == 2) {
      val e = element(node, pdef + 1, prep + 1, path)
      return Repeated(ArrayType(e.dt), pdef, pdef + 1, prep + 1, Seq(e))
    }
    val d = pdef + (if (se.repetition == 1) 1 else 0)
    def fail(why: String) = throw new IllegalArgumentException(s"column $path: $why")
    def in(c: SchemaNode) = s"$path.${c.elem.name}"
    node match {
      case l: SchemaLeaf => Prim(leafType(l.elem, path), l.maxDef, l.leafIdx)
      case g: SchemaGroup if se.convertedType == PqConvertedType.List =>
        val e = g.children match {
          // 3-level: the repeated group's one field is the element, unless
          // the group is a legacy 2-level element ("array", "<name>_tuple")
          case Seq(rg: SchemaGroup) if rg.elem.repetition == 2 && rg.children.size == 1 &&
              rg.elem.name != "array" && !rg.elem.name.endsWith("_tuple") =>
            shapeOf(rg.children.head, d + 1, prep + 1, s"${in(rg)}.${rg.children.head.elem.name}")
          // legacy 2-level: the repeated field is the element
          case Seq(r) if r.elem.repetition == 2 => element(r, d + 1, prep + 1, in(r))
          case _ => fail("a LIST group must hold exactly one repeated field")
        }
        Repeated(ArrayType(e.dt), d, d + 1, prep + 1, Seq(e))
      case g: SchemaGroup if se.convertedType == PqConvertedType.Map ||
          se.convertedType == PqConvertedType.MapKeyValue => g.children match {
        case Seq(kv: SchemaGroup) if kv.elem.repetition == 2 && kv.children.size == 2 =>
          val Seq(k, v) = kv.children.map(c => shapeOf(c, d + 1, prep + 1, s"${in(kv)}.${c.elem.name}"))
          Repeated(MapType(k.dt, v.dt), d, d + 1, prep + 1, Seq(k, v))
        case _ => fail("a MAP group must hold one repeated key-value group")
      }
      case g: SchemaGroup => struct(g, d, prep, path)
    }
  }

  /** A repeated field as its own list's (required) element. */
  private def element(node: SchemaNode, d: Int, r: Int, path: String): Shape =
    node match {
      case l: SchemaLeaf => Prim(leafType(l.elem, path), l.maxDef, l.leafIdx)
      case g: SchemaGroup => struct(g, d, r, path)
    }

  private def struct(g: SchemaGroup, d: Int, r: Int, path: String): Shape = {
    val kids = g.children.map(c => shapeOf(c, d, r, s"$path.${c.elem.name}"))
    Group(StructType(g.children.zip(kids).map { case (c, k) =>
      StructField(c.elem.name, k.dt, nullable = c.elem.repetition != 0)
    }), d, kids)
  }

  private def leafType(se: PqSchemaElement, path: String): DataType = se.typ match {
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
    case other => throw new IllegalArgumentException(s"column $path: leaf type $other")
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
