package graft.types

import org.apache.spark.sql.types._

/** The engine's type ADT, mirroring the reference's type inventory
  * (reference: src/arti/types/__init__.py — scalars :83-276, containers
  * :163-248) re-expressed for Spark. Nullability is a wrapper attribute as in
  * the reference (`Type.nullable`, types/__init__.py:26-41); on the Spark
  * side it lands on `StructField.nullable` / `ArrayType.containsNull`.
  */
sealed trait ArtiType {
  def nullable: Boolean
  def description: Option[String]
}

object ArtiType {
  final case class ABinary(byteSize: Option[Long] = None, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class ABoolean(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class ADate(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  /** tz-naive wall-clock time (ref DateTime "independent of timezone"). */
  final case class ADateTime(precision: TimePrecision = TimePrecision.Microsecond, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  /** UTC instant (ref Timestamp, types/__init__.py:255-260). */
  final case class ATimestamp(precision: TimePrecision = TimePrecision.Microsecond, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  /** time-of-day; Spark has no TIME type → LongType nanos-of-day + metadata. */
  final case class ATime(precision: TimePrecision = TimePrecision.Microsecond, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  /** Items validate against the underlying type at CONSTRUCTION (reference
    * types/__init__.py:109-123: empty item sets and type-mismatched items
    * are rejected when the Enum is declared, not when data flows). Integer
    * items accept the whole signed family (the codec round-trips them as
    * Long); float items must be Float/Double (ints are not floats, as in
    * the reference's lenient_issubclass check). */
  final case class AEnum(name: String, underlying: ArtiType, items: Seq[Any], nullable: Boolean = false, description: Option[String] = None) extends ArtiType {
    require(items.nonEmpty, s"enum '$name': items cannot be empty")
    private def compatible(i: Any): Boolean = underlying match {
      case _: AString => i.isInstanceOf[String]
      case _: AInt8 | _: AInt16 | _: AInt32 | _: AInt64 |
           _: AUInt8 | _: AUInt16 | _: AUInt32 | _: AUInt64 =>
        i.isInstanceOf[Byte] || i.isInstanceOf[Short] || i.isInstanceOf[Int] || i.isInstanceOf[Long]
      case _: AFloat16 | _: AFloat32 | _: AFloat64 => i.isInstanceOf[Float] || i.isInstanceOf[Double]
      case _: ABoolean => i.isInstanceOf[Boolean]
      case _ => true
    }
    locally {
      val bad = items.filterNot(compatible)
      require(bad.isEmpty, s"enum '$name': incompatible $underlying item(s): ${bad.mkString(", ")}")
    }
  }
  final case class AFloat16(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AFloat32(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AFloat64(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AInt8(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AInt16(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AInt32(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AInt64(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AUInt8(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AUInt16(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AUInt32(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AUInt64(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AGeography(format: String = "WKT", srid: Option[String] = None, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class ANull(description: Option[String] = None) extends ArtiType { def nullable = true }
  final case class AString(nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AList(element: ArtiType, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  /** Set = List + engine-enforced distinctness (ref types/__init__.py:233-236). */
  final case class ASet(element: ArtiType, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AMap(key: ArtiType, value: ArtiType, nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  final case class AStruct(name: String, fields: Seq[(String, ArtiType)], nullable: Boolean = false, description: Option[String] = None) extends ArtiType
  /** Table-shaped data: Struct element + partition/cluster metadata
    * (ref Collection, types/__init__.py:169-217). */
  final case class ACollection(
      name: String,
      element: AStruct,
      partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil,
      nullable: Boolean = false,
      description: Option[String] = None) extends ArtiType {
    private val fieldNames = element.fields.map(_._1).toSet
    require(partitionBy.forall(fieldNames), s"partition_by references unknown fields: ${partitionBy.filterNot(fieldNames)}")
    require(clusterBy.forall(fieldNames), s"cluster_by references unknown fields: ${clusterBy.filterNot(fieldNames)}")
    require(partitionBy.toSet.intersect(clusterBy.toSet).isEmpty,
      s"cluster_by overlaps partition_by: ${partitionBy.toSet.intersect(clusterBy.toSet)}")
    def isPartitioned: Boolean = partitionBy.nonEmpty
  }

  sealed abstract class TimePrecision(val name: String)
  object TimePrecision {
    case object Second extends TimePrecision("second")
    case object Millisecond extends TimePrecision("millisecond")
    case object Microsecond extends TimePrecision("microsecond")
    case object Nanosecond extends TimePrecision("nanosecond")
    val all: Seq[TimePrecision] = Seq(Second, Millisecond, Microsecond, Nanosecond)
    def of(name: String): TimePrecision = all.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"unknown precision $name"))
  }
}

/** The one adapter this engine needs (the analog of the reference's pyarrow
  * adapter, types/pyarrow.py): ArtiType ⇄ Spark `DataType`. Collection
  * partition/cluster metadata rides in `Metadata` the way the arrow adapter
  * uses schema metadata (types/pyarrow.py:260-270).
  */
object SparkTypeSystem {
  import scala.reflect.runtime.universe.{Type, TypeTag, typeTag}

  import ArtiType._

  val CollectionMetaKey = "graft.collection"

  def toSpark(t: ArtiType): DataType = t match {
    case _: ABinary     => BinaryType
    case _: ABoolean    => BooleanType
    case _: ADate       => DateType
    case _: ADateTime   => TimestampNTZType
    case _: ATimestamp  => TimestampType
    case _: ATime       => LongType // nanos-of-day
    case e: AEnum       => toSpark(e.underlying)
    case _: AFloat16    => FloatType // promoted; Spark has no half floats
    case _: AFloat32    => FloatType
    case _: AFloat64    => DoubleType
    case _: AInt8       => ByteType
    case _: AInt16      => ShortType
    case _: AInt32      => IntegerType
    case _: AInt64      => LongType
    case _: AUInt8      => ShortType   // next-wider signed
    case _: AUInt16     => IntegerType
    case _: AUInt32     => LongType
    case _: AUInt64     => DecimalType(20, 0) // only lossless container
    case g: AGeography  => if (g.format == "WKB") BinaryType else StringType
    case _: ANull       => NullType
    case _: AString     => StringType
    case l: AList       => ArrayType(toSpark(l.element), containsNull = l.element.nullable)
    case s: ASet        => ArrayType(toSpark(s.element), containsNull = s.element.nullable)
    case m: AMap        => MapType(toSpark(m.key), toSpark(m.value), valueContainsNull = m.value.nullable)
    case s: AStruct     => structType(s)
    case c: ACollection => structType(c.element)
  }

  /** Marker key for arti types that Spark's physical types can't represent
    * losslessly (Enum, Set, Time, Geography, unsigned ints): the semantic
    * identity rides in field metadata so `toArti` round-trips it — the same
    * trick the reference's arrow adapter uses for Collection metadata
    * (types/pyarrow.py:260-270). */
  val SemanticKey = "graft.semantic"

  private def escItem(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def semanticOf(t: ArtiType): Option[String] = t match {
    // items URL-encode so commas/brackets in values can't corrupt the
    // marker grammar, and each carries an 'i' prefix so the EMPTY string
    // is a representable item; numeric enum items round-trip as their
    // string forms coerced back by the underlying type
    case e: AEnum      => Some(s"enum:${e.name}:${e.items.map(i => "i" + escItem(String.valueOf(i))).mkString(",")}")
    // container markers recurse (set<...>/list<...>/map<k|v>) so semantics
    // survive nesting, e.g. a Set inside a List; URL-escaping of leaf
    // payloads keeps '<' '>' '|' unambiguous for the bracket grammar
    case s: ASet       => Some(semanticOf(s.element).fold("set")(inner => s"set<$inner>"))
    case l: AList      => semanticOf(l.element).map(inner => s"list<$inner>")
    // struct NAMES live only in the ArtiType (Spark's StructType is
    // anonymous), so they ride the marker too — composing through
    // containers, e.g. set<struct:point>
    case s: AStruct    => Some(s"struct:${escItem(s.name)}")
    case m: AMap       => (semanticOf(m.key), semanticOf(m.value)) match {
      case (None, None) => None
      case (k, v)       => Some(s"map<${k.getOrElse("")}|${v.getOrElse("")}>")
    }
    case t: ATime      => Some(s"time:${t.precision.name}")
    case g: AGeography => Some(s"geography:${g.format}")
    case _: AUInt8     => Some("uint8")
    case _: AUInt16    => Some("uint16")
    case _: AUInt32    => Some("uint32")
    case _: AUInt64    => Some("uint64")
    case _             => None
  }

  private def structType(s: AStruct): StructType =
    StructType(s.fields.map { case (n, ft) =>
      val meta = semanticOf(ft)
        .map(v => new MetadataBuilder().putString(SemanticKey, v).build())
        .getOrElse(Metadata.empty)
      StructField(n, toSpark(ft), nullable = ft.nullable, metadata = meta)
    })

  /** Schema for a Collection, with partition/cluster metadata attached. */
  def toSchema(c: ACollection): StructType = {
    val meta = new MetadataBuilder()
      .putString("name", c.name)
      .putStringArray("partition_by", c.partitionBy.toArray)
      .putStringArray("cluster_by", c.clusterBy.toArray)
      .build()
    StructType(c.element.fields.map { case (n, ft) =>
      val mb = new MetadataBuilder().putMetadata(CollectionMetaKey, meta)
      semanticOf(ft).foreach(v => mb.putString(SemanticKey, v))
      StructField(n, toSpark(ft), nullable = ft.nullable, metadata = mb.build())
    })
  }

  /** Persistable JSON form of an ArtiType (F37 model read-back —
    * reference: src/arti/backends/__init__.py:59-81 stores pydantic-encoded
    * models; here Spark's own DataType JSON is the carrier, with the
    * semantic/collection markers this adapter already defines, so decode is
    * just [[fieldToArti]]). Known-lossy corners are exactly the ones
    * toSpark/toArti already has (Float16 promotion, Binary byteSize, enum
    * item primitive types, sub-microsecond datetime precision);
    * descriptions are dropped (fingerprint-excluded documentation). */
  def typeToJson(t: ArtiType): String = {
    val field = t match {
      case c: ACollection =>
        val mb = new MetadataBuilder()
          .putString("kind", "collection").putString("name", c.name)
          .putString("struct_name", c.element.name)
        // empty arrays are omitted: Spark's Metadata JSON round-trips []
        // as long[], which would class-cast in getStringArray
        if (c.partitionBy.nonEmpty) mb.putStringArray("partition_by", c.partitionBy.toArray)
        if (c.clusterBy.nonEmpty) mb.putStringArray("cluster_by", c.clusterBy.toArray)
        StructField("t", structType(c.element), c.nullable, mb.build())
      case s: AStruct =>
        val meta = new MetadataBuilder()
          .putString("kind", "struct").putString("name", s.name).build()
        StructField("t", structType(s), s.nullable, meta)
      case other =>
        val mb = new MetadataBuilder().putString("kind", "scalar")
        semanticOf(other).foreach(v => mb.putString(SemanticKey, v))
        StructField("t", toSpark(other), other.nullable, mb.build())
    }
    StructType(Seq(field)).json
  }

  def typeFromJson(json: String): ArtiType = {
    val f = DataType.fromJson(json).asInstanceOf[StructType].fields.head
    def fieldsOf(st: StructType): Seq[(String, ArtiType)] =
      st.fields.toSeq.map(x => x.name -> fieldToArti(x))
    f.metadata.getString("kind") match {
      case "collection" =>
        def strArr(key: String): Seq[String] =
          if (f.metadata.contains(key)) f.metadata.getStringArray(key).toSeq else Nil
        ACollection(
          f.metadata.getString("name"),
          AStruct(f.metadata.getString("struct_name"), fieldsOf(f.dataType.asInstanceOf[StructType])),
          partitionBy = strArr("partition_by"),
          clusterBy = strArr("cluster_by"),
          nullable = f.nullable)
      case "struct" =>
        AStruct(f.metadata.getString("name"), fieldsOf(f.dataType.asInstanceOf[StructType]), f.nullable)
      case "scalar" => fieldToArti(f)
    }
  }

  /** Schema derivation from a case class (F32 — the analog of the
    * reference's python/pydantic adapters deriving Struct types from class
    * annotations, reference: src/arti/types/python.py:19-262 and
    * types/pydantic.py:12-51): Spark's product Encoder already maps a case
    * class to a StructType (Option[X] → nullable, nested Products →
    * structs, Seq/Map → containers), so inverting that through
    * [[fieldToArti]] yields the ArtiType declaration for free — no
    * hand-built AStruct per artifact. */
  def fromEncoder[T <: Product: TypeTag](name: String): AStruct = {
    val tpe = typeTag[T].tpe
    val cls = typeTag[T].mirror.runtimeClass(tpe)
    val fields = productFields.getOrElse(cls, Nil).collectFirst { case (t, fs) if t =:= tpe => fs }
      .getOrElse {
        val fs = org.apache.spark.sql.Encoders.product[T].schema.fields.toSeq.map(f => f.name -> fieldToArti(f))
        productFields.updateWith(cls)(cur => Some((tpe, fs) :: cur.getOrElse(Nil)))
        fs
      }
    AStruct(name, fields)
  }

  /** [[fromEncoder]]'s fields per case class, derived once: they are a pure
    * function of the type, and a warm `Encoders.product` derivation costs
    * about a millisecond. Keyed by runtime class, then matched by type
    * equivalence, so `Box[Int]` and `Box[String]` never share an entry. */
  private val productFields =
    scala.collection.concurrent.TrieMap.empty[Class[_], List[(Type, Seq[(String, ArtiType)])]]

  /** Table-shaped derivation: Collection of the case class's Struct. */
  def collectionOf[T <: Product: TypeTag](
      name: String,
      partitionBy: Seq[String] = Nil,
      clusterBy: Seq[String] = Nil): ACollection =
    ACollection(name, fromEncoder[T](name), partitionBy, clusterBy)

  def toArti(dt: DataType, nullable: Boolean = false): ArtiType = dt match {
    case BinaryType       => ABinary(nullable = nullable)
    case BooleanType      => ABoolean(nullable)
    case DateType         => ADate(nullable)
    case TimestampNTZType => ADateTime(nullable = nullable)
    case TimestampType    => ATimestamp(nullable = nullable)
    case ByteType         => AInt8(nullable)
    case ShortType        => AInt16(nullable)
    case IntegerType      => AInt32(nullable)
    case LongType         => AInt64(nullable)
    case FloatType        => AFloat32(nullable)
    case DoubleType       => AFloat64(nullable)
    case d: DecimalType if d.precision == 20 && d.scale == 0 => AUInt64(nullable)
    case NullType         => ANull()
    case StringType       => AString(nullable)
    case a: ArrayType     => AList(toArti(a.elementType, a.containsNull), nullable)
    case m: MapType       => AMap(toArti(m.keyType), toArti(m.valueType, m.valueContainsNull), nullable)
    case s: StructType    => AStruct("struct", s.fields.toSeq.map(f => f.name -> fieldToArti(f)), nullable)
    case other            => throw new IllegalArgumentException(s"unsupported Spark type: $other")
  }

  /** Field-level inversion honoring the semantic metadata marker. */
  def fieldToArti(f: StructField): ArtiType = {
    val base = toArti(f.dataType, f.nullable)
    if (!f.metadata.contains(SemanticKey)) base
    else applyMarker(base, f.metadata.getString(SemanticKey))
  }

  /** Split `inner` of a `map<k|v>` marker at the top-level '|' (leaf
    * payloads are URL-escaped, so brackets/pipes only occur structurally). */
  private def splitMapMarker(inner: String): (String, String) = {
    var depth = 0
    var i = 0
    while (i < inner.length && (inner.charAt(i) != '|' || depth != 0)) {
      if (inner.charAt(i) == '<') depth += 1
      if (inner.charAt(i) == '>') depth -= 1
      i += 1
    }
    (inner.substring(0, i), if (i < inner.length) inner.substring(i + 1) else "")
  }

  private def applyMarker(base: ArtiType, marker: String): ArtiType = {
    def inner(prefix: String): String = marker.substring(prefix.length, marker.length - 1)
    if (marker.isEmpty) base
    else if (marker.startsWith("list<") && marker.endsWith(">")) base match {
      case l: AList => l.copy(element = applyMarker(l.element, inner("list<")))
      case other    => other
    }
    else if (marker.startsWith("set<") && marker.endsWith(">")) base match {
      case l: AList => ASet(applyMarker(l.element, inner("set<")), l.nullable)
      case other    => other
    }
    else if (marker.startsWith("map<") && marker.endsWith(">")) base match {
      case m: AMap =>
        val (km, vm) = splitMapMarker(inner("map<"))
        AMap(applyMarker(m.key, km), applyMarker(m.value, vm), m.nullable)
      case other => other
    }
    else if (marker.startsWith("struct:")) base match {
      case st: AStruct => st.copy(name = java.net.URLDecoder.decode(marker.substring(7), "UTF-8"))
      case other       => other
    }
    else marker.split(":", 3) match {
      case Array("set") => base match {
        case l: AList => ASet(l.element, l.nullable)
        case other    => other
      }
      case Array("enum", name, items) =>
        // items decode back to the underlying type's runtime class so the
        // construction-time validation holds across a codec round-trip
        val coerce: String => Any = base match {
          case _: AInt8 | _: AInt16 | _: AInt32 | _: AInt64 |
               _: AUInt8 | _: AUInt16 | _: AUInt32 | _: AUInt64 => _.toLong
          case _: AFloat16 | _: AFloat32 | _: AFloat64 => _.toDouble
          case _: ABoolean => _.toBoolean
          case _ => identity[String]
        }
        AEnum(name, base,
          items.split(",").toSeq.filter(_.nonEmpty)
            .map(s => coerce(java.net.URLDecoder.decode(s.stripPrefix("i"), "UTF-8"))),
          base.nullable)
      case Array("time", precision) => ATime(TimePrecision.of(precision), base.nullable)
      case Array("geography", fmt)  => AGeography(fmt, nullable = base.nullable)
      case Array("uint8")  => AUInt8(base.nullable)
      case Array("uint16") => AUInt16(base.nullable)
      case Array("uint32") => AUInt32(base.nullable)
      case Array("uint64") => AUInt64(base.nullable)
      case _ => base
    }
  }
}
