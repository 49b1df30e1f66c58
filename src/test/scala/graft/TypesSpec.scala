package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.types.ArtiType._
import graft.types.{ArtiType, SparkTypeSystem => S}

/** Type-system adapter round trips, modeled on the reference's adapter tests
  * (reference: tests/arti/types/test_pyarrow_adapters.py et al). */
class TypesSpec extends AnyFunSuite {

  val scalars: Seq[(ArtiType, DataType)] = Seq(
    ABinary() -> BinaryType,
    ABoolean() -> BooleanType,
    ADate() -> DateType,
    ADateTime() -> TimestampNTZType,
    ATimestamp() -> TimestampType,
    AFloat32() -> FloatType,
    AFloat64() -> DoubleType,
    AInt8() -> ByteType,
    AInt16() -> ShortType,
    AInt32() -> IntegerType,
    AInt64() -> LongType,
    AUInt64() -> DecimalType(20, 0),
    AString() -> StringType)

  test("scalar mapping") {
    for ((arti, spark) <- scalars) assert(S.toSpark(arti) === spark, s"$arti")
  }

  test("round trip: arti -> spark -> arti is identity for canonical scalars") {
    for ((arti, _) <- scalars if !arti.isInstanceOf[ABinary]) // Binary roundtrips w/o byteSize
      assert(S.toArti(S.toSpark(arti)) === arti)
  }

  test("unsigned promotion") {
    assert(S.toSpark(AUInt8()) === ShortType)
    assert(S.toSpark(AUInt16()) === IntegerType)
    assert(S.toSpark(AUInt32()) === LongType)
  }

  test("containers") {
    assert(S.toSpark(AList(AInt64())) === ArrayType(LongType, containsNull = false))
    assert(S.toSpark(AList(AString(nullable = true))) === ArrayType(StringType, containsNull = true))
    assert(S.toSpark(AMap(AString(), AFloat64())) === MapType(StringType, DoubleType, valueContainsNull = false))
    val st = AStruct("s", Seq("a" -> AInt32(), "b" -> AString(nullable = true)))
    assert(S.toSpark(st) === StructType(Seq(
      StructField("a", IntegerType, nullable = false),
      StructField("b", StringType, nullable = true))))
  }

  test("collection validators reject unknown and overlapping fields") {
    val el = AStruct("row", Seq("id" -> AInt64(), "date" -> ADate()))
    assertThrows[IllegalArgumentException] {
      ACollection("c", el, partitionBy = Seq("nope"))
    }
    assertThrows[IllegalArgumentException] {
      ACollection("c", el, partitionBy = Seq("date"), clusterBy = Seq("date"))
    }
    val ok = ACollection("c", el, partitionBy = Seq("date"), clusterBy = Seq("id"))
    assert(ok.isPartitioned)
  }

  test("collection schema carries partition metadata") {
    val c = ACollection("t", AStruct("row", Seq("id" -> AInt64(), "date" -> ADate())), partitionBy = Seq("date"))
    val schema = S.toSchema(c)
    val meta = schema("id").metadata.getMetadata(S.CollectionMetaKey)
    assert(meta.getStringArray("partition_by").toSeq === Seq("date"))
  }

  test("type JSON codec round-trips (F37 model persistence)") {
    val candidates: Seq[ArtiType] = Seq(
      AFloat64(),
      AString(nullable = true),
      AUInt32(),
      ATime(TimePrecision.Millisecond),
      AGeography("WKB"),
      AEnum("color", AString(), Seq("red", "green,blue")),
      AList(ASet(AInt64())),
      AMap(AString(), ASet(AUInt16()), nullable = true),
      AMap(ATime(TimePrecision.Second), AList(AEnum("e", AString(), Seq("a|b", "c<d>")))),
      AStruct("row", Seq("id" -> AInt64(), "tags" -> ASet(AString(), nullable = true))),
      ACollection("t", AStruct("row", Seq("id" -> AInt64(), "d" -> ADate())), partitionBy = Seq("d"), clusterBy = Seq("id")),
      ACollection("plain", AStruct("row", Seq("id" -> AInt64())))) // no partitioning
    for (t <- candidates)
      assert(S.typeFromJson(S.typeToJson(t)) === t, s"round-trip failed for $t")
  }

  test("schema derivation from a case class (F32: fromEncoder/collectionOf)") {
    val derived = S.fromEncoder[TypesSpec.EventRow]("event")
    assert(derived === AStruct("event", Seq(
      "id" -> AInt64(),
      // object-typed fields are nullable under the product encoder —
      // exactly the reference's Optional/annotation semantics
      "name" -> AString(nullable = true),
      "score" -> AFloat64(),
      "when" -> ADateTime(nullable = true),
      "day" -> ADate(nullable = true),
      "note" -> AString(nullable = true), // Option[String]
      "tags" -> AList(AString(nullable = true), nullable = true),
      "attrs" -> AMap(AString(), AInt64(), nullable = true), // map keys are never null
      "inner" -> AStruct("struct", Seq("a" -> AInt32(), "b" -> AString(nullable = true)), nullable = true))))
    // derived Struct → Spark schema must round-trip to the encoder's schema
    // (modulo field metadata: ours carries semantic markers, theirs none)
    val enc = org.apache.spark.sql.Encoders.product[TypesSpec.EventRow].schema
    def strip(st: StructType): StructType = StructType(st.fields.map(_.copy(metadata = Metadata.empty)))
    assert(strip(S.toSpark(derived).asInstanceOf[StructType]) === strip(enc))
    // and Collection derivation keeps the validators
    val c = S.collectionOf[TypesSpec.EventRow]("events", partitionBy = Seq("day"))
    assert(c.isPartitioned && c.element === derived.copy(name = "events"))
    assertThrows[IllegalArgumentException] {
      S.collectionOf[TypesSpec.EventRow]("events", partitionBy = Seq("nope"))
    }
  }

  test("fromEncoder derives a case class once, and two types never share a derivation") {
    import TypesSpec.{Box, V1, V2}
    val ints = S.fromEncoder[Box[Int]]("a")
    val strings = S.fromEncoder[Box[String]]("b")
    assert(ints.fields === Seq("v" -> AInt32()))
    assert(strings.fields === Seq("v" -> AString(nullable = true)))
    assert(S.fromEncoder[V1.Row]("r").fields === Seq("id" -> AInt64(), "v" -> AInt32()))
    assert(S.fromEncoder[V2.Row]("r").fields === Seq("id" -> AInt64(), "v" -> AString(nullable = true)))
    // a repeated derivation reuses the first one's fields, under any name
    val again = S.fromEncoder[Box[Int]]("c")
    assert(again.name === "c" && (again.fields eq ints.fields))
  }
}

object TypesSpec {
  final case class Box[T](v: T)
  object V1 { final case class Row(id: Long, v: Int) }
  object V2 { final case class Row(id: Long, v: String) }
  final case class InnerRow(a: Int, b: String)
  final case class EventRow(id: Long, name: String, score: Double,
      when: java.time.LocalDateTime, day: java.time.LocalDate, note: Option[String],
      tags: Seq[String], attrs: Map[String, Long], inner: InnerRow)
}
