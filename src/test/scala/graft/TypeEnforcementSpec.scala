package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Harness
import graft.types.ArtiType._
import graft.types.TypeEnforcement

/** Engine-side Enum check constraints and Set distinctness (SURVEY §1.2),
  * plus the ready-made validateOutputs gate built from them. */
class TypeEnforcementSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session("type-enforcement-spec",
    Seq("spark.master=local[2]", "spark.sql.shuffle.partitions=2", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  private val struct = AStruct("doc", Seq(
    "status" -> AEnum("status", AString(), Seq("ok", "bad"), nullable = true),
    "tags"   -> ASet(AString(), nullable = true),
    "id"     -> AInt64()))

  test("enum violations are detected; valid values pass") {
    import spark.implicits._
    val df = Seq(("ok", Seq("a"), 1L), ("nope", Seq("b"), 2L), ("bad", Seq("c"), 3L))
      .toDF("status", "tags", "id")
    val bad = TypeEnforcement.violations(df, struct).collect()
    assert(bad.map(_.getLong(2)).toSeq === Seq(2L))
  }

  test("set distinctness: conform dedups, violations flag duplicates") {
    import spark.implicits._
    val df = Seq(("ok", Seq("a", "a", "b"), 1L)).toDF("status", "tags", "id")
    assert(TypeEnforcement.violations(df, struct).count() === 1)
    val fixed = TypeEnforcement.conform(df, struct)
    assert(TypeEnforcement.violations(fixed, struct).count() === 0)
    assert(fixed.select("tags").as[Seq[String]].head() === Seq("a", "b"))
  }

  test("non-nullable columns reject nulls") {
    import spark.implicits._
    val df = Seq((Some("ok"), Seq("a"), Some(1L)), (Some("ok"), Seq("b"), None))
      .toDF("status", "tags", "id")
    assert(TypeEnforcement.violations(df, struct).count() === 1)
  }

  test("gate composes into Producer.validateOutputs") {
    import spark.implicits._
    val good = Seq(("ok", Seq("a"), 1L)).toDF("status", "tags", "id")
    val bad = Seq(("wat", Seq("a"), 1L)).toDF("status", "tags", "id")
    assert(TypeEnforcement.gate(struct)(Seq(good)).isRight)
    assert(TypeEnforcement.gate(struct)(Seq(bad)).isLeft)
  }

  test("null in a NON-nullable enum/set column is a violation (no shadowing)") {
    import spark.implicits._
    val strict = AStruct("doc", Seq(
      "status" -> AEnum("status", AString(), Seq("ok", "bad"), nullable = false),
      "tags"   -> ASet(AString(), nullable = false)))
    val df = Seq((Option.empty[String], Option.empty[Seq[String]]), (Some("ok"), Some(Seq("a"))))
      .toDF("status", "tags")
    assert(TypeEnforcement.violations(df, strict).count() === 1)
  }
}
