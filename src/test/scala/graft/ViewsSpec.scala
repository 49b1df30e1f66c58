package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.graph.{Artifact, ArtiView, Graph, MemoryBackend, Producer, ViewRegistry}
import graft.io.Format
import graft.storage.{FileStorage, PathTemplate}
import graft.tools.Harness
import graft.types.ArtiType
import graft.types.ArtiType._

/** F33 — the view REGISTRY (reference src/arti/views/__init__.py:20-145):
  * priority-ordered resolution by target class + declared-type
  * compatibility, with the built-in DataFrame/rows/scalar views as plain
  * registrations and a USER view plugging in the same way. */
class ViewsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    spark = Harness.session("views-spec",
      Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))
    dir = Files.createTempDirectory("graft-views")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  final case class Pair(k: String, v: Double)

  /** one built graph: raw pairs -> summed scalar + passthrough table */
  private def buildGraph(tag: String): (graft.graph.GraphSnapshot, MemoryBackend) = {
    val base = s"$dir/$tag"
    val src = spark.createDataFrame(Seq(Pair("a", 1.5), Pair("b", 2.5), Pair("c", 38.0)))
    src.coalesce(1).write.parquet(s"$base/raw")
    val raw = Artifact(
      ACollection("pairs", AStruct("pair", Seq("k" -> AString(), "v" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/raw", Map.empty)))
    val total = Artifact(AFloat64(), Format.Parquet,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
    val copy = Artifact(
      ACollection("copy", AStruct("pair", Seq("k" -> AString(), "v" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/copy/{input_fingerprint}", Map.empty)))
    val p = Producer("sum_and_copy", build = (_, ins) => Seq(
      ins.head.agg(sum(col("v")).as("total")).coalesce(1),
      ins.head.coalesce(1)))
    val g = new Graph(s"views-$tag").add("raw", raw).add("total", total).add("copy", copy)
      .produce(p, Seq("raw"), Seq("total", "copy")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    (snap, backend)
  }

  test("built-in registrations serve scalar and rows views") {
    val (snap, backend) = buildGraph("builtins")
    // scalar view resolves java.lang.Double against AFloat64
    assert(snap.readScalar[Double](spark, backend, "total") === 42.0)
    // rows view: driver-side Seq[Row] via the registry
    val rows = snap.readView(spark, backend, "copy", classOf[Seq[Row]])
    assert(rows.map(_.getAs[Double]("v")).sum === 42.0)
    // a scalar request against a table-shaped artifact fails loudly
    assertThrows[IllegalArgumentException] {
      snap.readScalar[Double](spark, backend, "copy")
    }
    // a table request against a scalar-typed artifact finds no view either
    assertThrows[IllegalArgumentException] {
      snap.readView(spark, backend, "total", classOf[Seq[Row]])
    }
  }

  test("a USER-registered view resolves through the registry (F33 seam)") {
    // the user's in-memory representation: a tiny summary object
    case class KeySummary(n: Long, keys: Seq[String])
    ViewRegistry.register(new ArtiView[KeySummary] {
      val target: Class[_] = classOf[KeySummary]
      def compatible(atype: ArtiType): Boolean = atype match {
        case c: ACollection => c.element.fields.exists(_._1 == "k")
        case _ => false
      }
      def materialize(spark: SparkSession, df: DataFrame, atype: ArtiType): KeySummary = {
        val r = df.agg(count(lit(1)), sort_array(collect_list(col("k")))).head()
        KeySummary(r.getLong(0), r.getSeq[String](1))
      }
    })
    val (snap, backend) = buildGraph("user")
    val s = snap.readView(spark, backend, "copy", classOf[KeySummary])
    assert(s === KeySummary(3L, Seq("a", "b", "c")))
    // but it does NOT hijack artifacts its compatibility check rejects
    assertThrows[IllegalArgumentException] {
      snap.readView(spark, backend, "total", classOf[KeySummary])
    }
  }

  test("rehydrated snapshots resolve views from the registry too") {
    val (snap, backend) = buildGraph("rehydrated")
    snap.tag(backend, "t1")
    val re = graft.graph.RehydratedSnapshot.fromTag(backend, "views-rehydrated", "t1")
    assert(re.readScalar[Double](spark, backend, "total") === 42.0)
    assert(re.readView(spark, backend, "copy", classOf[Seq[Row]]).size === 3)
  }

  test("priority decides among competing views for one target (higher wins)") {
    abstract class Tagged(val tag: String) // distinct target class per test run
    class TagView(t: String, override val priority: Int) extends ArtiView[Tagged] {
      val target: Class[_] = classOf[Tagged]
      def compatible(atype: ArtiType): Boolean = atype.isInstanceOf[ACollection]
      def materialize(spark: SparkSession, df: DataFrame, atype: ArtiType): Tagged =
        new Tagged(t) {}
    }
    ViewRegistry.register(new TagView("low", 0))
    ViewRegistry.register(new TagView("high", 5))
    ViewRegistry.register(new TagView("mid", 2))
    val (snap, backend) = buildGraph("prio")
    assert(snap.readView(spark, backend, "copy", classOf[Tagged]).tag === "high")
  }
}
