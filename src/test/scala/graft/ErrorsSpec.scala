package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.graph.{Artifact, Graph, MemoryBackend, Producer}
import graft.io.{Format, IO}
import graft.storage.{FileStorage, LiteralStorage, PathTemplate}
import graft.tools.Harness
import graft.types.ArtiType._

/** Error paths, in the spirit of the reference's error-heavy test suite
  * (tests/arti/producers/test_producer.py asserts exact failure modes for
  * invalid wiring): every misuse fails loudly at the earliest possible
  * stage, not at runtime in a cluster. */
class ErrorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session("errors-spec",
    Seq("spark.master=local[2]", "spark.sql.shuffle.partitions=2", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  private def someArtifact(dir: String) = Artifact(AFloat64(), Format.Json,
    FileStorage(PathTemplate(s"$dir/a/{input_fingerprint}", Map.empty)))

  test("unpartitionable partition field types are rejected") {
    val badType = ACollection("c",
      AStruct("r", Seq("s" -> AString(), "v" -> AFloat64())), partitionBy = Seq("s"))
    val a = Artifact(badType, Format.Parquet,
      FileStorage(PathTemplate("/x/{s}", Map("s" -> "string"))))
    // String is not a partition-field kind (only Date/Int*/Null)
    assertThrows[IllegalArgumentException] { a.partitionFieldKinds }
  }

  test("snapshot of a raw artifact with no data fails (reference :345-347)") {
    val dir = Files.createTempDirectory("graft-err").toString
    val g = new Graph("empty").add("a", someArtifact(dir)).close()
    val ex = intercept[IllegalStateException] { g.snapshot(spark, new MemoryBackend) }
    assert(ex.getMessage.contains("has no data"))
  }

  test("producer output arity mismatch fails the build") {
    val dir = Files.createTempDirectory("graft-err2").toString
    val lit = Artifact.literal(AInt64(), """{"n": 1}""")
    val out = someArtifact(dir)
    val wrongArity = Producer("two_for_one", build = (_, ins) => Seq(ins.head, ins.head))
    val g = new Graph("arity").add("n", lit).add("out", out)
      .produce(wrongArity, Seq("n"), Seq("out")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    val ex = intercept[IllegalArgumentException] { new LocalExecutor(backend).build(spark, snap) }
    assert(ex.getMessage.contains("returned 2 outputs for 1 declared"))
  }

  test("live Graph.read serves raw artifacts, refuses produced ones") {
    val dir = Files.createTempDirectory("graft-err3").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/raw"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/raw/data.json"), """{"v": 7}""")
    val raw = Artifact(ACollection("r", AStruct("x", Seq("v" -> AInt64()))),
      Format.Json, FileStorage(PathTemplate(s"$dir/raw/data.json", Map.empty)))
    val out = someArtifact(dir)
    val g = new Graph("live").add("raw", raw).add("out", out)
      .produce(Producer("p", build = (_, i) => i), Seq("raw"), Seq("out")).close()
    assert(g.read(spark, "raw").collect()(0).getLong(0) === 7L)
    val ex = intercept[IllegalStateException] { g.read(spark, "out") }
    assert(ex.getMessage.contains("through a snapshot"))
    assertThrows[NoSuchElementException] { g.read(spark, "nope") }
  }

  test("literal storage refuses writes; binary format refuses writes") {
    val lit = LiteralStorage("""{"n": 1}""")
    val df = spark.range(1).toDF()
    assertThrows[IllegalArgumentException] {
      IO.write(df, Format.Json, lit, lit.generatePartition(Map.empty, graft.fingerprints.Fingerprint.identity))
    }
    val dir = Files.createTempDirectory("graft-err4").toString
    val fs = FileStorage(PathTemplate(s"$dir/b", Map.empty))
    assertThrows[IllegalArgumentException] {
      IO.write(df, Format.Binary, fs, fs.generatePartition(Map.empty, graft.fingerprints.Fingerprint.identity))
    }
  }

  test("reading an artifact with zero partitions fails loudly") {
    val dir = Files.createTempDirectory("graft-err5").toString
    val fs = FileStorage(PathTemplate(s"$dir/none/{input_fingerprint}", Map.empty))
    val ex = intercept[IllegalArgumentException] {
      IO.read(spark, Format.Parquet, fs, Seq.empty)
    }
    assert(ex.getMessage.contains("no data"))
  }

  test("sealed graphs reject further mutation") {
    val dir = Files.createTempDirectory("graft-err6").toString
    val g = new Graph("sealed").add("a", Artifact.literal(AInt64(), """{"n": 1}""")).close()
    assertThrows[IllegalArgumentException] { g.add("b", someArtifact(dir)) }
  }

  test("graft function int parameters reject non-literals at plan time") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L), 4)).toDF("h", "k")
    val ex = intercept[Exception] {
      df.selectExpr("graft_minhash(h, k)").collect()
    }
    assert(ex.getMessage.contains("constant integer"))
  }
}
