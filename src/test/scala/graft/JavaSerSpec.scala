package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.graph.{Artifact, Graph, MemoryBackend, Producer, RehydratedSnapshot}
import graft.io.{Format, IO, JavaSerFormat}
import graft.storage.{FileStorage, PathTemplate, StoragePartition}
import graft.tools.Harness
import graft.types.ArtiType._

/** The pickle-analog opaque-object format (reference formats/pickle.py)
  * driven through the WHOLE engine: F23 registration, wiring-time
  * capability check, executor write-audit-publish, content fingerprint,
  * snapshot + tag rehydration. */
class JavaSerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: JPath = _

  override def beforeAll(): Unit = {
    JavaSerFormat.register()
    spark = Harness.session("javaser-spec",
      Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))
    dir = Files.createTempDirectory("graft-javaser")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("an opaque model artifact round-trips through the engine") {
    val base = dir.resolve("fit").toString
    // raw observations -> a producer "fits" a tiny model (mean + count per
    // key) and stores it as an opaque object, the pickle use-case
    spark.createDataFrame(Seq(("a", 2.0), ("a", 4.0), ("b", 10.0)))
      .toDF("k", "x").coalesce(1).write.parquet(s"$base/raw")
    val raw = Artifact(
      ACollection("obs", AStruct("o", Seq("k" -> AString(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/raw", Map.empty)))
    val model = Artifact(
      AStruct("fit", Seq("k" -> AString(), "mean" -> AFloat64(), "n" -> AInt64())),
      JavaSerFormat.JavaSer,
      FileStorage(PathTemplate(s"$base/model/{input_fingerprint}", Map.empty)))
    // wiring-time capability check passes only because of the registration
    assert(IO.canWrite(JavaSerFormat.JavaSer, model.storage))
    assert(IO.canRead(JavaSerFormat.JavaSer, model.storage))

    val fit = Producer("fit_means", build = (_, ins) => Seq(
      ins.head.groupBy(col("k")).agg(avg(col("x")).as("mean"), count(lit(1)).as("n"))))
    val g = new Graph("javaser").add("raw", raw).add("model", model)
      .produce(fit, Seq("raw"), Seq("model")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    val report = new LocalExecutor(backend).build(spark, snap)
    assert(report.totalBuilt === 1)

    val back = snap.read(spark, backend, "model").collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Double]("mean"), r.getAs[Long]("n"))).sortBy(_._1)
    assert(back === Array(("a", 3.0, 2L), ("b", 10.0, 1L)))

    // memoization: the opaque bytes content-hash like any other partition
    val again = new LocalExecutor(backend).build(spark, g.snapshot(spark, backend))
    assert(again.totalBuilt === 0 && again.totalSkipped === 1)

    // rehydrated (backend-metadata-only) read serves the same object
    snap.tag(backend, "m1")
    val re = RehydratedSnapshot.fromTag(backend, "javaser", "m1")
    assert(re.read(spark, backend, "model").count() === 2)
  }

  test("overwrite refusal matches the reference contract") {
    val p = dir.resolve("once.ser").toString
    val df = spark.range(1).toDF("v")
    val storage = FileStorage(PathTemplate(p, Map.empty))
    val part = StoragePartition(p, Map.empty)
    IO.write(df, JavaSerFormat.JavaSer, storage, part)
    assertThrows[IllegalArgumentException] {
      IO.write(df, JavaSerFormat.JavaSer, storage, part) // no overwrite flag
    }
  }

  test("deserialization filter rejects classes outside the schema/row allowlist") {
    // a hand-forged artifact that smuggles a non-allowlisted (but
    // perfectly Serializable) JDK class where the Row array belongs — the
    // filter must kill it BEFORE instantiation, not after
    val p = dir.resolve("forged.ser")
    val out = new java.io.ObjectOutputStream(Files.newOutputStream(p))
    try {
      out.writeObject(org.apache.spark.sql.types.StructType(Nil))
      out.writeObject(new java.net.InetSocketAddress("localhost", 1))
    } finally out.close()
    val storage = FileStorage(PathTemplate(p.toString, Map.empty))
    val ex = intercept[Exception] {
      IO.read(spark, JavaSerFormat.JavaSer, storage,
        Seq(StoragePartition(p.toString, Map.empty))).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[java.io.InvalidClassException]),
      s"expected InvalidClassException from the filter, got: $ex")
    // and the legitimate schema+rows path still reads (filter not over-broad)
    val okPath = dir.resolve("legit.ser").toString
    val df = spark.range(3).toDF("v")
    IO.write(df, JavaSerFormat.JavaSer, FileStorage(PathTemplate(okPath, Map.empty)),
      StoragePartition(okPath, Map.empty))
    val back = IO.read(spark, JavaSerFormat.JavaSer,
      FileStorage(PathTemplate(okPath, Map.empty)),
      Seq(StoragePartition(okPath, Map.empty)))
    assert(back.collect().map(_.getLong(0)).sorted === Array(0L, 1L, 2L))
  }
}
