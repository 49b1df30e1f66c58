package graft

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.fingerprints.Version
import graft.graph.{Artifact, Graph, MemoryBackend, Producer}
import graft.io.Format
import graft.storage.{FileStorage, LiteralStorage, PathTemplate}
import graft.tools.Harness
import graft.types.ArtiType._
import graft.types.{TypeAdapter, TypeSystemRegistry}

/** Round-2 framework completions: multi-IO typed producers + wiring-time
  * checks (F6), scalar views (F33), Timestamp/Source versions (F36), the
  * TypeAdapter registry (F28), and enum construction validation (F2). */
class FrameworkPartialsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session("framework-partials-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  import FrameworkPartialsSpec._

  test("typed2 producer: two typed inputs join through the engine (F6)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-f6").toString
    Seq(KV(1, "a"), KV(2, "b")).toDF().write.parquet(s"$base/l")
    Seq(KN(1, 10.0), KN(2, 20.0)).toDF().write.parquet(s"$base/r")

    def coll(name: String, fields: Seq[(String, graft.types.ArtiType)]) =
      ACollection(name, AStruct(name, fields))
    val l = Artifact(coll("l", Seq("k" -> AInt32(), "s" -> AString(nullable = true))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/l", Map.empty)))
    val r = Artifact(coll("r", Seq("k" -> AInt32(), "x" -> AFloat64())),
      Format.Parquet, FileStorage(PathTemplate(s"$base/r", Map.empty)))
    val out = Artifact(coll("out", Seq("k" -> AInt32(), "s" -> AString(nullable = true), "x" -> AFloat64())),
      Format.Parquet, FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))

    val join = Producer.typed2[KV, KN, KVN]("join2") { (a: Dataset[KV], b: Dataset[KN]) =>
      a.joinWith(b, a("k") === b("k")).map { case (kv, kn) => KVN(kv.k, kv.s, kn.x) }
    }
    val g = new Graph("f6").add("l", l).add("r", r).add("out", out)
      .produce(join, Seq("l", "r"), Seq("out")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    val got = snap.read(spark, backend, "out").orderBy("k").collect()
    assert(got.map(_.getDouble(2)).toSeq === Seq(10.0, 20.0))
  }

  test("typedOut2 producer: one input, two typed outputs (F6)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-f6b").toString
    Seq(KN(1, 5.0), KN(2, -3.0), KN(3, 7.0)).toDF().write.parquet(s"$base/in")
    def art(name: String) = Artifact(
      ACollection(name, AStruct(name, Seq("k" -> AInt32(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/$name/{input_fingerprint}", Map.empty)))
    val in = Artifact(
      ACollection("in", AStruct("in", Seq("k" -> AInt32(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/in", Map.empty)))
    val split = Producer.typedOut2[KN, KN, KN]("split") { d =>
      (d.filter(_.x >= 0), d.filter(_.x < 0))
    }
    val g = new Graph("f6b").add("in", in).add("pos", art("pos")).add("neg", art("neg"))
      .produce(split, Seq("in"), Seq("pos", "neg")).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    assert(snap.read(spark, backend, "pos").count() === 2)
    assert(snap.read(spark, backend, "neg").count() === 1)
  }

  test("outputs of one producer must share one partitioning (F6 wiring check)") {
    val base = "/tmp/unused-f6c"
    val flat = Artifact(
      ACollection("flat", AStruct("f", Seq("k" -> AInt32(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/flat/{input_fingerprint}", Map.empty)))
    val byK = Artifact(
      ACollection("byk", AStruct("f", Seq("k" -> AInt32(), "x" -> AFloat64())), partitionBy = Seq("k")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/byk/k={k}/{input_fingerprint}", Map("k" -> "int"))))
    val in = Artifact(
      ACollection("in", AStruct("in", Seq("k" -> AInt32(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/in", Map.empty)))
    val p = Producer("p", build = (_, ins) => Seq(ins.head, ins.head))
    val e = intercept[IllegalArgumentException] {
      new Graph("f6c").add("in", in).add("flat", flat).add("byk", byK)
        .produce(p, Seq("in"), Seq("flat", "byk"))
    }
    assert(e.getMessage.contains("share one partitioning"))
  }

  test("io capability is checked at wiring time, not first build (F33)") {
    val lit = Artifact.literal(AFloat64(), "1.5")
    val in = Artifact(
      ACollection("in", AStruct("in", Seq("x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate("/tmp/unused-io/in", Map.empty)))
    val p = Producer("p", build = (_, ins) => Seq(ins.head))
    val e = intercept[IllegalArgumentException] {
      new Graph("io").add("in", in).add("lit", lit).produce(p, Seq("in"), Seq("lit"))
    }
    assert(e.getMessage.contains("no writer"))
    val bin = Artifact(
      ACollection("b", AStruct("b", Seq("x" -> AFloat64()))),
      Format.Binary, FileStorage(PathTemplate("/tmp/unused-io/b/{input_fingerprint}", Map.empty)))
    val e2 = intercept[IllegalArgumentException] {
      new Graph("io2").add("in", in).add("b", bin).produce(p, Seq("in"), Seq("b"))
    }
    assert(e2.getMessage.contains("no writer"))
  }

  test("scalar view: a Float64 artifact reads back as a typed scalar (F33)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-sv").toString
    Seq(KN(1, 2.0), KN(2, 3.5)).toDF().write.parquet(s"$base/in")
    val in = Artifact(
      ACollection("in", AStruct("in", Seq("k" -> AInt32(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/in", Map.empty)))
    val total = Artifact(AFloat64(), Format.Parquet,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
    val g = new Graph("sv").add("in", in).add("total", total)
      .produce(Producer("t", build = (_, ins) =>
        Seq(ins.head.agg(sum(col("x")).as("v")).coalesce(1))), Seq("in"), Seq("total"))
      .close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    val v: Double = snap.readScalar[Double](spark, backend, "total")
    assert(v === 5.5)
    // table-shaped artifacts refuse the scalar view
    assertThrows[IllegalArgumentException] { snap.readScalar[Double](spark, backend, "in") }
  }

  test("Timestamp version floors to a frequency (F36)") {
    import java.time.{Duration, Instant}
    val t0 = Instant.parse("2026-08-12T10:15:30Z")
    val sameDay = Instant.parse("2026-08-12T23:59:59Z")
    val nextDay = Instant.parse("2026-08-13T00:00:01Z")
    val daily = Version.Timestamp(t0, floorTo = Some(Duration.ofDays(1)))
    assert(daily.fingerprint === Version.Timestamp(sameDay, Some(Duration.ofDays(1))).fingerprint)
    assert(daily.fingerprint !== Version.Timestamp(nextDay, Some(Duration.ofDays(1))).fingerprint)
    // unfloored: every instant is its own version
    assert(Version.Timestamp(t0).fingerprint !== Version.Timestamp(sameDay).fingerprint)
    assertThrows[IllegalArgumentException] { Version.Timestamp(t0, Some(Duration.ZERO)) }
  }

  test("Source version fingerprints the defining bytecode (F36)") {
    val f1: Int => Int = x => x + 1
    val f2: Int => Int = x => x * 2
    val v1a = Version.Source(f1).fingerprint
    val v1b = Version.Source(f1).fingerprint
    val v2 = Version.Source(f2).fingerprint
    assert(v1a === v1b, "same code object must fingerprint stably")
    // two lambdas in the same defining class share bytecode — classes with
    // distinct code must differ
    assert(Version.Source(SourceA).fingerprint !== Version.Source(SourceB).fingerprint)
    assert(v1a !== Version.Source(SourceA).fingerprint)
    v2 // touch
  }

  test("TypeAdapter registry: priority wins, extends chains, unknown is loud (F28)") {
    val base = TypeSystemRegistry.spark()
    // a higher-priority adapter intercepts geography only
    base.registerAdapter(new TypeAdapter {
      override def key = "geo-override"
      override def priority = 10
      def matchesArti(t: graft.types.ArtiType) = t.isInstanceOf[AGeography]
      def matchesSystem(t: Any) = false
      def toArti(t: Any, root: TypeSystemRegistry) = throw new UnsupportedOperationException
      def toSystem(t: graft.types.ArtiType, root: TypeSystemRegistry) = "GEOGRAPHY-DDL"
    })
    assert(base.toSystem(AGeography()) === "GEOGRAPHY-DDL")
    assert(base.toSystem(AInt64()) === org.apache.spark.sql.types.LongType) // falls through to core
    // an empty system extending the base still resolves through the chain
    val extended = new TypeSystemRegistry("jdbc", extendsFrom = Seq(base))
    assert(extended.toSystem(AInt64()) === org.apache.spark.sql.types.LongType)
    // duplicate keys are a wiring bug
    assertThrows[IllegalArgumentException] {
      base.registerAdapter(new TypeAdapter {
        override def key = "geo-override"
        def matchesArti(t: graft.types.ArtiType) = false
        def matchesSystem(t: Any) = false
        def toArti(t: Any, root: TypeSystemRegistry) = throw new UnsupportedOperationException
        def toSystem(t: graft.types.ArtiType, root: TypeSystemRegistry) = ()
      })
    }
    // no adapter anywhere: loud, naming the ROOT system
    val e = intercept[UnsupportedOperationException] { extended.toArti("not-a-type") }
    assert(e.getMessage.contains("jdbc"))
  }

  test("thresholds gate builds before any write, and re-gate memoized skips (F38)") {
    import spark.implicits._
    import graft.graph.Statistics.Threshold
    val base = Files.createTempDirectory("graft-thr").toString
    Seq(KN(1, 5.0), KN(2, -3.0)).toDF().write.parquet(s"$base/in")
    val in = Artifact(
      ACollection("in", AStruct("in", Seq("k" -> AInt32(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/in", Map.empty)))
    def outArt = Artifact(
      ACollection("out", AStruct("out", Seq("k" -> AInt32(), "x" -> AFloat64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    def mkGraph(th: Seq[Threshold]) =
      new Graph("thr").add("in", in).add("out", outArt)
        .produce(Producer("p", build = (_, ins) => Seq(ins.head.coalesce(1)), thresholds = th),
          Seq("in"), Seq("out")).close()

    // violated threshold aborts BEFORE the write: nothing lands on disk
    val backend = new MemoryBackend
    val failing = mkGraph(Seq(Threshold.MinRows(5)))
    val e = intercept[IllegalStateException] {
      new LocalExecutor(backend).build(spark, failing.snapshot(spark, backend))
    }
    assert(e.getMessage.contains("rows") && e.getMessage.contains("required 5"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/out")))

    // passing thresholds build + record statistics
    val b2 = new MemoryBackend
    val ok = mkGraph(Seq(Threshold.MinRows(2), Threshold.NoNulls("x"), Threshold.Bounds("x", hi = Some(10.0))))
    val r1 = new LocalExecutor(b2).build(spark, ok.snapshot(spark, b2))
    assert(r1.totalBuilt === 1)
    assert(b2.readStatistics("thr/out").nonEmpty, "thresholds imply stats collection")

    // a TIGHTENED threshold re-gates a memoized skip (no rebuild happened,
    // the stored stats fail the new bound) — reference executors/local.py:26-29
    val tightened = mkGraph(Seq(Threshold.Bounds("x", lo = Some(0.0))))
    val e2 = intercept[IllegalStateException] {
      new LocalExecutor(b2).build(spark, tightened.snapshot(spark, b2))
    }
    assert(e2.getMessage.contains("below"))
    // unchanged thresholds still skip cleanly
    val r3 = new LocalExecutor(b2).build(spark, ok.snapshot(spark, b2))
    assert(r3.totalSkipped === 1 && r3.totalBuilt === 0)
  }

  test("IO registry: a user-defined format reads/writes through the engine (F23)") {
    import graft.io.IO
    import FrameworkPartialsSpec.TsvFormat
    // register once: reader + writer for (tsv, FileStorage)
    IO.registerFormat(TsvFormat)
    IO.register(IO.Registration(
      matches = (f, s) => f == TsvFormat && s.isInstanceOf[FileStorage],
      reader = Some((spark, _, _, parts, schema) => {
        val r = schema.map(spark.read.schema).getOrElse(spark.read)
        r.option("sep", "\t").option("header", "true").csv(parts.map(_.path): _*)
      }),
      writer = Some((df, _, _, part, overwrite) =>
        df.write.mode(if (overwrite) "overwrite" else "errorifexists")
          .option("sep", "\t").option("header", "true").csv(part.path))))
    assert(IO.canRead(TsvFormat, FileStorage(PathTemplate("/x", Map.empty))))
    assert(IO.canWrite(TsvFormat, FileStorage(PathTemplate("/x", Map.empty))))

    import spark.implicits._
    val base = Files.createTempDirectory("graft-tsv").toString
    Seq(KV(1, "a"), KV(2, "b")).toDF()
      .write.option("sep", "\t").option("header", "true").csv(s"$base/in")
    val in = Artifact(
      ACollection("in", AStruct("in", Seq("k" -> AString(nullable = true), "s" -> AString(nullable = true)))),
      TsvFormat, FileStorage(PathTemplate(s"$base/in", Map.empty)))
    val out = Artifact(
      ACollection("out", AStruct("out", Seq("k" -> AString(nullable = true), "s" -> AString(nullable = true)))),
      TsvFormat, FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    // wiring-time capability check passes via the registry (would have
    // thrown for an unregistered format)
    val g = new Graph("tsv").add("in", in).add("out", out)
      .produce(Producer("copy", build = (_, ins) => Seq(ins.head.coalesce(1))), Seq("in"), Seq("out"))
      .close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    assert(snap.read(spark, backend, "out").count() === 2)
    // the stored model round-trips the extension format by name
    val model = backend.readGraphModel("tsv").get
    assert(graft.graph.ModelCodec.decode(graft.graph.ModelCodec.encode(model))
      .artifact("out").format === TsvFormat)
  }

  test("Artifact.of infers the type from the value (F2)") {
    import graft.graph.Artifact
    assert(Artifact.of(6L).atype === AInt64())
    assert(Artifact.of(6).atype === AInt64()) // reference: python int -> Int64
    assert(Artifact.of(1.5).atype === AFloat64())
    assert(Artifact.of("x\"y").atype === AString())
    assert(Artifact.of(java.time.LocalDate.of(2026, 8, 12)).atype === ADate())
    assert(Artifact.of(Seq(1L, 2L)).atype === AList(AInt64()))
    assertThrows[IllegalArgumentException] { Artifact.of(new Object) }
    // and it actually reads back through a graph
    val base = Files.createTempDirectory("graft-of").toString
    val out = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/out/{input_fingerprint}", Map.empty)))
    val g = new Graph("of").add("n", Artifact.of(6L)).add("out", out)
      .produce(Producer("div", build = (_, ins) => Seq(
        ins.head.select((lit(84.0) / col("value")).as("value")).coalesce(1))), Seq("n"), Seq("out"))
      .close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)
    assert(snap.readScalar[Double](spark, backend, "out") === 14.0)
  }

  test("enum items validate against the underlying type at construction (F2)") {
    assertThrows[IllegalArgumentException] { AEnum("e", AString(), Nil) }
    assertThrows[IllegalArgumentException] { AEnum("e", AString(), Seq("ok", 3)) }
    assertThrows[IllegalArgumentException] { AEnum("e", AInt32(), Seq(1, "two")) }
    assertThrows[IllegalArgumentException] { AEnum("e", AFloat64(), Seq(1)) } // ints are not floats
    AEnum("e", AInt32(), Seq(1, 2L))     // whole signed family is fine
    AEnum("e", AFloat64(), Seq(1.5))
    AEnum("e", ADate(), Seq(java.time.LocalDate.of(2026, 1, 1))) // non-scalar-checked kinds pass
    // codec round-trip preserves validity (items coerce back to the
    // underlying runtime type)
    import graft.types.{SparkTypeSystem => S}
    val intEnum = AEnum("lvl", AInt32(), Seq(1L, 2L, 3L))
    assert(S.typeFromJson(S.typeToJson(intEnum)) === intEnum)
  }
}

object FrameworkPartialsSpec {
  case object TsvFormat extends graft.io.Format("tsv", ".tsv")
  final case class KV(k: Int, s: String)
  final case class KN(k: Int, x: Double)
  final case class KVN(k: Int, s: String, x: Double)
  object SourceA { def f(x: Int): Int = x + 41 }
  object SourceB { def f(x: Int): Int = x - 17 }
}
