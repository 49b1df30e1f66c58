package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.fingerprints.Fingerprint
import graft.graph.{Artifact, FileBackend, Graph, Producer}
import graft.io.Format
import graft.partitions.PartitionField.{DateField, IntField, NullField}
import graft.storage.{FileStorage, PathTemplate, StoragePartition}
import graft.tools.Harness
import graft.types.ArtiType._

/** Durable backend: the metadata contract round-trips through the JSONL
  * event log, and — the property that matters — skip-if-built memoization
  * survives a process restart (a fresh FileBackend over the same directory
  * skips everything a previous "process" built). */
class FileBackendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session("filebackend-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  test("metadata round-trips through the event log (incl. typed keys and escapes)") {
    val dir = Files.createTempDirectory("graft-fb").toString
    val b1 = new FileBackend(dir)
    val part = StoragePartition(
      path = "/data/y=7/weird \"name\"\nwith newline",
      key = Map("y" -> IntField(7), "d" -> DateField(java.time.LocalDate.of(2024, 2, 29))),
      inputFingerprint = Fingerprint(-987654321L),
      contentFingerprint = Some(Fingerprint(42L)))
    b1.writeGraph("g", Fingerprint(1L))
    b1.writeSnapshot("g", Fingerprint(2L))
    b1.tag("g", Fingerprint(2L), "v1", overwrite = false)
    b1.writeArtifactPartitions("g/a", Seq(part))
    b1.linkSnapshotPartitions(Fingerprint(2L), "g/a", Seq(part))
    b1.writeStatistics("g/a", part.path, Map("rows" -> "5", "weird\"key" -> "x\ny"))

    val b2 = new FileBackend(dir) // "restart"
    assert(b2.snapshotForTag("g", "v1") === Some(Fingerprint(2L)))
    assert(b2.readArtifactPartitions("g/a") === Seq(part))
    assert(b2.readSnapshotPartitions(Fingerprint(2L), "g/a") === Seq(part))
    assert(b2.readStatistics("g/a")(part.path) === Map("rows" -> "5", "weird\"key" -> "x\ny"))
    // memoization filter works on the replayed state
    assert(b2.readArtifactPartitions("g/a", Some(Set(Fingerprint(-987654321L)))).size === 1)
    assert(b2.readArtifactPartitions("g/a", Some(Set(Fingerprint(0L)))).isEmpty)
  }

  test("tag overwrite guard still throws after replay") {
    val dir = Files.createTempDirectory("graft-fb2").toString
    val b1 = new FileBackend(dir)
    b1.tag("g", Fingerprint(1L), "v", overwrite = false)
    val b2 = new FileBackend(dir)
    assertThrows[IllegalStateException] { b2.tag("g", Fingerprint(9L), "v", overwrite = false) }
    b2.tag("g", Fingerprint(9L), "v", overwrite = true)
    assert(new FileBackend(dir).snapshotForTag("g", "v") === Some(Fingerprint(9L)))
  }

  test("skip-if-built memoization survives a process restart") {
    val base = Files.createTempDirectory("graft-fb3")
    Files.createDirectories(base.resolve("tx"))
    Files.writeString(base.resolve("tx").resolve("1970-01-01.json"),
      """{"id": 1, "date": "1970-01-01", "amount": 42.0}""")
    def mkGraph(): Graph = {
      val txType = ACollection("transactions",
        AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
        partitionBy = Seq("date"))
      val tx = Artifact(txType, Format.Json,
        FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
      val total = Artifact(AFloat64(), Format.Json,
        FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
      new Graph("fb").add("tx", tx).add("total", total)
        .produce(Producer("t", build = (_, ins) =>
          Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))), Seq("tx"), Seq("total"))
        .close()
    }
    val metaDir = base.resolve("meta").toString
    val r1 = new LocalExecutor(new FileBackend(metaDir))
      .build(spark, mkGraph().snapshot(spark, new FileBackend(metaDir)))
    // ^ snapshot + build each construct their own backend instance — i.e.
    // two separate "processes" already
    assert(r1.totalBuilt === 1)
    val b = new FileBackend(metaDir) // third process
    val r2 = new LocalExecutor(b).build(spark, mkGraph().snapshot(spark, b))
    assert(r2.totalBuilt === 0, "memoization must survive restart")
    assert(r2.totalSkipped === 1)
  }

  test("model read-back: a fresh process serves tagged reads with no Graph (F37)") {
    val base = Files.createTempDirectory("graft-fb7")
    Files.createDirectories(base.resolve("tx"))
    Files.writeString(base.resolve("tx").resolve("1970-01-01.json"),
      """{"id": 1, "date": "1970-01-01", "amount": 42.0}""")
    val metaDir = base.resolve("meta").toString
    locally { // "process 1": define, build, tag — then let the Graph go
      val txType = ACollection("transactions",
        AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
        partitionBy = Seq("date"))
      val tx = Artifact(txType, Format.Json,
        FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))),
        annotations = Map("owner" -> "spec"))
      val total = Artifact(AFloat64(), Format.Json,
        FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
      val g = new Graph("fb7").add("tx", tx).add("total", total)
        .produce(Producer("t", build = (_, ins) =>
          Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))), Seq("tx"), Seq("total"))
        .close()
      val b = new FileBackend(metaDir)
      val snap = g.snapshot(spark, b)
      new LocalExecutor(b).build(spark, snap)
      snap.tag(b, "release")
    }
    // "process 2": only the backend directory exists; no Graph is built
    val b2 = new FileBackend(metaDir)
    val model = b2.readGraphModel("fb7").getOrElse(fail("stored model missing"))
    assert(model.artifacts.map(_._1) === Seq("total", "tx"))
    assert(model.isRaw("tx") && !model.isRaw("total"))
    assert(model.artifact("tx").annotations === Map("owner" -> "spec"))
    assert(model.wiring === Seq(graft.graph.ProducerWiring("t", Seq("tx"), Seq("total"))))
    val rehydrated = graft.graph.RehydratedSnapshot.fromTag(b2, "fb7", "release")
    val total = rehydrated.read(spark, b2, "total").collect()
    assert(total.length === 1 && total.head.getDouble(0) === 42.0)
    val raw = rehydrated.read(spark, b2, "tx").collect()
    assert(raw.length === 1)
    // partition-pruned read through the rehydrated model's typed keys
    val pruned = rehydrated.readWhere(spark, b2, "tx")(
      _.get("date").contains(graft.partitions.PartitionField.DateField(java.time.LocalDate.of(1999, 1, 1))))
    assert(pruned.isEmpty && pruned.schema.fieldNames.toSeq === Seq("id", "date", "amount"))
  }

  test("torn trailing line is ignored; corrupt complete record fails loudly") {
    val dir = Files.createTempDirectory("graft-fb4")
    val b1 = new FileBackend(dir.toString)
    b1.writeGraph("g", Fingerprint(7L))
    // crash mid-append: a torn (incomplete) TRAILING line must be skipped
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      """{"name":"g2","fp":123""", java.nio.file.StandardOpenOption.APPEND)
    val b2 = new FileBackend(dir.toString)
    // the complete record replayed; the torn one ignored (no wrong fingerprint)
    assert(b2.readArtifactPartitions("none").isEmpty) // construction survived
    // a torn TRAILING line that happens to END in '}' (truncated after a
    // nested object) is still structural damage -> skipped, not fatal
    java.nio.file.Files.writeString(dir.resolve("artifact_parts.jsonl"),
      """{"artifact":"a","part":{"path":"p","key":{}""", java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    val b3 = new FileBackend(dir.toString)
    assert(b3.readArtifactPartitions("a").isEmpty)
    // a COMPLETE but corrupt record is a real integrity problem -> loud
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      "\n" + """{"nome":"broken"}""" + "\n", java.nio.file.StandardOpenOption.APPEND)
    assertThrows[IllegalStateException] { new FileBackend(dir.toString) }
  }

  test("torn tail is repaired at open: appends after a crash never merge into it") {
    val dir = Files.createTempDirectory("graft-fb8")
    val b1 = new FileBackend(dir.toString)
    b1.writeGraph("g", Fingerprint(7L))
    // crash mid-append: torn trailing line WITHOUT a newline
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      """{"name":"g2","fp":123""", java.nio.file.StandardOpenOption.APPEND)
    // reopen repairs the tail (truncates the uncommitted record) …
    val b2 = new FileBackend(dir.toString)
    // … so a NEW append lands on its own line, not concatenated onto the
    // torn one (which would silently swallow it now and brick replay later)
    b2.writeGraph("g3", Fingerprint(9L))
    val b3 = new FileBackend(dir.toString) // must construct: no interior garbage
    b3.writeGraph("g4", Fingerprint(11L))
    new FileBackend(dir.toString) // and stays constructible after more appends
    val lines = java.nio.file.Files.readAllLines(dir.resolve("graphs.jsonl"))
    assert(lines.size === 3) // g, g3, g4 — torn g2 dropped, none merged
  }

  test("unparseable INTERIOR line is corruption, not a torn append -> loud") {
    // only the final line of an append-only log can be torn by a crash; an
    // interior line that fails structural parse means lost metadata and
    // must not be silently dropped
    val dir = Files.createTempDirectory("graft-fb5")
    val b1 = new FileBackend(dir.toString)
    b1.writeGraph("g", Fingerprint(7L))
    java.nio.file.Files.writeString(dir.resolve("graphs.jsonl"),
      "garbage-not-json\n" + """{"name":"g2","fp":123}""" + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalStateException] { new FileBackend(dir.toString) }
    assert(e.getMessage.contains("interior"))
    // same garbage as the FINAL line is a tolerated torn append
    val dir2 = Files.createTempDirectory("graft-fb6")
    val c1 = new FileBackend(dir2.toString)
    c1.writeGraph("g", Fingerprint(7L))
    java.nio.file.Files.writeString(dir2.resolve("graphs.jsonl"),
      "garbage-not-json", java.nio.file.StandardOpenOption.APPEND)
    new FileBackend(dir2.toString) // must construct
  }

  test("replays golden log lines written in the original on-disk format") {
    // byte-for-byte lines of the format every existing log holds: nested
    // part/key/field objects, negative fingerprints, a null content_fp,
    // date/int/null key fields, escapes (incl. a tab as a unicode escape) and
    // the model carried as ONE escaped string value
    val dir = Files.createTempDirectory("graft-fb9")
    def log(file: String, lines: String*): Unit =
      Files.writeString(dir.resolve(file), lines.mkString("", "\n", "\n"))
    log("graphs.jsonl", """{"name":"fb7","fp":-8645007664857446809}""")
    log("snapshots.jsonl", """{"graph":"fb7","id":-12}""")
    log("tags.jsonl", """{"graph":"fb7","tag":"release","id":-12}""")
    val partLine = """{"path":"/data/tx/we \"ird\"\nname\u0009x","key":{"d":{"kind":"date","iso":"2024-02-29"},"n":{"kind":"null"},"y":{"kind":"int","value":-7}},"input_fp":-987654321,"content_fp":null}"""
    log("artifact_parts.jsonl", s"""{"artifact":"fb7/tx","part":$partLine}""")
    log("snapshot_parts.jsonl",
      """{"snapshot":-12,"artifact":"fb7/tx","part":{"path":"/data/tx/1970-01-01.json","key":{},"input_fp":0,"content_fp":-2988420762024659209}}""")
    log("stats.jsonl",
      """{"artifact":"fb7/tx","path":"/data/tx/we \"ird\"\nname\u0009x","stats":{"rows":"5","we\"ird\\key":"x\ny\u0009z"}}""")
    log("models.jsonl",
      """{"graph":"fb7","model":"{\"name\":\"fb7\",\"artifacts\":[{\"key\":\"total\",\"atype\":\"{\\\"type\\\":\\\"struct\\\",\\\"fields\\\":[{\\\"name\\\":\\\"t\\\",\\\"type\\\":\\\"double\\\",\\\"nullable\\\":false,\\\"metadata\\\":{\\\"kind\\\":\\\"scalar\\\"}}]}\",\"format\":\"json\",\"storage\":{\"kind\":\"file\",\"template\":\"/data/total/{input_fingerprint}\",\"field_kinds\":{}},\"annotations\":{}},{\"key\":\"tx\",\"atype\":\"{\\\"type\\\":\\\"struct\\\",\\\"fields\\\":[{\\\"name\\\":\\\"t\\\",\\\"type\\\":{\\\"type\\\":\\\"struct\\\",\\\"fields\\\":[{\\\"name\\\":\\\"id\\\",\\\"type\\\":\\\"long\\\",\\\"nullable\\\":false,\\\"metadata\\\":{}},{\\\"name\\\":\\\"date\\\",\\\"type\\\":\\\"date\\\",\\\"nullable\\\":false,\\\"metadata\\\":{}},{\\\"name\\\":\\\"amount\\\",\\\"type\\\":\\\"double\\\",\\\"nullable\\\":false,\\\"metadata\\\":{}}]},\\\"nullable\\\":false,\\\"metadata\\\":{\\\"kind\\\":\\\"collection\\\",\\\"name\\\":\\\"transactions\\\",\\\"struct_name\\\":\\\"tx\\\",\\\"partition_by\\\":[\\\"date\\\"]}}]}\",\"format\":\"json\",\"storage\":{\"kind\":\"file\",\"template\":\"/data/tx/{date.iso}.json\",\"field_kinds\":{\"date\":\"date\"}},\"annotations\":{\"owner\":\"spec\"}}],\"wiring\":[{\"producer\":\"t\",\"inputs\":[\"tx\"],\"outputs\":[\"total\"]}]}"}""")

    val b = new FileBackend(dir.toString)
    val path = "/data/tx/we \"ird\"\nname\tx"
    val part = StoragePartition(path,
      Map("d" -> DateField(java.time.LocalDate.of(2024, 2, 29)), "n" -> NullField, "y" -> IntField(-7)),
      Fingerprint(-987654321L), None)
    assert(b.readArtifactPartitions("fb7/tx") === Seq(part))
    assert(b.readSnapshotPartitions(Fingerprint(-12L), "fb7/tx") === Seq(StoragePartition(
      "/data/tx/1970-01-01.json", Map.empty, Fingerprint(0L), Some(Fingerprint(-2988420762024659209L)))))
    assert(b.snapshotForTag("fb7", "release") === Some(Fingerprint(-12L)))
    assert(b.readStatistics("fb7/tx")(path) === Map("rows" -> "5", "we\"ird\\key" -> "x\ny\tz"))
    val model = b.readGraphModel("fb7").getOrElse(fail("golden model not replayed"))
    assert(model.artifacts.map(_._1) === Seq("total", "tx"))
    assert(model.artifact("tx").annotations === Map("owner" -> "spec"))
    assert(model.wiring === Seq(graft.graph.ProducerWiring("t", Seq("tx"), Seq("total"))))

    // today's encoder writes the same structure: the re-encoded part is
    // JSON-equal to the golden one
    val dir2 = Files.createTempDirectory("graft-fb10")
    new FileBackend(dir2.toString).writeArtifactPartitions("fb7/tx", Seq(part))
    val written = graft.util.MiniJson.parse(
      Files.readAllLines(dir2.resolve("artifact_parts.jsonl")).get(0))
    assert(written === graft.util.MiniJson.parse(s"""{"artifact":"fb7/tx","part":$partLine}"""))
  }
}
