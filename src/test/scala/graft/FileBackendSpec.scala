package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.fingerprints.Fingerprint
import graft.graph.{Artifact, FileBackend, Graph, Producer, RehydratedSnapshot}
import graft.io.{Format, IO}
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

  test("a rehydrated snapshot reads exactly what the live snapshot reads") {
    val base = Files.createTempDirectory("graft-fb-parity")
    Files.createDirectories(base.resolve("tx"))
    for ((day, id, amount) <- Seq(("1970-01-01", 1, 10.0), ("1970-01-02", 2, 32.0)))
      Files.writeString(base.resolve("tx").resolve(s"$day.json"),
        s"""{"id": $id, "date": "$day", "amount": $amount}""")
    val tx = Artifact(
      ACollection("transactions",
        AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
        partitionBy = Seq("date")),
      Format.Json, FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val byId = Artifact(
      ACollection("by_id", AStruct("by_id", Seq("id" -> AInt64(), "amount" -> AFloat64())),
        clusterBy = Seq("id")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/by_id/{input_fingerprint}", Map.empty)))
    val total = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
    val g = new Graph("parity").add("tx", tx).add("by_id", byId).add("total", total)
      .produce(Producer("by_id", build = (_, ins) => Seq(ins.head.select("id", "amount"))),
        Seq("tx"), Seq("by_id"))
      .produce(Producer("total", build = (_, ins) =>
        Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))), Seq("tx"), Seq("total"))
      .close()
    val metaDir = base.resolve("meta").toString
    val b = new FileBackend(metaDir)
    val (live, _) = g.build(spark, b)
    live.tag(b, "v1")
    val b2 = new FileBackend(metaDir)
    val re = RehydratedSnapshot.fromTag(b2, "parity", "v1")

    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val day2 = DateField(java.time.LocalDate.of(1970, 1, 2))
    for ((key, matching) <- Seq[(String, graft.partitions.PartitionKey.PartitionKey => Boolean)](
        "tx" -> (_.get("date").contains(day2)), "by_id" -> (_.isEmpty), "total" -> (_.isEmpty))) {
      val liveAll = rows(live.read(spark, b, key))
      assert(liveAll.nonEmpty, key)
      assert(rows(re.read(spark, b2, key)) === liveAll, key)
      val liveMatch = rows(live.readWhere(spark, b, key)(matching))
      assert(liveMatch.nonEmpty, key)
      assert(rows(re.readWhere(spark, b2, key)(matching)) === liveMatch, key)
      val (liveNone, reNone) = (live.readWhere(spark, b, key)(_ => false), re.readWhere(spark, b2, key)(_ => false))
      assert(liveNone.isEmpty && reNone.isEmpty, key)
      assert(reNone.schema === liveNone.schema, key)
    }
    assert(rows(live.readWhere(spark, b, "tx")(_.get("date").contains(day2))).size === 1)
    // both snapshots read the clustered artifact through its bucketed table
    for (df <- Seq(live.read(spark, b, "by_id"), re.read(spark, b2, "by_id")))
      assert(df.queryExecution.analyzed.toString.contains(IO.bucketTableName("parity", "by_id")))
    import spark.implicits._
    assert(re.readAs[(Long, Double)](spark, b2, "by_id").collect().sorted ===
      live.readAs[(Long, Double)](spark, b, "by_id").collect().sorted)
    assert(re.readScalar[Double](spark, b2, "total") === 42.0)
    assert(live.readScalar[Double](spark, b, "total") === 42.0)
  }

  test("a no-op rebuild appends nothing: fresh-backend cycles leave every log byte-identical") {
    val base = Files.createTempDirectory("graft-fb-noop")
    Files.createDirectories(base.resolve("tx"))
    for ((day, id, amount) <- Seq(("1970-01-01", 1, 10.0), ("1970-01-02", 2, 32.0)))
      Files.writeString(base.resolve("tx").resolve(s"$day.json"),
        s"""{"id": $id, "date": "$day", "amount": $amount}""")
    val tx = Artifact(
      ACollection("transactions",
        AStruct("tx", Seq("id" -> AInt64(), "date" -> ADate(), "amount" -> AFloat64())),
        partitionBy = Seq("date")),
      Format.Json, FileStorage(PathTemplate(s"$base/tx/{date.iso}.json", Map("date" -> "date"))))
    val daily = Artifact(
      ACollection("daily", AStruct("d", Seq("date" -> ADate(), "amount" -> AFloat64())), partitionBy = Seq("date")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/daily/{date.iso}/{input_fingerprint}", Map("date" -> "date"))))
    val total = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
    val g = new Graph("noop").add("tx", tx).add("daily", daily).add("total", total)
      .produce(Producer("daily", build = (_, ins) => Seq(ins.head.select("date", "amount")),
        map = Producer.mapByKey, computeStatistics = true), Seq("tx"), Seq("daily"))
      .produce(Producer("total", build = (_, ins) =>
        Seq(ins.head.agg(sum(col("amount")).as("value")).coalesce(1))), Seq("daily"), Seq("total"))
      .close()
    val metaDir = base.resolve("meta")
    def cycle(): (Fingerprint, graft.exec.BuildReport) = {
      val b = new FileBackend(metaDir.toString)
      val (snap, report) = g.build(spark, b)
      snap.tag(b, "latest")
      (snap.id, report)
    }
    // each log's size and SHA-256: equal iff byte-identical, short to print
    def logs(): Map[String, (Int, String)] = {
      val s = Files.list(metaDir)
      try s.iterator().asScala.filter(_.toString.endsWith(".jsonl")).map { f =>
        val bytes = Files.readAllBytes(f)
        val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
        f.getFileName.toString -> (bytes.length, sha)
      }.toMap
      finally s.close()
    }
    def projection(id: Fingerprint): Seq[Any] = {
      val b = new FileBackend(metaDir.toString)
      Seq("tx", "daily", "total").map { k =>
        (b.readArtifactPartitions(s"noop/$k"), b.readSnapshotPartitions(id, s"noop/$k"), b.readStatistics(s"noop/$k"))
      } ++ Seq(b.snapshotForTag("noop", "latest"), b.readGraphModel("noop").map(graft.graph.ModelCodec.encode))
    }
    val (id0, r0) = cycle()
    assert(r0.totalBuilt === 3)
    val logs0 = logs()
    assert(logs0.keySet === Set("graphs.jsonl", "snapshots.jsonl", "tags.jsonl", "artifact_parts.jsonl",
      "snapshot_parts.jsonl", "stats.jsonl", "models.jsonl"))
    val projection0 = projection(id0)
    for (i <- 1 to 3) {
      val (id, r) = cycle()
      assert(id === id0 && r.totalBuilt === 0 && r.totalSkipped === 3, s"cycle $i")
      assert(logs() === logs0, s"cycle $i appended to the log")
      assert(projection(id) === projection0, s"cycle $i")
    }
  }

  test("concurrent writers append each record exactly once") {
    val dir = Files.createTempDirectory("graft-fb-concurrent")
    val b = new FileBackend(dir.toString)
    val parts = (0 until 40).map(i => StoragePartition(s"/data/p=$i", Map("p" -> IntField(i)),
      Fingerprint(i.toLong), Some(Fingerprint(100L + i))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writers = scala.concurrent.Future.traverse((0 until 8).toList) { _ =>
        scala.concurrent.Future {
          b.writeGraph("g", Fingerprint(1L))
          b.writeSnapshot("g", Fingerprint(2L))
          b.writeGraphModel(graft.graph.GraphModel("g", Nil, Nil))
          parts.foreach { p =>
            b.writeArtifactPartitions("g/a", Seq(p, p))
            b.linkSnapshotPartitions(Fingerprint(2L), "g/a", Seq(p))
            b.writeStatistics("g/a", p.path, Map("rows" -> "1"))
          }
        }
      }
      scala.concurrent.Await.result(writers, scala.concurrent.duration.Duration(60, "s"))
    } finally pool.shutdown()
    def lines(file: String): Int = Files.readAllLines(dir.resolve(file)).size
    for (file <- Seq("graphs.jsonl", "snapshots.jsonl", "models.jsonl")) assert(lines(file) === 1, file)
    for (file <- Seq("artifact_parts.jsonl", "snapshot_parts.jsonl", "stats.jsonl"))
      assert(lines(file) === parts.size, file)
    val reopened = new FileBackend(dir.toString)
    assert(reopened.readArtifactPartitions("g/a").sortBy(_.inputFingerprint.key) === parts)
    assert(reopened.readSnapshotPartitions(Fingerprint(2L), "g/a").sortBy(_.inputFingerprint.key) === parts)
    assert(b.readArtifactPartitions("g/a").size === parts.size)
  }

  test("a live snapshot reads and builds the raw partition written through it") {
    val base = Files.createTempDirectory("graft-fb-livewrite")
    val notes = Artifact(
      ACollection("notes", AStruct("n", Seq("i" -> AInt64(), "value" -> AFloat64())), partitionBy = Seq("i")),
      Format.Json, FileStorage(PathTemplate(s"$base/notes/i={i}", Map("i" -> "int"))))
    val total = Artifact(AFloat64(), Format.Json,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))
    def value(v: Double): DataFrame = spark.range(1).selectExpr(s"cast($v as double) as value").coalesce(1)
    IO.write(value(1.0), Format.Json, notes.storage,
      notes.storage.generatePartition(Map("i" -> IntField(1)), Fingerprint.identity))
    val g = new Graph("livewrite").add("notes", notes).add("total", total)
      .produce(Producer("total", build = (_, ins) =>
        Seq(ins.head.agg(sum(col("value")).as("value")).coalesce(1))), Seq("notes"), Seq("total"))
      .close()
    val metaDir = base.resolve("meta").toString
    val b = new FileBackend(metaDir)
    val live = g.snapshot(spark, b)
    live.write(spark, b, "notes", value(2.0), Map("i" -> IntField(2)))
    live.tag(b, "v1")
    val b2 = new FileBackend(metaDir)
    val re = RehydratedSnapshot.fromTag(b2, "livewrite", "v1")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    val liveRows = rows(live.read(spark, b, "notes"))
    assert(liveRows.size === 2)
    assert(rows(re.read(spark, b2, "notes")) === liveRows)
    val onlyTwo: graft.partitions.PartitionKey.PartitionKey => Boolean = _.get("i").contains(IntField(2))
    assert(rows(live.readWhere(spark, b, "notes")(onlyTwo)) === rows(re.readWhere(spark, b2, "notes")(onlyTwo)))
    assert(rows(live.readWhere(spark, b, "notes")(onlyTwo)).size === 1)
    // the build consumes the written partition
    assert(new LocalExecutor(b).build(spark, live).totalBuilt === 1)
    assert(live.readScalar[Double](spark, b, "total") === 3.0)
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
