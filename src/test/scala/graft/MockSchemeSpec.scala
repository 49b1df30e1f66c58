package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.graph.{Artifact, Graph, MemoryBackend, Producer, RehydratedSnapshot}
import graft.io.Format
import graft.storage.{FileStorage, MockFileSystem, PathTemplate}
import graft.tools.Harness
import graft.types.ArtiType._

/** F21 — the storage seam proven on a non-file scheme: q13's spend graph
  * (raw orders → per-day spend → scalar total) runs ENTIRELY over
  * `mock://` paths — fixture write, partition discovery, producer builds
  * with write-audit-publish staging, content fingerprints, snapshot tag,
  * and tag rehydration in a backend-only read. */
class MockSchemeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: JPath = _

  override def beforeAll(): Unit = {
    // the scheme registration — exactly how a real deployment mounts
    // s3a/gs: a hadoop conf key naming the FileSystem impl
    spark = Harness.session("mock-scheme-spec", Seq(
      "spark.master=local[4]",
      "spark.sql.shuffle.partitions=4",
      s"spark.hadoop.fs.mock.impl=${classOf[MockFileSystem].getName}",
      "spark.log.level=ERROR"))
    dir = Files.createTempDirectory("graft-mock")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q13's graph end-to-end over mock:// (discover, build, WAP, rehydrate)") {
    val base = s"mock:$dir"

    // fixture: 5 orders over 2 days, total 42.0 — written THROUGH the
    // mock scheme, one file per day so discovery sees two partitions
    val rows = Seq(
      ("2024-01-01", 10.0), ("2024-01-01", 2.5), ("2024-01-01", 3.5),
      ("2024-01-02", 20.0), ("2024-01-02", 6.0))
    val df = spark.createDataFrame(rows).toDF("day", "amount")
      .select(col("day").cast(DateType).as("day"), col("amount"))
    for (d <- Seq("2024-01-01", "2024-01-02"))
      df.filter(col("day") === lit(d)).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/raw/day=$d")

    val rawType = ACollection("orders",
      AStruct("order", Seq("day" -> ADate(), "amount" -> AFloat64())),
      partitionBy = Seq("day"))
    val raw = Artifact(rawType, Format.Parquet,
      FileStorage(PathTemplate(s"$base/raw/day={day}", Map("day" -> "date"))))
    val daily = Artifact(
      ACollection("daily", AStruct("d", Seq("day" -> ADate(), "spend" -> AFloat64())),
        partitionBy = Seq("day")),
      Format.Parquet,
      FileStorage(PathTemplate(s"$base/daily/day={day}/{input_fingerprint}", Map("day" -> "date"))))
    val total = Artifact(AFloat64(), Format.Parquet,
      FileStorage(PathTemplate(s"$base/total/{input_fingerprint}", Map.empty)))

    val dailyAgg = Producer("daily_spend",
      build = (_, ins) => Seq(
        ins.head.groupBy(col("day")).agg(sum(col("amount")).as("spend")).coalesce(1)),
      map = Producer.mapByKey)
    val totalAgg = Producer("total_spend", build = (_, ins) => Seq(
      ins.head.agg(sum(col("spend")).as("total")).coalesce(1)))

    val g = new Graph("mock-spend")
      .add("orders", raw).add("daily", daily).add("total", total)
      .produce(dailyAgg, Seq("orders"), Seq("daily"))
      .produce(totalAgg, Seq("daily"), Seq("total"))
      .close()

    // discovery went through the mock glob and kept the scheme
    val conf = spark.sparkContext.hadoopConfiguration
    val discovered = raw.storage.discoverPartitions(conf)
    assert(discovered.size === 2)
    assert(discovered.forall(_.path.startsWith("mock:")), s"scheme lost: ${discovered.map(_.path)}")

    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    val report = new LocalExecutor(backend).build(spark, snap)
    assert(report.totalBuilt === 3) // 2 daily partitions + 1 total

    // scalar read back through the registry view, over mock://
    assert(snap.readScalar[Double](spark, backend, "total") === 42.0)

    // WAP left no staging behind on the mock filesystem
    val fs = new Path(s"$base/daily").getFileSystem(conf)
    def noStaging(p: Path): Unit = {
      // recursive listStatus (listFiles' LocatedFileStatus path loads
      // permissions via new File(uri), which rejects non-file schemes)
      assert(!p.toString.contains("__staging"), s"staging residue: $p")
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).foreach(s => noStaging(s.getPath))
    }
    noStaging(new Path(s"$base/daily"))
    noStaging(new Path(s"$base/total"))

    // memoization still works across the scheme: second build skips all
    val report2 = new LocalExecutor(backend).build(spark, g.snapshot(spark, backend))
    assert(report2.totalBuilt === 0 && report2.totalSkipped === 3)

    // tag + rehydrate: a backend-metadata-only read serves mock:// paths
    snap.tag(backend, "v1")
    val re = RehydratedSnapshot.fromTag(backend, "mock-spend", "v1")
    val total2 = re.read(spark, backend, "total").head().getDouble(0)
    assert(total2 === 42.0)
    val dailyRows = re.read(spark, backend, "daily").collect()
    assert(dailyRows.map(_.getAs[Double]("spend")).sorted === Array(16.0, 26.0))
  }

  test("partition-pruned reads stay pruned on the mock scheme") {
    // reuse the built graph state by rebuilding quickly on a fresh dir
    val base = s"mock:$dir/pruned"
    val df = spark.createDataFrame(Seq(("2024-02-01", 1.0), ("2024-02-02", 2.0)))
      .toDF("day", "amount")
      .select(col("day").cast(DateType).as("day"), col("amount"))
    for (d <- Seq("2024-02-01", "2024-02-02"))
      df.filter(col("day") === lit(d)).coalesce(1)
        .write.mode("overwrite").parquet(s"$base/raw/day=$d")
    val raw = Artifact(
      ACollection("orders", AStruct("o", Seq("day" -> ADate(), "amount" -> AFloat64())),
        partitionBy = Seq("day")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/raw/day={day}", Map("day" -> "date"))))
    val g = new Graph("mock-pruned").add("orders", raw).close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    import graft.partitions.PartitionField.DateField
    val feb2 = DateField(java.time.LocalDate.of(2024, 2, 2))
    val pruned = snap.readWhere(spark, backend, "orders")(_.get("day").contains(feb2))
    assert(pruned.collect().map(_.getAs[Double]("amount")).toSeq === Seq(2.0))
  }
}
