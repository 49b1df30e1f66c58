package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.LocalExecutor
import graft.graph.{Artifact, Graph, MemoryBackend, Producer, Statistics}
import graft.io.{Format, IO, JavaSerFormat}
import graft.storage.{FileStorage, PathTemplate, StoragePartition}
import graft.tools.Harness
import graft.types.ArtiType._

/** The executor records a built partition's statistics from the staging
  * write itself (observed, not re-profiled). What it records must equal
  * `Statistics.profile` of the bytes it published, for every output format
  * — including nulls, an empty output and an output written by several
  * tasks. */
class ObservedStatisticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session("observed-statistics-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  private val rowType = AStruct("r", Seq("id" -> AInt64(), "s" -> AString(nullable = true),
    "x" -> AFloat64(nullable = true), "d" -> ADate()))

  /** 60 rows in 4 input files: every third `s` and every fifth `x` null;
    * values chosen to survive a text-format round trip exactly. */
  private def writeInput(dir: String): Unit =
    spark.range(0, 60, 1, 4).select(
      col("id"),
      when(col("id") % 3 === 0, lit(null)).otherwise(concat(lit("v"), (col("id") % 7).cast("string"))).as("s"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 0.5).as("x"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 11).cast("int")).as("d"))
      .write.parquet(dir)

  /** Builds one producer over `base/in` with a 3-task output and an empty
    * output in `format`; returns (output key -> (storage, schema), backend). */
  private def build(format: Format, base: String, computeStatistics: Boolean)
      : (Map[String, (FileStorage, StructType)], MemoryBackend) = {
    def storage(k: String) =
      FileStorage(PathTemplate(s"$base/$k/{input_fingerprint}${format.extension}", Map.empty))
    val in = Artifact(ACollection("in", rowType), Format.Parquet, FileStorage(PathTemplate(s"$base/in", Map.empty)))
    var schemas = Map.empty[String, StructType]
    val producer = Producer("p",
      build = (_, ins) => {
        val outs = Seq(ins.head.repartition(3), ins.head.filter(lit(false)))
        schemas = Map("many" -> outs(0).schema, "empty" -> outs(1).schema)
        outs
      },
      computeStatistics = computeStatistics)
    val g = new Graph("obs").add("in", in)
      .add("many", Artifact(ACollection("many", rowType), format, storage("many")))
      .add("empty", Artifact(ACollection("empty", rowType), format, storage("empty")))
      .produce(producer, Seq("in"), Seq("many", "empty")).close()
    val backend = new MemoryBackend
    val report = new LocalExecutor(backend).build(spark, g.snapshot(spark, backend))
    assert(report.totalBuilt === 1)
    (Seq("many", "empty").map(k => k -> (storage(k), schemas(k))).toMap, backend)
  }

  private def published(format: Format, st: FileStorage, schema: StructType, path: String): DataFrame =
    IO.read(spark, format, st, Seq(StoragePartition(path, Map.empty)), Some(schema))

  for (format <- Seq(Format.Parquet, Format.Orc, Format.Json, Format.Csv, JavaSerFormat.register()))
    test(s"observed statistics equal the profile of the published bytes: ${format.name}") {
      val base = Files.createTempDirectory(s"graft-obs-${format.name}").toString
      writeInput(s"$base/in")
      val (outs, backend) = build(format, base, computeStatistics = true)
      for ((k, (st, schema)) <- outs) {
        val recorded = backend.readStatistics(s"obs/$k")
        assert(recorded.size === 1, k)
        val (path, stats) = recorded.head
        val bytes = published(format, st, schema, path)
        assert(stats === Statistics.profile(bytes), s"$k (${format.name})")
        assert(stats("__rows") === (if (k == "empty") "0" else "60"), k)
        if (k == "many") {
          assert(stats("s__count") === "40" && stats("x__count") === "48", "nulls are not counted")
          assert(format.extension == ".ser" || bytes.inputFiles.length >= 3, "written by several tasks")
        }
      }
    }

  test("observed statistics add no job to a build") {
    def jobs(stats: Boolean): Int = {
      val base = Files.createTempDirectory("graft-obs-jobs").toString
      writeInput(s"$base/in")
      JobCounter.jobsOf(spark.sparkContext) {
        val (_, backend) = build(Format.Parquet, base, computeStatistics = stats)
        assert(backend.readStatistics("obs/many").nonEmpty === stats)
      }
    }
    assert(jobs(stats = true) === jobs(stats = false))
  }
}
