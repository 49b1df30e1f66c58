package graft

import java.nio.file.Files

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Format, IO, ParquetFooterSchema}
import graft.tools.Harness

/** The driver-side parquet schema must be exactly what Spark's own
  * (job-based) inference returns, on every input shape the engine reads,
  * and must leave the error of an unreadable path to Spark. */
class ParquetFooterSchemaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = Harness.session("parquet-footer-schema-spec",
    Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-footer").toString

  /** Both the resolved schema and the frame read with it match Spark's
    * inferred read; `partitionCols` are discovered from the paths, so they
    * are in the read but not in the footer. */
  private def assertSameAsSpark(paths: Seq[String], partitionCols: Set[String] = Set.empty): Unit = {
    val expected = spark.read.parquet(paths: _*).schema
    assert(ParquetFooterSchema.infer(spark, paths) ===
      Some(org.apache.spark.sql.types.StructType(expected.filterNot(f => partitionCols(f.name)))), paths)
    assert(IO.readParquet(spark, paths: _*).schema === expected, paths)
  }

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def sampleFrame: DataFrame =
    spark.range(0, 40, 1, 4).select(
      col("id"),
      when(col("id") % 3 === 0, lit(null)).otherwise(concat(lit("s"), col("id"))).as("s"),
      (col("id") / 7).as("d"),
      col("id").cast("decimal(18,2)").as("dec"),
      timestamp_micros(col("id") * 1000003L).as("ts"),
      expr("cast(timestamp_micros(id) as timestamp_ntz)").as("ntz"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), lit("x").as("b")).as("st"))

  test("Spark-written artifact partitions: one partition and a multi-path read") {
    val base = tmp()
    sampleFrame.filter(col("id") < 20).write.parquet(s"$base/p=1")
    sampleFrame.filter(col("id") >= 20).coalesce(1).write.parquet(s"$base/p=2")
    assertSameAsSpark(Seq(s"$base/p=1"))
    assertSameAsSpark(Seq(s"$base/p=1", s"$base/p=2"))
  }

  test("the pyarrow-written testdata tables (NTZ timestamps)") {
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region",
        "documents", "embeddings"))
      assertSameAsSpark(Seq(s"$sf/$t.parquet"))
  }

  test("events.parquet under nanosAsLong, and through Tables") {
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertSameAsSpark(Seq(s"$sf/events.parquet"))
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assertSameAsSpark(Seq(s"$sf/events.parquet"))
    }
    val viaTables = graft.operators.Tables(spark, sf, "events")
    assert(viaTables.schema("ts").dataType === org.apache.spark.sql.types.TimestampNTZType)
    assert(viaTables.count() === spark.read.parquet(s"$sf/events.parquet").count())
  }

  test("an IO.writePartitioned k=v layout keeps its discovered partition columns") {
    val base = tmp()
    IO.writePartitioned(sampleFrame.withColumn("k", (col("id") % 3).cast("int")),
      Format.Parquet, s"$base/t", partitionBy = Seq("k"))
    assertSameAsSpark(Seq(s"$base/t"), partitionCols = Set("k"))
    assertSameAsSpark(Seq(s"$base/t/k=0", s"$base/t/k=2"))
  }

  test("a summary file is preferred, as in Spark's inference") {
    val base = tmp()
    sampleFrame.write.option("parquet.summary.metadata.level", "ALL").parquet(s"$base/t")
    assert(Files.exists(java.nio.file.Paths.get(base, "t", "_common_metadata")))
    assertSameAsSpark(Seq(s"$base/t"))
  }

  test("a resolved read runs no Spark job; Spark's own inference runs one") {
    val base = tmp()
    sampleFrame.write.parquet(s"$base/t")
    assert(JobCounter.jobsOf(spark.sparkContext)(spark.read.parquet(s"$base/t")) >= 1)
    assert(JobCounter.jobsOf(spark.sparkContext)(IO.readParquet(spark, s"$base/t")) === 0)
  }

  test("schema merging is left to Spark") {
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(ParquetFooterSchema.infer(spark, Seq(s"$sf/orders.parquet")) === None)
    }
  }

  test("a missing or empty path fails with the same error as Spark's inferred read") {
    val missing = s"${tmp()}/nope"
    val empty = tmp()
    for (p <- Seq(missing, empty)) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](IO.readParquet(spark, p))
      assert(got.getClass === want.getClass, p)
      val cond = (e: Exception) => e match { case t: SparkThrowable => t.getCondition; case _ => null }
      assert(cond(got) === cond(want), p)
      assert(cond(got) != null, s"$p: expected a Spark error condition, got $got")
    }
  }
}
