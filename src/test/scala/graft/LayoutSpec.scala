package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Format, IO}
import graft.partitions.PartitionField.IntField
import graft.storage.{FileStorage, PathTemplate}
import graft.tools.Harness

/** Storage-layout interop and co-location: the native Hive `k=v` fast path
  * round-trips through the engine's template parser with partition pruning,
  * and bucketed tables join without a shuffle — the two layout tools that
  * matter at 100 TB. */
class LayoutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val wh = Files.createTempDirectory("graft-wh").toString

  private lazy val spark: SparkSession = Harness.session("layout-spec", Seq(
    "spark.master=local[4]",
    "spark.sql.shuffle.partitions=4",
    s"spark.sql.warehouse.dir=$wh",
    "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  test("native k=v bulk write round-trips through the template parser, scans prune") {
    val base = Files.createTempDirectory("graft-hive").toString
    val df = spark.range(100).selectExpr("id", "cast(id % 4 as int) as y")
    IO.writePartitioned(df, Format.Parquet, s"$base/t", partitionBy = Seq("y"))

    // the engine's template parser reads the native layout back as typed keys
    val store = FileStorage(PathTemplate(s"$base/t/y={y}", Map("y" -> "int")))
    val parts = store.discoverPartitions(spark.sparkContext.hadoopConfiguration)
    assert(parts.map(_.key).toSet === (0 to 3).map(i => Map("y" -> IntField(i))).toSet)

    // a filter on the partition column prunes at the source
    val read = spark.read.parquet(s"$base/t").filter(col("y") === 2)
    assert(read.count() === 25)
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(y"), scan)
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    val n = 10000
    spark.range(n).selectExpr("id as k", "id * 2 as a")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bl")
    spark.range(n).selectExpr("id as k", "id * 3 as b")
      .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("br")
    val joined = spark.table("bl").join(spark.table("br"), "k")
      .filter(col("a") + col("b") >= 0)
    // disable auto-broadcast so the co-location (not a broadcast) removes
    // the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(joined.count() === n)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("cluster_by Collections write through the executor as bucketed tables; snapshot reads join with zero exchanges") {
    import graft.exec.LocalExecutor
    import graft.graph.{Artifact, Graph, MemoryBackend, Producer}
    import graft.types.ArtiType._

    val base = Files.createTempDirectory("graft-cluster").toString
    spark.range(5000).selectExpr("id as k", "id * 2 as v").write.parquet(s"$base/raw")

    val rawT = ACollection("raw", AStruct("r", Seq("k" -> AInt64(), "v" -> AInt64())))
    def clustered(name: String) = Artifact(
      ACollection(name, AStruct(name, Seq("k" -> AInt64(), "agg" -> AInt64())), clusterBy = Seq("k")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/$name/{input_fingerprint}", Map.empty)))
    val raw = Artifact(rawT, Format.Parquet, FileStorage(PathTemplate(s"$base/raw", Map.empty)))
    val left = clustered("cleft")
    val right = clustered("cright")

    val g = new Graph("cb")
      .add("raw", raw).add("cleft", left).add("cright", right)
      .produce(Producer("pl", build = (_, ins) => Seq(ins.head.groupBy(col("k")).agg(sum(col("v")).as("agg")))),
        Seq("raw"), Seq("cleft"))
      .produce(Producer("pr", build = (_, ins) => Seq(ins.head.groupBy(col("k")).agg(max(col("v")).as("agg")))),
        Seq("raw"), Seq("cright"))
      .close()
    val backend = new MemoryBackend
    val snap = g.snapshot(spark, backend)
    new LocalExecutor(backend).build(spark, snap)

    val l = snap.read(spark, backend, "cleft")
    val r = snap.read(spark, backend, "cright")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = l.join(r.withColumnRenamed("agg", "agg2"), "k")
      assert(joined.count() === 5000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"clustered artifacts should co-locate the join:\n$plan")
      assert(plan.contains("SelectedBucketsCount") || plan.toLowerCase.contains("bucket"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bucketed outputs still validate BEFORE the write (no staging path exists for them)") {
    import graft.exec.LocalExecutor
    import graft.graph.{Artifact, Graph, MemoryBackend, Producer}
    import graft.types.ArtiType._

    val base = Files.createTempDirectory("graft-cluster-gate").toString
    spark.range(100).selectExpr("id as k", "id * 2 as v").write.parquet(s"$base/raw")
    val raw = Artifact(ACollection("raw", AStruct("r", Seq("k" -> AInt64(), "v" -> AInt64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/raw", Map.empty)))
    val out = Artifact(
      ACollection("cout", AStruct("cout", Seq("k" -> AInt64(), "agg" -> AInt64())), clusterBy = Seq("k")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/cout/{input_fingerprint}", Map.empty)))
    val g = new Graph("cbgate").add("raw", raw).add("cout", out)
      .produce(Producer("p",
        build = (_, ins) => Seq(ins.head.groupBy(col("k")).agg(sum(col("v")).as("agg"))),
        validateOutputs = _ => Left("rejected")), Seq("raw"), Seq("cout"))
      .close()
    val backend = new MemoryBackend
    intercept[IllegalStateException] {
      new LocalExecutor(backend).build(spark, g.snapshot(spark, backend))
    }
    // the failing gate ran BEFORE the bucketed write: nothing landed
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/cout")))
  }

  test("bucketed outputs: a failing THRESHOLD also gates BEFORE the write (no bytes, no table)") {
    import graft.exec.LocalExecutor
    import graft.graph.{Artifact, Graph, MemoryBackend, Producer, Statistics}
    import graft.types.ArtiType._

    val base = Files.createTempDirectory("graft-cluster-thresh").toString
    spark.range(100).selectExpr("id as k", "id * 2 as v").write.parquet(s"$base/raw")
    val raw = Artifact(ACollection("raw", AStruct("r", Seq("k" -> AInt64(), "v" -> AInt64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/raw", Map.empty)))
    val out = Artifact(
      ACollection("cout2", AStruct("cout2", Seq("k" -> AInt64(), "agg" -> AInt64())), clusterBy = Seq("k")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/cout2/{input_fingerprint}", Map.empty)))
    val g = new Graph("cbthresh").add("raw", raw).add("cout2", out)
      .produce(Producer("p",
        build = (_, ins) => Seq(ins.head.groupBy(col("k")).agg(sum(col("v")).as("agg"))),
        thresholds = Seq(Statistics.Threshold.MinRows(1000000))), Seq("raw"), Seq("cout2"))
      .close()
    val backend = new MemoryBackend
    val err = intercept[IllegalStateException] {
      new LocalExecutor(backend).build(spark, g.snapshot(spark, backend))
    }
    assert(err.getMessage.contains("rows"))
    // the threshold gate ran BEFORE the bucketed write: no bytes at the
    // final path and no catalog table registered
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/cout2")))
    assert(!spark.catalog.tableExists(IO.bucketTableName("cbthresh", "cout2")))
  }

  test("mixed bucketed+plain producers audit the plain output's STAGED bytes post-write") {
    import graft.exec.LocalExecutor
    import graft.graph.{Artifact, Graph, MemoryBackend, Producer}
    import graft.types.ArtiType._

    val base = Files.createTempDirectory("graft-cluster-mixed").toString
    spark.range(100).selectExpr("id as k", "id * 2 as v").write.parquet(s"$base/raw")
    val raw = Artifact(ACollection("raw", AStruct("r", Seq("k" -> AInt64(), "v" -> AInt64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/raw", Map.empty)))
    val bucketed = Artifact(
      ACollection("mb", AStruct("mb", Seq("k" -> AInt64(), "agg" -> AInt64())), clusterBy = Seq("k")),
      Format.Parquet, FileStorage(PathTemplate(s"$base/mb/{input_fingerprint}", Map.empty)))
    val plain = Artifact(
      ACollection("mp", AStruct("mp", Seq("k" -> AInt64(), "agg" -> AInt64()))),
      Format.Parquet, FileStorage(PathTemplate(s"$base/mp/{input_fingerprint}", Map.empty)))

    // the validator runs twice for a mixed producer: once pre-write on the
    // plans (guards the bucketed write), once post-write where the PLAIN
    // output must be a materialized staged scan, not the producer plan
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    var sawStagedScan = false
    val g = new Graph("cbmixed").add("raw", raw).add("mb", bucketed).add("mp", plain)
      .produce(Producer("p",
        build = (_, ins) => Seq(
          ins.head.groupBy(col("k")).agg(sum(col("v")).as("agg")),
          ins.head.groupBy(col("k")).agg(max(col("v")).as("agg"))),
        validateOutputs = outs => {
          if (calls.incrementAndGet() == 2) {
            sawStagedScan = outs(1).inputFiles.exists(_.contains("__staging"))
            assert(outs(1).count() === 100)
          }
          Right(())
        }), Seq("raw"), Seq("mb", "mp"))
      .close()
    val backend = new MemoryBackend
    new LocalExecutor(backend).build(spark, g.snapshot(spark, backend))
    assert(calls.get() === 2, "mixed producers must gate pre-write AND audit post-write")
    assert(sawStagedScan, "the post-write audit must scan the plain output's staging path")
  }
}
