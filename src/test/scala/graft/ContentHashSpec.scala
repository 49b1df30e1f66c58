package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fingerprints.Fingerprint
import graft.storage.{ContentHash, FileStorage, PathTemplate, StoragePartition}
import graft.tools.Harness

/** F22 distributed content fingerprinting: the driver path and the
  * cluster path must produce the SAME fingerprint for the same bytes, and
  * large partitions must hash via Spark tasks rather than a driver loop
  * (reference semantics: src/arti/storage/local.py:22-27 — content
  * addressing of the stored bytes, not its single-process implementation). */
class ContentHashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var dir: Path = _

  override def beforeAll(): Unit = {
    spark = Harness.session("content-hash-spec",
      Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=4", "spark.log.level=ERROR"))
    dir = Files.createTempDirectory("graft-hash")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def writeParts(sub: String, nFiles: Int): String = {
    val root = dir.resolve(sub)
    Files.createDirectories(root)
    (0 until nFiles).foreach { i =>
      Files.write(root.resolve(f"part-$i%05d.bin"), s"payload-$sub-$i-${"x" * 1000}".getBytes)
    }
    // metadata files must be invisible to the hash
    Files.write(root.resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(root.resolve(".crc"), "junk".getBytes)
    root.toString
  }

  test("driver path and cluster path agree on the same bytes") {
    val path = writeParts("agree", 7)
    val storage = FileStorage(PathTemplate(path, Map.empty))
    val part = StoragePartition(path, Map.empty)
    val conf = spark.sparkContext.hadoopConfiguration

    val driverFp = storage.contentFingerprint(part, conf)
    spark.conf.set("graft.hash.driverMaxBytes", "0") // force the cluster job
    try {
      val clusterFp = storage.contentFingerprints(spark, Seq(part))
      assert(clusterFp === Seq(driverFp))
    } finally spark.conf.unset("graft.hash.driverMaxBytes")
  }

  test("batched hashing aligns fingerprints with the input partitions across both paths") {
    val pA = writeParts("a", 3)
    val pB = writeParts("b", 2)
    val storage = FileStorage(PathTemplate(pA, Map.empty))
    val parts = Seq(StoragePartition(pA, Map.empty), StoragePartition(pB, Map.empty))
    val conf = spark.sparkContext.hadoopConfiguration

    val small = storage.contentFingerprints(spark, parts) // below threshold → driver
    spark.conf.set("graft.hash.driverMaxBytes", "0")
    try {
      val large = storage.contentFingerprints(spark, parts) // forced cluster
      assert(small === large)
      assert(small.head !== small(1), "distinct content must yield distinct fingerprints")
      assert(small.head === storage.contentFingerprint(parts.head, conf))
    } finally spark.conf.unset("graft.hash.driverMaxBytes")
  }

  test("fingerprint is order-independent over part-files but sensitive to any file's bytes") {
    val path = writeParts("mutate", 4)
    val storage = FileStorage(PathTemplate(path, Map.empty))
    val part = StoragePartition(path, Map.empty)
    val conf = spark.sparkContext.hadoopConfiguration

    val before = storage.contentFingerprint(part, conf)
    Files.write(java.nio.file.Paths.get(path, "part-00002.bin"), "changed".getBytes)
    val after = storage.contentFingerprint(part, conf)
    assert(before !== after)
  }

  test("identical part-files do not cancel under XOR (name+size salt)") {
    val root = dir.resolve("twins")
    Files.createDirectories(root)
    Files.write(root.resolve("part-00000.bin"), "same".getBytes)
    Files.write(root.resolve("part-00001.bin"), "same".getBytes)
    val storage = FileStorage(PathTemplate(root.toString, Map.empty))
    val fp = storage.contentFingerprint(
      StoragePartition(root.toString, Map.empty), spark.sparkContext.hadoopConfiguration)
    assert(fp !== Fingerprint.identity)
  }

  test("snapshot-scale batch: many partitions, one job for the large ones") {
    val paths = (0 until 6).map(i => writeParts(s"many/$i", 2))
    val storage = FileStorage(PathTemplate(paths.head, Map.empty))
    val parts = paths.map(p => StoragePartition(p, Map.empty))
    spark.conf.set("graft.hash.driverMaxBytes", "0")
    try {
      val fps = ContentHash.forPartitions(spark, parts)
      assert(fps.size === parts.size)
      assert(fps.distinct.size === parts.size, "each partition's content differs")
    } finally spark.conf.unset("graft.hash.driverMaxBytes")
  }
}
