package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import java.security.MessageDigest
import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.fingerprints.Fingerprint
import graft.partitions.PartitionKey.PartitionKey

/** One discovered/generated partition of an artifact's storage
  * (reference: src/arti/storage/__init__.py:24-59). `inputFingerprint` is
  * the producer-side id that built it (identity for raw data);
  * `contentFingerprint` is filled by `snapshot()`-time hashing. */
final case class StoragePartition(
    path: String,
    key: PartitionKey,
    inputFingerprint: Fingerprint = Fingerprint.identity,
    contentFingerprint: Option[Fingerprint] = None)

/** Storage backends resolve partitions. Hadoop's FileSystem API is the
  * unifying layer (file://, hdfs://, s3a://, gs:// all behave alike), which
  * is how one implementation covers the reference's LocalFile + GCS pair
  * (reference: src/arti/storage/local.py:30-63,
  * src/arti/storage/google/cloud/storage.py:36-57). */
// open for extension: a new backend is a Storage subclass plus IO.register
// entries for its formats (F23); the built-ins stay exhaustive below
trait Storage {
  /** List existing partitions (raw-data discovery, reference F20/F21). */
  def discoverPartitions(conf: Configuration): Seq[StoragePartition]
  /** Render the concrete partition path for a key + input fingerprint
    * (reference F27, storage/__init__.py:179-222). */
  def generatePartition(key: PartitionKey, inputFingerprint: Fingerprint): StoragePartition
  /** Hash partition content for snapshotting (reference F22: sha256 of the
    * bytes → farmhash of the hex digest, storage/local.py:22-27). Driver-side
    * single-partition path; `contentFingerprints` is the batched,
    * cluster-capable entry point every engine call site uses. */
  def contentFingerprint(p: StoragePartition, conf: Configuration): Fingerprint

  /** Batched content hashing. Default: driver-side loop (fine for literals
    * and tiny metadata); FileStorage overrides with cluster-side hashing so
    * `snapshot()` over a 100 TB corpus issues Spark jobs instead of
    * streaming every byte through one driver thread. */
  def contentFingerprints(spark: SparkSession, parts: Seq[StoragePartition]): Seq[Fingerprint] =
    parts.map(p => contentFingerprint(p, spark.sparkContext.hadoopConfiguration))
}

/** F22 content-addressing, distributed. The partition fingerprint is the
  * XOR-combination (order-independent, see [[Fingerprint]]) of one
  * fingerprint per data file: farmhash64 of `"name|size|sha256hex"`. The
  * name+size component keeps two identical part-files from cancelling under
  * XOR; the scheme is identical on the driver path and the cluster path, so
  * small partitions (below [[ContentHash.DriverSideMaxBytes]], where a Spark
  * job costs more than the streaming) hash inline and large ones hash in ONE
  * job, one task per file, with only (index, 8-byte hash) collected back.
  * Reference semantics preserved: content-addressing of the stored bytes
  * (src/arti/storage/local.py:22-27), not its single-process implementation. */
object ContentHash {

  /** Partitions whose total data size is at most this hash on the driver;
    * override per-session with `spark.conf.set("graft.hash.driverMaxBytes", n)`. */
  val DriverSideMaxBytes: Long = 32L * 1024 * 1024

  private[graft] def fileFp(name: String, size: Long, sha256Hex: String): Fingerprint =
    Fingerprint.fromString(s"$name|$size|$sha256Hex")

  private[graft] def sha256(fs: FileSystem, f: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = fs.open(f)
    try {
      val buf = new Array[Byte](256 * 1024)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Data files under a partition root — a driver-side METADATA listing only
    * (no bytes read), the same visibility rule as the hash itself. */
  private[graft] def dataFiles(fs: FileSystem, root: Path): Seq[(Path, Long)] = {
    val st = fs.getFileStatus(root)
    if (st.isDirectory)
      fs.listStatus(root).toSeq.filter(_.isFile)
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .map(s => s.getPath -> s.getLen)
    else Seq(root -> st.getLen)
  }

  /** Driver-side hashing threads: one pool per JVM, created on first use,
    * one daemon thread per core. A task hashes one file and never waits on
    * the pool, so concurrent callers (LocalExecutor's producers) share it
    * without deadlock. */
  private lazy val driverPool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors(), { (r: Runnable) =>
      val t = new Thread(r, s"graft-content-hash-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** `fileFp` of each file, aligned with `files`, read on the driver: one
    * pool task per file when there is more than one. */
  private def hashOnDriver(fsOf: Path => FileSystem, files: Seq[(Path, Long)]): Seq[Fingerprint] = {
    def one(f: Path, len: Long): Fingerprint = fileFp(f.getName, len, sha256(fsOf(f), f))
    if (files.size <= 1) files.map { case (f, len) => one(f, len) }
    else driverPool.invokeAll(files.map { case (f, len) => (() => one(f, len)): Callable[Fingerprint] }.asJava)
      .asScala.toSeq.map { fut =>
        try fut.get() catch { case e: ExecutionException => throw e.getCause }
      }
  }

  def partitionFingerprint(fs: FileSystem, root: Path): Fingerprint =
    Fingerprint.combineAll(hashOnDriver(_ => fs, dataFiles(fs, root)))

  /** Hash many partitions, returning fingerprints aligned with `parts`.
    * Small partitions stream on the driver, their files in parallel on the
    * driver pool; everything else becomes a single
    * Spark job whose tasks re-open the file via a rebuilt Hadoop conf
    * (Configuration is not serializable; its entries are broadcast). A
    * multi-file parquet partition parallelizes per part-file — the common
    * 100 TB shape; a single monolithic file is still one task. */
  def forPartitions(spark: SparkSession, parts: Seq[StoragePartition]): Seq[Fingerprint] = {
    if (parts.isEmpty) return Seq.empty
    val conf = spark.sparkContext.hadoopConfiguration
    val threshold = spark.conf.getOption("graft.hash.driverMaxBytes")
      .map(_.toLong).getOrElse(DriverSideMaxBytes)
    val listed: Seq[(Int, Seq[(Path, Long)])] = parts.zipWithIndex.map { case (p, i) =>
      val root = new Path(p.path)
      i -> dataFiles(root.getFileSystem(conf), root)
    }
    val (small, large) = listed.partition(_._2.map(_._2).sum <= threshold)
    val out = new Array[Fingerprint](parts.size)
    // every small partition's files hash in ONE parallel driver pass
    val smallFiles = small.flatMap { case (i, files) => files.map(i -> _) }
    val smallFps = hashOnDriver(_.getFileSystem(conf), smallFiles.map(_._2))
    small.foreach { case (i, _) => out(i) = Fingerprint.identity }
    smallFiles.zip(smallFps).foreach { case ((i, _), fp) => out(i) = out(i).combine(fp) }
    if (large.nonEmpty) {
      val confEntries = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toArray
      val bc = spark.sparkContext.broadcast(confEntries)
      val work = large.flatMap { case (i, files) =>
        files.map { case (f, len) => (i, f.toString, f.getName, len) }
      }
      val slices = math.max(1, math.min(work.size, spark.sparkContext.defaultParallelism * 4))
      val hashed = spark.sparkContext.parallelize(work, slices).map { case (i, pathStr, name, len) =>
        val c = new Configuration(false)
        bc.value.foreach { case (k, v) => c.set(k, v) }
        val p = new Path(pathStr)
        (i, fileFp(name, len, sha256(p.getFileSystem(c), p)).key)
      }.collect()
      bc.destroy()
      hashed.groupBy(_._1).foreach { case (i, fps) =>
        out(i) = Fingerprint(fps.map(_._2).foldLeft(0L)(_ ^ _))
      }
      // a "large" partition whose listing was empty still needs identity
      large.foreach { case (i, files) => if (files.isEmpty) out(i) = Fingerprint.identity }
    }
    out.toSeq
  }
}

/** File-based storage with an arbitrary path template. Works for both the
  * engine-native Hive layout (`k=v` directories, Catalyst prunes natively)
  * and reference-style templates like `{date.iso}.json`. */
final case class FileStorage(template: PathTemplate) extends Storage {

  def discoverPartitions(conf: Configuration): Seq[StoragePartition] = {
    val glob = new Path(template.wildcard)
    val fs = glob.getFileSystem(conf)
    val statuses = Option(fs.globStatus(glob)).getOrElse(Array.empty)
    // templates may carry a scheme (s3a://bucket/...); match the full URI
    // string first, then the scheme-less path (local templates like /data/…)
    statuses.toSeq.flatMap { st =>
      val candidates = Seq(st.getPath.toString, st.getPath.toUri.getPath).distinct
      candidates.iterator.flatMap { p =>
        template.parse(p).map { case (key, fp) =>
          StoragePartition(p, key, fp.getOrElse(Fingerprint.identity))
        }
      }.nextOption()
    }
  }

  def generatePartition(key: PartitionKey, inputFingerprint: Fingerprint): StoragePartition = {
    val extras =
      if (template.placeholders.exists(_._1 == "input_fingerprint"))
        Map("input_fingerprint" -> inputFingerprint.key.toString)
      else Map.empty[String, String]
    StoragePartition(template.render(key, extras), key, inputFingerprint)
  }

  def contentFingerprint(p: StoragePartition, conf: Configuration): Fingerprint = {
    val path = new Path(p.path)
    ContentHash.partitionFingerprint(path.getFileSystem(conf), path)
  }

  /** Cluster-side batched hashing (same value as the driver path). */
  override def contentFingerprints(spark: SparkSession, parts: Seq[StoragePartition]): Seq[Fingerprint] =
    ContentHash.forPartitions(spark, parts)
}

/** Inline literal storage (reference: src/arti/storage/literal.py:224-251):
  * a single unpartitioned value carried in the model itself. */
final case class LiteralStorage(json: String) extends Storage {
  def discoverPartitions(conf: Configuration): Seq[StoragePartition] =
    Seq(StoragePartition(s"literal://${Fingerprint.fromString(json).hex}", Map.empty))
  def generatePartition(key: PartitionKey, inputFingerprint: Fingerprint): StoragePartition =
    StoragePartition(s"literal://${Fingerprint.fromString(json).hex}", key, inputFingerprint)
  def contentFingerprint(p: StoragePartition, conf: Configuration): Fingerprint =
    Fingerprint.fromString(json)
}
