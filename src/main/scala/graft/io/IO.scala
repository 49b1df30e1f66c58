package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.storage.{LiteralStorage, StoragePartition, Storage, FileStorage}

/** Serialization formats (reference: src/arti/formats/json.py,
  * formats/pickle.py — pickle is Python-only; Parquet is the engine-native
  * columnar default since the testdata and any 100 TB deployment are
  * parquet). OPEN for extension: a new format is a `Format` subclass plus
  * an [[IO.register]] entry (F23). */
abstract class Format(val name: String, val extension: String)
object Format {
  case object Json    extends Format("json", ".json")
  case object Parquet extends Format("parquet", ".parquet")
  case object Csv     extends Format("csv", ".csv")
  case object Text    extends Format("text", ".txt")
  case object Binary  extends Format("binaryFile", ".bin")
  case object Orc     extends Format("orc", ".orc")
}

/** Multiple-dispatch IO registry (reference: src/arti/io/__init__.py:30-82 +
  * internal/dispatch.py): pick the reader/writer by (Format, Storage) at
  * runtime. In Spark the "view" leg collapses to DataFrame (a `Dataset[T]`
  * is `df.as[T]` at the call site), so the registry is keyed on the
  * remaining two. Registration-time checks = the partial functions below
  * refusing unknown combinations loudly.
  */
object IO {

  /** F23 extension seam: the multiple-dispatch registry of the reference
    * (io/__init__.py:30-82 `register_reader`/`register_writer` keyed on
    * (type, format, storage, view)) with Spark's (Format, Storage) pair as
    * the dispatch key. Registered entries are consulted BEFORE the
    * built-ins, so an extension can both add a new combination and
    * override an existing one. */
  final case class Registration(
      matches: (Format, Storage) => Boolean,
      reader: Option[(SparkSession, Format, Storage, Seq[StoragePartition], Option[StructType]) => DataFrame] = None,
      writer: Option[(DataFrame, Format, Storage, StoragePartition, Boolean) => Unit] = None)

  private val registrations = scala.collection.mutable.ListBuffer.empty[Registration]

  def register(r: Registration): Unit = this.synchronized { registrations += r }

  private def registered(format: Format, storage: Storage): Seq[Registration] =
    this.synchronized(registrations.filter(_.matches(format, storage)).toList)

  /** Formats known to registered entries — lets the model codec decode
    * artifacts of extension formats. */
  def registeredFormat(name: String): Option[Format] = this.synchronized {
    extraFormats.find(_.name == name)
  }
  private val extraFormats = scala.collection.mutable.ListBuffer.empty[Format]
  def registerFormat(f: Format): Format = this.synchronized { extraFormats += f; f }

  /** Capability checks for wiring-time validation (reference
    * io/__init__.py:30-82 refuses unregistered combinations at
    * registration, not first run). Keep in sync with read/write below. */
  def canRead(format: Format, storage: Storage): Boolean =
    registered(format, storage).exists(_.reader.isDefined) || (storage match {
      case _: LiteralStorage => true
      case _: FileStorage    => builtinFileFormat(format)
      case _                 => false
    })

  def canWrite(format: Format, storage: Storage): Boolean =
    registered(format, storage).exists(_.writer.isDefined) || builtinWritable(format, storage)

  /** True iff [[write]] takes the built-in path for this pair: one
    * Dataset write action over the frame, so an observation on the frame
    * (`Dataset.observe`) is fulfilled by the write itself. */
  def isBuiltinWrite(format: Format, storage: Storage): Boolean =
    !registered(format, storage).exists(_.writer.isDefined) && builtinWritable(format, storage)

  private def builtinWritable(format: Format, storage: Storage): Boolean = storage match {
    case _: LiteralStorage => false // literals are read-only
    // binaryFile is a read-only source
    case _: FileStorage    => builtinFileFormat(format) && format != Format.Binary
    case _                 => false
  }

  private def builtinFileFormat(f: Format): Boolean = f match {
    case Format.Json | Format.Parquet | Format.Csv | Format.Text | Format.Binary | Format.Orc => true
    case _ => false
  }

  /** Read a set of partitions as one DataFrame — the partition fan-in concat
    * of the reference's readers (io/json_localfile_python.py:24-38) is a
    * native multi-path scan here, and Catalyst prunes/pushes down into it. */
  def read(
      spark: SparkSession,
      format: Format,
      storage: Storage,
      partitions: Seq[StoragePartition],
      schema: Option[StructType] = None): DataFrame =
    registered(format, storage).flatMap(_.reader).headOption match {
      case Some(r) => r(spark, format, storage, partitions, schema)
      case None => (format, storage) match {
        case (_, LiteralStorage(json)) =>
          val ds = spark.createDataset(json :: Nil)(org.apache.spark.sql.Encoders.STRING)
          schema.map(s => spark.read.schema(s).json(ds)).getOrElse(spark.read.json(ds))
        case (f, _: FileStorage) if builtinFileFormat(f) =>
          require(partitions.nonEmpty, "no data: cannot read an artifact with no partitions")
          val paths = partitions.map(_.path)
          val reader = schema.map(spark.read.schema).getOrElse(spark.read)
          f match {
            case Format.Json    => reader.json(paths: _*)
            case Format.Parquet => if (schema.isEmpty) readParquet(spark, paths: _*) else reader.parquet(paths: _*)
            case Format.Csv     => reader.option("header", "true").csv(paths: _*)
            case Format.Text    => reader.text(paths: _*)
            case Format.Orc     => reader.orc(paths: _*)
            case Format.Binary  => reader.format("binaryFile").load(paths: _*)
          }
        case other => throw new IllegalArgumentException(s"no reader registered for $other")
      }
    }

  /** `spark.read.parquet(paths)` with the schema resolved on the driver
    * from one footer ([[ParquetFooterSchema]]) instead of inside a Spark
    * job; the same schema, one job fewer per read. */
  def readParquet(spark: SparkSession, paths: String*): DataFrame =
    ParquetFooterSchema.infer(spark, paths).fold(spark.read)(spark.read.schema).parquet(paths: _*)

  /** Bulk write of a whole partitioned Collection in the engine-native Hive
    * layout (`k=v` directories): one distributed write for every partition
    * at once — the fast path when a producer emits all partitions together.
    * Catalyst prunes these directories natively on read, and the engine's
    * `PathTemplate("…/k={k}")` parses them right back into typed partition
    * keys, so template-addressed and native-layout artifacts interoperate.
    * `clusterBy` maps to sortWithinPartitions (the Collection.cluster_by
    * analog, SURVEY §1.4). */
  def writePartitioned(
      df: org.apache.spark.sql.DataFrame,
      format: Format,
      basePath: String,
      partitionBy: Seq[String],
      clusterBy: Seq[String] = Nil,
      overwrite: Boolean = false): Unit = {
    val sorted = if (clusterBy.nonEmpty) df.sortWithinPartitions(clusterBy.map(df.col): _*) else df
    val w = sorted.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .partitionBy(partitionBy: _*)
    format match {
      case Format.Json    => w.json(basePath)
      case Format.Parquet => w.parquet(basePath)
      case Format.Csv     => w.option("header", "true").csv(basePath)
      case Format.Orc     => w.orc(basePath)
      case other          => throw new IllegalArgumentException(s"$other does not support partitioned writes")
    }
  }

  /** cluster_by → bucketBy (SURVEY §1.4): Spark only persists bucket
    * metadata through the catalog, so clustered artifacts write as EXTERNAL
    * bucketed tables at the partition's own path. Within the session (or
    * any deployment with a durable metastore) reads resolve the table and
    * bucketed joins on the cluster key need no Exchange; a fresh session
    * without the catalog reads the same files as plain parquet — correct,
    * just unbucketed. */
  def bucketTableName(graphName: String, artifactKey: String): String =
    s"graft_${graphName}_${artifactKey}".replaceAll("[^a-zA-Z0-9_]", "_").toLowerCase

  /** Buckets per clustered artifact; sized for "one bucket ≈ one executor
    * core's worth of work" at deployment scale via session conf. */
  def numBuckets(spark: SparkSession): Int =
    spark.conf.getOption("graft.write.buckets").map(_.toInt).getOrElse(8)

  def writeBucketed(
      df: DataFrame,
      format: Format,
      path: String,
      clusterBy: Seq[String],
      table: String,
      overwrite: Boolean = false): Unit = {
    require(format == Format.Parquet, s"bucketed writes are parquet-only, got $format")
    require(clusterBy.nonEmpty, "bucketed write requires cluster columns")
    val spark = df.sparkSession
    // saveAsTable(Overwrite) on a changed location can leave a stale
    // definition; drop explicitly for a clean replace of the EXTERNAL def
    if (overwrite) spark.sql(s"DROP TABLE IF EXISTS $table")
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists)
      .option("path", path)
      .bucketBy(numBuckets(spark), clusterBy.head, clusterBy.tail: _*)
      .sortBy(clusterBy.head, clusterBy.tail: _*)
      .saveAsTable(table)
  }

  /** The catalog-table read leg of [[writeBucketed]]: Some(df) iff the
    * table exists AND still points at this partition's path (a stale table
    * from a previous fingerprint must not shadow the rebuilt data). */
  def readBucketTable(spark: SparkSession, table: String, path: String): Option[DataFrame] =
    if (!spark.catalog.tableExists(table)) None
    else {
      val loc = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .location.getPath
      val want = new java.net.URI(path).getPath match { case null => path; case p => p }
      if (loc == want || loc == want.stripSuffix("/")) Some(spark.table(table)) else None
    }

  /** Write one partition (reference F25). Mode is errorifexists by default —
    * the reference forbids silent overwrite (io/json_stringliteral_python.py:88-100);
    * the executor overwrites only when rebuilding a changed partition. */
  def write(
      df: DataFrame,
      format: Format,
      storage: Storage,
      partition: StoragePartition,
      overwrite: Boolean = false): Unit =
    registered(format, storage).flatMap(_.writer).headOption match {
      case Some(w) => w(df, format, storage, partition, overwrite)
      case None => (format, storage) match {
        case (f, _: FileStorage) if builtinFileFormat(f) =>
          val mode = if (overwrite) SaveMode.Overwrite else SaveMode.ErrorIfExists
          val w = df.write.mode(mode)
          f match {
            case Format.Json    => w.json(partition.path)
            case Format.Parquet => w.parquet(partition.path)
            case Format.Csv     => w.option("header", "true").csv(partition.path)
            case Format.Text    => w.text(partition.path)
            case Format.Orc     => w.orc(partition.path)
            case Format.Binary  => throw new IllegalArgumentException("binaryFile is read-only")
          }
        case (_, _: LiteralStorage) =>
          throw new IllegalArgumentException("literal storage is read-only (reference forbids overwrite)")
        case other => throw new IllegalArgumentException(s"no writer registered for $other")
      }
    }
}
