package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The schema `spark.read.parquet(paths)` would infer, resolved on the
  * driver from ONE footer. Without a schema, Spark's non-merging parquet
  * inference still reads its single footer inside a Spark job — a job
  * round trip per read, which dominates small incremental rebuilds.
  *
  * Mirrors that inference step for step: the same file listing
  * ([[InMemoryFileIndex]], so hidden files, `k=v` discovery and root-file
  * rules match), the same choice of file (`_common_metadata`, else
  * `_metadata`, else the first data file by path), and the same conversion
  * (`ParquetFileFormat.readSchemaFromFooter` with a converter built from
  * the session conf, so `nanosAsLong`, NTZ inference and binary-as-string
  * apply), with every field nullable as the file source reports it.
  * Partition columns are not part of the result: Spark still
  * discovers them from the paths when the returned data schema is passed
  * to the reader.
  *
  * Returns None — leave inference to Spark — when schema merging is on,
  * when a path is a glob, and whenever there is no footer to read or it
  * cannot be read: missing and empty paths then fail with Spark's own
  * errors, exactly as an unresolved read would. */
object ParquetFooterSchema {

  private val globChars = "{}[]*?\\".toSet

  def infer(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || paths.isEmpty || paths.exists(_.exists(globChars)))
      return None
    try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val roots = paths.map { p =>
        val path = new Path(p)
        path.getFileSystem(hadoopConf).makeQualified(path)
      }
      val files = new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles()
        .sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val isSummary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !isSummary(f.getPath.getName)))
        .map { status =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(status, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          asNullable(ParquetFileFormat.readSchemaFromFooter(
            new Footer(status.getPath, footer), new ParquetToSparkSchemaConverter(conf)))
        }
    } catch {
      case NonFatal(_) => None
    }
  }

  /** A file source relation reads every field as nullable (Spark's own
    * `asNullable`, which is not public API). */
  private def asNullable(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => asNullable(s)
    case ArrayType(e, _) => ArrayType(nullableType(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case other => other
  }
}
