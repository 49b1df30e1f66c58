package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.IO

/** Loaders for the driver testdata (TESTDATA.md / FIXTURES.md §A).
  *
  * All timestamps in the parquet files are written with
  * `isAdjustedToUTC=false` (naive wall-clock): Spark 4 reads the ms-precision
  * ones (`lineitem.l_shipdate`, `orders.o_orderdate`) as `TIMESTAMP_NTZ`
  * natively. `events.ts` is **nanosecond** precision, which Spark's own
  * timestamp types cannot hold, and the read behavior is RUNTIME-DEPENDENT:
  * older 4.x honors `spark.sql.legacy.parquet.nanosAsLong` (column surfaces
  * as ns-since-epoch `LongType`), newer point releases read TIMESTAMP(NANOS,
  * adjusted=false) natively as a µs-truncated `TIMESTAMP_NTZ` and ignore the
  * legacy conf. Both truncations floor positive epochs identically, so the
  * two paths are value-identical at µs — the oracle protocol's comparison
  * precision (BASELINE.md "timestamps compared at µs"). We therefore inspect
  * the schema the reader actually produced and convert only when needed,
  * instead of trusting any conf.
  */
object Tables {
  /** The events file, read with `nanosAsLong` on. The pinned Spark 4.1.2
    * rejects an INT64 TIMESTAMP(NANOS, adjusted=false) column without it
    * (PARQUET_TYPE_ILLEGAL), both at schema resolution and in the scan
    * tasks, which take the conf from the session when the query executes.
    * So the setting must outlive this call: it is the one session conf a
    * registry query sets, and µs-precision files read the same either way. */
  private def eventsParquet(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    IO.readParquet(spark, s"$dir/events.parquet")
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      val raw = eventsParquet(spark, dir)
      raw.schema("ts").dataType match {
        // ns-long division truncates to µs (double division would lose
        // precision — epoch nanos ~1.7e18 exceed 2^53)
        case LongType => raw.withColumn("ts",
          expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case TimestampNTZType => raw // already µs-truncated NTZ
        case _ => raw.withColumn("ts", col("ts").cast(TimestampNTZType))
      }
    case _ => IO.readParquet(spark, s"$dir/$name.parquet")
  }

  /** `events` with `ts` normalized to ns-since-epoch LongType regardless of
    * which read behavior this runtime has (see scaladoc above). Used by the
    * streaming harness, whose file-splitting and explicit read schemas work
    * in raw longs. Under the native-NTZ runtime the sub-µs part is already
    * truncated, so the reconstructed ns value is the µs value × 1000 —
    * downstream µs conversions agree with the batch reader exactly. */
  def eventsRawNs(spark: SparkSession, dir: String): DataFrame = {
    val raw = eventsParquet(spark, dir)
    raw.schema("ts").dataType match {
      case LongType => raw
      // session timezone is pinned UTC in every entry point, so the
      // NTZ→LTZ cast is exact and unix_micros is the naive µs epoch
      case _ => raw.withColumn("ts",
        (unix_micros(col("ts").cast(TimestampType)) * lit(1000L)).cast(LongType))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
