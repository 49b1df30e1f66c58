package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.measure`: a query that throws reports its time to failure, so
  * it never lowers the bench `total` (a negative sentinel would subtract
  * from it and read as an engine win). */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .appName("bench-spec")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("a query that throws while building reports its time to failure") {
    val (median, spread) = Bench.measure(spark, "throws_on_build", 0, 3) { () =>
      Thread.sleep(50)
      throw new IllegalStateException("boom")
    }
    assert(median >= 0.05, s"time to failure, not a sentinel: $median")
    assert(spread === 0.0)
  }

  test("a query whose noop write fails (after an untimed warm rep) reports a positive time") {
    val fails = udf((x: Long) => { if (x >= 0) throw new IllegalStateException("boom"); x })
    val (median, spread) = Bench.measure(spark, "throws_on_write", 1, 3)(
      () => spark.range(100).toDF("x").select(fails(col("x"))))
    assert(median > 0.0, s"time to failure, not a sentinel: $median")
    assert(spread === 0.0)
  }
}
