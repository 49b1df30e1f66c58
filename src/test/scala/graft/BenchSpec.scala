package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Harness

/** `Bench.measure`: a query that throws reports its time to failure, so
  * it never lowers the bench `total` (a negative sentinel would subtract
  * from it and read as an engine win). `Bench.shortLine`: the final line
  * fits a 2000-char stdout tail with the 40 largest medians. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session("bench-spec",
    Seq("spark.master=local[2]", "spark.sql.shuffle.partitions=2", "spark.log.level=ERROR"))

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

  test("the final line carries the 40 largest of 269 medians within 2000 chars") {
    import scala.jdk.CollectionConverters._
    // registry-like names of 25-31 chars, all medians distinct
    val medians = (1 to 269).map(i => f"x$i%03d_" + "synthetic_query_name_padded".take(20 + i % 7) -> i * 0.0371)
    def parse(line: String) = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    val line = Bench.shortLine(medians.map(_._2).sum, "median_of_3_qs_5", medians,
      Some(1.25), "/repo/BENCH_LOCAL_c8.json", "/testdata/sf0.1")
    assert(line.length <= Bench.ShortLineMax, s"${line.length} chars")
    val j = parse(line)
    assert(j.get("n_queries").asInt === 269)
    val top = medians.sortBy(-_._2).take(40)
    val qs = j.get("queries")
    assert(qs.fieldNames().asScala.toSet === top.map(_._1).toSet)
    top.foreach { case (k, v) => assert(math.abs(qs.get(k).asDouble - v) < 1e-4, k) }
    assert(j.get("queries_file").asText === "/repo/BENCH_LOCAL_c8.json")
    // a long artifact path keeps the line inside the tail by dropping the
    // smallest of the 40, never the largest
    val longPath = "/" + "d" * 600 + "/BENCH_LOCAL_c8.json"
    val cut = Bench.shortLine(1.0, "median_of_3_qs_5", medians, None, longPath, "/sf")
    assert(cut.length <= Bench.ShortLineMax, s"${cut.length} chars")
    val kept = parse(cut).get("queries").fieldNames().asScala.toSeq
    assert(kept.nonEmpty && kept.size < 40)
    assert(kept === top.take(kept.size).map(_._1))
  }
}
