package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries
import graft.tools.Harness

/** The qs harness's drain contract: a repeated drain reuses Spark's
  * compiled generated code, and drains that overlap on one session (as
  * LocalExecutor's concurrent producers do) leave the session's confs as
  * they found them. */
class StreamDrainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val drainConfs = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass", "spark.sql.artifact.isolation.enabled")

  override def beforeAll(): Unit = {
    spark = Harness.session("stream-drain-spec",
      Seq("spark.master=local[4]", "spark.sql.shuffle.partitions=3", "spark.log.level=ERROR"))
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def rows(name: String): Seq[String] =
    Queries.byName(name).run(spark, sf).collect().map(_.toString).toSeq.sorted

  /** generated classes compiled in this JVM: each compile records one time */
  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated qs3 drain compiles no generated class") {
    val first = rows("qs3_stream_state")
    val c0 = compiled
    val second = rows("qs3_stream_state")
    assert(compiled - c0 === 0)
    assert(second === first && first.nonEmpty)
  }

  test("a repeated qs9 ingest compiles no generated class") {
    val first = rows("qs9_stream_incremental_ingest")
    val c0 = compiled
    val second = rows("qs9_stream_incremental_ingest")
    assert(compiled - c0 === 0)
    assert(second === first && first.nonEmpty)
  }

  test("overlapping drains leave the session's confs as they found them") {
    val before = drainConfs.map(spark.conf.getOption)
    val (seq3, seq7) = (rows("qs3_stream_state"), rows("qs7_stream_dedup_ingest"))
    implicit val ec: ExecutionContext = ExecutionContext.global
    val f3 = Future(rows("qs3_stream_state"))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var active = false
    while (!active && !f3.isCompleted && System.nanoTime() < deadline) {
      active = spark.streams.active.nonEmpty
      if (!active) Thread.sleep(5)
    }
    assert(active, "the qs3 drain never became active")
    val f7 = Future(rows("qs7_stream_dedup_ingest"))
    assert(Await.result(f3, 5.minutes) === seq3)
    assert(Await.result(f7, 5.minutes) === seq7)
    assert(drainConfs.map(spark.conf.getOption) === before)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
  }
}
