package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Queries
import graft.tools.Harness

/** Latches a task of the cut's materializing job shares with a driver
  * thread (local mode: executors are threads of this JVM). */
object LineageCutLatch {
  @volatile var started = new CountDownLatch(1)
  @volatile var proceed = new CountDownLatch(1)
}

/** `Queries.lineageCut`'s release handle frees exactly the leaf's own RDD.
  * LocalExecutor builds producers concurrently on one session, so an RDD
  * another query persists WHILE a cut materializes must survive the cut's
  * release (a getPersistentRDDs set diff around the cut would free it,
  * and localCheckpoint blocks cannot be recomputed). */
class LineageCutSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session("lineage-cut-spec",
    Seq("spark.master=local[2]", "spark.sql.shuffle.partitions=2", "spark.log.level=ERROR"))

  override def afterAll(): Unit = spark.stop()

  for (reliable <- Seq(false, true))
    test(s"release frees exactly the leaf's RDD, not one persisted during the cut (reliableLineageCut=$reliable)") {
      spark.conf.set("spark.graft.reliableLineageCut", reliable.toString)
      val sc = spark.sparkContext
      try {
        LineageCutLatch.started = new CountDownLatch(1)
        LineageCutLatch.proceed = new CountDownLatch(1)
        val gate = udf { (x: Long) =>
          LineageCutLatch.started.countDown()
          LineageCutLatch.proceed.await(60, TimeUnit.SECONDS)
          x
        }
        val plan = spark.range(0, 100, 1, 2).select(gate(col("id")).as("v"))
        @volatile var other: RDD[Long] = null
        @volatile var duringCut = false
        val concurrent = new Thread(() => {
          duringCut = LineageCutLatch.started.await(60, TimeUnit.SECONDS)
          other = sc.parallelize(1L to 10L).persist()
          LineageCutLatch.proceed.countDown()
        })
        val before = sc.getPersistentRDDs.keySet
        concurrent.start()
        val (leaf, release) = Queries.lineageCut(plan, eager = true)
        concurrent.join()
        assert(duringCut, "the other RDD was not persisted while the cut materialized")
        assert(leaf.agg(sum(col("v"))).head().getLong(0) === 4950L)
        release()
        assert(sc.getPersistentRDDs.contains(other.id),
          "release freed an RDD another query persisted during the cut")
        assert(sc.getPersistentRDDs.keySet -- before === Set(other.id),
          "release left the leaf's own blocks pinned")
        other.unpersist()
      } finally spark.conf.unset("spark.graft.reliableLineageCut")
    }
}
