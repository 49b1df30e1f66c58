package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `body` starts. Listener events arrive
  * asynchronously but in order, so a marked sentinel job run after `body`
  * bounds the count: once it is seen, every earlier job has been counted.
  * Only meaningful while nothing else runs jobs on the context. */
object JobCounter {
  private val Sentinel = "graft-job-counter-sentinel"

  def jobsOf(sc: SparkContext)(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val sentinels = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == Sentinel))
          sentinels.put(Sentinel)
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(Sentinel, Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(sentinels.poll(60, TimeUnit.SECONDS) != null, "sentinel job never reported")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
