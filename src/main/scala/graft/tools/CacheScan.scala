package graft.tools

import graft.operators.Queries

/** Dev harness: run every BATCH registry query at a small SF and report
  * which ones return a plan still pinned to a persisted (non-local-
  * checkpoint) RDD after materialization — the input data for the
  * eager-release inventory in PlansSpec. Args: [sfDir]. */
object CacheScan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Harness.session("graft-cachescan")
    val probe = classOf[org.apache.spark.rdd.RDD[_]].getMethod("isLocallyCheckpointed")
    val batch = Queries.all.filterNot(_.name.startsWith("qs"))
    batch.foreach { q =>
      try {
        Harness.clearCaches(spark)
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val leaked = spark.sparkContext.getPersistentRDDs.values
          .filterNot(r => probe.invoke(r).asInstanceOf[Boolean])
        if (leaked.nonEmpty)
          println(s"[cachescan] ${q.name}: ${leaked.size} pinned — " +
            leaked.map(_.toString.replaceAll("\\s+", " ").take(80)).mkString(" | "))
      } catch {
        case e: Throwable => // message needed to diagnose the failing query (r10 ADVICE)
          println(s"[cachescan] ${q.name}: ERROR ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).replaceAll("\\s+", " ").take(160))
      }
    }
    println("[cachescan] done")
    spark.stop()
  }
}
