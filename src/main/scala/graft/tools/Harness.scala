package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and the one timing protocol behind every main
  * (Bench, Verify, ScaleCurve and the dev tools) and every test spec, so
  * local cores, split sizing, time zone, scratch placement and the
  * engine's extension cannot drift between them. */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the JVM's processor count. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A local session with the benchmark's confs: `local[SPARK_GRAFT_CPUS
    * or nproc]`, shuffle partitions = cores, UI off, GraftExtensions,
    * 4m/1m split sizing (local parquet files are far below the 128 MB
    * default split, so every scan would otherwise be one task), UTC,
    * shuffle/spill scratch under [[graft.util.TempDirs]] and WARN logging.
    * Each `key=value` in `overrides` is applied on the builder after
    * these, so it wins. */
  def session(app: String, overrides: Seq[String] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", graft.util.TempDirs.sparkLocalDir)
      .config("spark.log.level", "WARN")
    overrides.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k, v)
    }
    builder.getOrCreate()
  }

  /** Drops every cache of the session: catalog entries and RDD-level
    * persists (localCheckpoint blocks, `.rdd.persist`), which `clearCache`
    * misses. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Seconds per rep: each rep [[clearCaches]] outside the timer, then
    * times `build` plus a noop-sink write of its result. The noop sink
    * computes every output column; `count()` would let join elimination
    * drop whole pipeline legs. */
  def timedReps(spark: SparkSession, reps: Int)(build: () => DataFrame): Seq[Double] =
    (1 to reps).map { _ =>
      clearCaches(spark)
      val t0 = System.nanoTime()
      build().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
}
