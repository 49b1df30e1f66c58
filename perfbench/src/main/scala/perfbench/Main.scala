package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one workload (set-up time runs from
  * the launch of the JVM to the first timed op), runs its closed loop for
  * the given seconds, then the workload's check ops, and writes raw per-op
  * figures to a JSON file. `run.py` launches it, checks outputs and
  * computes the reported metrics.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --data DIR
  * --work DIR --out FILE --cores N --launch-ms EPOCH_MS [--queries a,b,...]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seconds = args("seconds").toDouble
    val cores = args("cores").toInt
    val work = Paths.get(args("work"))
    Trace.enabled = args("trace") == "1"

    val workload: Workload = name match {
      case "graph_incremental" => new GraphWorkload(args("data"), work, args("seed").toLong, cores)
      case "query_mix" | "stream_drain" => new QueryWorkload(args("queries").split(',').toSeq, args("data"), work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: JVM start, class loading, session, warm-up
    val spark = session(cores, work)
    Trace.install(spark)
    workload.setup(spark)
    val setupS = (Trace.nowMicros - args("launch-ms").toLong * 1000L) / 1e6
    Trace.clear()

    Trace.watchHeap()
    val gc0 = Trace.gcSeconds
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) ops += workload.op(spark)
    ops ++= workload.checkOps(spark)
    val gcS = Trace.gcSeconds - gc0
    // a last full collection shows the heap the workload left behind
    if (Trace.enabled) System.gc()

    val facts = workload.finish(spark)
    val peakRss = Trace.peakRssMb
    Trace.settle()
    val heapPeak = Trace.heapAfterGcPeakMb
    val summary = if (Trace.enabled) Some(Trace.summary()) else None
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRss,
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeak),
      "ops" -> ops.map(o => mutable.LinkedHashMap("id" -> o.id, "kind" -> o.kind, "s" -> o.seconds,
        "error" -> o.error)),
      "facts" -> facts,
      "env" -> env(spark, cores),
      "layers" -> summary.map(_.perOp.map { case (k, v) => k.toString -> v }))
    Files.writeString(Paths.get(args("out")), Json.write(out))
    summary.foreach { s =>
      val lines = s.spans.zipWithIndex.map { case ((x, parent), id) =>
        Json.write(mutable.LinkedHashMap("id" -> id, "parent" -> parent, "op" -> x.op, "layer" -> x.layer,
          "name" -> x.name, "start_us" -> x.start, "end_us" -> x.end))
      }
      Files.writeString(Paths.get(args("out") + ".spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  /** The session every workload runs on: the confs the engine's own bench
    * main uses, local[cores], with all scratch inside the work directory. */
  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", graft.util.TempDirs.sparkLocalDir)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def env(spark: SparkSession, cores: Int): Map[String, Any] = {
    val scratch = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", System.getProperty("java.io.tmpdir")))
    Map(
      "scratch_root" -> scratch.toString,
      "scratch_fs" -> Files.getFileStore(scratch).`type`(),
      "spark_local_dir" -> spark.conf.get("spark.local.dir", ""),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "confs" -> spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
        .toSeq.sortBy(_._1).toMap)
  }
}
