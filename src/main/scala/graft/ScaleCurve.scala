package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.tools.Harness

/** Scale-curve probe (r7 evidence run): times a named subset of the
  * registry at several data directories and prints one JSON line per
  * (dir, query) with each rep's time, each rep's count of compiled
  * generated classes, and the median — used to measure the
  * sf0.1 → 10× wall-clock ratios for the dedup/ANN flagships recorded in
  * BASELINE.md. The 10× corpus is built by `tools/make_scale10.py`: ten
  * vocabulary-disjoint shards, each a token-bijection image of sf0.1, so
  * per-shard candidate-pair structure is EXACTLY preserved and total pair
  * volume scales linearly by construction — the ratio measures the
  * engine, not a data artifact. Reps: SPARK_GRAFT_BENCH_REPS (default 3).
  *
  * Usage: runMain graft.ScaleCurve q1,q2,... dir1 dir2 ... [key=value ...]
  *
  * Trailing key=value args are session confs. At large factors partitions
  * must scale with the DATA (as a cluster's would), or per-partition
  * shuffle blocks outgrow memory and the curve measures spill, not the
  * algorithm: pass spark.sql.shuffle.partitions=N for the 100× point. One
  * query at one dir times a single query in isolation, e.g.
  * `runMain graft.ScaleCurve x152_shuffle_quality <sfDir>
  * spark.graft.shuffleaudit.hexChars=4`.
  */
object ScaleCurve {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val (confs, dirs) = args.toSeq.drop(1).partition(_.contains('='))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Harness.session("graft-scalecurve", confs)
    // warmup on the first dir (JIT/codegen; same discipline as Bench)
    try names.foreach(n => SparkEntry.queries(n)(spark, dirs.head).count())
    catch { case _: Throwable => () }
    for (dir <- dirs; name <- names) {
      val fn = SparkEntry.queries(name)
      // per rep: seconds, and the generated classes it compiled (each
      // compile records one compilation time), so a compile-bound query shows
      val (times, compiles) = (1 to reps).map { _ =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t = Harness.timedReps(spark, 1)(() => fn(spark, dir)).head
        (t, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
      }.unzip
      val med = times.sorted.apply(times.size / 2)
      val rows = fn(spark, dir).count() // untimed; count may legally prune
      println(f"""SCALECURVE {"dir":"$dir","query":"$name","sec":$med%.3f,""" +
        s""""times":${times.map(t => f"$t%.3f").mkString("[", ",", "]")},""" +
        s""""compiles":${compiles.mkString("[", ",", "]")},"rows":$rows}""")
    }
    spark.stop()
  }
}
