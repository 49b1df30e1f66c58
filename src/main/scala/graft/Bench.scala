package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.Harness
import graft.util.MiniJson.{JObj, JStr, render}
object Bench {
  /** The nearest enclosing directory holding build.sbt (the cwd if none). */
  private def repoRoot: java.nio.file.Path = {
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(cwd)
  }

  /** (median, max - min) seconds of `reps` timed reps after `warm`
    * untimed ones. A rep that throws ends the query and reports its time
    * to failure (build start to the throw, spread 0): never negative, so
    * a failing query cannot lower `total` below leaving it out. */
  private[graft] def measure(spark: SparkSession, name: String, warm: Int, reps: Int)(
      build: () => DataFrame): (Double, Double) = {
    var repStart = System.nanoTime()
    try {
      val times = Harness.timedReps(spark, warm + reps) { () =>
        repStart = System.nanoTime()
        build()
      }.drop(warm).sorted
      (times(times.size / 2), times.last - times.head)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      ((System.nanoTime() - repStart) / 1e9, 0.0)
    }
  }

  private def jnum(d: Double): String = f"$d%.4f"

  private def jmap(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + jnum(v) }.mkString("{", ",", "}")

  /** Bench consumers keep only a 2000-char stdout tail. */
  private[graft] val ShortLineMax = 2000

  /** The bench's final stdout line: the total, the pair ratio when
    * measured, the artifact path (which holds every per-query median and
    * spread) and a `"queries"` map of the 40 largest per-query medians,
    * cut shorter when a long path or long names would push the line past
    * [[ShortLineMax]]. */
  private[graft] def shortLine(total: Double, protocol: String, medians: Seq[(String, Double)],
      pairRatio: Option[Double], out: String, sfDir: String): String = {
    val top = medians.sortBy(-_._2).take(40)
    def render(n: Int) =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","protocol":"$protocol","n_queries":${medians.size}""" +
        pairRatio.map(r => s""","pair_ratio":${jnum(r)}""").getOrElse("") +
        s""","queries":${jmap(top.take(n))},"queries_file":"$out","sf":"$sfDir"}"""
    (top.size to 0 by -1).iterator.map(render).find(_.length <= ShortLineMax).getOrElse(render(0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // MEDIAN-OF-N protocol (default 3): each query runs N times
    // back-to-back and reports its per-query MEDIAN, so (a) one-time
    // JIT/codegen cost lands in rep 1 and is discounted, and (b) the
    // round-close number is the same artifact the driver records — no
    // cherry-picked best-of runs. Spread (max-min, seconds) is emitted
    // per query so noisy medians are visible.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Harness.session("graft-bench")
    // untimed warmup: JVM/codegen/parquet-footer caches, so rep 1 of the
    // first measured query isn't charged session bring-up. One
    // representative per machinery family — plain scan/join (q1), kernel
    // expressions (x6), the producer/executor/backend path (q13: snapshot
    // + staged write + publish), a micro-batch streaming query (qs3), and
    // the shingle/near-dup machinery (x17).
    try {
      for (w <- Seq("q1_pricing_summary", "x6_ann_bruteforce",
                    "q13_partitioned_spend", "qs3_stream_state",
                    "x17_dedup_clusters"))
        SparkEntry.queries.get(w).foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }
    // streaming instrument pin (r12): materialize every stream-source wave
    // dir and warm the state-store/sink machinery ONCE, so no timed qs rep
    // pays another query's source build — the source of the up-to-4.7 s
    // qs spreads that forced window triage in earlier rounds.
    try graft.streaming.StreamQueries.prewarmStreaming(spark, sfDir)
    catch { case _: Throwable => () }
    // dev-only subset knob for targeted perf work (the driver never sets
    // it): SPARK_GRAFT_BENCH_QUERIES=x93_prefix_join,x2_neardup_pairs
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_BENCH_QUERIES names no registered query: ${unknown.mkString(",")}")
        SparkEntry.queries.toSeq.filter(q => names(q._1))
      case None => SparkEntry.queries.toSeq
    }
    require(selected.nonEmpty, "no queries selected — empty bench would be silent")
    // qs queries get median-of-5 minimum (r12): micro-batch scheduling +
    // state-store init jitter gives streaming reps wider spreads than
    // batch reps at the same cost class, and 3 samples let one bad rep
    // become the median. Batch queries keep the configured rep count.
    val results: Seq[(String, Double, Double)] = selected.map { case (name, fn) =>
      val qReps = if (name.startsWith("qs")) math.max(reps, 5) else reps
      // qs queries: one UNTIMED warmup rep (the probe discipline) — each
      // streaming query JITs its own generated code + state-store setup on
      // first execution, which median-of-N discounts but the spread metric
      // showed as multi-second "jitter" that wasn't (r11 What's-wrong #5)
      val warm = if (name.startsWith("qs")) 1 else 0
      val (median, spread) = measure(spark, name, warm, qReps)(() => fn(spark, sfDir))
      (name, median, spread)
    }
    val qs = jmap(results.map { case (k, m, _) => k -> m })
    val spread = jmap(results.map { case (k, _, s) => k -> s })
    val total = results.map(_._2).sum
    val protocol = s"median_of_${reps}_qs_${math.max(reps, 5)}"
    spark.stop() // engine loop done; the oracle pair (below) must not share the window with a live JVM doing work
    // SELF-PAIRING (r11): raw totals drift 1.4-2x between host windows
    // (r10's unpaired driver artifact read x123 at 77 s where the
    // same-window truth was 5 s), so the only honest number is a
    // same-window engine/oracle PAIR. With SPARK_GRAFT_BENCH_PAIR=1 the
    // bench immediately shells tools/duck_bench.py on the SAME oracle
    // SQL the driver's correctness gate uses and folds the denominator
    // into this artifact — one JSON line carries both sides of the
    // ratio, measured minutes apart on the same host. Opt-in: the
    // oracle adds ~2 min at sf0.1 and needs the driver-side duckdb.
    var pairRatio: Option[Double] = None
    val pairBlock: String =
      if (!sys.env.get("SPARK_GRAFT_BENCH_PAIR").contains("1")) ""
      else try {
        val names = selected.map(_._1).toSet
        val oracleSql = SparkEntry.oracleSql.filter(kv => names(kv._1))
        val tmp = java.nio.file.Files.createTempFile("graft_oracle_", ".json")
        java.nio.file.Files.writeString(tmp,
          render(JObj(oracleSql.toSeq.map { case (k, v) => k -> JStr(v) })))
        val cmd = Seq("python3", repoRoot.resolve("tools/duck_bench.py").toString,
          sfDir, tmp.toString, reps.toString)
        val oracleOut = scala.sys.process.Process(cmd).!!
        val med = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(oracleOut).get("median_sec")
        import scala.jdk.CollectionConverters._
        val oracleT = med.fieldNames().asScala.map(n => n -> med.get(n).asDouble).toMap
        // the pair ratio is computed over the BATCH common set: streaming
        // (qs*) engine legs time micro-batch drains, which the batch SQL
        // oracle does not model — same exclusion every recorded pair used
        val common = results.filter { case (n, _, _) => !n.startsWith("qs") && oracleT.contains(n) }
        val eng = common.map(_._2).sum
        val ora = common.map { case (n, _, _) => oracleT(n) }.sum
        val wins = common.count { case (n, m, _) => m < oracleT(n) }
        val oq = jmap(oracleT.toSeq.sortBy(_._1))
        pairRatio = Some(eng / ora)
        s""","pair":{"oracle_total_s":${jnum(oracleT.values.sum)},"batch_common":${common.size},"engine_common_s":${jnum(eng)},"oracle_common_s":${jnum(ora)},"pair_ratio":${jnum(eng / ora)},"engine_wins":$wins,"oracle_queries":$oq}"""
      } catch { case e: Throwable =>
        s""","pair_error":${"\"" + e.toString.take(200).replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""}"""
      }
    val line = s"""{"metric":"total","value":${jnum(total)},"unit":"sec","protocol":"$protocol","queries":$qs,"spread":$spread$pairBlock,"sf":"$sfDir"}"""
    println(line)
    // the full per-query map also lands in a FILE: stdout capture truncated
    // the round-4 artifact to 69/104 queries, and the file is what keeps
    // BASELINE.md prose honest (quote the artifact, never a side run).
    // Default path is anchored to the repo root (where build.sbt lives) so
    // a JVM launched from elsewhere doesn't scatter artifacts; the file is
    // gitignored — round closes copy it to BENCH_LOCAL_r{N}.json. It is
    // named per core count so an 8-core run keeps the 32-core medians.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      repoRoot.resolve(s"BENCH_LOCAL_c${Harness.cpus}.json").toString)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the full line above is ~15 KB for 269 queries and consumers keep
    // only a 2000-char stdout tail, so the FINAL line is a short summary
    // that always fits it whole
    println(shortLine(total, protocol, results.map { case (k, m, _) => k -> m },
      pairRatio, out, sfDir))
  }
}
