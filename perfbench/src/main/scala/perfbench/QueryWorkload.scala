package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.operators.Queries

/** query_mix and stream_drain: a fixed list of registry queries run round
  * robin. One timed op is one query: `Query.run` (eager driver actions,
  * lineage cuts and, for `qs*` queries, the whole AvailableNow drain into
  * the memory sink) followed by a full noop-sink write of its result.
  * After the timed window one more op of each query writes its result,
  * outside its timer, where the harness compares it with the query's
  * DuckDB oracle. */
final class QueryWorkload(names: Seq[String], dataDir: String, work: Path) extends Workload {
  private val queries = names.map(n => Queries.byName.getOrElse(n,
    throw new IllegalArgumentException(s"unknown query $n")))
  private val resultsDir = work.resolve("query-results")
  private var next = 0

  /** One warm-up round, so the first timed op is not charged compilation. */
  def setup(spark: SparkSession): Unit = {
    queries.foreach(_ => op(spark))
    next = 0
  }

  def op(spark: SparkSession): OpResult = run(spark, None)

  override def checkOps(spark: SparkSession): Seq[OpResult] = {
    Workload.deleteTree(resultsDir)
    next = 0
    queries.map(_ => run(spark, Some(resultsDir)))
  }

  private def run(spark: SparkSession, saveTo: Option[Path]): OpResult = {
    val q = queries(next % queries.size)
    next += 1
    // the previous op's cached blocks are released outside the timer
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Workload.timedOp(q.name) {
      val df = Trace.span("operators", "construct")(q.run(spark, dataDir))
      Trace.span("operators", "materialize")(df.write.format("noop").mode("overwrite").save())
      () => {
        saveTo.foreach(d => df.write.parquet(d.resolve(q.name).toString))
        None
      }
    }
  }

  def finish(spark: SparkSession): Map[String, Any] = Map(
    "results_dir" -> resultsDir.toString,
    "oracle_sql" -> queries.flatMap(q => q.oracle.map(q.name -> _)).toMap,
    "sink_views_left" -> spark.catalog.listTables().collect()
      .count(t => t.isTemporary && t.name.startsWith("sink_")))
}
