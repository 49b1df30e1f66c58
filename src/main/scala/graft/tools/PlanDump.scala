package graft.tools

import graft.operators.Queries

/** Dev harness: dump `.explain("formatted")` for a comma-separated list of
  * queries into <outDir>/<name>_<suffix>.txt — one JVM for the whole batch
  * (args: <sfDir> <outDir> <suffix> <name1,name2,...>). Batch queries only.
  * The optimization rounds commit these under plans/ as plan-claim
  * evidence; one name is the plan-audit loop (broadcasts broadcast,
  * PushedFilters at the scan, WholeStageCodegen over the hot path). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = Harness.session("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names.split(',').map(_.trim).filter(_.nonEmpty)) {
      val plan =
        try Queries.byName(name).run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"<explain failed: ${e.toString.take(500)}>" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
