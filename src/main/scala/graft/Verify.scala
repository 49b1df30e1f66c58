package graft
import java.nio.file.{Files, Paths}

import graft.tools.Harness
import graft.util.MiniJson.{JObj, JStr, render}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (dev only): comma-separated query-name filter —
    // the driver always runs the full set
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    // oracle-parity run: operators with oracle-headroom guards (RankSum's
    // HUGEINT bound) fail loud HERE instead of letting DuckDB raise a
    // confusing arithmetic error downstream
    val spark = Harness.session("graft-verify", Seq("spark.graft.ranksum.oracleParityN=250000"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache() // per-query persist() must not leak
    }
    // MiniJson escapes ALL control chars (<0x20): a tab or CR in an oracle
    // query would otherwise make the compare's json.load fail
    val json = JObj(SparkEntry.oracleSql.filter(kv => only.forall(_.contains(kv._1)))
      .toSeq.map { case (k, v) => k -> JStr(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), render(json))
    spark.stop()
  }
}
