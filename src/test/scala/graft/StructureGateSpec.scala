package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gates (the CollectInventorySpec style) for structural
  * invariants:
  *   - every main and every test spec builds its session through
  *     `graft.tools.Harness`, so cores, split sizing, time zone, scratch
  *     and the engine's extension cannot drift between them: exactly one
  *     `SparkSession.builder()` in src/main and none in src/test;
  *   - only `GraftExtensions.install` writes a session's function registry
  *     or its experimental rules and strategies: a query that did so would
  *     change state every other query on the session shares;
  *   - no operator or streaming query releases blocks by a
  *     `getPersistentRDDs` scan: under LocalExecutor's concurrent
  *     producers such a scan also sees (and can free) another query's
  *     blocks. Lineage cuts release through `Queries.lineageCut`'s handle;
  *   - no operator or streaming query writes the drain confs (artifact
  *     isolation, the checkpoint file manager): they are named once, in
  *     `StreamQueries.drainConfs`, and set and restored only by
  *     `runToTable`'s refcounted override. */
class StructureGateSpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** code lines only: prose that names a call never counts as a site */
  private def sites(roots: Seq[String], call: String): Seq[String] = for {
    f <- roots.flatMap(scalaFiles)
    l <- Files.readAllLines(f).asScala.map(_.trim)
    if !(l.startsWith("//") || l.startsWith("*") || l.startsWith("/*")) && l.contains(call)
  } yield f.getFileName.toString

  test("exactly one SparkSession.builder() under src/main/scala, in Harness") {
    assert(sites(Seq("src/main/scala"), "SparkSession.builder()") === Seq("Harness.scala"))
  }

  test("no getPersistentRDDs under operators/ or streaming/") {
    assert(sites(Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming"),
      "getPersistentRDDs").isEmpty)
  }

  test("no SparkSession.builder() under src/test/scala: specs use Harness.session") {
    assert(sites(Seq("src/test/scala"), "SparkSession.builder()")
      .filterNot(_ == "StructureGateSpec.scala").isEmpty)
  }

  test("session registry and experimental hooks are written only by GraftExtensions.install") {
    for (call <- Seq("createOrReplaceTempFunction", "registerFunction", "udf.register",
        "experimental.extraStrategies", "experimental.extraOptimizations"))
      assert(sites(Seq("src/main/scala"), call).forall(_ == "GraftFunctions.scala"), call)
  }

  test("drain confs are named once under operators/ and streaming/, in StreamQueries.drainConfs") {
    val roots = Seq("src/main/scala/graft/streaming", "src/main/scala/graft/operators")
    for ((key, entry) <- Seq(
        "spark.sql.artifact.isolation.enabled" -> "ARTIFACTS_SESSION_ISOLATION_ENABLED",
        "spark.sql.streaming.checkpointFileManagerClass" -> "STREAMING_CHECKPOINT_FILE_MANAGER_CLASS")) {
      assert(sites(roots, "\"" + key + "\"") === Seq("StreamQueries.scala"), key)
      assert(sites(roots, entry).isEmpty, entry)
    }
  }
}
