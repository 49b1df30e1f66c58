package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gates (the CollectInventorySpec style) for two structural
  * invariants:
  *   - every main builds its session through `graft.tools.Harness`, so
  *     cores, split sizing, time zone and scratch cannot drift between
  *     entry points: exactly one `SparkSession.builder()` in src/main;
  *   - no operator or streaming query releases blocks by a
  *     `getPersistentRDDs` scan: under LocalExecutor's concurrent
  *     producers such a scan also sees (and can free) another query's
  *     blocks. Lineage cuts release through `Queries.lineageCut`'s handle. */
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
}
