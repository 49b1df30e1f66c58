package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation: its kind (the name its median is reported under),
  * wall time, and the error that makes it a failed op. */
final case class OpResult(id: Int, kind: String, seconds: Double, error: Option[String])

/** A closed-loop workload driven by one client: the next op starts only
  * after the previous one has returned. */
trait Workload {
  /** Inputs and warm-up, up to the first timed op; timed as set-up. */
  def setup(spark: SparkSession): Unit
  def op(spark: SparkSession): OpResult
  /** Ops run after the timed window whose outputs are kept for the
    * output checks. */
  def checkOps(spark: SparkSession): Seq[OpResult] = Nil
  /** Untimed work after the last op; returns facts for the result file. */
  def finish(spark: SparkSession): Map[String, Any]
}

object Workload {
  private var lastId = 0

  /** Time `body`, which returns the op's untimed follow-up: counters and
    * output checks that must not be charged to the op. The follow-up
    * returns the op's error, if any. An exception fails the op. */
  def timedOp(kind: String)(body: => (() => Option[String])): OpResult = {
    lastId += 1
    val id = lastId
    val start = Trace.beginOp(id)
    val t0 = System.nanoTime()
    var seconds = 0.0
    var end = 0L
    def stop(): Unit = if (end == 0L) {
      seconds = (System.nanoTime() - t0) / 1e9
      end = Trace.nowMicros
    }
    val error =
      try {
        val after = body
        stop()
        after()
      } catch {
        case e: Throwable =>
          stop()
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    Trace.endOp(id, kind, start, end)
    OpResult(id, kind, seconds, error)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def listDirs(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.filter(Files.isDirectory(_)).toVector finally s.close()
  }

  /** Bytes of all regular files under `p` (0 when it does not exist). */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }
}
