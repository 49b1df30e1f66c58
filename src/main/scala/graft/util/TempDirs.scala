package graft.util

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Process-scoped temp directories with shutdown cleanup: every scratch dir
  * the queries create (stream sources, engine fixture outputs) lives under
  * one root that a JVM shutdown hook deletes recursively — repeated
  * Verify/Bench runs no longer accumulate data copies in /tmp. */
object TempDirs {

  /** Scratch lives on tmpfs when the host has one (guide §6: every byte here
    * is ephemeral — stream-source copies, artifact staging, checkpoints — so
    * paying disk I/O and fsync for it is pure overhead; a production
    * deployment writes durable artifacts to object storage, which these
    * scratch dirs never model). `SPARK_GRAFT_SCRATCH_DIR` overrides; an
    * unwritable /dev/shm falls back to java.io.tmpdir.
    *
    * FREE-SPACE GUARD (r13, ADVICE): tmpfs is RAM — spill routed here
    * competes with executor memory, and a near-full /dev/shm would fail
    * jobs that disk spill would have completed. The /dev/shm DEFAULT is
    * therefore taken only when the filesystem has at least
    * `SPARK_GRAFT_TMPFS_MIN_FREE_GB` (default 16) GiB usable; below that
    * the root falls back to java.io.tmpdir. An explicit
    * SPARK_GRAFT_SCRATCH_DIR is honored unconditionally — it IS the
    * escape hatch for big runs that want disk. */
  private def tmpfsHasHeadroom(p: Path): Boolean =
    try {
      val minFreeGb = sys.env.get("SPARK_GRAFT_TMPFS_MIN_FREE_GB")
        .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(16L)
      Files.getFileStore(p).getUsableSpace >= (minFreeGb << 30)
    } catch { case _: Throwable => false }

  private lazy val root: Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH_DIR")
      .map(java.nio.file.Paths.get(_))
      .orElse(Some(java.nio.file.Paths.get("/dev/shm"))
        .filter(p => Files.isDirectory(p) && Files.isWritable(p) && tmpfsHasHeadroom(p)))
    val r = base match {
      case Some(b) => Files.createTempDirectory(b, "graft-run")
      case None => Files.createTempDirectory("graft-run")
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(r)))
    r
  }

  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Best-effort eager delete of a scratch dir a caller knows is dead
    * (e.g. a drained streaming checkpoint) — the shutdown hook would get
    * it eventually, but long multi-query runs shouldn't hold dead files
    * in tmpfs RAM until then. Failures are swallowed: cleanup must never
    * fail a query. */
  def deleteTree(p: Path): Unit =
    try deleteRecursively(p) catch { case _: Throwable => () }

  /** A `spark.local.dir` value for local-mode mains (`Harness.session`):
    * shuffle and spill scratch under the same tmpfs-preferring root. Returns
    * the JVM default (java.io.tmpdir) when no tmpfs root was selected, so
    * setting it unconditionally is always safe. */
  def sparkLocalDir: String =
    sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", create("spark-local").toString)

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally stream.close()
    }
}
