package graft.streaming

import java.io.{BufferedOutputStream, FileNotFoundException, IOException, InputStream, OutputStream}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Path => JPath, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.Comparator

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FSDataInputStream, FSInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A pure-NIO [[CheckpointFileManager]] for LOCAL (file:) checkpoint roots —
  * the r13 streaming-floor fix (guide §1.2 per-task work + §6 I/O).
  *
  * WHY: every micro-batch pays ~6-10 checkpoint-file metadata operations
  * (offset WAL write, commit-log write, state-store delta write + the
  * listings around them). Spark's default managers route each through the
  * Hadoop FileSystem/FileContext stack, which the qs_floor probe measured
  * at ~25-40 ms PER OPERATION on this host even with the checkpoint on
  * tmpfs — walCommit + commitOffsets + latestOffset alone ≈ 120 ms/batch,
  * pure Hadoop bookkeeping (FS resolution, checksum wrapping, shell-less
  * RawLocalFileSystem still ~24 ms/op). java.nio does the same rename/
  * write/list in microseconds. Across the 46-query qs family at ~2-4
  * micro-batches each, that floor is seconds of the bench.
  *
  * SEMANTICS (mirrors FileSystemBasedCheckpointFileManager op-for-op):
  * createAtomic writes a dot-prefixed temp file in the target's directory
  * and atomically publishes it on close (rename when overwriting, else a
  * hard link that fails on an existing target, then the temp is removed)
  * — with overwriteIfPossible=false an existing target raises hadoop's
  * FileAlreadyExistsException, the signal
  * HDFSMetadataLog's concurrent-writer guard catches; list on a missing
  * directory raises FileNotFoundException like FileSystem.listStatus;
  * delete is recursive and silent on missing paths; createCheckpointDirectory
  * mkdirs the root and returns it file:-qualified. Only correct for paths
  * one JVM-visible POSIX filesystem serves (local/tmpfs — exactly the
  * harness checkpoints); production roots on HDFS/object storage keep the
  * default manager — [[StreamQueries]] only installs this class when the
  * checkpoint root lives under the local [[graft.util.TempDirs]] scratch. */
class NioCheckpointFileManager(root: Path, conf: Configuration)
    extends CheckpointFileManager {

  private def toJ(p: Path): JPath = Paths.get(p.toUri.getPath)

  private def status(j: JPath): FileStatus = {
    val dir = Files.isDirectory(j)
    val len = if (dir) 0L else Files.size(j)
    val mtime = Files.getLastModifiedTime(j).toMillis
    new FileStatus(len, dir, 1, 33554432L, mtime,
      new Path("file", null, j.toAbsolutePath.toString))
  }

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = toJ(path)
    val parent = target.getParent
    if (parent != null && !Files.isDirectory(parent)) Files.createDirectories(parent)
    val tmp = parent.resolve("." + target.getFileName.toString + "." +
      UUID.randomUUID.toString + ".tmp")
    val out = new BufferedOutputStream(Files.newOutputStream(tmp,
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 65536)
    new NioRenameOnCloseStream(out, tmp, target, overwriteIfPossible)
  }

  override def open(path: Path): FSDataInputStream = {
    val j = toJ(path)
    val ch =
      try FileChannel.open(j, StandardOpenOption.READ)
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(j.toString) }
    new FSDataInputStream(new NioFSInputStream(ch))
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    val j = toJ(path)
    val stream =
      try Files.list(j)
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(j.toString) }
    try {
      val it = stream.iterator()
      val buf = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
      while (it.hasNext) {
        val st = status(it.next())
        if (filter == null || filter.accept(st.getPath)) buf += st
      }
      buf.toArray
    } finally stream.close()
  }

  override def mkdirs(path: Path): Unit = Files.createDirectories(toJ(path))

  override def exists(path: Path): Boolean = Files.exists(toJ(path))

  override def delete(path: Path): Unit = {
    val j = toJ(path)
    try {
      if (Files.isDirectory(j)) {
        val walk = Files.walk(j)
        try walk.sorted(Comparator.reverseOrder[JPath]()).forEach { p =>
          try Files.deleteIfExists(p) catch { case _: IOException => () }
        } finally walk.close()
      } else Files.deleteIfExists(j)
    } catch {
      case _: NoSuchFileException => () // silent on missing, like the default manager
    }
    ()
  }

  override def isLocal: Boolean = true

  override def createCheckpointDirectory(): Path = {
    val j = toJ(root)
    Files.createDirectories(j)
    new Path("file", null, j.toAbsolutePath.toString)
  }
}

/** Write-to-temp, atomic-publish-on-close stream (the RenameBased contract:
  * close commits, cancel discards, double-close is a no-op, close after
  * cancel must not resurrect the rename). */
private[streaming] class NioRenameOnCloseStream(out: OutputStream,
    tmp: JPath, target: JPath, overwrite: Boolean)
    extends CancellableFSDataOutputStream(out) {

  @volatile private var terminated = false

  override def close(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      out.close()
      if (overwrite)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      else {
        // ATOMIC_MOVE is rename(2), which silently replaces an existing
        // target; link(2) is atomic AND fails if the target exists
        try Files.createLink(target, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            // hadoop's exception type: what HDFSMetadataLog's guard catches
            throw new FileAlreadyExistsException(s"destination $target already exists")
        } finally Files.deleteIfExists(tmp)
      }
      ()
    }
  }

  override def cancel(): Unit = synchronized {
    if (!terminated) {
      terminated = true
      try out.close() catch { case _: IOException => () }
      try { Files.deleteIfExists(tmp); () } catch { case _: IOException => () }
    }
  }
}

/** Seekable + positioned-readable NIO input stream (FSInputStream supplies
  * the synchronized pread default over seek/read). */
private[streaming] class NioFSInputStream(ch: FileChannel) extends FSInputStream {
  private val one = ByteBuffer.allocate(1)

  override def seek(pos: Long): Unit = { ch.position(pos); () }
  override def getPos: Long = ch.position()
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(): Int = {
    one.clear()
    val n = ch.read(one)
    if (n <= 0) -1 else one.get(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int =
    ch.read(ByteBuffer.wrap(b, off, len))

  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int =
    ch.read(ByteBuffer.wrap(b, off, len), position)

  override def available(): Int =
    math.min(Int.MaxValue.toLong, math.max(0L, ch.size() - ch.position())).toInt

  override def close(): Unit = ch.close()
}
