package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` FileSystem over a [[NioRawLocalFileSystem]].
  * [[IO]]'s writes install it for their own write job only, through the
  * writer options `fs.file.impl` and `fs.file.impl.disable.cache`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the mode through
  * java.nio. Without libhadoop the stock one forks a `chmod` process for
  * every file and directory a write creates: about ten per staged artifact
  * write (directories, part file, `_SUCCESS` and their `.crc` files). The
  * mode bits are the same; a sticky bit, which java.nio cannot set, still
  * goes through `chmod`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
}
