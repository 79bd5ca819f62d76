package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem (`.crc` files and all) over
  * [[NioRawLocalFileSystem]]. Hadoop instantiates it by name from
  * `fs.file.impl`, hence the no-argument constructor. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the mode bits with
  * `java.nio.file.Files.setPosixFilePermissions`. Without libhadoop the
  * parent forks a `chmod` process for every file and directory it
  * creates; a partitioned write creates hundreds. NIO has no sticky,
  * setuid or setgid bit, so any permission carrying one of those goes
  * to the parent unchanged. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // the actions, not toString: a create-time FsCreateModes prints both modes
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
    }
}
