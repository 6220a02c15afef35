package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem with a permission change that does not fork.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs a `chmod`
  * process, and Hadoop calls it for every file and directory it creates,
  * `.crc` sidecars included. Here the same mode is set through NIO. The
  * checksum wrapper is the stock one, so the bytes and `.crc` files on disk
  * and every mode bit are unchanged. Registered as `fs.file.impl` by
  * [[GraftSession.engineConf]]; without it the service loader picks Hive's
  * `ProxyLocalFileSystem` from the Spark jars, a pass-through over the same
  * stock `LocalFileSystem`.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.Raw)

object ForkFreeLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    /** NIO cannot set the sticky bit, and native chmod is already
      * fork-free, so both cases keep Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL))
  }
}
