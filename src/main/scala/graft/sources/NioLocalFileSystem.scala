package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session ([[graft.GraftSession]]
  * sets `fs.file.impl` to it): Hadoop's checksummed [[LocalFileSystem]]
  * over a raw filesystem that sets permission bits in-process.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and Hadoop calls it for every file and
  * directory a Spark write creates: each parquet part and its `.crc`
  * sidecar, the committer's `_temporary` dirs, `_SUCCESS`. One fork costs
  * about 2 ms against 0.01 ms for `Files.setPosixFilePermissions`, and a
  * write task pays them one after another (SCALING.md §18).
  *
  * The bits are the ones Hadoop would set: its callers apply the conf's
  * umask (`fs.permissions.umask-mode`) before calling `setPermission`, so
  * a new file gets `FsPermission.getFileDefault` and a new dir
  * `getDirDefault` under that umask (0644 / 0755 under umask 022). Only
  * the sticky bit, which `java.nio` cannot express, takes Hadoop's own
  * call. The checksum layer is Hadoop's, unchanged: `.crc` files are
  * still written and verified.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** `RawLocalFileSystem` with an in-process `setPermission`. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  // PosixFilePermission lists OWNER_READ (0400) first and OTHERS_EXECUTE
  // (0001) last: mode bit i is the value at 8 - i
  private val byBit = PosixFilePermission.values().reverse

  /** The `rwxrwxrwx` bits of `mode` as a `java.nio` permission set. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- 0 until 9 if (mode & (1 << i)) != 0) set.add(byBit(i))
    set
  }
}
