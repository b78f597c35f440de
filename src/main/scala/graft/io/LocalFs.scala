package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The engine's `file:` file system: Hadoop's checksummed local file
  * system (same `.crc` files, same on-disk layout) over a raw local file
  * system that sets permissions with a system call.
  *
  * Without the native Hadoop library, the stock `RawLocalFileSystem`
  * forks a `chmod` process for every file, `.crc` file and directory it
  * creates. Here `setPermission` gives the same mode bits through
  * `java.nio.file.Files.setPosixFilePermissions`, and forks nothing.
  * Registered by [[graft.Sessions.tune]] as `fs.file.impl`. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  /** `RawLocalFileSystem` with only `setPermission` replaced. A mode with
    * bits beyond rwx (sticky), or a file store without POSIX attributes,
    * goes to the stock implementation. */
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~Rwx) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** Octal 0777: the read, write and execute bits of user, group and other. */
  private val Rwx = 0x1ff

  /** The user, group and other actions of `perm` as POSIX permissions. */
  private def posix(perm: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) set.add(r)
      if (a.implies(FsAction.WRITE)) set.add(w)
      if (a.implies(FsAction.EXECUTE)) set.add(x)
    }
    add(perm.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(perm.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(perm.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    set
  }
}
